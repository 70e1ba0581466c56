"""hw05 golden cases: the six engine-semantics mini tests the reference
uses (homeworks/hw05.md:11-233) — given DDL + inserts + expected output.
We replicate the data shapes and expected FINAL collapses.
"""

from pyspark.sql import functions as F

from otus_clickhouse_spark.operators.final import (
    collapsing_final,
    replacing_final,
    summing_final,
    versioned_collapsing_final,
)


def test_replacing_final_keeps_highest_version(spark):
    # hw05.md Replacing case: same key, versions 1..3 → only v3 survives
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3), (2, "x", 1)],
        "id int, payload string, ver int",
    )
    out = replacing_final(df, ["id"], version="ver").orderBy("id").collect()
    assert [(r.id, r.payload, r.ver) for r in out] == [(1, "c", 3), (2, "x", 1)]


def test_summing_final_sums_numeric_keeps_any_other(spark):
    # hw05.md Summing case (hw05.md:116-125): value columns summed per key
    df = spark.createDataFrame(
        [(1, 10.0, "m"), (1, 5.0, "m"), (2, 7.0, "n")], "id int, val double, tag string"
    )
    out = {r.id: (r.val, r.tag) for r in summing_final(df, ["id"], ["val"]).collect()}
    assert out[1][0] == 15.0 and out[2][0] == 7.0
    assert out[1][1] == "m"


def test_collapsing_cancels_sign_pairs(spark):
    # hw05.md Collapsing case (hw05.md:208-232): +1/-1 pairs cancel
    df = spark.createDataFrame(
        [(1, 100.0, 1), (1, 100.0, -1), (1, 150.0, 1), (2, 50.0, 1), (2, 50.0, -1)],
        "id int, amount double, sign int",
    )
    out = collapsing_final(df, ["id"], "sign").collect()
    assert len(out) == 1
    assert out[0].id == 1 and out[0].amount == 150.0 and out[0].sign == 1


def test_versioned_collapsing_cancels_by_version(spark):
    # hw05.md VersionedCollapsing case (hw05.md:12-54)
    df = spark.createDataFrame(
        [(1, 1, 100.0, 1), (1, 1, 100.0, -1), (1, 2, 120.0, 1), (2, 1, 9.0, -1)],
        "id int, ver int, amount double, sign int",
    )
    out = versioned_collapsing_final(df, ["id"], "sign", "ver").orderBy("id").collect()
    assert [(r.id, r.ver, r.amount, r.sign) for r in out] == [
        (1, 2, 120.0, 1),
        (2, 1, 9.0, -1),
    ]


def test_optimize_deduplicate(spark, tmp_path):
    """OPTIMIZE ... DEDUPLICATE drops whole-row duplicates; BY c keeps one
    row per value of the listed columns (lecture_07.md:362-377)."""
    from otus_clickhouse_spark.engine import Engine

    eng = Engine(spark)
    eng.execute("DROP TABLE IF EXISTS t_dedup")
    eng.execute("CREATE TABLE t_dedup (id Int32, v String) ENGINE = MergeTree ORDER BY id")
    eng.tables["t_dedup"].path = str(tmp_path / "t_dedup")
    eng.execute("INSERT INTO t_dedup VALUES (1, 'a'), (1, 'a'), (1, 'b')")
    eng.execute("OPTIMIZE TABLE t_dedup DEDUPLICATE")
    assert eng.table("t_dedup").count() == 2
    eng.execute("OPTIMIZE TABLE t_dedup DEDUPLICATE BY id")
    assert eng.table("t_dedup").count() == 1
    eng.execute("DROP TABLE t_dedup")


def test_final_via_engine_sql(spark, tmp_path):
    """FROM t FINAL dialect → __final view through Engine.sql."""
    from otus_clickhouse_spark.engine import Engine, TableDef

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2)], "id int, payload string, ver int"
    )
    eng.register_table(
        TableDef(name="repl_t", engine="ReplacingMergeTree", order_by=("id",), version="ver"),
        df=df,
    )
    rows = eng.sql("SELECT payload FROM repl_t FINAL").collect()
    assert [r.payload for r in rows] == ["new"]
    assert eng.sql("SELECT count() AS n FROM repl_t").collect()[0].n == 2


def test_drop_then_recreate_starts_empty(spark, tmp_path):
    """DROP TABLE removes managed data (CH drops the parts), so a fresh
    CREATE of the same name — even from a NEW engine instance over the
    same warehouse — starts empty instead of resurrecting stale files."""
    from otus_clickhouse_spark.engine import Engine

    for expected_run in range(2):  # second engine = simulated restart
        eng = Engine(spark)
        eng.execute("DROP TABLE IF EXISTS t_drop_recreate")
        eng.execute(
            "CREATE TABLE t_drop_recreate (id UInt64) ENGINE MergeTree() ORDER BY id"
        )
        eng.execute("INSERT INTO t_drop_recreate select number FROM numbers(7)")
        n = eng.sql("select count() as c from t_drop_recreate").collect()[0].c
        assert n == 7, f"run {expected_run}: stale rows resurrected ({n})"
    eng.execute("DROP TABLE IF EXISTS t_drop_recreate")
