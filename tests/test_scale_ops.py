"""Scale-path operators: skew salting, compaction, query log, stateful
streaming. Correctness here; the scale rationale lives in each module's
docstring."""

import os
import time

import pytest
from pyspark.sql import functions as F

from otus_clickhouse_spark.engine import TableDef
from otus_clickhouse_spark.operators import skew
from otus_clickhouse_spark.plans import compaction


def test_salted_join_matches_plain_join(spark):
    # hot key: 90% of fact rows share key 1
    fact = spark.range(1000).select(
        F.when(F.col("id") < 900, 1).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    dim = spark.createDataFrame([(1, "hot"), (950, "cold")], "k long, name string")
    plain = fact.join(dim, on=["k"]).groupBy("k", "name").agg(F.sum("v").alias("s"))
    salted = skew.salted_join(fact, dim, on=["k"], salt=8).groupBy("k", "name").agg(
        F.sum("v").alias("s")
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_salted_join_left_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    dim = spark.createDataFrame([(1, "a")], "k long, name string")
    out = {r.k: r.name for r in skew.salted_join(fact, dim, on=["k"], salt=4, how="left").collect()}
    assert out == {1: "a", 2: None}


def test_salted_agg_matches_plain(spark):
    df = spark.range(5000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("v")
    )
    plain = {
        (r.g): (r.n, r.s, r.mx)
        for r in df.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        (r.g): (r.n, r.s, r.mx)
        for r in skew.salted_agg(
            df, ["g"], {"n": ("count", "v"), "s": ("sum", "v"), "mx": ("max", "v")}
        ).collect()
    }
    assert plain == salted


def test_compaction_merges_small_files(spark, tmp_path):
    path = str(tmp_path / "tbl")
    # 16 tiny files
    spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(16).write.parquet(path)
    before = compaction.plan_compaction(path, target_bytes=10 * 1024 * 1024)
    assert before and before["n_files"] == 16 and before["n_target_files"] == 1
    td = TableDef(name="tbl", path=path, order_by=("id",))
    stats = compaction.compact_table(spark, td, target_bytes=10 * 1024 * 1024)
    assert stats == before
    n_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_files == 1
    assert spark.read.parquet(path).count() == 10_000
    # idempotent: already compact → no-op
    assert compaction.compact_table(spark, td, target_bytes=10 * 1024 * 1024) is None


def test_query_log(engine):
    engine.run("SELECT count(*) AS n FROM lineitem")
    with pytest.raises(Exception):
        engine.run("SELECT * FROM no_such_table_xyz")
    log = engine.system("query_log").collect()
    ok = [r for r in log if "lineitem" in r.query]
    bad = [r for r in log if "no_such_table_xyz" in r.query]
    assert ok and ok[0].result_rows == 1 and ok[0].duration_sec > 0
    assert bad and bad[0].result_rows == -1 and bad[0].exception


def test_stateful_running_counts(spark, tmp_path):
    from otus_clickhouse_spark.streaming.stateful import running_counts

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 5.0)], "user_id long, value double"
    ).write.parquet(src_dir)
    stream = spark.readStream.schema("user_id long, value double").parquet(src_dir)
    q = (
        running_counts(stream)
        .writeStream.format("memory")
        .queryName("rc_out")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            r.key: (r.n_events, r.sum_value) for r in spark.sql("SELECT * FROM rc_out").collect()
        }
        assert out == {1: (2, 3.0), 2: (1, 5.0)}
        # second micro-batch arrives → keyed state carries over
        spark.createDataFrame([(1, 4.0)], "user_id long, value double").write.mode(
            "append"
        ).parquet(src_dir)
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM rc_out").collect()
        latest = max((r for r in rows if r.key == 1), key=lambda r: r.n_events)
        assert (latest.n_events, latest.sum_value) == (3, 7.0)
    finally:
        q.stop()


def test_projection_sql_autoselect(engine):
    engine.add_projection(
        "li_flag", "lineitem", ["l_returnflag", "l_linestatus"],
        {"sq": ("sum", "l_quantity"), "n": ("count", "*")},
    )
    hits0 = engine.projections.serve_hits
    sql = ("SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n "
           "FROM lineitem GROUP BY l_returnflag")
    served = {r.l_returnflag: (r.sum_qty, r.n) for r in engine.sql(sql).collect()}
    assert engine.projections.serve_hits == hits0 + 1  # projection hit
    # ground truth from the base table (projections disabled)
    engine.projections.use_projections = False
    base = {r.l_returnflag: (r.sum_qty, r.n) for r in engine.sql(sql).collect()}
    engine.projections.use_projections = True
    assert served == base
    # WHERE on a projection key is also servable
    f = engine.sql("SELECT l_returnflag, count(*) AS n FROM lineitem "
                   "WHERE l_returnflag = 'R' GROUP BY l_returnflag").collect()
    assert engine.projections.serve_hits == hits0 + 2
    assert len(f) == 1 and f[0].n == base["R"][1]
    # non-key WHERE falls back to the base table (no new hit)
    engine.sql("SELECT l_returnflag, count(*) AS n FROM lineitem "
               "WHERE l_quantity > 10 GROUP BY l_returnflag")
    assert engine.projections.serve_hits == hits0 + 2


def test_engine_explain(engine):
    out = engine.explain("SELECT count(*) AS n FROM lineitem", mode="formatted")
    assert "HashAggregate" in out and "Scan parquet" in out


def test_uniq_state_blocks_merge_exactly(spark):
    from otus_clickhouse_spark.operators import state

    df = spark.range(3000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 97).alias("u")
    )
    # three insert blocks, appended as sketch rows (per-block semantics)
    blocks = [df.where(F.col("id") % 3 == i) for i in range(3)]
    target = blocks[0].transform(lambda b: state.aggregating_target(b, ["g"], {"st": "u"}))
    for b in blocks[1:]:
        target = target.unionByName(state.aggregating_target(b, ["g"], {"st": "u"}))
    assert target.count() == 12  # 4 groups x 3 blocks of state rows
    merged = {r.g: r.st for r in state.read_aggregating_final(target, ["g"], ["st"]).collect()}
    exact = {r.g: r.u for r in df.groupBy("g").agg(F.count_distinct("u").alias("u")).collect()}
    assert merged == exact


def test_streaming_funnel_state_across_batches(spark, tmp_path):
    from otus_clickhouse_spark.streaming.stateful import streaming_funnel

    src_dir = str(tmp_path / "fsrc")
    ckpt = str(tmp_path / "fckpt")
    conds = ["etype = 'A'", "etype = 'B'", "etype = 'C'"]
    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "A"), (1, "2024-01-01 00:00:30", "B"),
         (2, "2024-01-01 00:00:00", "C")],
        "user_id long, ts_s string, etype string",
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "etype").write.parquet(src_dir)
    stream = spark.readStream.schema("user_id long, ts timestamp, etype string").parquet(src_dir)
    q = (
        streaming_funnel(stream, conds, 3600)
        .writeStream.format("memory").queryName("fun_out")
        .outputMode("update").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        lv = {r.key: r.level for r in spark.sql("SELECT * FROM fun_out").collect()}
        assert lv == {1: 2, 2: 0}
        # the C event arrives in a later micro-batch → chain completes
        spark.createDataFrame(
            [(1, "2024-01-01 00:01:00", "C")], "user_id long, ts_s string, etype string"
        ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "etype").write.mode(
            "append"
        ).parquet(src_dir)
        q.processAllAvailable()
        rows = [r for r in spark.sql("SELECT * FROM fun_out").collect() if r.key == 1]
        assert max(r.level for r in rows) == 3
    finally:
        q.stop()
