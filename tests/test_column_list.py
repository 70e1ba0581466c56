"""One column list per table.

A table's columns are one ordered list on its ``TableDef``: DDL builds
it, every ALTER COLUMN edits it, INSERT aligns each block to it, reads
use it as the files' schema and ``system.columns`` lists it. The tests
pin what the list decides: declared order and types in the view, the
types the files hold, no footer-inference job on re-registration, and
RENAME COLUMN's rewrite of dependent expressions and refusal of keys.
"""

import os

import pyarrow.parquet as pq
import pytest


def _drop(engine, *names):
    for name in names:
        engine.execute(f"DROP TABLE IF EXISTS {name}")


def _jobs(spark, fn, group: str) -> int:
    """Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _files(path):
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _columns(engine, table):
    rows = engine.run(
        f"SELECT name, type FROM system.columns WHERE table = '{table}'"
    )
    return [tuple(r) for r in rows]


def test_partitioned_table_lists_declared_order_and_types(engine, tmp_path):
    """A partitioned read no longer puts the partition column last with
    its directory-inferred type: ``SELECT *``, ``system.columns`` and a
    positional INSERT all follow ``k, s, a`` with ``k`` a ``bigint``."""
    _drop(engine, "pt")
    engine.execute(
        "CREATE TABLE pt (k UInt32, s String, a Array(Int32)) ENGINE = MergeTree "
        "PARTITION BY k ORDER BY k"
    )
    engine.tables["pt"].path = str(tmp_path / "pt")
    try:
        engine.execute("INSERT INTO pt VALUES (1, 'a', [1, 2]), (2, 'b', [])")
        view = engine.table("pt")
        assert [(f.name, f.dataType.simpleString()) for f in view.schema] == [
            ("k", "bigint"), ("s", "string"), ("a", "array<int>")
        ]
        assert _columns(engine, "pt") == [("k", "bigint"), ("s", "string"), ("a", "array<int>")]
        engine.execute("INSERT INTO pt SELECT * FROM pt WHERE k = 1")
        rows = engine.run("SELECT * FROM pt ORDER BY k, s")
        assert [tuple(r) for r in rows] == [(1, "a", [1, 2]), (1, "a", [1, 2]), (2, "b", [])]
    finally:
        _drop(engine, "pt")


def test_mv_target_holds_its_declared_types(engine, tmp_path):
    """An MV's ``count()``/``sum()`` block lands in ``UInt64`` columns as
    ``decimal(20,0)``: in the files, the view, DESCRIBE and
    ``system.columns``. FINAL sums are the same before and after
    OPTIMIZE FINAL."""
    _drop(engine, "mv_src", "mv_daily")
    engine.execute(
        "CREATE TABLE mv_src (d Date, kind String, amount UInt32) ENGINE = MergeTree ORDER BY d"
    )
    engine.tables["mv_src"].path = str(tmp_path / "mv_src")
    engine.execute(
        "CREATE TABLE mv_daily (day Date, kind String, events UInt64, amount UInt64) "
        "ENGINE = SummingMergeTree ORDER BY (day, kind)"
    )
    engine.tables["mv_daily"].path = str(tmp_path / "mv_daily")
    engine.execute(
        "CREATE MATERIALIZED VIEW mv_daily_mv TO mv_daily AS SELECT d AS day, kind, "
        "count() AS events, sum(amount) AS amount FROM mv_src GROUP BY d, kind"
    )
    final = "SELECT kind, sum(events) AS e, sum(amount) AS a FROM mv_daily FINAL GROUP BY kind"
    try:
        engine.execute("INSERT INTO mv_src VALUES ('2024-01-01', 'x', 5), ('2024-01-01', 'y', 7)")
        engine.execute("INSERT INTO mv_src VALUES ('2024-01-01', 'x', 1)")
        declared = [("day", "date"), ("kind", "string"),
                    ("events", "decimal(20,0)"), ("amount", "decimal(20,0)")]
        assert [(f.name, f.dataType.simpleString()) for f in engine.table("mv_daily").schema] == (
            declared
        )
        described = [(r[0], r[1]) for r in engine.execute("DESCRIBE mv_daily")]
        assert described == declared
        assert _columns(engine, "mv_daily") == declared
        for f in _files(engine.tables["mv_daily"].path):
            assert str(pq.read_schema(f).field("events").type) == "decimal128(20, 0)"
        want = [("x", 2, 6), ("y", 1, 7)]
        assert sorted((r.kind, int(r.e), int(r.a)) for r in engine.sql(final).collect()) == want
        engine.execute("OPTIMIZE TABLE mv_daily FINAL")
        assert sorted((r.kind, int(r.e), int(r.a)) for r in engine.sql(final).collect()) == want
    finally:
        _drop(engine, "mv_daily_mv", "mv_src", "mv_daily")


STATEMENTS = {
    "insert": "INSERT INTO rr VALUES (4, 4, 'd')",
    "optimize_final": "OPTIMIZE TABLE rr FINAL",
    "alter_update": "ALTER TABLE rr UPDATE s = 'z' WHERE k = 1",
    "add_column": "ALTER TABLE rr ADD COLUMN x UInt8 DEFAULT 7 AFTER k",
    "drop_column": "ALTER TABLE rr DROP COLUMN s",
    "modify_column": "ALTER TABLE rr MODIFY COLUMN v UInt64",
    "rename_column": "ALTER TABLE rr RENAME COLUMN s TO t",
    "modify_default": "ALTER TABLE rr MODIFY COLUMN s DEFAULT 'q'",
    "lightweight_delete": "DELETE FROM rr WHERE k = 2",
}


@pytest.mark.parametrize("case", list(STATEMENTS))
def test_reregistration_reads_no_footer(engine, spark, tmp_path, case):
    """After each statement that writes or re-declares a DDL table,
    registering it again reads its files with the column list: no
    footer-inference job runs."""
    _drop(engine, "rr")
    engine.execute(
        "CREATE TABLE rr (k UInt32, v UInt32, s String) ENGINE = ReplacingMergeTree ORDER BY k"
    )
    td = engine.tables["rr"]
    td.path = str(tmp_path / "rr")
    try:
        engine.execute("INSERT INTO rr VALUES (1, 1, 'a'), (2, 2, 'b'), (3, 3, 'c')")
        engine.execute(STATEMENTS[case])
        assert _jobs(spark, lambda: engine.register_table(td), f"rr_{case}") == 0
        assert engine.run("SELECT count() FROM rr")[0][0] >= 2
    finally:
        _drop(engine, "rr")


def test_rename_rewrites_the_expressions_that_name_the_column(engine, tmp_path):
    """``RENAME COLUMN s TO t`` renames ``s`` in the ALIAS, DEFAULT and
    skip-index expressions that read it, so the table stays readable and
    writable and ``n`` is computed from ``t``."""
    _drop(engine, "ra")
    engine.execute(
        "CREATE TABLE ra (k UInt32, s String, n UInt64 ALIAS length(s), "
        "d String DEFAULT concat(s, '!')) ENGINE = MergeTree ORDER BY k"
    )
    td = engine.tables["ra"]
    td.path = str(tmp_path / "ra")
    try:
        engine.execute("INSERT INTO ra (k, s) VALUES (1, 'ab')")
        engine.execute("ALTER TABLE ra ADD INDEX s_idx s TYPE bloom_filter GRANULARITY 1")
        engine.execute("ALTER TABLE ra RENAME COLUMN s TO t")
        assert [(c.name, c.expr) for c in td.columns] == [
            ("k", None), ("t", None), ("n", "length(t)"), ("d", "concat(t, '!')")
        ]
        assert td.skip_indexes["s_idx"][0] == "t"
        engine.execute("INSERT INTO ra (k, t) VALUES (2, 'xyz')")
        rows = engine.run("SELECT * FROM ra ORDER BY k")
        assert [tuple(r) for r in rows] == [(1, "ab", 2, "ab!"), (2, "xyz", 3, "xyz!")]
    finally:
        _drop(engine, "ra")


def test_rename_rewrites_a_backquoted_reference(engine, tmp_path):
    """An ALIAS that names the column backquoted (`` length(`s`) ``) is
    renamed too, so the later INSERT and SELECT still run."""
    _drop(engine, "ra")
    engine.execute(
        "CREATE TABLE ra (k UInt32, s String, n UInt64 ALIAS length(`s`)) "
        "ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["ra"].path = str(tmp_path / "ra")
    try:
        engine.execute("INSERT INTO ra (k, s) VALUES (1, 'ab')")
        engine.execute("ALTER TABLE ra RENAME COLUMN s TO t")
        assert engine.tables["ra"].columns[2].expr == "length(`t`)"
        engine.execute("INSERT INTO ra (k, t) VALUES (2, 'xyz')")
        rows = engine.run("SELECT k, t, n FROM ra ORDER BY k")
        assert [tuple(r) for r in rows] == [(1, "ab", 2), (2, "xyz", 3)]
    finally:
        _drop(engine, "ra")


@pytest.mark.parametrize(
    "engine_clause, col",
    [
        ("MergeTree ORDER BY k", "k"),
        ("MergeTree PARTITION BY toYYYYMM(d) ORDER BY v", "d"),
        ("ReplacingMergeTree(v) ORDER BY k", "v"),
        ("CollapsingMergeTree(sign) ORDER BY k", "sign"),
        ("SummingMergeTree(v) ORDER BY k", "v"),
    ],
)
def test_rename_refuses_a_key_column(engine, tmp_path, engine_clause, col):
    """ClickHouse refuses to rename a column a key reads
    (ALTER_OF_COLUMN_IS_FORBIDDEN); the files and the list stay as they
    were."""
    _drop(engine, "rb")
    engine.execute(
        f"CREATE TABLE rb (k UInt32, v UInt32, d Date, sign Int8) ENGINE = {engine_clause}"
    )
    td = engine.tables["rb"]
    td.path = str(tmp_path / "rb")
    try:
        engine.execute("INSERT INTO rb VALUES (2, 1, '2024-01-01', 1), (1, 2, '2024-02-01', 1)")
        files, columns = _files(td.path), td.columns
        with pytest.raises(ValueError, match="ALTER_OF_COLUMN_IS_FORBIDDEN"):
            engine.execute(f"ALTER TABLE rb RENAME COLUMN {col} TO renamed")
        assert (_files(td.path), td.columns) == (files, columns)
        assert engine.run("SELECT count() FROM rb")[0][0] == 2
    finally:
        _drop(engine, "rb")
