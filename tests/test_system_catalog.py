"""The ``system.*`` catalog.

Every system table is one catalog entry: a DDL schema, a rows function
and a ``protected`` flag, looked up by name. ``SELECT * FROM
system.<name>`` over a fixed, seeded engine state returns the columns
(names, types, nullability, order) and values in
``tests/data/system_catalog.json``, recorded with the wall clock fixed
from the per-table ``Engine.system_*`` methods the catalog replaced.
The other tests cover the grant check, the empty query log,
``system.columns`` over a registered name without a view, the
one-partition rule by Arrow size and the guard against per-table
methods.
"""

import ast
import datetime
import json
import os
import re
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "otus_clickhouse_spark"
GOLDEN = Path(__file__).resolve().parent / "data" / "system_catalog.json"

NOW = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
CLOCK = 1704164645.25

SYSTEM_TABLES = [
    "asynchronous_metrics", "backups", "clusters", "columns", "dashboards",
    "data_skipping_indices", "databases", "dictionaries", "errors", "events",
    "functions", "grants", "macros", "merge_tree_settings", "merges",
    "metric_log", "metrics", "mutations", "named_collections", "parts",
    "processes", "projection_parts_columns", "query_log", "quota_limits",
    "quotas", "replicas", "replication_queue", "role_grants", "roles",
    "settings", "storage_policies", "tables", "trace_log", "users",
]
PROTECTED = {"users", "roles", "grants", "role_grants", "quotas", "quota_limits"}


@pytest.fixture
def frozen_clock(monkeypatch):
    """``time.time()`` and ``datetime.datetime.now()`` fixed."""

    class Frozen(datetime.datetime):
        @classmethod
        def now(cls, tz=None):
            return NOW if tz is None else NOW.astimezone(tz)

    monkeypatch.setattr(datetime, "datetime", Frozen)
    monkeypatch.setattr(time, "time", lambda: CLOCK)


def _seed(eng, tmp_path) -> None:
    """A state that gives most system tables at least one row."""
    ex = eng.execute
    ex("CREATE DATABASE cat_db")
    ex("CREATE TABLE cat_db.cat_n (id UInt32) ENGINE = MergeTree ORDER BY tuple()")
    eng.tables["cat_db__cat_n"].path = str(tmp_path / "cat_n")
    ex("INSERT INTO cat_db.cat_n VALUES (7)")
    ex(
        "CREATE TABLE cat_t (k UInt32, s String, a Array(Int32)) ENGINE = MergeTree "
        "PARTITION BY k ORDER BY k"
    )
    eng.tables["cat_t"].path = str(tmp_path / "cat_t")
    ex("INSERT INTO cat_t VALUES (1, 'a', [1, 2]), (2, 'b', [])")
    ex(
        "CREATE TABLE cat_r (id UInt64) ENGINE = ReplicatedMergeTree"
        "('/ch/{shard}/cat_r', '{replica}') ORDER BY id"
    )
    eng.tables["cat_r"].path = str(tmp_path / "cat_r")
    ex("ALTER TABLE cat_t ADD INDEX s_idx s TYPE bloom_filter GRANULARITY 4")
    ex("ALTER TABLE cat_t UPDATE s = 'z' WHERE k = 2")
    ex(
        "CREATE DICTIONARY cat_dict (k UInt32, s String) PRIMARY KEY k "
        "SOURCE(CLICKHOUSE(TABLE 'cat_t')) LAYOUT(HASHED()) LIFETIME(0)"
    )
    ex("ALTER TABLE cat_t ADD PROJECTION cat_p (SELECT k, count(*) AS n GROUP BY k)")
    ex("CREATE FUNCTION cat_fn AS (x) -> x + 1")
    ex("CREATE USER cat_user")
    ex("CREATE ROLE cat_role")
    ex("GRANT SELECT ON cat_t TO cat_role")
    ex("GRANT cat_role TO cat_user")
    ex("CREATE QUOTA cat_q FOR INTERVAL 1 hour MAX queries = 100 TO cat_user")
    ex("CREATE NAMED COLLECTION cat_nc AS host = 'h', password = 'p'")
    eng.define_cluster("cat_cluster", 2)
    eng.add_storage_policy("cat_policy", "cold", ["d1", "d2"])
    eng._backups.append(("b1", "Disk('backups', 'cat')", "BACKUP_CREATED", NOW, NOW))
    ex("SET max_threads = 4")
    eng.run("SELECT count() AS n FROM cat_t")
    with pytest.raises(Exception):
        eng.run("SELECT no_such_column FROM cat_t")
    # a logged query with a fractional duration
    eng._query_log.append(
        ("SELECT 1", "QueryFinish", NOW, NOW.date(), 1.2345, 1, "", [])
    )


def _value(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return [_value(x) for x in v]
    return v


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _normalize(eng, name: str, tmp_path, rows: list[list]) -> list[list]:
    """Rows with run-dependent values replaced by stable markers.

    File sizes are checked here against the files themselves and then
    recorded as ``"<size>"``; part-file UUIDs and the temp directory are
    masked; live host gauges keep only their names; the Spark conf part
    of ``settings`` and the built-in part of ``functions`` are checked
    against their sources and dropped.
    """
    tmp = str(tmp_path)

    def mask(v):
        if isinstance(v, str):
            v = v.replace(tmp, "<tmp>")
            return re.sub(r"part-\d+-[0-9a-f-]{36}", "part-<uuid>", v)
        if isinstance(v, list):
            return [mask(x) for x in v]
        return v

    if name == "tables":
        for r in rows:
            flat = r[1] if r[0] == "default" else f"{r[0]}__{r[1]}"
            path = eng.tables[flat].path
            files = _parquet_files(path) if path and os.path.isdir(path) else []
            comp = sum(os.path.getsize(f) for f in files)
            metas = [pq.ParquetFile(f).metadata for f in files]
            uncomp = sum(
                m.row_group(i).total_byte_size for m in metas for i in range(m.num_row_groups)
            )
            assert (r[11], r[12]) == (comp, uncomp), r
            r[11], r[12] = "<size>", "<size>"
    if name == "parts":
        for r in rows:
            assert r[6] == os.path.getsize(r[5]), r
            r[6] = "<size>"
        rows.sort()  # directory listing order
    if name == "asynchronous_metrics":
        rows = [[m, v if m in ("Uptime", "NumberOfTables") else "<live>"] for m, v in rows]
    if name == "settings":
        conf = [[k, str(v)] for k, v in eng.spark.sparkContext.getConf().getAll()]
        assert rows[: len(conf)] == conf
        rows = rows[len(conf) :]
    if name == "functions":
        from otus_clickhouse_spark.functions.clickhouse import AGGREGATE_ALIASES, SCALAR_ALIASES

        builtin = [[n, "System", ""] for n in [*SCALAR_ALIASES, *AGGREGATE_ALIASES]]
        assert rows[-len(builtin) :] == builtin
        rows = rows[: -len(builtin)]
    return [mask(r) for r in rows]


def _snapshot(eng, tmp_path) -> dict:
    """``SELECT * FROM system.<name>`` of every table: schema and rows."""
    out = {}
    for name in SYSTEM_TABLES:
        df = eng.sql(f"SELECT * FROM system.{name}")
        fields = [[f.name, f.dataType.simpleString(), f.nullable] for f in df.schema.fields]
        rows = [[_value(v) for v in r] for r in df.collect()]
        out[name] = {"schema": fields, "rows": _normalize(eng, name, tmp_path, rows)}
    return out


@pytest.fixture
def seeded(spark, tmp_path, frozen_clock):
    from otus_clickhouse_spark.engine import Engine

    eng = Engine(spark)
    try:
        _seed(eng, tmp_path)
        yield eng
    finally:
        eng.set_user("default")
        for name in list(eng.tables):
            eng.drop_table(name)


def test_every_system_table_keeps_its_schema_and_values(seeded, tmp_path):
    golden = json.loads(GOLDEN.read_text())
    got = _snapshot(seeded, tmp_path)
    assert sorted(got) == sorted(golden)
    for name in SYSTEM_TABLES:
        assert got[name]["schema"] == golden[name]["schema"], name
        assert got[name]["rows"] == golden[name]["rows"], name


def test_catalog_lists_every_table_once():
    from otus_clickhouse_spark.system_tables import CATALOG

    assert sorted(CATALOG) == SYSTEM_TABLES
    assert {n for n, e in CATALOG.items() if e.protected} == PROTECTED


def test_protected_tables_need_a_grant(seeded):
    seeded.set_user("cat_user")
    for name in sorted(PROTECTED):
        with pytest.raises(PermissionError, match=f"ACCESS_DENIED: .* SELECT ON system.{name}"):
            seeded.sql(f"SELECT * FROM system.{name}")
    assert seeded.sql("SELECT count() AS n FROM system.tables").collect()[0].n == 3
    seeded.set_user("default")
    seeded.execute("GRANT SELECT ON system.users TO cat_user")
    seeded.set_user("cat_user")
    names = [r.name for r in seeded.sql("SELECT name FROM system.users ORDER BY name").collect()]
    assert names == ["cat_user", "default"]
    with pytest.raises(PermissionError):
        seeded.sql("SELECT * FROM system.grants")


def test_fresh_query_log_is_empty(spark):
    from otus_clickhouse_spark.engine import Engine

    eng = Engine(spark)
    row = eng.sql("SELECT count() AS n, max(query) AS q FROM system.query_log").collect()[0]
    assert (row.n, row.q) == (0, None)
    eng.run("SELECT 1 AS one")
    assert eng.sql("SELECT count() AS n FROM system.query_log").collect()[0].n == 1


def test_columns_skip_a_registered_name_without_a_view(seeded, monkeypatch):
    from otus_clickhouse_spark.engine import TableDef

    seeded.tables["cat_ghost"] = TableDef(name="cat_ghost")
    rows = seeded.sql("SELECT DISTINCT table FROM system.columns ORDER BY table").collect()
    assert [r.table for r in rows] == ["cat_db__cat_n", "cat_r", "cat_t"]
    del seeded.tables["cat_ghost"]
    real = seeded.table

    def broken(name):
        if name == "cat_r":
            raise RuntimeError("footer unreadable")
        return real(name)

    monkeypatch.setattr(seeded, "table", broken)
    with pytest.raises(RuntimeError, match="footer unreadable"):
        seeded.sql("SELECT * FROM system.columns")


def test_structure_copy_takes_the_declared_schema(seeded):
    seeded.execute("CREATE TABLE cat_copy ENGINE = MergeTree ORDER BY tuple() AS system.parts")
    try:
        copy = seeded.table("cat_copy")
        assert copy.schema == seeded.sql("SELECT * FROM system.parts").schema
        assert copy.count() == 0
    finally:
        seeded.execute("DROP TABLE cat_copy")
    with pytest.raises(KeyError, match="system.nope"):
        seeded.execute("CREATE TABLE cat_copy ENGINE = MergeTree ORDER BY tuple() AS system.nope")


# ------------------------------------------- one partition by Arrow size


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ["tables", "parts", "query_log"])
def test_small_system_tables_run_as_one_task_without_a_stats_probe(engine, monkeypatch, name):
    import otus_clickhouse_spark.engine as engine_module

    def no_probe(frame):
        raise AssertionError("single_task probed a system table")

    monkeypatch.setattr(engine_module, "single_task", no_probe)
    engine.run("SELECT count() AS n FROM nation")
    df = engine.sql(f"SELECT count() AS n FROM system.{name}")
    plan = _executed(df)
    assert "LocalTableScan" in plan and "Coalesce 1" in plan
    assert "Exchange" not in plan
    assert df.collect()[0].n > 0


def test_system_table_above_the_open_cost_keeps_its_partitions(engine, spark):
    before = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "16")
    try:
        df = engine.sql("SELECT name FROM system.tables")
        assert "Coalesce" not in _executed(df)
        assert len(df.collect()) == len(engine.tables)
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", before)


def test_other_local_frames_gain_no_coalesce(engine):
    assert "Coalesce" not in _executed(engine.local_frame([], "a int"))
    assert "Coalesce" not in _executed(engine.local_frame([(1,)], "a int"))


# ------------------------------------------------ no per-table methods


def _per_table_dispatch(tree) -> list[tuple[str, int]]:
    """``def system_*`` functions and ``getattr(…, f"system_…")`` calls."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name.startswith(
            "system_"
        ):
            found.append((f"def {node.name}", node.lineno))
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "getattr"
            and len(node.args) > 1
            and isinstance(node.args[1], ast.JoinedStr)
            and node.args[1].values
            and isinstance(node.args[1].values[0], ast.Constant)
            and str(node.args[1].values[0].value).startswith("system_")
        ):
            found.append(("getattr", node.lineno))
    return found


def test_no_per_table_system_methods():
    """Every system table is a catalog entry: no ``system_<name>``
    method and no ``getattr`` dispatch to one anywhere in the package."""
    offenders = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        found = _per_table_dispatch(ast.parse(path.read_text(), str(path)))
        if found:
            offenders[str(path.relative_to(PACKAGE))] = found
    assert not offenders, offenders


def test_dispatch_guard_catches_both_shapes():
    src = (
        "class E:\n"
        "    def system_parts(self):\n"
        "        return []\n"
        "    def sql(self, name):\n"
        "        return getattr(self, f\"system_{name}\", None)\n"
        "    def fine(self, name):\n"
        "        return getattr(self, f\"table_{name}\")\n"
    )
    assert _per_table_dispatch(ast.parse(src)) == [("def system_parts", 2), ("getattr", 5)]
