"""Small relations run as one task.

A parquet-backed table whose size estimate is at most
``spark.sql.files.openCostInBytes`` is registered as one partition, so a
grouped or sorted statement over it plans no Exchange; ``system.*``
views get the same threshold, measured on their Arrow rows
(tests/test_system_catalog.py). Every engine frame built from Python rows is a
``LocalTableScan`` made by ``Engine.local_frame``. Each test checks the
cheaper form against what the plain form returns, or that the plain
form is kept where the rule does not apply.
"""

import ast
import os
import re
import time
from pathlib import Path

import pytest

PACKAGE = Path(__file__).resolve().parent.parent / "otus_clickhouse_spark"
OPEN_COST = "spark.sql.files.openCostInBytes"

GROUPED = (
    "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q "
    "FROM {t} WHERE l_discount > 0.01 GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus"
)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _single(df) -> bool:
    return "Coalesce 1" in _executed(df)


def _shape(df) -> str:
    """The optimized logical plan without expression ids."""
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())


def _jobs(spark, fn, group: str) -> int:
    """Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def open_cost(spark):
    """Sets ``spark.sql.files.openCostInBytes`` for one test."""
    before = spark.conf.get(OPEN_COST)
    yield lambda n: spark.conf.set(OPEN_COST, str(n))
    spark.conf.set(OPEN_COST, before)


def test_grouped_query_over_small_table_is_one_job_without_exchange(engine, spark):
    df = engine.sql(GROUPED.format(t="lineitem"))
    assert _single(engine.table("lineitem"))
    assert "Exchange" not in _executed(df)
    assert _jobs(spark, df.collect, "small_relations.grouped") == 1


def test_single_task_rows_equal_a_plain_parquet_read(engine, spark):
    spark.read.parquet(engine.tables["lineitem"].path).createOrReplaceTempView("sr_plain")
    got = engine.sql(GROUPED.format(t="lineitem")).collect()
    want = spark.sql(GROUPED.format(t="sr_plain")).collect()
    assert got == want and len(got) > 1


def test_table_above_the_threshold_keeps_the_plain_plan(engine, spark, open_cost):
    from otus_clickhouse_spark.engine import TableDef
    from otus_clickhouse_spark.io import read_table

    path = engine.tables["orders"].path
    open_cost(1024)
    engine.register_table(TableDef(name="sr_big", path=path))
    try:
        view = engine.table("sr_big")
        plain = read_table(spark, path)
        assert not _single(view)
        assert _shape(view) == _shape(plain)
        q = "SELECT o_orderpriority, count(*) AS n FROM {t} GROUP BY o_orderpriority"
        plain.createOrReplaceTempView("sr_big_plain")
        assert _shape(spark.sql(q.format(t="sr_big"))) == _shape(
            spark.sql(q.format(t="sr_big_plain"))
        )
    finally:
        engine.drop_table("sr_big")


def test_filters_push_through_the_coalesce(engine, tmp_path):
    engine.execute(
        "CREATE TABLE sr_parts (k UInt32, p UInt8, v Float64) ENGINE = MergeTree "
        "PARTITION BY p ORDER BY tuple()"  # no sort-key bloom filters: KB-sized files
    )
    engine.tables["sr_parts"].path = str(tmp_path / "sr_parts")
    try:
        engine.execute(
            "INSERT INTO sr_parts SELECT toUInt32(number) AS k, toUInt8(number % 4) AS p, "
            "number / 2 AS v FROM numbers(140)"
        )
        assert _single(engine.table("sr_parts"))
        df = engine.sql("SELECT count() AS n FROM sr_parts WHERE p = 2 AND v > 10")
        plan = _executed(df)
        scan = plan[plan.index("FileScan") :]
        assert "Coalesce 1" in plan[: plan.index("FileScan")]
        assert re.search(r"PartitionFilters: \[[^\]]*\(p#\d+ = 2\)", scan), scan
        assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(v,10", scan), scan
        assert df.collect()[0].n == 30  # k = 22, 26, …, 138
    finally:
        engine.execute("DROP TABLE sr_parts")


def test_growing_past_the_threshold_drops_the_single_partition(engine, tmp_path, open_cost):
    engine.execute("CREATE TABLE sr_grow (k UInt32, s String) ENGINE = MergeTree ORDER BY tuple()")
    engine.tables["sr_grow"].path = str(tmp_path / "sr_grow")
    block = (
        "INSERT INTO sr_grow SELECT toUInt32(number) AS k, toString(number) AS s "
        "FROM numbers(500)"
    )
    try:
        engine.execute(block)
        view = engine.table("sr_grow")
        assert _single(view)
        size = view._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        open_cost(size * 3 // 2)
        engine.register_table(engine.tables["sr_grow"])
        assert _single(engine.table("sr_grow"))
        engine.execute(block)  # twice the bytes: past the threshold
        assert not _single(engine.table("sr_grow"))
        assert engine.table("sr_grow").count() == 1000
    finally:
        engine.execute("DROP TABLE sr_grow")


def _plan_bytes(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_file_bytes_decide_as_the_plan_estimate_did(engine, spark, tmp_path, open_cost):
    """A partitioned table with a cold volume: its data files (beside the
    ``.crc`` and ``_SUCCESS`` files a write leaves) sum to Spark's own
    estimate, and a threshold just below or at that sum gives the
    registration the decision :func:`single_task` gives the plan."""
    import shutil

    from otus_clickhouse_spark.engine import TableDef, _data_bytes, single_task
    from otus_clickhouse_spark.io import read_table

    engine.execute(
        "CREATE TABLE sr_src (k UInt32, s String) ENGINE = MergeTree "
        "PARTITION BY k % 2 ORDER BY k"
    )
    src = engine.tables["sr_src"]
    src.path = str(tmp_path / "hot")
    try:
        engine.execute(
            "INSERT INTO sr_src SELECT toUInt32(number) AS k, toString(number) AS s "
            "FROM numbers(300)"
        )
    finally:
        engine.execute("DROP TABLE sr_src")
    hot, cold = str(tmp_path / "hot"), str(tmp_path / "cold")
    shutil.copytree(hot, cold)
    names = [n for _r, _d, fs in os.walk(hot) for n in fs]
    assert any(n.endswith(".crc") for n in names) and "_SUCCESS" in names
    assert any(d.startswith("_p_") for d in os.listdir(hot))

    plan = read_table(spark, hot).unionByName(read_table(spark, cold))
    size = _data_bytes(hot) + _data_bytes(cold)
    assert size == _plan_bytes(plan)
    td = TableDef(name="sr_tiered", path=hot, settings={"cold_volumes": {"cold": cold}})
    try:
        for cost, single in ((size, True), (size - 1, False)):
            open_cost(cost)
            engine.register_table(td)
            assert _single(engine.table("sr_tiered")) is single
            assert _single(single_task(plan)) is single
        assert engine.table("sr_tiered").count() == 600
    finally:
        engine.drop_table("sr_tiered")


def test_registration_optimizes_no_plan(engine, monkeypatch, tmp_path):
    """Registering a parquet table (every INSERT does) asks Catalyst for
    no optimized plan: the single-task decision reads file sizes."""
    from py4j.java_gateway import JavaObject

    engine.execute("CREATE TABLE sr_noplan (k UInt32) ENGINE = MergeTree ORDER BY k")
    engine.tables["sr_noplan"].path = str(tmp_path / "sr_noplan")
    real = JavaObject.__getattr__

    def guarded(self, name):
        if name == "optimizedPlan":
            raise AssertionError("a registration optimized a plan")
        return real(self, name)

    try:
        engine.execute("INSERT INTO sr_noplan SELECT toUInt32(number) AS k FROM numbers(10)")
        monkeypatch.setattr(JavaObject, "__getattr__", guarded)
        engine.register_table(engine.tables["sr_noplan"])
        monkeypatch.undo()
        assert _single(engine.table("sr_noplan"))
        assert engine.run("SELECT count() FROM sr_noplan")[0][0] == 10
    finally:
        monkeypatch.undo()
        engine.execute("DROP TABLE sr_noplan")


@pytest.fixture
def new_york():
    """Process-local time zone away from UTC (naive datetimes are local)."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.mark.parametrize("table", ["tables", "parts", "query_log"])
def test_system_tables_equal_the_row_list_reference(engine, spark, monkeypatch, new_york, table):
    engine.run("SELECT count() AS n FROM orders")  # a query_log row with a timestamp
    built = []
    real = engine.local_frame

    def spy(rows, schema, **kw):
        df = real(rows, schema, **kw)
        built.append((list(rows), schema, df))
        return df

    monkeypatch.setattr(engine, "local_frame", spy)
    engine.system(table)
    (rows, schema, got), = built
    assert rows
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    as_text = [f"CAST(`{c}` AS STRING)" for c in got.columns]
    assert got.selectExpr(*as_text).collect() == want.selectExpr(*as_text).collect()


@pytest.mark.parametrize("table", ["tables", "parts", "query_log"])
def test_system_tables_plan_a_local_scan(engine, table):
    plan = engine.explain(f"SELECT * FROM system.{table}")
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


# ------------------------------------------------- one local-frame guard


def _create_frame_calls(tree) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``createDataFrame`` call."""
    found = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((func, child.lineno))
            visit(child, name)

    visit(tree, "<module>")
    return found


def test_only_local_frame_creates_frames_from_rows():
    """engine.py, plans/statements.py and the system-table catalog build
    frames from Python rows only through ``local_frame``: one
    construction, a LocalTableScan."""
    offenders = {}
    for rel in ("engine.py", "plans/statements.py", "system_tables.py"):
        path = PACKAGE / rel
        calls = _create_frame_calls(ast.parse(path.read_text(), str(path)))
        bad = [line for func, line in calls if func != "local_frame"]
        if bad:
            offenders[rel] = bad
    assert not offenders, offenders
    engine_calls = _create_frame_calls(ast.parse((PACKAGE / "engine.py").read_text()))
    assert [func for func, _ in engine_calls] == ["local_frame"]


def test_guard_catches_create_frame_outside_the_helper():
    src = (
        "def local_frame(spark, rows, schema):\n"
        "    return spark.createDataFrame(rows, schema)\n"
        "class E:\n"
        "    def system_x(self):\n"
        "        return self.spark.createDataFrame([], 'a int')\n"
        "df = spark.createDataFrame([(1,)], 'a int')\n"
    )
    assert _create_frame_calls(ast.parse(src)) == [
        ("local_frame", 2),
        ("system_x", 5),
        ("<module>", 6),
    ]
