"""-State / -Merge combinators + finalizeAggregation in raw SQL (A7).

End-to-end replica of the reference's AggregatingMergeTree walkthrough
(lectures/lecture_07.md:495-546): typed AggregateFunction columns are
written by ``…State`` INSERT SELECTs and read back with ``…Merge`` /
``finalizeAggregation``; state encodings are the DDL layer's (HLL
binary for uniq, sum/count struct for avg, the partial value for
merge-idempotent functions). Also the lecture_13.md:57-94 MV → states
pattern at the SQL level.
"""

import pytest

from otus_clickhouse_spark.functions.ddl import ch_type_to_spark, parse_create_table
from otus_clickhouse_spark.functions.dialect import translate


def test_aggregate_function_types_parse():
    td = parse_create_table(
        "CREATE TABLE aggr (id UInt8, "
        "val_uniq AggregateFunction(uniq, UInt64), "
        "val_max AggregateFunction(maxIf, String, UInt8), "
        "val_avg AggregateFunction(avg, UInt64), "
        "val_arr AggregateFunction(groupArray, String), "
        "val_sum SimpleAggregateFunction(sum, Float64)) "
        "ENGINE = AggregatingMergeTree ORDER BY id"
    ).td
    types = {c.name: c.spark_type for c in td.columns}
    assert types["val_uniq"] == "binary"
    assert types["val_avg"] == "struct<sum: double, count: bigint>"
    assert types["val_max"] == "string"
    assert types["val_arr"] == "array<string>"
    assert types["val_sum"] == "double"
    assert {c.name: c.agg_function for c in td.columns if c.agg_function} == {
        "val_uniq": "uniq",
        "val_max": "maxIf",
        "val_avg": "avg",
        "val_arr": "groupArray",
        "val_sum": "sum",
    }
    assert ch_type_to_spark("AggregateFunction(count)") == ("bigint", False)


def test_state_merge_translation_shapes():
    out = translate("select k, sumState(v), countState(), anyLastState(v) from t group by k")
    assert "sum(v)" in out and "count(*)" in out and "last(v)" in out
    out = translate("select sumMerge(s), countMerge(c), groupArrayMerge(g) from t")
    assert "sum(s)" in out and "sum(c)" in out and "flatten(collect_list(g))" in out
    # inline finalize dispatches on the state constructor's own name
    out = translate("select finalizeAggregation(uniqState(v)) from t")
    assert out == "select hll_sketch_estimate(hll_sketch_agg(v, 14)) from t"


@pytest.fixture
def aggr_tbl(engine, tmp_path):
    """lecture_07.md:505-524 DDL + two insert blocks."""
    engine.execute(
        "CREATE TABLE aggr_tbl (id UInt8, "
        "val_uniq AggregateFunction(uniq, UInt64), "
        "val_max AggregateFunction(maxIf, String, UInt8), "
        "val_avg AggregateFunction(avg, UInt64)) "
        "ENGINE = AggregatingMergeTree ORDER BY id"
    )
    engine.tables["aggr_tbl"].path = str(tmp_path / "aggr_tbl")
    ins = (
        "INSERT INTO aggr_tbl SELECT 1, uniqState(toUInt64(number)), "
        "maxIfState(toString(number), number % 2 = 0), avgState(toUInt64(number)) "
        "FROM numbers({a}, {n}) GROUP BY 1"
    )
    engine.execute(ins.format(a=0, n=10))  # numbers 0..9
    engine.execute(ins.format(a=5, n=10))  # numbers 5..14 (overlap 5..9)
    yield "aggr_tbl"
    engine.execute("DROP TABLE aggr_tbl")


def test_state_insert_merge_roundtrip(engine, aggr_tbl):
    # two state rows persisted, one per insert block
    assert engine.table(aggr_tbl).count() == 2
    row = engine.sql(
        "SELECT id, uniqMerge(val_uniq) AS u, avgMerge(val_avg) AS a, "
        "maxIfMerge(val_max) AS m FROM aggr_tbl GROUP BY id"
    ).collect()[0]
    # distinct over 0..14 = 15 (HLL sparse mode is exact here);
    # avg merges sums/counts: (45 + 95) / 20 = 7.0
    # maxIf over even-number strings: max('0','2',…,'14') = '8'
    assert row.u == 15
    assert row.a == 7.0
    assert row.m == "8"


def test_finalize_aggregation_per_row(engine, aggr_tbl):
    # finalizeAggregation shows each part's own state (lecture_07.md:546)
    rows = engine.sql(
        "SELECT finalizeAggregation(val_uniq) AS u, "
        "finalizeAggregation(val_avg) AS a, "
        "finalizeAggregation(val_max) AS m FROM aggr_tbl ORDER BY a"
    ).collect()
    assert [r.u for r in rows] == [10, 10]
    assert [r.a for r in rows] == [4.5, 9.5]
    assert [r.m for r in rows] == ["8", "8"]  # max even-string in 0..9 / 5..14


def test_mv_with_uniq_state_sql(engine, tmp_path):
    """lecture_13.md:57-94: MV writes uniqState blocks to an
    AggregatingMergeTree target; reads uniqMerge per key."""
    engine.execute("CREATE TABLE t1 (a String, b UInt32) ENGINE = MergeTree ORDER BY a")
    engine.tables["t1"].path = str(tmp_path / "t1")
    engine.execute(
        "CREATE TABLE t2 (a String, b AggregateFunction(uniq, UInt32)) "
        "ENGINE = AggregatingMergeTree ORDER BY a"
    )
    engine.tables["t2"].path = str(tmp_path / "t2")
    engine.execute(
        "CREATE MATERIALIZED VIEW t1_to_t2 TO t2 AS "
        "SELECT a, uniqState(b) AS b FROM t1 GROUP BY a"
    )
    engine.execute("INSERT INTO t1 VALUES ('x', 1), ('x', 2), ('y', 1)")
    engine.execute("INSERT INTO t1 VALUES ('x', 2), ('x', 3)")
    assert engine.table("t2").count() == 3  # per-block states, not merged
    merged = {
        r.a: r.u
        for r in engine.sql("SELECT a, uniqMerge(b) AS u FROM t2 GROUP BY a").collect()
    }
    assert merged == {"x": 3, "y": 1}
    engine.execute("DROP TABLE t1")
    engine.execute("DROP TABLE t2")


def test_kill_query_and_system_processes(engine):
    """KILL QUERY + system.processes (M7/D8; lecture_16.md:328-336):
    a long query's job group is cancellable from another thread."""
    import threading
    import time

    errors: list = []

    def slow():
        try:
            # ~minutes of work if not killed (big codegen'd aggregation;
            # modulo keeps the sum far below long overflow under ANSI)
            engine.run("SELECT sum(number % 997) FROM numbers(50000000000)")
        except Exception as exc:  # noqa: BLE001 — cancellation lands here
            errors.append(type(exc).__name__)

    th = threading.Thread(target=slow)
    th.start()
    qid = None
    for _ in range(300):  # wait for registration (driver-side — polling
        # via system("processes") would need a task slot, and the slow
        # query's tasks occupy all of local[4]'s)
        if engine._processes:
            qid = next(iter(engine._processes))
            break
        time.sleep(0.1)
    assert qid, "query never appeared in the process registry"
    tracker = engine.spark.sparkContext.statusTracker()
    for _ in range(300):  # cancelJobGroup is a no-op until a job is live
        if tracker.getJobIdsForGroup(qid):
            break
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(qid), "query never started a Spark job"
    t0 = time.time()
    res = engine.execute(f"KILL QUERY WHERE query_id = '{qid}'")
    th.join(timeout=60)
    assert not th.is_alive() and time.time() - t0 < 60
    assert res == {"killed": True}
    assert errors, "cancelled query should raise in its thread"
    assert not engine.system("processes").collect()


def test_system_events_and_metrics(engine):
    """system.events / system.metrics (D8; the course's monitoring
    surface, lecture_20.md:296-529), queryable from raw SQL."""
    engine.run("SELECT 1 AS x")
    ev = {r.event: r.value for r in engine.sql("SELECT * FROM system.events").collect()}
    assert ev.get("SelectQuery", 0) >= 1 and ev.get("Query", 0) >= ev["SelectQuery"]
    mt = {r.metric: r.value for r in engine.sql("SELECT * FROM system.metrics").collect()}
    assert mt["TablesRegistered"] >= 1 and mt["Query"] == 0


def test_system_dashboards(engine):
    """system.dashboards (lecture_22.md:1-4): the built-in dashboard's
    query registry — and each registered query actually runs against
    this engine's system views."""
    rows = engine.sql(
        "select title, query from system.dashboards where dashboard='Overview'"
    ).collect()
    assert len(rows) >= 3
    for r in rows:
        assert engine.sql(r.query).collect() is not None
