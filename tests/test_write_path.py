"""Write-path job economy: reads with the column list after a write,
the materialization rule for MV and stream blocks, and the streaming
landing's edge cases.

Each test checks the cheaper path against what the full-cost path
returns: a fresh ``spark.read.parquet`` of the table's files, or the
rows the inputs must land.
"""

import json
import os
import shutil
import sys
import threading

import pytest


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _assert_matches_fresh_read(engine, name):
    """The registered view equals a fresh inference over the same files,
    less the hidden partition columns only the directory names hold."""
    got = engine.table(name)
    td = engine.tables[name]
    fresh = engine.spark.read.parquet(td.path)
    hidden = [c for _, c in td.keys("partition", got.columns) if c not in got.columns]
    assert fresh.columns == got.columns + hidden
    fresh = fresh.drop(*hidden)
    assert got.schema == fresh.schema
    assert _rows(got) == _rows(fresh)


@pytest.fixture
def read_spy(monkeypatch):
    """Records, per parquet re-read, whether a known schema was passed."""
    import otus_clickhouse_spark.io as io_mod

    calls = []
    orig = io_mod.read_table

    def spy(spark, path, schema=None):
        calls.append(schema is not None)
        return orig(spark, path, schema)

    monkeypatch.setattr(io_mod, "read_table", spy)
    return calls


@pytest.fixture
def checkpoints(monkeypatch):
    """Counts eager checkpoints taken while the test runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    orig = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        calls.append(1)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return calls


def test_append_reads_with_the_list_equal_to_fresh_inference(engine, tmp_path, read_spy):
    engine.execute("DROP TABLE IF EXISTS wp_plain")
    engine.execute(
        "CREATE TABLE wp_plain (k UInt32, s String, d Date, v Float64) "
        "ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["wp_plain"].path = str(tmp_path / "wp_plain")
    try:
        engine.execute("INSERT INTO wp_plain VALUES (1, 'a', '2024-01-02', 0.5)")
        engine.execute(
            "INSERT INTO wp_plain SELECT toUInt32(number) AS k, toString(number) AS s, "
            "addDays(toDate('2024-01-01'), toInt32(number)) AS d, number / 4 AS v "
            "FROM numbers(20)"
        )
        engine.execute("INSERT INTO wp_plain VALUES (7, 'z', '2024-05-06', 1.25)")
        # every re-read passes the column list: no append infers
        assert read_spy == [True, True, True]
        _assert_matches_fresh_read(engine, "wp_plain")
        assert engine.table("wp_plain").count() == 22

        engine.execute("ALTER TABLE wp_plain ADD COLUMN x UInt8 DEFAULT 7")
        for k, x in ((8, 9), (9, 1)):
            engine.execute(
                f"INSERT INTO wp_plain SELECT toUInt32({k}) AS k, 'y' AS s, "
                f"toDate('2024-06-07') AS d, toFloat64(2.5) AS v, toUInt8({x}) AS x"
            )
        # the ALTER reads the stored rows and its rewrite's re-registration
        # reads the new list, as do the appends after it
        assert read_spy[3:] == [True, True, True, True]
        _assert_matches_fresh_read(engine, "wp_plain")
        assert engine.run("SELECT sum(x) AS n FROM wp_plain")[0][0] == 22 * 7 + 9 + 1
    finally:
        engine.execute("DROP TABLE IF EXISTS wp_plain")


def test_partitioned_append_reads_with_the_list(engine, tmp_path, read_spy):
    engine.execute("DROP TABLE IF EXISTS wp_part")
    engine.execute(
        "CREATE TABLE wp_part (k UInt32, d Date) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(d) ORDER BY k"
    )
    engine.tables["wp_part"].path = str(tmp_path / "wp_part")
    try:
        for month in (1, 2, 2):
            engine.execute(
                f"INSERT INTO wp_part SELECT toUInt32(number) AS k, "
                f"toDate('2024-0{month}-03') AS d FROM numbers(5)"
            )
        # a new partition directory needs no inference either: Spark
        # types the generated ``_p_*`` column from the directory names
        assert read_spy == [True, True, True]
        _assert_matches_fresh_read(engine, "wp_part")
    finally:
        engine.execute("DROP TABLE IF EXISTS wp_part")


def test_optimize_final_partitioned_keeps_rows(engine, tmp_path):
    """OPTIMIZE … FINAL rewrites a PARTITION BY table into its partition
    directories, so the next insert leaves every row readable."""
    engine.execute("DROP TABLE IF EXISTS wp_opt")
    engine.execute(
        "CREATE TABLE wp_opt (k UInt32, d Date) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(d) ORDER BY k"
    )
    engine.tables["wp_opt"].path = str(tmp_path / "wp_opt")
    try:
        for block in range(2):
            engine.execute(
                "INSERT INTO wp_opt SELECT toUInt32(number) AS k, "
                "addDays(toDate('2024-01-01'), toInt32(number % 60)) AS d "
                f"FROM numbers({100 + block})"
            )
        engine.execute("OPTIMIZE TABLE wp_opt FINAL")
        engine.execute(
            "INSERT INTO wp_opt SELECT toUInt32(number) AS k, "
            "toDate('2024-03-05') AS d FROM numbers(7)"
        )
        assert engine.run("SELECT count() AS n FROM wp_opt")[0][0] == 208
        top = os.listdir(engine.tables["wp_opt"].path)
        assert not [f for f in top if f.endswith(".parquet")], top
    finally:
        engine.execute("DROP TABLE IF EXISTS wp_opt")


def _drop(engine, *names):
    for t in names:
        engine.execute(f"DROP TABLE IF EXISTS {t}")


def test_mv_into_plain_target_takes_no_checkpoint(engine, tmp_path, checkpoints):
    """A target without its own consumers reads the MV output once: the
    output stays lazy and lands the same rows."""
    _drop(engine, "wp1_mv", "wp1_src", "wp1_dst")
    engine.execute("CREATE TABLE wp1_src (k UInt32, v UInt32) ENGINE = MergeTree ORDER BY k")
    engine.execute("CREATE TABLE wp1_dst (k UInt32, v2 UInt32) ENGINE = MergeTree ORDER BY k")
    for t in ("wp1_src", "wp1_dst"):
        engine.tables[t].path = str(tmp_path / t)
    engine.execute(
        "CREATE MATERIALIZED VIEW wp1_mv TO wp1_dst AS SELECT k, v * 2 AS v2 FROM wp1_src"
    )
    try:
        engine.execute("INSERT INTO wp1_src VALUES (1, 10), (2, 20), (3, 30)")
        assert checkpoints == []
        rows = engine.run("SELECT k, v2 FROM wp1_dst ORDER BY k")
        assert [(int(r[0]), int(r[1])) for r in rows] == [(1, 20), (2, 40), (3, 60)]
    finally:
        _drop(engine, "wp1_mv", "wp1_dst", "wp1_src")


def test_mv_cascade_lands_same_rows(engine, tmp_path, checkpoints):
    """src → mv1 → mid → mv2 → leaf."""
    src, mid, leaf = "wpc_src", "wpc_mid", "wpc_leaf"
    _drop(engine, "wpc_mv1", "wpc_mv2", leaf, mid, src)
    engine.execute(f"CREATE TABLE {src} (k UInt32, v UInt32) ENGINE = MergeTree ORDER BY k")
    engine.execute(f"CREATE TABLE {mid} (k UInt32, v2 UInt32) ENGINE = MergeTree ORDER BY k")
    engine.execute(
        f"CREATE TABLE {leaf} (k UInt32, n UInt64, s UInt64) ENGINE = MergeTree ORDER BY k"
    )
    for t in (src, mid, leaf):
        engine.tables[t].path = str(tmp_path / t)
    engine.execute(f"CREATE MATERIALIZED VIEW wpc_mv1 TO {mid} AS SELECT k, v * 2 AS v2 FROM {src}")
    engine.execute(
        f"CREATE MATERIALIZED VIEW wpc_mv2 TO {leaf} AS "
        f"SELECT k, count() AS n, sum(v2) AS s FROM {mid} GROUP BY k"
    )
    try:
        engine.execute(
            f"INSERT INTO {src} SELECT toUInt32(number % 4) AS k, toUInt32(number) AS v "
            "FROM numbers(10)"
        )
        # mid fans out to mv2, so mv1's output is materialized once;
        # leaf has no consumers, so mv2's output is not
        assert len(checkpoints) == 1
        mid_rows = engine.run(f"SELECT k, v2 FROM {mid}")
        assert sorted((int(k), int(v)) for k, v in mid_rows) == sorted(
            (i % 4, 2 * i) for i in range(10)
        )
        leaf_rows = engine.run(f"SELECT k, n, s FROM {leaf} ORDER BY k")
        want = [
            (k, len(range(k, 10, 4)), sum(2 * i for i in range(k, 10, 4))) for k in range(4)
        ]
        assert [tuple(int(x) for x in r) for r in leaf_rows] == want
    finally:
        _drop(engine, "wpc_mv1", "wpc_mv2", leaf, mid, src)


def test_mv_into_distributed_target_lands_same_rows(engine, tmp_path, checkpoints):
    _drop(engine, "wpd_mv", "wpd_dist", "wpd_local", "wpd_src")
    engine.execute("CREATE TABLE wpd_src (k UInt32, v UInt32) ENGINE = MergeTree ORDER BY k")
    engine.execute("CREATE TABLE wpd_local (k UInt32, v2 UInt32) ENGINE = MergeTree ORDER BY k")
    for t in ("wpd_src", "wpd_local"):
        engine.tables[t].path = str(tmp_path / t)
    engine.define_cluster("wpd_cluster", shards=2)
    engine.execute(
        "CREATE TABLE wpd_dist AS wpd_local "
        "ENGINE = Distributed(wpd_cluster, default, wpd_local, k)"
    )
    engine.execute(
        "CREATE MATERIALIZED VIEW wpd_mv TO wpd_dist AS SELECT k, v * 2 AS v2 FROM wpd_src"
    )
    try:
        engine.execute(
            "INSERT INTO wpd_src SELECT toUInt32(number) AS k, toUInt32(number + 1) AS v "
            "FROM numbers(8)"
        )
        assert len(checkpoints) == 1  # the Distributed target re-routes the block
        want = [(i, 2 * (i + 1)) for i in range(8)]
        for t in ("wpd_local", "wpd_dist"):
            rows = engine.run(f"SELECT k, v2 FROM {t} ORDER BY k")
            assert [(int(r[0]), int(r[1])) for r in rows] == want, t
    finally:
        _drop(engine, "wpd_mv", "wpd_dist", "wpd_local", "wpd_src")


def test_drop_if_exists_detaches_mv(engine, tmp_path):
    """An MV is not in the table catalog, but DROP TABLE IF EXISTS on its
    name still detaches its trigger."""
    _drop(engine, "wpx_mv", "wpx_src", "wpx_dst")
    for t in ("wpx_src", "wpx_dst"):
        engine.execute(f"CREATE TABLE {t} (k UInt32) ENGINE = MergeTree ORDER BY k")
        engine.tables[t].path = str(tmp_path / t)
    engine.execute("CREATE MATERIALIZED VIEW wpx_mv TO wpx_dst AS SELECT k FROM wpx_src")
    try:
        engine.execute("DROP TABLE IF EXISTS wpx_mv")
        engine.execute("INSERT INTO wpx_src VALUES (1), (2)")
        assert engine.run("SELECT count() AS n FROM wpx_dst")[0][0] == 0
    finally:
        _drop(engine, "wpx_mv", "wpx_src", "wpx_dst")


@pytest.fixture
def kafka_chain(engine, tmp_path):
    """A Kafka-engine table → MV → MergeTree landing, on its own topic."""
    topic = "wp_topic"
    shutil.rmtree(f"spark-warehouse/_kafka/{topic}", ignore_errors=True)
    _drop(engine, "wpk_mv", "wpk_src", "wpk_raw")
    engine.execute(
        "CREATE TABLE wpk_src (message String) ENGINE = Kafka "
        f"SETTINGS kafka_broker_list = 'b:9092', kafka_topic_list = '{topic}', "
        "kafka_format = 'JSONAsString', kafka_group_name = 'wpk_grp'"
    )
    engine.execute(
        "CREATE TABLE wpk_raw (message String, _offset UInt64) "
        "ENGINE = MergeTree ORDER BY _offset"
    )
    engine.tables["wpk_raw"].path = str(tmp_path / "wpk_raw")
    engine.execute(
        "CREATE MATERIALIZED VIEW wpk_mv TO wpk_raw AS SELECT message, _offset FROM wpk_src"
    )
    yield topic
    _drop(engine, "wpk_mv", "wpk_src", "wpk_raw")
    shutil.rmtree(f"spark-warehouse/_kafka/{topic}", ignore_errors=True)


def test_stream_staging_removed_after_each_epoch(engine, tmp_path, monkeypatch, kafka_chain):
    import tempfile

    stage_parent = tmp_path / "tmp"
    stage_parent.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(stage_parent))
    q = engine.kafka_attach_stream("wpk_src", checkpoint=str(tmp_path / "ck"))
    monkeypatch.undo()
    (stage_root,) = [p for p in stage_parent.iterdir() if p.name.startswith("kafka_stage_")]
    try:
        for i in range(2):
            engine.kafka_produce(kafka_chain, [json.dumps({"b": i, "j": j}) for j in range(4)])
            q.processAllAvailable()
            assert os.listdir(stage_root) == []
            assert engine.run("SELECT count() AS n FROM wpk_raw")[0][0] == 4 * (i + 1)
    finally:
        q.stop()


def test_stream_empty_micro_batch_lands_nothing(engine, tmp_path, kafka_chain):
    """A micro-batch with no rows lands nothing, raises nothing and
    leaves no exactly-once pre-image behind."""
    ck = tmp_path / "ck"
    q = engine.kafka_attach_stream("wpk_src", checkpoint=str(ck))
    try:
        tdir = engine._kafka_topic(engine.tables["wpk_src"]).dir
        with open(os.path.join(tdir, "b00000000.jsonl"), "w"):
            pass  # an empty segment: one micro-batch of zero rows
        q.processAllAvailable()
        assert q.exception() is None
        assert q.lastProgress["numInputRows"] == 0
        assert os.listdir(ck / "_epochs") == []
        assert engine.run("SELECT count() AS n FROM wpk_raw")[0][0] == 0
        engine.kafka_produce(kafka_chain, [json.dumps({"i": i}) for i in range(3)])
        q.processAllAvailable()
        assert engine.run("SELECT count() AS n FROM wpk_raw")[0][0] == 3
        assert not [f for f in os.listdir(ck / "_epochs") if f.endswith(".pre")]
    finally:
        q.stop()


def test_event_counters_exact_under_threads(engine):
    """Concurrent run_query calls (the HTTP server shares one Engine)
    lose no system.events increments."""

    def query_count():
        rows = engine.system("events").where("event = 'Query'").collect()
        return rows[0].value if rows else 0

    n_threads, per_thread = 8, 12
    before = query_count()
    errors = []

    def worker():
        try:
            for _ in range(per_thread):
                engine.run_query("SELECT 1 AS x")
        except Exception as exc:  # noqa: BLE001 — reported by the assert below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert query_count() - before == n_threads * per_thread
