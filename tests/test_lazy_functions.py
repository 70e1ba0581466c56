"""ClickHouse functions register on first use, in the session that
analyzes the text (functions/clickhouse.py ``ensure_functions``).

Every test here runs on ``spark.newSession()``, whose temporary
functions start empty, so no earlier test can have registered what it
uses."""

import json
import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from otus_clickhouse_spark.functions.clickhouse import _FUNCTIONS, ensure_functions


@pytest.fixture
def fresh(spark):
    """An Engine on a new session."""
    from otus_clickhouse_spark.engine import Engine

    return Engine(spark.newSession())


def _create(eng, tmp_path, ddl):
    """Run a CREATE TABLE and keep the table's files under ``tmp_path``."""
    eng.execute(ddl)
    td = eng.tables[ddl.split()[2]]
    td.path = str(tmp_path / td.name)


@pytest.fixture
def creates(monkeypatch):
    """The ``CREATE … FUNCTION`` statements sent to any session."""
    seen: list[str] = []
    orig = SparkSession.sql

    def spy(self, query, *args, **kwargs):
        if "TEMPORARY FUNCTION" in query:
            seen.append(query.split("FUNCTION ", 1)[1].split("(", 1)[0])
        return orig(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", spy)
    return seen


def _one(eng, text):
    return tuple(eng.run(text)[0])


def test_engine_start_registers_nothing(spark, creates):
    from otus_clickhouse_spark.engine import Engine

    Engine(spark.newSession())
    assert creates == []


def test_every_function_resolves_through_engine_sql(fresh, creates):
    calls = []
    for name, args, _rtype, _body in _FUNCTIONS.values():
        params = StructType.fromDDL(args).fields if args else []
        nulls = ", ".join(f"CAST(NULL AS {f.dataType.simpleString()})" for f in params)
        calls.append(f"{name}({nulls}) AS c{len(calls)}")
    assert len(fresh.sql("SELECT " + ", ".join(calls)).columns) == len(_FUNCTIONS)
    # the dialect inlines a few (splitByChar, extractAll, …) before analysis
    assert len(set(creates)) == len(creates) > 250


def test_a_body_registers_the_functions_it_calls_first(spark, creates):
    session = spark.newSession()
    ensure_functions(session, "SELECT IPv4CIDRToRange('10.1.2.3', 8) AS r")
    assert creates[-1] == "IPv4CIDRToRange"
    assert sorted(creates[:-1]) == ["IPv4NumToString", "IPv4StringToNum"]
    r = session.sql("SELECT IPv4CIDRToRange('10.1.2.3', 8) AS r").collect()[0].r
    assert (r.lo, r.hi) == ("10.0.0.0", "10.255.255.255")


def test_values_default_and_materialized(fresh, tmp_path):
    _create(
        fresh,
        tmp_path,
        "CREATE TABLE lz_v (k UInt32, x UInt64 DEFAULT intExp10(k), "
        "m UInt64 MATERIALIZED bitShiftLeft(k, 4)) ENGINE = MergeTree ORDER BY k"
    )
    fresh.execute("INSERT INTO lz_v (k) VALUES (bitXor(6, 3))")
    assert _one(fresh, "SELECT k, x, m FROM lz_v") == (5, 100000, 80)


def test_alias_column(fresh, tmp_path):
    _create(
        fresh,
        tmp_path,
        "CREATE TABLE lz_a (k UInt32, a UInt64 ALIAS intExp2(k)) ENGINE = MergeTree ORDER BY k"
    )
    fresh.execute("INSERT INTO lz_a VALUES (3)")
    assert _one(fresh, "SELECT k, a FROM lz_a") == (3, 8)


def test_partition_by_a_function(fresh, tmp_path):
    _create(
        fresh,
        tmp_path,
        "CREATE TABLE lz_p (d Date, k UInt32) ENGINE = MergeTree "
        "PARTITION BY toYYYYMM(d) ORDER BY k"
    )
    fresh.execute("INSERT INTO lz_p VALUES ('2024-01-05', 1), ('2024-02-05', 2)")
    parts = sorted(p for p in os.listdir(fresh.tables["lz_p"].path) if "=" in p)
    assert [p.split("=")[1] for p in parts] == ["202401", "202402"]
    assert _one(fresh, "SELECT count() FROM lz_p") == (2,)


def test_sharding_key(fresh, tmp_path):
    fresh.define_cluster("lz_cluster", shards=2)
    _create(fresh, tmp_path, "CREATE TABLE lz_local (k UInt32) ENGINE = MergeTree ORDER BY k")
    fresh.execute(
        "CREATE TABLE lz_dist (k UInt32) "
        "ENGINE = Distributed(lz_cluster, default, lz_local, bitAnd(k, 1))"
    )
    fresh.execute("INSERT INTO lz_dist VALUES (1), (2)")
    rows = fresh.run("SELECT k, _shard_num FROM lz_dist ORDER BY k")
    assert [tuple(r) for r in rows] == [(1, 2), (2, 1)]


def test_limit_by_key_and_mutation_predicate(fresh, tmp_path):
    _create(fresh, tmp_path, "CREATE TABLE lz_m (k UInt32) ENGINE = MergeTree ORDER BY k")
    fresh.execute("INSERT INTO lz_m VALUES (1), (2), (3), (4)")
    rows = fresh.run("SELECT k FROM lz_m ORDER BY k LIMIT 1 BY moduloOrZero(k, 2)")
    assert [r[0] for r in rows] == [1, 2]
    fresh.execute("ALTER TABLE lz_m DELETE WHERE bitTest(k, 0) = 1")
    assert [r[0] for r in fresh.run("SELECT k FROM lz_m ORDER BY k")] == [2, 4]


def test_mv_transform_landed_through_foreach_batch(fresh, tmp_path):
    topic = "lz_topic"
    shutil.rmtree(f"spark-warehouse/_kafka/{topic}", ignore_errors=True)
    fresh.execute(
        "CREATE TABLE lz_src (message String) ENGINE = Kafka "
        f"SETTINGS kafka_broker_list = 'b:9092', kafka_topic_list = '{topic}', "
        "kafka_format = 'JSONAsString', kafka_group_name = 'lz_grp'"
    )
    _create(
        fresh, tmp_path, "CREATE TABLE lz_raw (b Int64, _offset UInt64) ENGINE = MergeTree ORDER BY _offset"
    )
    fresh.execute(
        "CREATE MATERIALIZED VIEW lz_mv TO lz_raw AS "
        "SELECT JSONExtractInt(message, 'b') AS b, _offset FROM lz_src"
    )
    q = fresh.kafka_attach_stream("lz_src", checkpoint=str(tmp_path / "ck"))
    try:
        fresh.kafka_produce(topic, [json.dumps({"b": i}) for i in range(3)])
        q.processAllAvailable()
    finally:
        q.stop()
        shutil.rmtree(f"spark-warehouse/_kafka/{topic}", ignore_errors=True)
    assert [r[0] for r in fresh.run("SELECT b FROM lz_raw ORDER BY b")] == [0, 1, 2]


def test_current_user_survives_later_registrations(fresh):
    fresh.execute("CREATE USER IF NOT EXISTS lz_user")
    fresh.set_user("lz_user")
    assert _one(fresh, "SELECT currentUser(), toYear(DATE '2024-03-01')") == ("lz_user", 2024)
    assert _one(fresh, "SELECT currentUser(), hostName()") == ("lz_user", "localhost")


def test_rand_constant_is_one_value_per_session(fresh):
    first = _one(fresh, "SELECT randConstant()")[0]
    assert _one(fresh, "SELECT randConstant(), toMonth(DATE '2024-03-01')") == (first, 3)
    assert 0.0 <= first < 1.0


def test_no_clickhouse_name_shadows_a_spark_builtin(spark):
    # a missed registration fails with UNRESOLVED_ROUTINE only while no
    # ClickHouse name also resolves to a builtin
    builtins = {r[0].lower() for r in spark.newSession().sql("SHOW SYSTEM FUNCTIONS").collect()}
    assert len(builtins) > 400
    assert builtins.isdisjoint(_FUNCTIONS)


def test_concurrent_first_uses_register_each_function_once(spark, creates):
    """Threads, more than the cores, name the same unregistered functions
    in one session at once: each CREATE runs exactly once."""
    session = spark.newSession()
    text = "SELECT toISOYear(d), toISOWeek(d), isIPAddressInRange(a, c), gcd(x, y), lcm(x, y)"
    barrier = threading.Barrier(8)
    errors = []

    def run():
        try:
            barrier.wait(timeout=60)
            ensure_functions(session, text)
        except Exception as e:  # surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert sorted(creates) == sorted(
        ["toISOYear", "toISOWeek", "IPv4StringToNum", "isIPAddressInRange", "gcd", "lcm"]
    )
    row = session.sql(
        "SELECT toISOYear(DATE '2021-01-01'), toISOWeek(DATE '2021-01-01'), "
        "isIPAddressInRange('10.0.0.1', '10.0.0.0/8'), gcd(12, 18), lcm(12, 18)"
    ).collect()[0]
    assert tuple(row) == (2020, 53, True, 6, 36)
