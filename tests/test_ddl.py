"""ClickHouse DDL front-end: reference CREATE TABLE statements run as-is."""

import pytest

from otus_clickhouse_spark.functions.ddl import ch_type_to_spark, parse_create_table


@pytest.mark.parametrize(
    "ch,spark,nullable",
    [
        ("String", "string", False),
        ("FixedString(2)", "string", False),
        ("UInt8", "smallint", False),
        ("UInt32", "bigint", False),
        ("UInt64", "decimal(20,0)", False),
        ("Int64", "bigint", False),
        ("Float32", "float", False),
        ("Decimal(12,3)", "decimal(12,3)", False),
        ("Decimal32(2)", "decimal(9,2)", False),
        ("Enum('CSH'=1,'CRE'=2)", "string", False),
        ("Date", "date", False),
        ("DateTime", "timestamp", False),
        ("DateTime64(3)", "timestamp", False),
        ("Nullable(Float64)", "double", True),
        ("LowCardinality(String)", "string", False),
        ("Array(UInt32)", "array<bigint>", False),
        ("Map(String, String)", "map<string,string>", False),
        ("Tuple(String, UInt8)", "struct<_1: string, _2: smallint>", False),
        ("UUID", "string", False),
        ("Bool", "boolean", False),
    ],
)
def test_type_mapping(ch, spark, nullable):
    assert ch_type_to_spark(ch) == (spark, nullable)


TRIPS_DDL = """
CREATE TABLE trips_ddl (
    trip_id UInt32,
    pickup_datetime DateTime,
    dropoff_datetime DateTime,
    fare_amount Float32,
    tip_amount Nullable(Float32),
    payment_type Enum('CSH'=1, 'CRE'=2, 'NOC'=3),
    pickup_ntaname LowCardinality(String) COMMENT 'zone',
    meta Map(String, String)
) ENGINE = MergeTree
PARTITION BY toYYYYMM(pickup_datetime)
ORDER BY (pickup_datetime, trip_id)
"""


def test_parse_trips_shape():
    td = parse_create_table(TRIPS_DDL).td
    assert td.name == "trips_ddl" and td.engine == "MergeTree"
    assert td.order_by == ("pickup_datetime", "trip_id")
    assert td.partition_by == ("toYYYYMM(pickup_datetime)",)
    cols = {c.name: c for c in td.columns}
    tip, payment = cols["tip_amount"], cols["payment_type"]
    assert (tip.spark_type, tip.nullable) == ("float", True)
    assert (payment.spark_type, payment.nullable) == ("string", False)


def test_parse_engine_args_and_ttl():
    td = parse_create_table(
        "CREATE TABLE v (id UInt64, ver UInt32, val String) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY id TTL created + INTERVAL 30 DAY"
    ).td
    assert td.engine == "ReplacingMergeTree" and td.version == "ver"
    assert td.ttl == "created + INTERVAL 30 DAY"
    td2 = parse_create_table(
        "CREATE TABLE c (id UInt64, sign Int8) ENGINE = CollapsingMergeTree(sign) ORDER BY id"
    ).td
    assert td2.sign == "sign"
    td3 = parse_create_table(
        "CREATE TABLE r (id UInt64) ENGINE = ReplicatedMergeTree('/ch/t', '{replica}') ORDER BY id"
    ).td
    assert td3.engine == "MergeTree"  # replication = storage-layer no-op


def test_engine_ddl_roundtrip(engine, tmp_path):
    engine.execute(
        "CREATE TABLE kv_ddl (k UInt32, ver UInt32, v String) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY k",
    )
    # point the fresh table at a writable temp dir
    engine.tables["kv_ddl"].path = str(tmp_path / "kv_ddl")
    assert engine.table("kv_ddl").count() == 0
    engine.execute("INSERT INTO kv_ddl VALUES (1, 1, 'a'), (1, 2, 'b'), (2, 1, 'c')")
    rows = engine.run("SELECT k, v FROM kv_ddl FINAL ORDER BY k")
    assert [(r.k, r.v) for r in rows] == [(1, "b"), (2, "c")]  # max-version wins
    engine.execute("DROP TABLE kv_ddl")
    assert "kv_ddl" not in engine.tables


def test_expression_partition_key_materialized(engine, tmp_path, spark):
    import os

    from pyspark.sql import functions as F

    engine.execute(
        "CREATE TABLE tr_part (trip_id UInt32, dt Date, fare Float64) "
        "ENGINE = MergeTree PARTITION BY toYYYYMM(dt) ORDER BY (dt, trip_id)"
    )
    engine.tables["tr_part"].path = str(tmp_path / "tr_part")
    rows = spark.createDataFrame(
        [(1, "2024-01-05", 10.0), (2, "2024-02-11", 20.0), (3, "2024-02-20", 30.0)],
        "trip_id bigint, dt string, fare double",
    ).select(F.col("trip_id"), F.col("dt").cast("date"), F.col("fare"))
    engine.insert("tr_part", rows)
    # directory layout mirrors the CH partition key
    dirs = sorted(d for d in os.listdir(engine.tables["tr_part"].path) if d.startswith("_p_"))
    assert dirs == ["_p_toYYYYMM_dt=202401", "_p_toYYYYMM_dt=202402"]
    # and pruning applies to the stored frame, which keeps the hidden
    # partition column: partition filter appears in the physical plan
    df = engine.stored("tr_part").where(F.col("_p_toYYYYMM_dt") == 202402)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and df.count() == 2
    # users see the declared columns only, so a CTAS copies just those
    declared = ["trip_id", "dt", "fare"]
    assert engine.table("tr_part").columns == declared
    assert [r[0] for r in engine.run("DESCRIBE TABLE tr_part")] == declared
    engine.execute("CREATE TABLE tr_copy ENGINE = MergeTree ORDER BY trip_id AS SELECT * FROM tr_part")
    assert [c.name for c in engine.tables["tr_copy"].columns] == declared
    assert engine.run("SELECT count() FROM tr_copy")[0][0] == 3
    engine.execute("DROP TABLE tr_copy")
    engine.execute("DROP TABLE tr_part")


def test_default_materialized_alias_columns(engine, tmp_path):
    """lecture_12.md:14-47: DEFAULT fills omitted columns, MATERIALIZED
    is always computed at insert, ALIAS is virtual (recomputed per query)."""
    engine.execute(
        "CREATE TABLE attrs_ddl ("
        " id UInt32,"
        " val Float64,"
        " status String DEFAULT 'new',"
        " val2 Float64 MATERIALIZED val * 2,"
        " val3 ALIAS val + 1"
        ") ENGINE = MergeTree ORDER BY id"
    )
    engine.tables["attrs_ddl"].path = str(tmp_path / "attrs_ddl")
    td = engine.tables["attrs_ddl"]
    kinds = {c.name: (c.kind, c.expr, c.spark_type) for c in td.columns if c.kind}
    assert kinds == {
        "status": ("DEFAULT", "'new'", "string"),
        "val2": ("MATERIALIZED", "val * 2", "double"),
        "val3": ("ALIAS", "val + 1", None),  # an untyped ALIAS is not cast
    }
    # column-list insert: status omitted → DEFAULT; val2 computed
    engine.execute("INSERT INTO attrs_ddl (id, val) VALUES (1, 10.0)")
    engine.execute("INSERT INTO attrs_ddl (id, val, status) VALUES (2, 20.0, 'old')")
    rows = {r.id: r for r in engine.table("attrs_ddl").collect()}
    assert rows[1].status == "new" and rows[2].status == "old"
    assert rows[1].val2 == 20.0 and rows[2].val2 == 40.0
    assert rows[1].val3 == 11.0  # ALIAS recomputed on read
    # ALIAS column is not persisted
    raw = engine.spark.read.parquet(engine.tables["attrs_ddl"].path)
    assert "val3" not in raw.columns and "val2" in raw.columns
    engine.execute("DROP TABLE attrs_ddl")


def test_insert_column_list_zero_defaults(engine, tmp_path):
    # non-nullable column with no DEFAULT → CH type-zero (0 / '')
    engine.execute(
        "CREATE TABLE zerod (a UInt32, b String, c Nullable(Float64)) "
        "ENGINE = MergeTree ORDER BY a"
    )
    engine.tables["zerod"].path = str(tmp_path / "zerod")
    engine.execute("INSERT INTO zerod (a) VALUES (7)")
    r = engine.table("zerod").collect()[0]
    assert r.a == 7 and r.b == "" and r.c is None
    engine.execute("DROP TABLE zerod")


@pytest.mark.parametrize(
    "ddl,source,want",
    [
        (  # column list, no source
            "CREATE TABLE IF NOT EXISTS kv (k UInt32, v String) ENGINE = MergeTree ORDER BY k",
            None,
            {"engine": "MergeTree", "order_by": ("k",), "columns": ["k", "v"], "ine": True},
        ),
        (  # CTAS, the engine clause before the SELECT (hw03.md:123-166)
            "CREATE TABLE c1 ENGINE = ReplacingMergeTree(ver) PARTITION BY toYYYYMM(d) "
            "ORDER BY (k, toDate(d)) AS SELECT k, d AS x, 'a AS b' AS s FROM src",
            "SELECT k, d AS x, 'a AS b' AS s FROM src",
            {
                "engine": "ReplacingMergeTree",
                "version": "ver",
                "order_by": ("k", "toDate(d)"),
                "partition_by": ("toYYYYMM(d)",),
                "columns": None,
            },
        ),
        (  # CTAS with a declared column list and a WITH query
            "CREATE TABLE c2 (k UInt64, total UInt64) ENGINE = SummingMergeTree ORDER BY k "
            "AS WITH t AS (SELECT 1 AS k) SELECT k, k AS total FROM t",
            "WITH t AS (SELECT 1 AS k) SELECT k, k AS total FROM t",
            {"engine": "SummingMergeTree", "order_by": ("k",), "columns": ["k", "total"]},
        ),
        (  # schema copy naming its own engine after the source (lecture_16.md:230)
            "CREATE TABLE c5 AS db1.src ENGINE = ReplacingMergeTree(ver) ORDER BY (k, d)",
            "db1.src",
            {"engine": "ReplacingMergeTree", "version": "ver", "order_by": ("k", "d")},
        ),
        (  # bare schema copy: nothing named, everything copied
            "CREATE TABLE a AS b",
            "b",
            {"engine": "MergeTree", "order_by": (), "columns": None},
        ),
        (  # the Replicated conversion (hw09.md:141-144)
            "CREATE TABLE t2 AS t ENGINE=ReplicatedMergeTree('/ch/t2', '{replica}') "
            "PRIMARY KEY (pickup_datetime)",
            "t",
            {"engine": "MergeTree", "order_by": ("pickup_datetime",), "replicated": True},
        ),
        (  # structure copy of a system view, the engine clause first (hw14.md:30)
            "create table d\nengine=MergeTree\norder by tuple()\nas system.dashboards",
            "system.dashboards",
            {"engine": "MergeTree", "order_by": (), "columns": None},
        ),
    ],
)
def test_parse_every_create_table_form(ddl, source, want):
    stmt = parse_create_table(ddl)
    td = stmt.td
    assert stmt.source == source
    assert stmt.select == bool(source and source.startswith(("SELECT", "WITH")))
    assert stmt.if_not_exists == want.get("ine", False)
    assert td.engine == want["engine"] and td.order_by == want["order_by"]
    assert td.version == want.get("version")
    assert td.partition_by == want.get("partition_by", ())
    if "columns" in want:
        names = [c.name for c in td.columns] if td.columns else None
        assert names == want["columns"]
    assert td.settings.get("replicated", False) == want.get("replicated", False)


def test_parse_named_clauses_overlay_a_copied_table():
    """`AS src` keeps what the statement omits and takes what it names."""
    src = parse_create_table(
        "CREATE TABLE src (k UInt32, d Date, ver UInt32) ENGINE = ReplicatedReplacingMergeTree"
        "('/ch/src', '{replica}', ver) PARTITION BY toYYYYMM(d) ORDER BY k "
        "TTL d + INTERVAL 1 DAY SETTINGS index_granularity = 1024"
    ).td
    assert (src.engine, src.version, src.settings["replicated"]) == ("ReplacingMergeTree", "ver", True)
    td = parse_create_table("CREATE TABLE c AS src ENGINE = MergeTree ORDER BY (k, d)").over(src)
    assert (td.name, td.engine, td.version, td.order_by) == ("c", "MergeTree", None, ("k", "d"))
    assert td.partition_by == ("toYYYYMM(d)",) and td.ttl == "d + INTERVAL 1 DAY"
    assert td.settings == {"table_settings": {"index_granularity": "1024"}}
    assert td.columns == src.columns


def test_parse_settings_split_outside_literals():
    td = parse_create_table(
        "CREATE TABLE q (m String) ENGINE = Kafka SETTINGS "
        "kafka_broker_list = 'k1:9092,k2:9092', kafka_topic_list = 't', "
        "kafka_format = 'JSONEachRow' COMMENT 'queue, outbound'"
    ).td
    assert td.settings["table_settings"] == {
        "kafka_broker_list": "k1:9092,k2:9092",
        "kafka_topic_list": "t",
        "kafka_format": "JSONEachRow",
    }
