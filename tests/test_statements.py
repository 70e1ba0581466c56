"""Mutation / maintenance statements routed through Engine.execute.

Reference statement shapes: ALTER UPDATE hw11.md:95-130, ALTER DELETE +
lightweight DELETE lecture_16.md:176-202, DROP PARTITION
lecture_16.md:114-152, OPTIMIZE FINAL/DEDUPLICATE lecture_07.md:362-377,
TRUNCATE lecture_18.md:228, RENAME/EXCHANGE lecture_12.md:239.
"""

import pytest


@pytest.fixture
def sales(engine, tmp_path):
    """A small writable ReplacingMergeTree-style table."""
    name = "sales_stmt"
    engine.execute(
        f"CREATE TABLE {name} (id UInt32, month UInt32, amount Float64, v UInt32) "
        "ENGINE = ReplacingMergeTree(v) PARTITION BY month ORDER BY id"
    )
    engine.tables[name].path = str(tmp_path / name)
    engine.execute(
        f"INSERT INTO {name} VALUES "
        "(1, 202401, 10.0, 1), (1, 202401, 11.0, 2), "
        "(2, 202402, 20.0, 1), (3, 202402, 30.0, 1)"
    )
    yield name
    engine.execute(f"DROP TABLE {name}")


def test_alter_update(engine, sales):
    engine.execute(f"ALTER TABLE {sales} UPDATE amount = amount * 2 WHERE id = 2")
    rows = {r.id: r.amount for r in engine.table(sales).collect()}
    assert rows[2] == 40.0 and rows[3] == 30.0


def test_alter_delete(engine, sales):
    engine.execute(f"ALTER TABLE {sales} DELETE WHERE month = 202402")
    assert engine.table(sales).count() == 2


def test_lightweight_delete_masks_rows(engine, sales):
    engine.execute(f"DELETE FROM {sales} WHERE id = 3")
    # readers see the mask applied; the row is still on disk
    assert engine.table(sales).count() == 3
    raw = engine.spark.read.parquet(engine.tables[sales].path)
    assert raw.count() == 4 and raw.filter("_row_exists = 0").count() == 1


def test_drop_partition(engine, sales):
    engine.execute(f"ALTER TABLE {sales} DROP PARTITION 202401")
    months = {r.month for r in engine.table(sales).collect()}
    assert months == {202402}


def test_optimize_final_materializes_collapse(engine, sales):
    assert engine.table(sales).count() == 4
    engine.execute(f"OPTIMIZE TABLE {sales} FINAL")
    rows = {r.id: r.amount for r in engine.table(sales).collect()}
    assert len(rows) == 3 and rows[1] == 11.0  # v=2 wins (lecture_07.md:551-678)


def test_optimize_deduplicate(engine, sales):
    engine.execute(
        f"INSERT INTO {sales} VALUES (2, 202402, 20.0, 1)"
    )  # exact duplicate row
    engine.execute(f"OPTIMIZE TABLE {sales} DEDUPLICATE")
    assert engine.table(sales).count() == 4
    # DEDUPLICATE BY keeps one row per listed-column value (lecture_07.md:362-377)
    engine.execute(f"OPTIMIZE TABLE {sales} DEDUPLICATE BY id")
    assert sorted(r.id for r in engine.table(sales).collect()) == [1, 2, 3]


def test_truncate(engine, sales):
    engine.execute(f"TRUNCATE TABLE {sales}")
    assert engine.table(sales).count() == 0


def test_rename_and_exchange(engine, sales):
    engine.execute(f"RENAME TABLE {sales} TO sales_renamed")
    assert engine.table("sales_renamed").count() == 4
    assert sales not in engine.tables and engine.tables["sales_renamed"].name == "sales_renamed"
    # swap with a fresh table, then restore the fixture's name for teardown
    engine.execute(
        "CREATE TABLE sales_other (id UInt32, month UInt32, amount Float64, v UInt32) "
        "ENGINE = MergeTree ORDER BY id"
    )
    engine.execute("EXCHANGE TABLES sales_renamed AND sales_other")
    assert engine.table("sales_other").count() == 4
    assert engine.table("sales_renamed").count() == 0
    engine.execute("DROP TABLE sales_other")
    engine.execute(f"RENAME TABLE sales_renamed TO {sales}")


def test_show_create_table(engine, sales):
    [ddl] = engine.execute(f"SHOW CREATE TABLE {sales}")
    assert f"CREATE TABLE {sales}" in ddl
    assert "ENGINE = ReplacingMergeTree" in ddl and "ORDER BY (id)" in ddl


def test_update_with_ch_function_in_predicate(engine, tmp_path):
    engine.execute(
        "CREATE TABLE ev_stmt (dt DateTime, v UInt32) ENGINE = MergeTree ORDER BY dt"
    )
    engine.tables["ev_stmt"].path = str(tmp_path / "ev_stmt")
    engine.execute(
        "INSERT INTO ev_stmt VALUES "
        "('2024-07-01 00:00:00', 1), ('2024-08-01 00:00:00', 2)"
    )
    engine.execute("ALTER TABLE ev_stmt UPDATE v = 99 WHERE toYYYYMM(dt) = 202407")
    got = {r.v for r in engine.table("ev_stmt").collect()}
    assert got == {99, 2}
    engine.execute("DROP TABLE ev_stmt")


def test_create_materialized_view_per_block(engine, tmp_path):
    """MV = INSERT trigger; cascades; POPULATE backfill (lecture_09.md:668-744)."""
    engine.execute(
        "CREATE TABLE src_mv (k UInt32, v Float64) ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["src_mv"].path = str(tmp_path / "src_mv")
    engine.execute("INSERT INTO src_mv VALUES (1, 1.0), (2, 2.0)")
    engine.execute(
        "CREATE TABLE agg_mv (k UInt32, s Float64) ENGINE = SummingMergeTree ORDER BY k"
    )
    engine.tables["agg_mv"].path = str(tmp_path / "agg_mv")
    engine.execute(
        "CREATE MATERIALIZED VIEW mv1 TO agg_mv POPULATE AS "
        "SELECT k, sum(v) AS s FROM src_mv GROUP BY k"
    )
    assert engine.table("agg_mv").count() == 2  # POPULATE backfilled
    # no TO: the MV's inner table takes the MV's engine clause
    engine.execute(
        "CREATE MATERIALIZED VIEW mv_inner ENGINE = SummingMergeTree ORDER BY k POPULATE AS "
        "SELECT k, sum(v) AS s FROM src_mv GROUP BY k"
    )
    td = engine.tables["mv_inner"]
    assert (td.engine, td.order_by) == ("SummingMergeTree", ("k",))
    # two separate inserts → per-block partial aggregates appended, NOT merged
    engine.execute("INSERT INTO src_mv VALUES (1, 10.0)")
    engine.execute("INSERT INTO src_mv VALUES (1, 100.0)")
    assert engine.table("agg_mv").filter("k = 1").count() == 3
    # FINAL view merges on read (Summing semantics)
    merged = {r.k: r.s for r in engine.sql("SELECT k, s FROM agg_mv FINAL").collect()}
    assert merged[1] == 111.0
    inner = {r.k: r.s for r in engine.sql("SELECT k, s FROM mv_inner FINAL").collect()}
    assert inner == {1: 111.0, 2: 2.0}
    engine.execute("DROP TABLE mv_inner")
    engine.execute("DROP TABLE src_mv")
    engine.execute("DROP TABLE agg_mv")


def test_create_dictionary_and_sql_dictget(engine):
    engine.execute(
        "CREATE DICTIONARY nation_dict (n_nationkey UInt32, n_name String) "
        "PRIMARY KEY n_nationkey "
        "SOURCE(CLICKHOUSE(TABLE 'nation')) LAYOUT(FLAT()) LIFETIME(300)"
    )
    rows = engine.sql(
        "SELECT c_custkey, dictGet('nation_dict', 'n_name', c_nationkey) AS nname, "
        "dictGetOrDefault('nation_dict', 'n_name', 999, 'none') AS fallback "
        "FROM customer ORDER BY c_custkey LIMIT 3"
    ).collect()
    assert len(rows) == 3
    assert all(r.nname is not None for r in rows)
    assert all(r.fallback == "none" for r in rows)


def test_ctas(engine):
    import shutil

    engine.execute(
        "CREATE TABLE big_orders ENGINE = MergeTree ORDER BY o_orderkey AS "
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000"
    )
    td = engine.tables["big_orders"]
    assert td.engine == "MergeTree" and td.order_by == ("o_orderkey",)
    got = engine.table("big_orders").count()
    want = engine.sql(
        "SELECT count() AS n FROM orders WHERE o_totalprice > 100000"
    ).collect()[0].n
    assert got == want and got > 0
    # an existing name: CH raises TABLE_ALREADY_EXISTS; IF NOT EXISTS
    # neither replaces the table nor inserts
    with pytest.raises(ValueError, match="already exists"):
        engine.execute("CREATE TABLE big_orders ENGINE = Log AS SELECT 1 AS o_orderkey")
    engine.execute(
        "CREATE TABLE IF NOT EXISTS big_orders ENGINE = Log AS "
        "SELECT o_orderkey, o_totalprice FROM orders"
    )
    assert engine.tables["big_orders"] is td and td.engine == "MergeTree"
    assert engine.table("big_orders").count() == got
    path = td.path
    engine.execute("DROP TABLE big_orders")
    shutil.rmtree(path, ignore_errors=True)


def test_ctas_takes_the_statement_clauses_and_column_list(engine, tmp_path):
    """CTAS records the keys, version and column list it declares
    (hw03.md:123-166), and runs a WITH query with its parameters."""
    engine.execute(
        "CREATE TABLE ctas_src (k UInt32, d DateTime, ver UInt32, v UInt32) "
        "ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["ctas_src"].path = str(tmp_path / "ctas_src")
    engine.execute(
        "INSERT INTO ctas_src VALUES (1, '2024-01-01 10:00:00', 1, 5), "
        "(1, '2024-01-01 11:00:00', 2, 6), (2, '2024-02-01 10:00:00', 1, 7)"
    )
    engine.execute(
        "CREATE TABLE ctas_r ENGINE = ReplacingMergeTree(ver) PARTITION BY toYYYYMM(d) "
        "ORDER BY (k, toDate(d)) AS SELECT k, d, ver, v FROM ctas_src"
    )
    td = engine.tables["ctas_r"]
    assert (td.order_by, td.partition_by, td.version) == (
        ("k", "toDate(d)"),
        ("toYYYYMM(d)",),
        "ver",
    )
    final = engine.sql("SELECT k, v FROM ctas_r FINAL ORDER BY k").collect()
    assert [(r.k, r.v) for r in final] == [(1, 6), (2, 7)]
    engine.execute(
        "CREATE TABLE ctas_s (k UInt64, total UInt64) ENGINE = SummingMergeTree ORDER BY k "
        "AS WITH t AS (SELECT k, v FROM ctas_src WHERE v > {lo:UInt32}) "
        "SELECT k, sum(v) AS s FROM t GROUP BY k",
        lo=5,
    )
    td = engine.tables["ctas_s"]
    assert [(c.name, c.ch_type, c.spark_type) for c in td.columns] == [
        ("k", "UInt64", "decimal(20,0)"),
        ("total", "UInt64", "decimal(20,0)"),
    ]
    assert engine.table("ctas_s").schema.simpleString() == "struct<k:decimal(20,0),total:decimal(20,0)>"
    rows = engine.sql("SELECT k, total FROM ctas_s FINAL ORDER BY k").collect()
    assert [(int(r.k), int(r.total)) for r in rows] == [(1, 6), (2, 7)]
    for name in ("ctas_s", "ctas_r", "ctas_src"):
        engine.execute(f"DROP TABLE {name}")


def test_kafka_settings_keep_quoted_commas(engine):
    engine.execute(
        "CREATE TABLE kq_commas (m String) ENGINE = Kafka SETTINGS "
        "kafka_broker_list = 'k1:9092,k2:9092', kafka_topic_list = 'kq', "
        "kafka_group_name = 'g', kafka_format = 'JSONEachRow'"
    )
    td = engine.tables["kq_commas"]
    want = {
        "kafka_broker_list": "k1:9092,k2:9092",
        "kafka_topic_list": "kq",
        "kafka_group_name": "g",
        "kafka_format": "JSONEachRow",
    }
    assert td.settings["table_settings"] == want
    assert {k: td.settings[k] for k in want} == want
    [ddl] = engine.execute("SHOW CREATE TABLE kq_commas")
    assert "kafka_broker_list = k1:9092,k2:9092" in ddl
    engine.execute("DROP TABLE kq_commas")


def test_create_function_macro(engine):
    # hw04.md:76-103: CREATE FUNCTION f AS (x, k, b) -> k*x + b
    engine.execute("CREATE FUNCTION linear_eq AS (x, k, b) -> k*x + b")
    rows = engine.sql("SELECT linear_eq(number, 2, 1) AS y FROM numbers(3) ORDER BY y").collect()
    assert [r.y for r in rows] == [1, 3, 5]
    # composition with other dialect features and strings
    engine.execute("CREATE FUNCTION shout AS (s) -> upper(concat(s, '!'))")
    got = engine.sql("SELECT shout('hi') AS v").collect()[0].v
    assert got == "HI!"
    engine.execute("DROP FUNCTION linear_eq")
    engine.execute("DROP FUNCTION shout")
    import pytest as _pytest

    with _pytest.raises(Exception):
        engine.sql("SELECT linear_eq(1, 2, 3) AS y").collect()


def test_backup_restore_roundtrip(engine, sales, tmp_path):
    import shutil as _shutil

    _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)
    before = sorted(
        (r.id, r.month, float(r.amount), r.v) for r in engine.table(sales).collect()
    )
    engine.execute(f"BACKUP TABLE {sales} TO Disk('backups', 'b1')")
    engine.execute(f"ALTER TABLE {sales} DELETE WHERE id >= 1")  # wreck it
    assert engine.table(sales).count() == 0
    engine.execute(f"RESTORE TABLE {sales} FROM Disk('backups', 'b1')")
    after = sorted(
        (r.id, r.month, float(r.amount), r.v) for r in engine.table(sales).collect()
    )
    assert after == before
    assert engine.tables[sales].engine == "ReplacingMergeTree"
    _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)


def test_backup_restore_as_alias(engine, sales):
    """hw13.md:63: RESTORE TABLE test AS test_restored — alias gets the
    pre-corruption data, the original stays corrupted."""
    import shutil as _shutil

    _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)
    before = sorted((r.id, float(r.amount)) for r in engine.table(sales).collect())
    engine.execute(f"BACKUP TABLE {sales} TO Disk('backups', 'alias1')")
    engine.execute(f"ALTER TABLE {sales} UPDATE amount = -1 WHERE true")  # wreck it
    engine.execute(f"RESTORE TABLE {sales} AS restored_alias FROM Disk('backups', 'alias1')")
    after = sorted((r.id, float(r.amount)) for r in engine.table("restored_alias").collect())
    assert after == before
    # original untouched by the aliased restore
    assert {float(r.amount) for r in engine.table(sales).collect()} == {-1.0}
    assert engine.tables["restored_alias"].engine == "ReplacingMergeTree"
    engine.execute("DROP TABLE restored_alias")
    _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)


def test_backup_restore_s3_form_and_system_backups(engine, sales):
    """hw13.md:120-146: BACKUP … TO S3(url, key, secret) returns an
    ┌─id─┬─status:BACKUP_CREATED─┐ row; RESTORE … AS y FROM S3(...)
    round-trips; system.backups logs both (hw13.md:78,123)."""
    import shutil as _shutil

    _shutil.rmtree("spark-warehouse/_s3_backups", ignore_errors=True)
    n0 = engine.sql("SELECT count(*) AS n FROM system.backups").collect()[0].n
    before = sorted((r.id, float(r.amount)) for r in engine.table(sales).collect())
    res = engine.execute(
        f"BACKUP TABLE {sales} TO "
        "S3('http://minio:9000/backup-bucket/', 'minioadmin', 'minioadminpassword')"
    )
    assert res["status"] == "BACKUP_CREATED" and len(res["id"]) == 36
    engine.execute(f"ALTER TABLE {sales} UPDATE amount = -1 WHERE true")
    engine.execute(
        f"RESTORE TABLE {sales} AS s3_restored FROM "
        "S3('http://minio:9000/backup-bucket/', 'minioadmin', 'minioadminpassword')"
    )
    after = sorted((r.id, float(r.amount)) for r in engine.table("s3_restored").collect())
    assert after == before
    rows = engine.sql(
        "SELECT status FROM system.backups ORDER BY start_time"
    ).collect()
    assert len(rows) == n0 + 2
    assert [r.status for r in rows[-2:]] == ["BACKUP_CREATED", "RESTORED"]
    engine.execute("DROP TABLE s3_restored")
    _shutil.rmtree("spark-warehouse/_s3_backups", ignore_errors=True)


def test_alter_column_family(engine, sales):
    # hw03.md:36-39 / lecture_12.md:27-42
    engine.execute(
        f"ALTER TABLE {sales} ADD COLUMN doubled Float64 DEFAULT amount * 2 AFTER amount"
    )
    cols = engine.table(sales).columns
    assert cols.index("doubled") == cols.index("amount") + 1
    rows = {r.id: r.doubled for r in engine.table(sales).collect()}
    assert rows[2] == 40.0
    engine.execute(f"ALTER TABLE {sales} MODIFY COLUMN doubled Int64")
    assert dict(engine.table(sales).dtypes)["doubled"] == "bigint"
    engine.execute(f"ALTER TABLE {sales} RENAME COLUMN doubled TO dbl")
    assert "dbl" in engine.table(sales).columns
    engine.execute(f"ALTER TABLE {sales} DROP COLUMN dbl")
    assert "dbl" not in engine.table(sales).columns
    assert engine.table(sales).count() == 4


def test_execute_script_end_to_end(engine, tmp_path):
    """A reference-course-shaped SQL script (hw02.sql / hw05 / hw04
    patterns) runs as-is: DDL w/ engine args + attributes, inserts,
    function DDL, mutation, OPTIMIZE FINAL, query over FINAL."""
    import shutil as _sh

    _sh.rmtree("spark-warehouse/script_t", ignore_errors=True)
    results = engine.execute_script(
        """
        -- trips-like table (hw02.sql:1-22 shape)
        CREATE TABLE script_t (
            id UInt32,
            ts DateTime,
            amount Float64,
            ver UInt32,
            tag String DEFAULT 'none'
        ) ENGINE = ReplacingMergeTree(ver)
        ORDER BY id;

        CREATE FUNCTION with_vat AS (x) -> x * 1.2;

        INSERT INTO script_t (id, ts, amount, ver) VALUES
            (1, '2024-01-01 00:00:00', 100.0, 1),
            (1, '2024-01-01 00:00:00', 110.0, 2),  -- newer version wins
            (2, '2024-01-02 00:00:00', 50.0, 1);

        ALTER TABLE script_t UPDATE amount = amount + 1 WHERE id = 2;

        OPTIMIZE TABLE script_t FINAL;

        SELECT id, with_vat(amount) AS gross, tag
        FROM script_t ORDER BY id
        """
    )
    import shutil as _shutil

    rows = results[-1]
    assert [(r.id, round(r.gross, 2), r.tag) for r in rows] == [
        (1, 132.0, "none"),
        (2, 61.2, "none"),
    ]
    path = engine.tables["script_t"].path
    engine.execute("DROP FUNCTION with_vat")
    engine.execute("DROP TABLE script_t")
    _shutil.rmtree(path, ignore_errors=True)


def test_buffer_engine(engine, tmp_path):
    """Buffer engine (lecture_09.md:77-206): reads see buffered+dest;
    rows-threshold flush coalesces blocks into one dest append."""
    engine.execute(
        "CREATE TABLE buf_dest (k UInt32, v Float64) ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["buf_dest"].path = str(tmp_path / "buf_dest")
    engine.execute(
        "CREATE TABLE buf_in (k UInt32, v Float64) "
        "ENGINE = Buffer(currentDatabase(), buf_dest, 1, 10, 100, 1000, 4, 10000, 10000000)"
    )
    engine.execute("INSERT INTO buf_in VALUES (1, 1.0), (2, 2.0)")
    # buffered, not yet flushed (max_rows=4 not crossed)
    assert engine.table("buf_in").count() == 2
    assert engine.table("buf_dest").count() == 0
    engine.execute("INSERT INTO buf_in VALUES (3, 3.0), (4, 4.0)")
    # threshold crossed → single coalesced append to dest
    assert engine.table("buf_dest").count() == 4
    assert engine.table("buf_in").count() == 4  # read-through still complete
    import os

    files = [
        f for _r, _d, fs in os.walk(str(tmp_path / "buf_dest")) for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) >= 1
    engine.execute("DROP TABLE buf_in")
    engine.execute("DROP TABLE buf_dest")


def test_row_policy(engine):
    total = engine.table("nation").count()
    engine.execute("CREATE ROW POLICY p1 ON nation USING n_regionkey = 0 TO ALL")
    assert engine.table("nation").count() < total
    assert engine.sql("SELECT count() AS n FROM nation").collect()[0].n < total
    engine.execute("CREATE ROW POLICY p2 ON nation USING n_regionkey = 1")
    two = engine.table("nation").count()  # permissive policies OR together
    engine.execute("DROP ROW POLICY p1 ON nation")  # drops policies for table
    assert engine.table("nation").count() == total
    assert two > 0


def test_joinget_sql(engine, tmp_path):
    # lecture_09.md:236-283: Join-engine table + joinGet point lookup
    engine.execute(
        "CREATE TABLE jtbl (k UInt32, label String) ENGINE = Join(ANY, LEFT, k) ORDER BY k"
    )
    engine.tables["jtbl"].path = str(tmp_path / "jtbl")
    engine.execute("INSERT INTO jtbl VALUES (0, 'zero'), (1, 'one')")
    rows = engine.sql(
        "SELECT n_name, joinGet('jtbl', 'label', n_regionkey) AS lbl "
        "FROM nation WHERE n_regionkey <= 1 ORDER BY n_name LIMIT 2"
    ).collect()
    assert all(r.lbl in ("zero", "one") for r in rows)
    engine.execute("DROP TABLE jtbl")


def test_null_engine_triggers_mvs(engine, tmp_path):
    # hw15.md:9-53: Null-engine landing — rows discarded, MV fires
    engine.execute("CREATE TABLE null_in (k UInt32, v Float64) ENGINE = Null")
    engine.execute(
        "CREATE TABLE null_out (k UInt32, v Float64) ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["null_out"].path = str(tmp_path / "null_out")
    engine.execute(
        "CREATE MATERIALIZED VIEW null_mv TO null_out AS "
        "SELECT k, v FROM null_in WHERE v > 1"
    )
    engine.execute("INSERT INTO null_in VALUES (1, 0.5), (2, 2.5), (3, 3.5)")
    assert engine.table("null_in").count() == 0  # discarded
    assert engine.table("null_out").count() == 2  # MV fired on the block
    engine.execute("DROP TABLE null_in")
    engine.execute("DROP TABLE null_out")


def test_distributed_engine(engine, tmp_path):
    # lecture_15.md:13-34: Distributed proxy reads the local table;
    # inserts route through it repartitioned by the sharding key
    engine.execute(
        "CREATE TABLE local_shard (k UInt32, v Float64) ENGINE = MergeTree ORDER BY k"
    )
    engine.tables["local_shard"].path = str(tmp_path / "local_shard")
    engine.execute(
        "CREATE TABLE dist_t (k UInt32, v Float64) "
        "ENGINE = Distributed(main_cluster, currentDatabase(), local_shard, k)"
    )
    engine.execute("INSERT INTO dist_t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    assert engine.table("local_shard").count() == 3
    assert engine.table("dist_t").count() == 3  # proxy view sees local data
    # an expression key on two shards: shard = key mod 2, plus one
    engine.define_cluster("two_shards", shards=2)
    engine.execute(
        "CREATE TABLE dist_e AS local_shard ENGINE = Distributed(two_shards, default, local_shard, k % 2)"
    )
    engine.execute("INSERT INTO dist_e VALUES (4, 4.0)")
    rows = engine.run("SELECT k, _shard_num FROM dist_e ORDER BY k")
    assert [tuple(r) for r in rows] == [(1, 2), (2, 1), (3, 2), (4, 1)]
    assert engine.table("dist_e").columns == ["k", "v", "_shard_num"]
    engine.execute("DROP TABLE dist_e")
    engine.execute("DROP TABLE dist_t")
    engine.execute("DROP TABLE local_shard")


def test_distributed_hw10_sharding(engine, tmp_path):
    """hw10.md:28-89 end-to-end: ON CLUSTER DDL, `AS local ENGINE =
    Distributed` form, 1000-row insert through the proxy, and the
    4×250 per-shard distribution golden (hw10.md:74-89)."""
    engine.define_cluster("cluster_4sh1rep", shards=4)
    engine.execute(
        """
        create table sales_local on cluster cluster_4sh1rep
        (
            id         UInt32,
            product_id UInt32,
            quantity   UInt32,
            price      Float32,
            sale_date  DateTime
        )
        engine=MergeTree
        order by id
        """
    )
    engine.tables["sales_local"].path = str(tmp_path / "sales_local")
    engine.execute(
        "create table sales_d as sales_local "
        "engine = Distributed(cluster_4sh1rep, default, sales_local, id)"
    )
    assert engine.tables["sales_d"].engine == "Distributed"
    assert engine.tables["sales_d"].settings["n_shards"] == 4
    engine.execute(
        "insert into sales_d select number as id, 1 as product_id, 2 as quantity, "
        "toFloat32(9.99) as price, toDateTime('2024-01-01 00:00:00') as sale_date "
        "from numbers(1, 1000)"
    )
    assert engine.sql("select count(*) as c from sales_d").collect()[0].c == 1000
    assert engine.sql("select count(*) as c from sales_local").collect()[0].c == 1000
    # hw10.md:74-89 golden: 4 shards × 250 rows each
    dist = {
        r.shard_num: r.cnt
        for r in engine.sql(
            "select _shard_num as shard_num, count(id) as cnt from sales_d group by _shard_num"
        ).collect()
    }
    assert dist == {1: 250, 2: 250, 3: 250, 4: 250}
    # topology surfaces in SHOW CLUSTERS (hw10.md:14-24) and system.clusters
    assert "cluster_4sh1rep" in engine.execute("show clusters")
    sysrows = engine.sql(
        "select shard_num from system.clusters where cluster = 'cluster_4sh1rep'"
    ).collect()
    assert sorted(r.shard_num for r in sysrows) == [1, 2, 3, 4]
    engine.execute("DROP TABLE sales_d")
    engine.execute("DROP TABLE sales_local")


def test_quota_and_profile_enforcement(engine, tmp_path):
    """D11 quotas (lecture_18.md:498-533) and settings profiles
    (:459-465): MAX queries enforced in a sliding window; profiles
    apply to the session on set_user."""
    import pytest as _pytest

    engine.execute("CREATE TABLE quota_t (x UInt32) ENGINE = Log")
    engine.tables["quota_t"].path = str(tmp_path / "quota_t")
    engine.execute("INSERT INTO quota_t VALUES (1)")
    engine.execute("CREATE USER metered IDENTIFIED WITH no_password")
    engine.execute("GRANT SELECT ON quota_t TO metered")
    engine.execute("CREATE QUOTA q_small FOR INTERVAL 1 hour MAX queries = 2 TO metered")
    engine.execute(
        "CREATE SETTINGS PROFILE p_ro SETTINGS max_threads = 4 TO metered"
    )
    try:
        engine.set_user("metered")
        assert engine.session_settings.get("max_threads") == "4"  # profile applied
        engine.run("SELECT count(*) AS n FROM quota_t")
        engine.run("SELECT count(*) AS n FROM quota_t")
        with _pytest.raises(PermissionError, match="QUOTA_EXCEEDED"):
            engine.run("SELECT count(*) AS n FROM quota_t")
        engine.set_user("default")
        # catalog surfaces
        q = engine.sql(
            "SELECT duration, apply_to FROM system.quotas WHERE quota_name = 'q_small'"
        ).collect()[0]
        assert q.duration == 3600 and "metered" in q.apply_to
        lim = engine.sql(
            "SELECT max_queries FROM system.quota_limits WHERE quota_name = 'q_small'"
        ).collect()[0]
        assert lim.max_queries == 2
    finally:
        engine.current_user = "default"
        engine.session_settings.pop("max_threads", None)
        engine._quota_usage.clear()
        engine.execute("DROP QUOTA q_small")
        engine.execute("DROP SETTINGS PROFILE p_ro")
        engine.execute("DROP USER metered")
        engine.execute("DROP TABLE quota_t")


def test_quota_preflight_rejection_is_logged_and_error_counted(engine, tmp_path):
    """A QUOTA_EXCEEDED raised by the pre-flight check is accounted
    exactly like an in-flight failure: it lands in system.query_log
    (exception column set, the reference's ExceptionBeforeStart shape)
    and accumulates toward the errors quota — rejected queries are not
    invisible (lecture_20.md query_log semantics)."""
    import pytest as _pytest

    engine.execute("CREATE TABLE qpre_t (x UInt32) ENGINE = Log")
    engine.tables["qpre_t"].path = str(tmp_path / "qpre_t")
    engine.execute("INSERT INTO qpre_t VALUES (1)")
    engine.execute("CREATE USER prefl IDENTIFIED WITH no_password")
    engine.execute("GRANT SELECT ON qpre_t TO prefl")
    engine.execute("CREATE QUOTA q_pre FOR INTERVAL 1 hour MAX queries = 1 TO prefl")
    try:
        engine.set_user("prefl")
        engine.run("SELECT count(*) AS n FROM qpre_t")
        log_before = len(engine._query_log)
        with _pytest.raises(PermissionError, match="QUOTA_EXCEEDED"):
            engine.run("SELECT count(*) AS n FROM qpre_t")
        # the rejection is a query_log row with the exception type set
        new_rows = engine._query_log[log_before:]
        assert len(new_rows) == 1 and new_rows[0][6] == "PermissionError"
        # and it accumulated toward the errors quota
        assert any(
            kind == "errors" and w == 1
            for (_ts, kind, w) in engine._quota_usage.get("prefl", [])
        )
    finally:
        engine.current_user = "default"
        engine._quota_usage.clear()
        engine.execute("DROP QUOTA q_pre")
        engine.execute("DROP USER prefl")
        engine.execute("DROP TABLE qpre_t")


def test_max_result_rows_setting_and_quota(engine, tmp_path):
    """r9 verdict ask #3: max_result_rows is ENFORCED, not just
    displayed. SET max_result_rows caps the interactive collect
    (bounded at limit+1 rows — no unbounded driver materialization)
    under both CH overflow modes (lecture_18.md settings surface), and
    a quota's result_rows column meters CUMULATIVE result rows per
    sliding window."""
    import pytest as _pytest

    engine.execute("CREATE TABLE mrr_t (x UInt32) ENGINE = Log")
    engine.tables["mrr_t"].path = str(tmp_path / "mrr_t")
    engine.execute("INSERT INTO mrr_t VALUES (1), (2), (3), (4), (5), (6)")
    try:
        engine.execute("SET max_result_rows = 4")
        # throw (the CH default result_overflow_mode): over-cap raises
        with _pytest.raises(RuntimeError, match="TOO_MANY_ROWS"):
            engine.run("SELECT x FROM mrr_t")
        # at/under the cap passes untouched
        assert len(engine.run("SELECT x FROM mrr_t WHERE x <= 4")) == 4
        # break: truncate at exactly the limit
        engine.execute("SET result_overflow_mode = 'break'")
        assert len(engine.run("SELECT x FROM mrr_t")) == 4
        engine.session_settings.pop("max_result_rows")
        engine.session_settings.pop("result_overflow_mode")

        # quota path: 10 result rows per hour; each run returns 6
        engine.execute("CREATE USER rower IDENTIFIED WITH no_password")
        engine.execute("GRANT SELECT ON mrr_t TO rower")
        engine.execute(
            "CREATE QUOTA q_rows FOR INTERVAL 1 hour MAX result_rows = 10 TO rower"
        )
        lim = engine.sql(
            "SELECT max_result_rows FROM system.quota_limits "
            "WHERE quota_name = 'q_rows'"
        ).collect()[0]
        assert lim.max_result_rows == 10
        engine.set_user("rower")
        assert len(engine.run("SELECT x FROM mrr_t")) == 6  # window: 6 < 10
        assert len(engine.run("SELECT x FROM mrr_t")) == 6  # window: 12
        with _pytest.raises(PermissionError, match="QUOTA_EXCEEDED: result_rows"):
            engine.run("SELECT x FROM mrr_t")  # pre-flight rejects
    finally:
        engine.current_user = "default"
        engine.session_settings.pop("max_result_rows", None)
        engine.session_settings.pop("result_overflow_mode", None)
        engine._quota_usage.clear()
        engine.execute("DROP QUOTA IF EXISTS q_rows")
        engine.execute("DROP USER IF EXISTS rower")
        engine.execute("DROP TABLE mrr_t")


def test_join_use_nulls_setting(engine, tmp_path):
    """J16 (lecture_10.md settings): with SET join_use_nulls = 0 (the CH
    default contract) non-matched outer-join rows carry type defaults
    for NOT-NULL columns, including types whose Spark name has a comma;
    Nullable columns and the engine's baseline (=1) keep SQL NULLs."""
    from decimal import Decimal

    engine.execute("CREATE TABLE jun_a (k UInt32, name String) ENGINE = Log")
    engine.tables["jun_a"].path = str(tmp_path / "jun_a")
    engine.execute(
        "CREATE TABLE jun_b (k UInt32, score UInt32, big UInt64, dec Decimal(10,2), "
        "m Map(String, UInt8), note Nullable(String)) ENGINE = Log"
    )
    engine.tables["jun_b"].path = str(tmp_path / "jun_b")
    engine.execute("INSERT INTO jun_a VALUES (1, 'x'), (2, 'y')")
    engine.execute("INSERT INTO jun_b VALUES (1, 10, 5, 1.25, map('a', 1), 'n')")
    q = (
        "SELECT a.k AS k, b.score AS score, b.big AS big, b.dec AS dec, b.m AS m, "
        "b.note AS note FROM jun_a a LEFT JOIN jun_b b ON a.k = b.k"
    )
    # baseline: SQL-standard NULL for the non-matched row
    rows = {r.k: tuple(r)[1:] for r in engine.sql(q).collect()}
    assert rows == {1: (10, 5, Decimal("1.25"), {"a": 1}, "n"), 2: (None,) * 5}
    engine.execute("SET join_use_nulls = 0")
    try:
        rows = {r.k: tuple(r)[1:] for r in engine.sql(q).collect()}
        # each NOT NULL type's default fills the miss
        assert rows == {
            1: (10, 5, Decimal("1.25"), {"a": 1}, "n"),
            2: (0, 0, Decimal("0.00"), {}, None),
        }
    finally:
        engine.session_settings.pop("join_use_nulls", None)
        engine.execute("DROP TABLE jun_a")
        engine.execute("DROP TABLE jun_b")


def test_rbac_enforcement(engine, tmp_path):
    """D11 (lecture_18.md:26,170,204,428-431): grants are ENFORCED at
    the query/insert boundary — role privileges apply only after SET
    ROLE; REVOKE takes them back; the default user bypasses."""
    import pytest as _pytest

    engine.execute("CREATE TABLE rbac_t (x UInt32) ENGINE = Log")
    engine.tables["rbac_t"].path = str(tmp_path / "rbac_t")
    engine.execute("INSERT INTO rbac_t VALUES (1), (2)")
    engine.execute("CREATE USER anon IDENTIFIED WITH no_password")
    engine.execute("CREATE ROLE reader")
    engine.execute("GRANT SELECT ON rbac_t TO reader")
    engine.execute("GRANT reader TO anon")
    try:
        engine.set_user("anon")
        # granted role is inert until SET ROLE (lecture_18.md:170)
        with _pytest.raises(PermissionError, match="ACCESS_DENIED"):
            engine.run("SELECT count(*) AS n FROM rbac_t")
        engine.execute("SET ROLE reader")
        assert engine.run("SELECT count(*) AS n FROM rbac_t")[0].n == 2
        # SELECT ≠ INSERT
        with _pytest.raises(PermissionError, match="ACCESS_DENIED"):
            engine.execute("INSERT INTO rbac_t VALUES (3)")
        engine.set_user("default")
        engine.execute("GRANT INSERT ON rbac_t TO anon")  # direct grant
        engine.set_user("anon")
        engine.execute("INSERT INTO rbac_t VALUES (3)")
        assert engine.run("SELECT count(*) AS n FROM rbac_t")[0].n == 3
        # revoke the role's SELECT → denied again
        engine.set_user("default")
        engine.execute("REVOKE SELECT ON rbac_t FROM reader")
        engine.set_user("anon")
        with _pytest.raises(PermissionError, match="ACCESS_DENIED"):
            engine.run("SELECT count(*) AS n FROM rbac_t")
        # system.role_grants reflects the grant + activation
        engine.set_user("default")
        rg = engine.sql(
            "SELECT granted_role_name, active FROM system.role_grants WHERE user_name = 'anon'"
        ).collect()
        assert [(r.granted_role_name, r.active) for r in rg] == [("reader", True)]
        assert "anon" in [r.name for r in engine.sql("SELECT name FROM system.users").collect()]
    finally:
        engine.current_user = "default"
        engine.execute("DROP TABLE rbac_t")
        engine.execute("DROP USER anon")
        engine.execute("DROP ROLE reader")


def test_create_table_collision_guard(engine, tmp_path):
    """ADVICE: CREATE TABLE on an existing name must not wipe data —
    CH errors; IF NOT EXISTS is a keep-existing no-op."""
    import pytest as _pytest

    engine.execute("CREATE TABLE guard_src (x UInt32) ENGINE = Log")
    engine.tables["guard_src"].path = str(tmp_path / "guard_src")
    engine.execute("INSERT INTO guard_src VALUES (7)")
    engine.execute("CREATE TABLE guard_copy AS guard_src")
    engine.execute("INSERT INTO guard_copy VALUES (1), (2)")
    with _pytest.raises(ValueError, match="already exists"):
        engine.execute("CREATE TABLE guard_copy AS guard_src")
    with _pytest.raises(ValueError, match="already exists"):
        engine.execute("CREATE TABLE guard_copy (x UInt32) ENGINE = Log")
    # IF NOT EXISTS: no-op, data intact on both forms
    engine.execute("CREATE TABLE IF NOT EXISTS guard_copy AS guard_src")
    engine.execute("CREATE TABLE IF NOT EXISTS guard_copy (x UInt32) ENGINE = Log")
    assert engine.table("guard_copy").count() == 2
    engine.execute("DROP TABLE guard_copy")
    engine.execute("DROP TABLE guard_src")


def test_merge_engine_ddl(engine, tmp_path):
    engine.execute("CREATE TABLE mlogs_a (x UInt32) ENGINE = Log")
    engine.tables["mlogs_a"].path = str(tmp_path / "a")
    engine.execute("INSERT INTO mlogs_a VALUES (1), (2)")
    engine.execute("CREATE TABLE mlogs_b (x UInt32) ENGINE = Log")
    engine.tables["mlogs_b"].path = str(tmp_path / "b")
    engine.execute("INSERT INTO mlogs_b VALUES (3)")
    engine.execute(
        "CREATE TABLE mlogs_all (x UInt32) ENGINE = Merge(currentDatabase(), 'mlogs_[ab]')"
    )
    rows = engine.sql("SELECT x, _table FROM mlogs_all ORDER BY x").collect()
    assert [r.x for r in rows] == [1, 2, 3]
    assert {r._table for r in rows} == {"mlogs_a", "mlogs_b"}
    for t in ("mlogs_all", "mlogs_a", "mlogs_b"):
        engine.execute(f"DROP TABLE {t}")


def test_memory_and_set_engines(engine):
    # lecture_09.md:424-496: Memory table accumulates in RAM; Set table
    # feeds `IN set_table` membership
    engine.execute("CREATE TABLE mem_t (x UInt32) ENGINE = Memory")
    engine.execute("INSERT INTO mem_t VALUES (1), (2)")
    engine.execute("INSERT INTO mem_t VALUES (3)")
    assert engine.table("mem_t").count() == 3
    engine.execute("CREATE TABLE keys_set (n_regionkey Int64) ENGINE = Set")
    engine.execute("INSERT INTO keys_set VALUES (0), (1), (0)")
    assert engine.table("keys_set").count() == 2  # Set dedups
    n = engine.sql(
        "SELECT count() AS n FROM nation WHERE n_regionkey IN keys_set"
    ).collect()[0].n
    want = engine.sql(
        "SELECT count() AS n FROM nation WHERE n_regionkey IN (0, 1)"
    ).collect()[0].n
    assert n == want > 0
    engine.execute("DROP TABLE mem_t")
    engine.execute("DROP TABLE keys_set")


def test_kafka_ddl_captures_settings(engine):
    # ch_and_kafka/db/init.sql:11-20 shape — no broker in container, so
    # assert the DDL parses and the stream settings land in the registry
    engine.execute(
        "CREATE TABLE sensor_queue (payload String) ENGINE = Kafka "
        "SETTINGS kafka_broker_list = 'kafka:9092', "
        "kafka_topic_list = 'sensors', kafka_group_name = 'ch', "
        "kafka_format = 'JSONAsString'"
    )
    td = engine.tables["sensor_queue"]
    assert td.settings["kafka_broker_list"] == "kafka:9092"
    assert td.settings["kafka_topic_list"] == "sensors"
    assert engine.table("sensor_queue").columns == ["payload"]
    engine.execute("DROP TABLE sensor_queue")


def test_any_join_sql(engine, spark):
    # hw06.md:168-185: ANY JOIN takes one right row per key — no fan-out
    from otus_clickhouse_spark.engine import TableDef

    spark.createDataFrame([(1, "a"), (2, "b")], "k int, l string").createOrReplaceTempView("aj_l")
    spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z")], "k int, r string"
    ).createOrReplaceTempView("aj_r")
    engine.tables["aj_l"] = TableDef(name="aj_l")
    engine.tables["aj_r"] = TableDef(name="aj_r")
    rows = engine.sql(
        "SELECT k, l, r FROM aj_l ANY LEFT JOIN aj_r USING (k) ORDER BY k"
    ).collect()
    assert len(rows) == 2  # a plain join would fan k=1 out to 2 rows
    assert rows[0].r in ("x", "y")
    del engine.tables["aj_l"], engine.tables["aj_r"]


def test_ttl_statement(engine, tmp_path):
    engine.execute(
        "CREATE TABLE ttl_t (dt DateTime, v UInt32) ENGINE = MergeTree ORDER BY dt"
    )
    engine.tables["ttl_t"].path = str(tmp_path / "ttl_t")
    engine.execute(
        "INSERT INTO ttl_t VALUES ('2000-01-01 00:00:00', 1), ('2999-01-01 00:00:00', 2)"
    )
    engine.execute("ALTER TABLE ttl_t MODIFY TTL dt + INTERVAL 1 MONTH")
    res = engine.execute("SYSTEM APPLY TTL ttl_t")
    assert res["dropped"] == 1  # the 2000 row expired, 2999 survives
    assert [r.v for r in engine.table("ttl_t").collect()] == [2]
    engine.execute("DROP TABLE ttl_t")


def test_projection_ddl(spark, sf_dir):
    from otus_clickhouse_spark.engine import Engine, TableDef
    import os

    eng = Engine(spark)
    eng.register_table(TableDef(name="orders", path=os.path.join(sf_dir, "orders.parquet")))
    eng.execute(
        "ALTER TABLE orders ADD PROJECTION by_status "
        "(SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
        "GROUP BY o_orderstatus)"
    )
    assert "by_status" in eng.projections.projections
    before = eng.projections.serve_hits
    df = eng.sql("SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus")
    got = {r.o_orderstatus: r.n for r in df.collect()}
    direct = {
        r.o_orderstatus: r.n
        for r in eng.table("orders").groupBy("o_orderstatus").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == direct
    assert eng.projections.serve_hits == before + 1  # served from the projection
    eng.execute("ALTER TABLE orders MATERIALIZE PROJECTION by_status")
    eng.execute("ALTER TABLE orders DROP PROJECTION by_status")
    assert "by_status" not in eng.projections.projections


def test_skip_index_ddl(engine, sales):
    # ADD INDEX records the skipping index; bloom-family on a plain
    # column flows into parquet write options on future inserts
    engine.execute(f"ALTER TABLE {sales} ADD INDEX amt_idx amount TYPE bloom_filter GRANULARITY 4")
    td = engine.tables[sales]
    assert td.skip_indexes["amt_idx"] == ("amount", "bloom_filter")
    before = engine.table(sales).orderBy("id", "v").collect()
    # MATERIALIZE rewrites existing files (write-then-swap), data intact
    engine.execute(f"ALTER TABLE {sales} MATERIALIZE INDEX amt_idx")
    after = engine.table(sales).orderBy("id", "v").collect()
    assert before == after
    engine.execute(f"ALTER TABLE {sales} DROP INDEX amt_idx")
    assert "amt_idx" not in td.skip_indexes


def test_create_view(engine):
    engine.execute(
        "CREATE VIEW big_cust AS SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_acctbal > 5000"
    )
    n = engine.sql("SELECT count() AS n FROM big_cust").collect()[0].n
    want = engine.sql(
        "SELECT count() AS n FROM customer WHERE c_acctbal > 5000"
    ).collect()[0].n
    assert n == want and n > 0
    engine.execute("DROP VIEW big_cust")


def test_system_data_skipping_indices(engine, sales):
    engine.execute(f"ALTER TABLE {sales} ADD INDEX a_idx amount TYPE bloom_filter")
    rows = engine.system("data_skipping_indices").collect()
    assert any(r.table == sales and r.name == "a_idx" and r.type == "bloom_filter" for r in rows)
    engine.execute(f"ALTER TABLE {sales} DROP INDEX a_idx")


def test_show_indexes(engine, sales):
    engine.execute(f"ALTER TABLE {sales} ADD INDEX am_ix amount TYPE bloom_filter")
    rows = engine.execute(f"SHOW INDEXES FROM {sales}")
    names = [r[0] for r in rows]
    assert "PRIMARY" in names and "am_ix" in names
    engine.execute(f"ALTER TABLE {sales} DROP INDEX am_ix")


def test_modify_order_by(engine, sales):
    res = engine.execute(f"ALTER TABLE {sales} MODIFY ORDER BY (month, id)")
    assert res == {"order_by": ("month", "id")}
    assert engine.tables[sales].order_by == ("month", "id")
    # an expression key, which FINAL collapses on at once: id 1's two
    # versions differ in amount, so both survive
    res = engine.execute(f"ALTER TABLE {sales} MODIFY ORDER BY (id, toInt32(amount))")
    assert res == {"order_by": ("id", "toInt32(amount)")}
    assert engine.run(f"SELECT count() FROM {sales} FINAL")[0][0] == 4


def test_detach_attach_partition(engine, sales):
    assert engine.table(sales).count() == 4
    engine.execute(f"ALTER TABLE {sales} DETACH PARTITION 202401")
    assert {r.month for r in engine.table(sales).collect()} == {202402}
    engine.execute(f"ALTER TABLE {sales} ATTACH PARTITION 202401")
    assert engine.table(sales).count() == 4
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        engine.execute(f"ALTER TABLE {sales} ATTACH PARTITION 209901")


def test_replace_partition_from_table(engine, sales, tmp_path):
    engine.execute(
        "CREATE TABLE sales_new (id UInt32, month UInt32, amount Float64, v UInt32) "
        "ENGINE = MergeTree PARTITION BY month ORDER BY id"
    )
    engine.tables["sales_new"].path = str(tmp_path / "sales_new")
    engine.execute("INSERT INTO sales_new VALUES (9, 202402, 99.0, 1)")
    engine.execute(f"ALTER TABLE {sales} REPLACE PARTITION 202402 FROM sales_new")
    rows = {r.id: r.amount for r in engine.table(sales).filter("month = 202402").collect()}
    assert rows == {9: 99.0}
    assert engine.table(sales).filter("month = 202401").count() == 2  # untouched
    engine.execute("DROP TABLE sales_new")


def test_system_noops_and_reload_dictionary(engine):
    assert engine.execute("SYSTEM STOP MERGES")["noop"]
    assert engine.execute("SYSTEM FLUSH LOGS")["noop"]
    engine.execute(
        "CREATE DICTIONARY reload_d (n_nationkey UInt32, n_name String) "
        "PRIMARY KEY n_nationkey "
        "SOURCE(CLICKHOUSE(TABLE 'nation')) LAYOUT(FLAT()) LIFETIME(300)"
    )
    assert engine.execute("SYSTEM RELOAD DICTIONARY reload_d") == {"reloaded": ["reload_d"]}
    assert "reload_d" in engine.execute("SYSTEM RELOAD DICTIONARIES")["reloaded"]


def test_dictionary_is_a_loaded_snapshot(engine, tmp_path):
    """A dictionary serves the rows loaded at CREATE/RELOAD: a mutation
    that rewrites the source's files changes nothing until a reload."""
    engine.execute("CREATE TABLE snap_src (k UInt32, v String) ENGINE = MergeTree ORDER BY tuple()")
    engine.tables["snap_src"].path = str(tmp_path / "snap_src")
    engine.execute("INSERT INTO snap_src VALUES (1, 'a'), (2, 'b')")
    engine.execute(
        "CREATE DICTIONARY snap_d (k UInt32, v String) PRIMARY KEY k "
        "SOURCE(CLICKHOUSE(TABLE 'snap_src')) LAYOUT(FLAT()) LIFETIME(300)"
    )

    def served():
        got = engine.sql("SELECT dictGet('snap_d', 'v', toUInt32(1)) AS v").collect()[0].v
        n = engine.sql(
            "SELECT element_count FROM system.dictionaries WHERE name = 'snap_d'"
        ).collect()[0].element_count
        return got, n

    assert served() == ("a", 2)
    engine.execute("ALTER TABLE snap_src UPDATE v = 'z' WHERE k = 1")
    engine.execute("INSERT INTO snap_src VALUES (3, 'c')")
    assert served() == ("a", 2)
    engine.execute("SYSTEM RELOAD DICTIONARY snap_d")
    assert served() == ("z", 3)
    engine.execute("DROP DICTIONARY snap_d")
    engine.execute("DROP TABLE snap_src")


def test_freeze_snapshot(engine, sales):
    res = engine.execute(f"ALTER TABLE {sales} FREEZE")
    snap = res["frozen"]
    assert engine.spark.read.parquet(snap).count() == 4
    # snapshot is point-in-time: later mutations don't touch it
    engine.execute(f"ALTER TABLE {sales} DELETE WHERE id = 1")
    assert engine.spark.read.parquet(snap).count() == 4
    import shutil as _shutil

    _shutil.rmtree(snap, ignore_errors=True)


def test_rbac_recorded_and_qualified_names(engine, sales):
    res = engine.execute("GRANT SELECT, SHOW ON db1.* TO reader_role")
    assert res["recorded"]
    engine.execute("CREATE USER analyst IDENTIFIED WITH no_password")
    grants = engine.sql("SELECT * FROM system.grants").collect()
    assert any(
        g.access_type == "SELECT" and g.database == "db1" and g.table is None
        for g in grants
    )
    users = {r.name: r.auth_type for r in engine.sql(
        "SELECT name, auth_type FROM system.users").collect()}
    assert users["analyst"] == "no_password"
    # the raw statement log stays available via SHOW GRANTS
    shown = engine.execute("SHOW GRANTS")
    assert any("GRANT SELECT" in s for s in shown)
    # only the default. qualifier is transparent over the flat catalog;
    # an unknown database must ERROR (ClickHouse parity), never silently
    # mutate the same-named flat table
    import pytest as _pytest

    engine.execute(f"ALTER TABLE default.{sales} UPDATE amount = 0 WHERE id = 3")
    assert engine.table(sales).filter("id = 3").collect()[0].amount == 0.0
    with _pytest.raises(Exception):
        engine.execute(f"ALTER TABLE somedb.{sales} UPDATE amount = 99 WHERE id = 3")
    assert engine.table(sales).filter("id = 3").collect()[0].amount == 0.0


def test_create_table_as_schema_copy(engine, sales):
    """CREATE TABLE a AS b (D2; lecture_16.md:230): clone schema + engine
    metadata, start empty — the REPLACE PARTITION staging pattern."""
    engine.execute(f"CREATE TABLE sales_copy AS {sales}")
    td = engine.tables["sales_copy"]
    assert td.engine == engine.tables[sales].engine
    assert td.order_by == engine.tables[sales].order_by
    assert engine.table("sales_copy").count() == 0
    assert engine.table("sales_copy").columns == engine.table(sales).columns
    engine.execute("INSERT INTO sales_copy VALUES (7, 202403, 70.0, 1)")
    assert engine.table("sales_copy").count() == 1
    engine.execute("DROP TABLE sales_copy")
    # the clauses the statement names win; the others are copied
    engine.execute(f"CREATE TABLE sales_copy AS {sales} ENGINE = MergeTree ORDER BY (id, month)")
    td = engine.tables["sales_copy"]
    assert (td.engine, td.version, td.order_by) == ("MergeTree", None, ("id", "month"))
    assert td.partition_by == engine.tables[sales].partition_by
    assert td.columns == engine.tables[sales].columns
    engine.execute("DROP TABLE sales_copy")


def test_move_partition_to_table(engine, sales, tmp_path):
    engine.execute(f"CREATE TABLE sales_arch AS {sales}")
    engine.tables["sales_arch"].path = str(tmp_path / "sales_arch")
    engine.execute(f"ALTER TABLE {sales} MOVE PARTITION 202401 TO TABLE sales_arch")
    assert {r.month for r in engine.table(sales).collect()} == {202402}
    assert engine.table("sales_arch").count() == 2
    engine.execute("DROP TABLE sales_arch")


def test_show_family(engine):
    engine.execute("CREATE USER show_user IDENTIFIED WITH no_password")
    engine.execute("CREATE USER IF NOT EXISTS show_user")
    engine.execute("CREATE USER gone_user")
    engine.execute("DROP USER gone_user")
    users = engine.execute("SHOW USERS")
    assert "show_user" in users and "default" in users
    assert users.count("show_user") == 1 and not {"IF", "gone_user"} & set(users)
    assert engine.execute("SHOW PROCESSLIST") == []
    assert isinstance(engine.execute("SHOW DICTIONARIES"), list)
    assert "default" in engine.execute("SHOW CLUSTERS")
    assert any("show_user" in g for g in engine.execute("SHOW GRANTS"))


def test_system_mutations_log(engine, sales):
    engine.execute(f"ALTER TABLE {sales} UPDATE amount = amount + 1 WHERE id = 1")
    engine.execute(f"ALTER TABLE {sales} DELETE WHERE id = 2")
    muts = [r.command for r in engine.sql("SELECT * FROM system.mutations").collect()]
    assert any("UPDATE amount" in m for m in muts)
    assert any("DELETE WHERE id = 2" in m for m in muts)
    assert all(r.is_done == 1 for r in engine.system("mutations").collect())


def test_replication_metadata_hw09(engine, tmp_path):
    """hw09.md:295-325: ReplicatedMergeTree identity — getMacro(),
    system.replicas, and SHOW CREATE TABLE rendering the full
    Replicated engine clause with its ZooKeeper args and TTL."""
    name = "trips_repl"
    engine.execute(
        f"CREATE TABLE {name} (trip_id UInt32, created_at Date) "
        "ENGINE = ReplicatedMergeTree('/clickhouse/tables/{shard}/trips', '{replica}') "
        "ORDER BY trip_id TTL created_at + toIntervalDay(7)"
    )
    engine.tables[name].path = str(tmp_path / name)
    try:
        # getMacro folds the server's config macro to a literal (hw09.md:12)
        row = engine.sql("SELECT getMacro('replica') AS r").collect()[0]
        assert row.r == "replica_1"
        macros = {r.macro: r.substitution for r in engine.sql(
            "SELECT macro, substitution FROM system.macros").collect()}
        assert macros["shard"] == "01" and macros["replica"] == "replica_1"
        reps = engine.sql(
            f"SELECT * FROM system.replicas WHERE table = '{name}'").collect()
        assert len(reps) == 1
        r = reps[0]
        # macros substituted into the zk path; replica identity attached
        assert r.zookeeper_path == "/clickhouse/tables/01/trips_repl".replace(
            "trips_repl", "trips")
        assert r.replica_name == "replica_1"
        assert r.replica_path.endswith("/replicas/replica_1")
        assert r.is_leader == 1 and r.engine.startswith("ReplicatedMergeTree(")
        shown = engine.execute(f"SHOW CREATE TABLE {name}")[0]
        assert "ENGINE = ReplicatedMergeTree('/clickhouse/tables/{shard}/trips'" in shown
        assert "TTL created_at + toIntervalDay(7)" in shown
    finally:
        engine.execute(f"DROP TABLE {name}")


def test_storage_policies_hw13(engine, tmp_path):
    """hw13.md:15-27 golden: default + s3_main policies, and a table
    opting in via SETTINGS storage_policy."""
    engine.add_storage_policy("s3_main", "s3", ["s3"])
    try:
        rows = [(r.policy_name, r.volume_name, r.disks) for r in engine.sql(
            "SELECT * FROM system.storage_policies ORDER BY policy_name").collect()]
        assert rows == [("default", "default", ["default"]),
                        ("s3_main", "s3", ["s3"])]
        name = "test_policy_tbl"
        engine.execute(
            f"CREATE TABLE {name} (id Int32, status String) ENGINE = MergeTree "
            "ORDER BY id SETTINGS storage_policy = 's3_main', index_granularity = 8192"
        )
        engine.tables[name].path = str(tmp_path / name)
        try:
            ts = engine.tables[name].settings["table_settings"]
            assert ts["storage_policy"] == "s3_main"
            assert ts["index_granularity"] == "8192"
            shown = engine.execute(f"SHOW CREATE TABLE {name}")[0]
            assert "storage_policy = s3_main" in shown
        finally:
            engine.execute(f"DROP TABLE {name}")
    finally:
        engine.storage_policies = [p for p in engine.storage_policies
                                   if p[0] != "s3_main"]


def test_ttl_to_volume_moves_not_deletes(engine, tmp_path):
    """TTL … TO VOLUME (lecture_14.md:233): with a storage policy,
    expired rows MOVE to the cold volume instead of being deleted —
    reads still see them, the hot path shrinks, and a second TTL pass
    has nothing left to move."""
    engine.add_storage_policy("tiered", "cold", ["cold_disk"])
    name = "events_tiered"
    engine.execute(
        f"CREATE TABLE {name} (id UInt64, ts DateTime) ENGINE = MergeTree "
        "ORDER BY id TTL ts + INTERVAL 1 HOUR TO VOLUME 'cold' "
        "SETTINGS storage_policy = 'tiered'"
    )
    td = engine.tables[name]
    td.path = str(tmp_path / name)
    try:
        assert td.ttl == "ts + INTERVAL 1 HOUR"
        assert td.settings["ttl_action"] == ("volume", "cold")
        engine.execute(
            f"INSERT INTO {name} VALUES "
            "(1, '2020-01-01 00:00:00'), (2, '2020-06-01 00:00:00'), "
            "(3, '2100-01-01 00:00:00'), (4, '2100-06-01 00:00:00')"
        )
        res = engine.execute(f"SYSTEM APPLY TTL {name}")
        assert res["moved"] == 2 and res["to"] == ("volume", "cold")
        # the view still serves all rows; the hot path holds only fresh ones
        assert engine.table(name).count() == 4
        import os as _os

        hot = engine.spark.read.parquet(td.path)
        assert sorted(r.id for r in hot.collect()) == [3, 4]
        cold_path = td.settings["cold_volumes"]["cold"]
        assert _os.path.isdir(cold_path)
        cold = engine.spark.read.parquet(cold_path)
        assert sorted(r.id for r in cold.collect()) == [1, 2]
        # idempotent: nothing left in the hot tier to move
        assert engine.execute(f"SYSTEM APPLY TTL {name}")["moved"] == 0
        assert engine.table(name).count() == 4
        # system.parts reports the disk each part lives on (hw13.md:15-27)
        disks = {r.disk_name for r in engine.sql(
            f"SELECT disk_name FROM system.parts WHERE table = '{name}'"
        ).collect()}
        assert disks == {"default", "cold"}
        # MODIFY TTL back to plain delete clears the move action
        engine.execute(f"ALTER TABLE {name} MODIFY TTL ts + INTERVAL 2 HOUR")
        assert "ttl_action" not in td.settings
    finally:
        engine.execute(f"DROP TABLE {name}")
        engine.storage_policies = [p for p in engine.storage_policies
                                   if p[0] != "tiered"]


def test_ttl_to_volume_full_expiry_keeps_cold_rows_visible(engine, tmp_path):
    """If EVERY row expires, the hot tier empties but the moved rows
    must stay visible through the table view (the empty-hot-path branch
    previously dropped the cold union), and a later INSERT lands in the
    re-created hot path alongside them."""
    engine.add_storage_policy("tiered_fx", "cold", ["cold_disk"])
    name = "events_tiered_full"
    engine.execute(
        f"CREATE TABLE {name} (id UInt64, ts DateTime) ENGINE = MergeTree "
        "ORDER BY id TTL ts + INTERVAL 1 HOUR TO VOLUME 'cold' "
        "SETTINGS storage_policy = 'tiered_fx'"
    )
    td = engine.tables[name]
    td.path = str(tmp_path / name)
    try:
        engine.execute(
            f"INSERT INTO {name} VALUES "
            "(1, '2020-01-01 00:00:00'), (2, '2020-06-01 00:00:00')"
        )
        res = engine.execute(f"SYSTEM APPLY TTL {name}")
        assert res["moved"] == 2
        # every row moved — still all visible via the view
        assert sorted(r.id for r in engine.table(name).collect()) == [1, 2]
        # second pass is a no-op and the view still works (hot path must
        # remain readable, not deleted)
        assert engine.execute(f"SYSTEM APPLY TTL {name}")["moved"] == 0
        assert engine.table(name).count() == 2
        # new inserts land hot and union with the cold tier
        engine.execute(f"INSERT INTO {name} VALUES (3, '2100-01-01 00:00:00')")
        assert sorted(r.id for r in engine.table(name).collect()) == [1, 2, 3]
    finally:
        engine.execute(f"DROP TABLE {name}")
        engine.storage_policies = [p for p in engine.storage_policies
                                   if p[0] != "tiered_fx"]


def test_mutation_after_ttl_move_does_not_duplicate_cold_rows(engine, tmp_path):
    """ALTER UPDATE/DELETE after a TTL move read the tier-union view and
    rewrite everything into the hot path — the superseded cold tier must
    be cleared, not unioned back in (which doubled every moved row)."""
    import os as _os

    engine.add_storage_policy("tiered_mut", "cold", ["cold_disk"])
    name = "events_tiered_mut"
    engine.execute(
        f"CREATE TABLE {name} (id UInt64, ts DateTime, v UInt32) "
        "ENGINE = MergeTree ORDER BY id "
        "TTL ts + INTERVAL 1 HOUR TO VOLUME 'cold' "
        "SETTINGS storage_policy = 'tiered_mut'"
    )
    td = engine.tables[name]
    td.path = str(tmp_path / name)
    try:
        engine.execute(
            f"INSERT INTO {name} VALUES "
            "(1, '2020-01-01 00:00:00', 10), (2, '2100-01-01 00:00:00', 20)"
        )
        assert engine.execute(f"SYSTEM APPLY TTL {name}")["moved"] == 1
        cold_path = td.settings["cold_volumes"]["cold"]
        engine.execute(f"ALTER TABLE {name} UPDATE v = v + 1 WHERE v > 0")
        rows = sorted((r.id, r.v) for r in engine.table(name).collect())
        assert rows == [(1, 11), (2, 21)]  # no duplicates, both updated
        # the rewrite re-homed everything hot; cold tier is gone
        assert "cold_volumes" not in td.settings
        assert not _os.path.exists(cold_path)
        # DELETE after a fresh move also stays duplicate-free
        engine.execute(
            f"INSERT INTO {name} VALUES (3, '2020-06-01 00:00:00', 30)"
        )
        assert engine.execute(f"SYSTEM APPLY TTL {name}")["moved"] == 2
        engine.execute(f"ALTER TABLE {name} DELETE WHERE id = 1")
        rows = sorted((r.id, r.v) for r in engine.table(name).collect())
        assert rows == [(2, 21), (3, 30)]
    finally:
        engine.execute(f"DROP TABLE {name}")
        engine.storage_policies = [p for p in engine.storage_policies
                                   if p[0] != "tiered_mut"]


def test_truncate_clears_cold_volumes(engine, tmp_path):
    """TRUNCATE removes every part, TTL-moved cold tiers included."""
    import os as _os

    engine.add_storage_policy("tiered_tr", "cold", ["cold_disk"])
    name = "events_tiered_tr"
    engine.execute(
        f"CREATE TABLE {name} (id UInt64, ts DateTime) ENGINE = MergeTree "
        "ORDER BY id TTL ts + INTERVAL 1 HOUR TO VOLUME 'cold' "
        "SETTINGS storage_policy = 'tiered_tr'"
    )
    td = engine.tables[name]
    td.path = str(tmp_path / name)
    try:
        engine.execute(
            f"INSERT INTO {name} VALUES "
            "(1, '2020-01-01 00:00:00'), (2, '2100-01-01 00:00:00')"
        )
        assert engine.execute(f"SYSTEM APPLY TTL {name}")["moved"] == 1
        cold_path = td.settings["cold_volumes"]["cold"]
        engine.execute(f"TRUNCATE TABLE {name}")
        assert engine.table(name).count() == 0
        assert "cold_volumes" not in td.settings
        assert not _os.path.exists(cold_path)
    finally:
        engine.execute(f"DROP TABLE {name}")
        engine.storage_policies = [p for p in engine.storage_policies
                                   if p[0] != "tiered_tr"]


def test_create_dictionary_name_collision_with_table_errors(engine):
    """CH errors when a dictionary name collides with an existing table
    (shared namespace) — previously the dictionary silently clobbered
    the table's temp view and DROP DICTIONARY then killed the table."""
    import pytest as _pytest

    engine.sql("SELECT 1 AS k, 'a' AS val").createOrReplaceTempView("__dct_src")
    engine.execute(
        "CREATE TABLE dict_coll_t (k UInt64, val String) "
        "ENGINE = MergeTree ORDER BY k"
    )
    try:
        with _pytest.raises(ValueError, match="table with that name exists"):
            engine.create_dictionary(
                "dict_coll_t", engine.sql("SELECT 1 AS k, 'a' AS val"), "k"
            )
        # table view must be intact after the rejected create
        assert engine.table("dict_coll_t").columns == ["k", "val"]
        # re-creating (reloading) an existing dictionary is still fine
        engine.create_dictionary(
            "dict_coll_d", engine.sql("SELECT 1 AS k, 'a' AS val"), "k"
        )
        engine.create_dictionary(
            "dict_coll_d", engine.sql("SELECT 1 AS k, 'b' AS val"), "k"
        )
        assert engine.dictionary("dict_coll_d").df.collect()[0].val == "b"
    finally:
        engine.execute("DROP TABLE dict_coll_t")
        engine._dictionaries.pop("dict_coll_d", None)


def test_backup_restore_as_preserves_declared_semantics(engine, tmp_path):
    """The backup sidecar persists td.settings (declared schema,
    DEFAULT exprs, materialized cols), so `RESTORE … AS y` yields a
    table whose partial-column inserts still fill DEFAULTs instead of
    KeyError-ing on the missing schema."""
    import shutil as _shutil

    _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)
    engine.execute("DROP TABLE IF EXISTS bk_sem")
    engine.execute("DROP TABLE IF EXISTS bk_sem_restored")
    engine.execute(
        "CREATE TABLE bk_sem (id UInt32, name String, score Float64 DEFAULT 7.5) "
        "ENGINE = MergeTree ORDER BY id"
    )
    engine.tables["bk_sem"].path = str(tmp_path / "bk_sem")
    try:
        engine.execute("INSERT INTO bk_sem (id, name) VALUES (1, 'a')")
        engine.execute("BACKUP TABLE bk_sem TO Disk('backups', 'sem1')")
        engine.execute("RESTORE TABLE bk_sem AS bk_sem_restored FROM Disk('backups', 'sem1')")
        # the restored alias carries the declared schema + DEFAULT expr
        engine.execute("INSERT INTO bk_sem_restored (id, name) VALUES (2, 'b')")
        rows = {r.id: (r.name, r.score) for r in engine.table("bk_sem_restored").collect()}
        assert rows == {1: ("a", 7.5), 2: ("b", 7.5)}
        assert engine.tables["bk_sem_restored"].columns == engine.tables["bk_sem"].columns
    finally:
        engine.execute("DROP TABLE IF EXISTS bk_sem")
        engine.execute("DROP TABLE IF EXISTS bk_sem_restored")
        _shutil.rmtree("spark-warehouse/_disks", ignore_errors=True)


def test_database_namespace_semantics(engine, tmp_path):
    """D1 databases over the flat catalog: CREATE DATABASE registers a
    namespace (hw03.md:7), qualified DDL/DML/SELECT resolve through it,
    USE validates membership, a CREATE under a new qualifier implicitly
    declares it, and unknown-db destructive statements error."""
    import pytest as _pytest

    engine.execute("DROP TABLE IF EXISTS menu")
    assert engine.execute("CREATE DATABASE hw")["created_database"] == "hw"
    assert engine.execute("USE hw")["using_database"] == "hw"
    engine.execute("CREATE TABLE hw.menu (id UInt32, name String) ENGINE = Memory")
    engine.execute("INSERT INTO hw.menu VALUES (1, 'soup')")
    assert engine.execute("SELECT name FROM hw.menu WHERE id = 1")[0].name == "soup"
    # string literals carrying a db-qualified name stay untouched
    engine.execute("INSERT INTO hw.menu VALUES (2, 'hw.menu')")
    assert engine.execute("SELECT name FROM hw.menu WHERE id = 2")[0].name == "hw.menu"
    # under USE hw, a database named like one of hw's tables is that database
    engine.execute("CREATE DATABASE IF NOT EXISTS menu")
    assert engine.execute("DROP DATABASE IF EXISTS menu") == {"dropped_database": "menu"}
    assert "menu" not in engine._databases and "hw__menu" not in engine._databases
    with _pytest.raises(Exception):
        engine.execute("USE nosuchdb")
    with _pytest.raises(Exception):
        engine.execute("ALTER TABLE nosuchdb.menu DELETE WHERE id = 1")
    # CREATE TABLE under an undeclared qualifier implicitly declares it
    engine.execute("CREATE TABLE lab6.t (id UInt32) ENGINE = Memory")
    engine.execute("INSERT INTO lab6.t VALUES (9)")
    assert engine.execute("SELECT * FROM lab6.t")[0].id == 9
    engine.execute("DROP TABLE lab6.t")
    engine.execute("DROP DATABASE lab6")
    engine.execute("DROP TABLE hw.menu")
    engine.execute("DROP DATABASE hw")
    assert "hw" not in engine._databases


def test_show_tables_from_and_like(engine, tmp_path):
    engine.execute("CREATE TABLE shw_alpha (id UInt32) ENGINE = Memory")
    engine.execute("CREATE TABLE shw_beta (id UInt32) ENGINE = Memory")
    try:
        got = engine.execute("SHOW TABLES LIKE 'shw_%'")
        assert set(got) >= {"shw_alpha", "shw_beta"}
        got = engine.execute("SHOW TABLES FROM default LIKE '%alpha%'")
        assert got == ["shw_alpha"]
        import pytest as _pytest

        with _pytest.raises(KeyError):
            engine.execute("SHOW TABLES FROM nosuchdb")
    finally:
        engine.execute("DROP TABLE shw_alpha")
        engine.execute("DROP TABLE shw_beta")


def test_create_database_engined_and_on_cluster(engine):
    """hw19.md:85 `CREATE DATABASE pg ENGINE = PostgreSQL(...)` and the
    ON CLUSTER form both register the namespace; the engine surfaces in
    system.databases."""
    engine.execute("CREATE DATABASE pgx ENGINE = PostgreSQL(mypg, schema='book')")
    engine.execute("CREATE DATABASE IF NOT EXISTS clus ON CLUSTER 'main'")
    try:
        rows = {r.name: r.engine for r in engine.sql(
            "SELECT name, engine FROM system.databases").collect()}
        assert rows["pgx"] == "PostgreSQL"
        assert rows["clus"] == "Atomic"
        assert rows["system"] == "System"
        assert "clus" in engine.execute("SHOW DATABASES")
    finally:
        engine.execute("DROP DATABASE IF EXISTS pgx")
        engine.execute("DROP DATABASE IF EXISTS clus")
    assert "pgx" not in engine._databases and "pgx" not in engine._database_engines


def test_explain_estimate_reads_footers(engine, tmp_path):
    """EXPLAIN ESTIMATE answers (database, table, parts, rows, marks)
    from parquet footers without running the query — parts = data
    files, rows = footer counts, marks = row groups (the granule
    analogue), like CH's part-metadata estimate (lecture_21.md)."""
    engine.execute("DROP TABLE IF EXISTS est_t")
    engine.execute("CREATE TABLE est_t (id UInt32) ENGINE = MergeTree ORDER BY id")
    engine.tables["est_t"].path = str(tmp_path / "est_t")
    engine.execute("INSERT INTO est_t SELECT number FROM numbers(1000)")
    engine.execute("INSERT INTO est_t SELECT number FROM numbers(500)")
    try:
        got = engine.execute("EXPLAIN ESTIMATE SELECT count() FROM est_t WHERE id > 10")
        assert len(got) == 1
        r = got[0]
        assert (r.database, r.table) == ("default", "est_t")
        assert r.rows == 1500
        assert r.parts >= 2  # two inserts → at least two files
        assert r.marks >= r.parts  # ≥ one row group per file
    finally:
        engine.execute("DROP TABLE est_t")


def test_alias_column_codec_and_comment_robustness(engine, tmp_path):
    """lecture_12.md stragglers: ADD COLUMN … ALIAS expr (virtual,
    recomputed per query), codec(ZSTD) type suffixes, USE
    INFORMATION_SCHEMA (CH built-in, both spellings in SHOW DATABASES —
    hw19.md:88-95), and trailing -- comments on routed statements."""
    engine.execute("DROP TABLE IF EXISTS al_t")
    engine.execute("CREATE TABLE al_t (id UInt32) ENGINE = MergeTree ORDER BY id")
    engine.tables["al_t"].path = str(tmp_path / "al_t")
    engine.execute("INSERT INTO al_t VALUES (7)")
    try:
        engine.execute("alter table al_t add column myAlias String ALIAS concat(id, '-a')")
        assert engine.execute("SELECT myAlias FROM al_t")[0].myAlias == "7-a"
        engine.execute("alter table al_t add column str String codec(ZSTD)")
        assert "str" in engine.table("al_t").columns
        # alias survives re-registration (insert refreshes the view)
        engine.execute("INSERT INTO al_t (id) VALUES (8)")
        got = {r.myAlias for r in engine.execute("SELECT myAlias FROM al_t")}
        assert got == {"7-a", "8-a"}
        engine.execute("use INFORMATION_SCHEMA")
        engine.execute("USE default")
        names = set(engine.execute("SHOW DATABASES"))
        assert {"INFORMATION_SCHEMA", "information_schema", "system", "default"} <= names
        # trailing comment on a routed statement shape
        engine.execute("DROP TABLE al_t  -- проверим")
        assert "al_t" not in engine.tables
    finally:
        engine.execute("DROP TABLE IF EXISTS al_t")
        engine.execute("USE default")


def test_show_create_table_on_view(engine):
    """lecture_13's `show create table <view>` probe: plain views echo
    their recorded SELECT instead of Spark's temp-view refusal."""
    engine.execute("CREATE VIEW scv_v AS SELECT 1 AS one")
    try:
        ddl = engine.execute("SHOW CREATE TABLE scv_v")[0]
        assert ddl.startswith("CREATE VIEW scv_v") and "SELECT 1 AS one" in ddl
    finally:
        engine.execute("DROP VIEW scv_v")


def test_namespace_recreate_and_cross_db_insert(engine, tmp_path):
    """Namespace edges: a database re-created after DROP starts empty
    (no resurrection of the old mangled tables), and INSERT SELECT
    moves rows across databases through qualified names."""
    engine.execute("DROP DATABASE IF EXISTS nsa")
    engine.execute("DROP DATABASE IF EXISTS nsb")
    engine.execute("CREATE DATABASE nsa")
    engine.execute("CREATE DATABASE nsb")
    try:
        engine.execute("CREATE TABLE nsa.t (id UInt32) ENGINE = Memory")
        engine.execute("INSERT INTO nsa.t SELECT number FROM numbers(4)")
        engine.execute("CREATE TABLE nsb.t (id UInt32) ENGINE = Memory")
        engine.execute("INSERT INTO nsb.t SELECT id FROM nsa.t WHERE id >= 2")
        assert engine.execute("SELECT count() AS n FROM nsb.t")[0].n == 2
        engine.execute("DROP DATABASE nsa")
        assert "nsa__t" not in engine.tables
        engine.execute("CREATE DATABASE nsa")
        assert engine.execute("SHOW TABLES FROM nsa") == []  # starts empty
        # the sibling database is untouched
        assert engine.execute("SELECT count() AS n FROM nsb.t")[0].n == 2
    finally:
        engine.execute("DROP DATABASE IF EXISTS nsa")
        engine.execute("DROP DATABASE IF EXISTS nsb")


def test_base_name_rewrite_spares_columns(engine):
    """ADVICE r6: under USE <db>, the current-db base-name resolution
    must rewrite TABLE positions only. A column sharing its name with a
    sibling table (here `status`, while <db>.status exists) must keep
    its declared name in CREATE column lists, `alias.col` qualified
    refs, and unqualified SELECT output columns."""
    engine.execute("DROP DATABASE IF EXISTS rvw2")
    engine.execute("CREATE DATABASE rvw2")
    engine.execute("USE rvw2")
    try:
        engine.execute("CREATE TABLE rvw2.status (id UInt32) ENGINE = Memory")
        engine.execute(
            "CREATE TABLE rvw2.events (id UInt32, status String) ENGINE = Memory"
        )
        assert engine.table("rvw2__events").columns == ["id", "status"]
        engine.execute("INSERT INTO events VALUES (1, 'ok')")
        # qualified <table>.<col> ref resolves; output column keeps its name
        got = engine.execute("SELECT events.status FROM events WHERE id = 1")
        assert got[0].status == "ok"
        got = engine.execute("SELECT status FROM events")
        assert got[0].status == "ok"
        # the sibling TABLE still resolves in table positions
        engine.execute("INSERT INTO status VALUES (5)")
        assert engine.execute("SELECT count() AS n FROM status")[0].n == 1
        # RENAME COLUMN's target is a column even when it collides
        engine.execute("ALTER TABLE events RENAME COLUMN status TO state")
        assert engine.table("rvw2__events").columns == ["id", "state"]
    finally:
        engine.execute("USE default")
        engine.execute("DROP DATABASE IF EXISTS rvw2")


def test_comment_strip_survives_unpaired_quote(engine):
    """ADVICE r6: a `--` comment whose text contains an UNPAIRED quote
    (`-- don't`) must strip cleanly — the old two-phase sub lexed the
    apostrophe as a string opener and swallowed code. Quoted literals
    containing `--` still survive untouched."""
    got = engine.execute("SELECT 1 AS x -- don't trip on this")
    assert got[0].x == 1
    got = engine.execute("SELECT 'a--b' AS s -- trailing \"note")
    assert got[0].s == "a--b"
    # multi-line: each comment goes, code on every line stays
    got = engine.execute(
        "SELECT 1 AS a, -- it's line one\n       2 AS b -- and line two's end"
    )
    assert (got[0].a, got[0].b) == (1, 2)


def test_backup_database_full_increment_differential(engine, tmp_path):
    """lecture_19.md:136-158: BACKUP DATABASE TO '<url>' in all three
    forms — full, WITH increment (vs the latest backup), WITH
    differential (vs the latest FULL) — and RESTORE DATABASE
    reconstructing the complete state through the base chain. The
    incremental/differential backups must store ONLY changed files
    (part-level dedup) and link their base in the manifest sidecar."""
    import json as _json
    import shutil as _shutil

    _shutil.rmtree("spark-warehouse/_url_backups", ignore_errors=True)
    engine.execute("DROP DATABASE IF EXISTS bdb")
    engine.execute("CREATE DATABASE bdb")
    try:
        engine.execute("CREATE TABLE bdb.t1 (id UInt32) ENGINE = MergeTree ORDER BY id")
        engine.execute("CREATE TABLE bdb.t2 (id UInt32) ENGINE = MergeTree ORDER BY id")
        engine.tables["bdb__t1"].path = str(tmp_path / "t1")
        engine.tables["bdb__t2"].path = str(tmp_path / "t2")
        engine.execute("INSERT INTO bdb.t1 SELECT number FROM numbers(100)")
        engine.execute("INSERT INTO bdb.t2 SELECT number FROM numbers(50)")

        got = engine.execute("BACKUP DATABASE bdb TO 'file:///backups/bdb_full'")
        assert got["status"] == "BACKUP_CREATED" and got["mode"] == "full"
        assert got["tables"] == ["t1", "t2"] and got["stored_files"] > 0

        # increment before any change: zero new files, base-linked
        got = engine.execute(
            "BACKUP DATABASE bdb TO 'file:///backups/bdb_inc0' WITH increment"
        )
        assert got["mode"] == "increment" and got["stored_files"] == 0
        man = _json.load(open(got["to"] + "/.manifest.json"))
        assert man["base"].endswith("backups_bdb_full")

        # change ONE table, increment again: only its files are stored
        engine.execute("INSERT INTO bdb.t1 SELECT number + 100 FROM numbers(10)")
        got = engine.execute(
            "BACKUP DATABASE bdb TO 'file:///backups/bdb_inc1' WITH increment"
        )
        man = _json.load(open(got["to"] + "/.manifest.json"))
        assert man["base"].endswith("backups_bdb_inc0")
        assert got["stored_files"] > 0
        assert man["tables"]["t2"]["stored"] == []  # untouched table: 0 files

        # differential links to the latest FULL, not the increments
        got = engine.execute(
            "BACKUP DATABASE bdb TO 'file:///backups/bdb_diff' WITH differential"
        )
        man = _json.load(open(got["to"] + "/.manifest.json"))
        assert man["base"].endswith("backups_bdb_full")

        # wipe and restore from the increment chain: full state is back
        engine.execute("DROP DATABASE bdb")
        assert "bdb__t1" not in engine.tables
        got = engine.execute("RESTORE DATABASE bdb FROM 'file:///backups/bdb_inc1'")
        assert got["status"] == "RESTORED" and got["tables"] == ["t1", "t2"]
        assert engine.execute("SELECT count() AS n FROM bdb.t1")[0].n == 110
        assert engine.execute("SELECT count() AS n FROM bdb.t2")[0].n == 50
        # restore from the differential too (vs full + later delta)
        engine.execute("DROP DATABASE bdb")
        engine.execute("RESTORE DATABASE bdb FROM 'file:///backups/bdb_diff'")
        assert engine.execute("SELECT count() AS n FROM bdb.t1")[0].n == 110

        import pytest as _pytest

        with _pytest.raises(Exception):  # increment without history
            engine.execute(
                "BACKUP DATABASE default TO 'file:///backups/nope' WITH increment"
            )
        # system.backups logged all five operations
        n = engine.sql(
            "SELECT count(*) AS n FROM system.backups WHERE name LIKE '%backups%'"
        ).collect()[0].n
        assert n >= 6
    finally:
        engine.execute("DROP DATABASE IF EXISTS bdb")
        _shutil.rmtree("spark-warehouse/_url_backups", ignore_errors=True)


def test_base_name_rewrite_comma_list_with_aliases(engine):
    """Comma FROM-lists resolve every member under USE <db>, with bare
    and AS-style aliases in any mix."""
    engine.execute("DROP DATABASE IF EXISTS cml")
    engine.execute("CREATE DATABASE cml")
    engine.execute("USE cml")
    try:
        engine.execute("CREATE TABLE cml.mov (id UInt32) ENGINE = Memory")
        engine.execute("CREATE TABLE cml.gen (id UInt32) ENGINE = Memory")
        engine.execute("INSERT INTO mov VALUES (1), (2), (3)")
        engine.execute("INSERT INTO gen VALUES (10), (20)")
        assert engine.execute("SELECT count() AS n FROM mov, gen")[0].n == 6
        assert engine.execute("SELECT count() AS n FROM mov m, gen g")[0].n == 6
        assert (
            engine.execute("SELECT count() AS n FROM mov AS m, gen AS g")[0].n == 6
        )
        got = engine.execute(
            "SELECT m.id AS mid, g.id AS gid FROM mov AS m, gen AS g "
            "WHERE m.id = 1 AND g.id = 10"
        )
        assert (got[0].mid, got[0].gid) == (1, 10)
    finally:
        engine.execute("USE default")
        engine.execute("DROP DATABASE IF EXISTS cml")


def test_vector_similarity_index_ddl_lifecycle(engine, tmp_path):
    """r10 verdict ask #4, engine surface: ADD INDEX … TYPE
    vector_similarity(k, iters) materializes a STORED IVF index
    (centroids + inverted lists partitioned by centroid_id) next to the
    table; INSERT appends only the new sliver with the ORIGINAL
    centroids; engine.vector_topk serves from the stored lists; DROP
    INDEX removes the derived table."""
    import os

    from pyspark.sql import functions as F

    engine.execute("DROP TABLE IF EXISTS vs_t")
    engine.execute(
        "CREATE TABLE vs_t (vec_id UInt64, embedding Array(Float64)) "
        "ENGINE = MergeTree ORDER BY vec_id"
    )
    engine.tables["vs_t"].path = str(tmp_path / "vs_t")
    try:
        engine.execute(
            "INSERT INTO vs_t VALUES "
            "(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.8, 0.0]), "
            "(3, [0.0, 1.0]), (4, [0.1, 0.9]), (5, [0.0, 0.8])"
        )
        engine.execute(
            "ALTER TABLE vs_t ADD INDEX emb_idx embedding "
            "TYPE vector_similarity(2, 3)"
        )
        meta = engine.vector_indexes["vs_t"]["emb_idx"]
        assert meta["built"] and os.path.exists(f"{meta['path']}/assignments")
        cent_before = sorted(
            map(tuple, engine.spark.read.parquet(f"{meta['path']}/centroids.parquet").collect())
        )
        # incremental insert: sliver assigned with the ORIGINAL centroids
        engine.execute("INSERT INTO vs_t VALUES (10, [0.95, 0.0])")
        cent_after = sorted(
            map(tuple, engine.spark.read.parquet(f"{meta['path']}/centroids.parquet").collect())
        )
        assert cent_after == cent_before
        assert engine.spark.read.parquet(f"{meta['path']}/assignments").count() == 7

        queries = engine.spark.createDataFrame(
            [(100, [1.0, 0.05])], "q_id int, qv array<double>"
        )
        got = engine.vector_topk("vs_t", "emb_idx", queries, k=4, nprobe=1).collect()
        ids = {r["vec_id"] for r in got}
        assert 10 in ids and 0 in ids and 3 not in ids  # y-list not probed

        engine.execute("ALTER TABLE vs_t DROP INDEX emb_idx")
        assert not os.path.exists(meta["path"])
        assert "emb_idx" not in engine.vector_indexes["vs_t"]
    finally:
        engine.vector_indexes.pop("vs_t", None)
        engine.execute("DROP TABLE IF EXISTS vs_t")


@pytest.mark.slow  # heavy sweep/equivalence proof (r13): round-close suite only
def test_vector_index_maintained_under_mutations(engine, tmp_path):
    """r11 verdict ask #3 + ADVICE: DML that changes the row set must
    not leave stale rows in the stored IVF lists. ALTER DELETE rebuilds
    the lists (vector_topk never returns the deleted id); ALTER UPDATE
    re-assigns the changed embedding; OPTIMIZE rebuilds; TRUNCATE drops
    the stored lists but keeps the definition (next insert retrains);
    DROP TABLE removes definitions AND on-disk lists so a re-created
    same-name table starts clean."""
    import os

    engine.execute("DROP TABLE IF EXISTS vm_t")
    engine.execute(
        "CREATE TABLE vm_t (vec_id UInt64, embedding Array(Float64)) "
        "ENGINE = MergeTree ORDER BY vec_id"
    )
    engine.tables["vm_t"].path = str(tmp_path / "vm_t")
    try:
        engine.execute(
            "INSERT INTO vm_t VALUES "
            "(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.8, 0.0]), "
            "(3, [0.0, 1.0]), (4, [0.1, 0.9]), (5, [0.0, 0.8])"
        )
        engine.execute(
            "ALTER TABLE vm_t ADD INDEX emb_idx embedding "
            "TYPE vector_similarity(2, 3)"
        )
        meta = engine.vector_indexes["vm_t"]["emb_idx"]
        queries = engine.spark.createDataFrame(
            [(100, [1.0, 0.05])], "q_id int, qv array<double>"
        )

        def topk_ids(nprobe=2, k=6):
            got = engine.vector_topk("vm_t", "emb_idx", queries, k=k, nprobe=nprobe)
            return {r["vec_id"] for r in got.collect()}

        assert 1 in topk_ids()
        # ALTER DELETE: the deleted id must never be served again
        engine.execute("ALTER TABLE vm_t DELETE WHERE vec_id = 1")
        assert 1 not in topk_ids()
        assert (
            engine.spark.read.parquet(f"{meta['path']}/assignments")
            .where("vec_id = 1").count() == 0
        )
        # ALTER UPDATE: the new embedding is what the index serves; id 3
        # flips from the y-axis list into the x-axis neighborhood
        engine.execute(
            "ALTER TABLE vm_t UPDATE embedding = [0.99, 0.01] WHERE vec_id = 3"
        )
        assert 3 in topk_ids(nprobe=1, k=2) or 3 in topk_ids(nprobe=2, k=3)
        # OPTIMIZE rebuilds the lists from surviving rows
        engine.execute("OPTIMIZE TABLE vm_t FINAL")
        assert (
            engine.spark.read.parquet(f"{meta['path']}/assignments")
            .where("vec_id = 1").count() == 0
        )
        # TRUNCATE: stored lists gone, definition kept, rebuilt on insert
        engine.execute("TRUNCATE TABLE vm_t")
        assert not meta.get("built") and not os.path.exists(meta["path"])
        assert "emb_idx" in engine.vector_indexes["vm_t"]
        engine.execute("INSERT INTO vm_t VALUES (7, [1.0, 0.0]), (8, [0.0, 1.0])")
        assert engine.vector_indexes["vm_t"]["emb_idx"]["built"]
        assert topk_ids(nprobe=2, k=2) == {7, 8}
        # DROP TABLE: definitions and on-disk lists removed
        path = engine.vector_indexes["vm_t"]["emb_idx"]["path"]
        engine.execute("DROP TABLE vm_t")
        assert "vm_t" not in engine.vector_indexes
        assert not os.path.exists(path)
    finally:
        engine.vector_indexes.pop("vm_t", None)
        engine.execute("DROP TABLE IF EXISTS vm_t")


# (statement, the kind of route it reaches); None: no route, Spark runs it
_ROUTED = [
    ("CREATE DATABASE IF NOT EXISTS pg ENGINE = PostgreSQL('h:5432', 'db', 'u', 'p')", "create database"),
    ("DROP DATABASE IF EXISTS pg", "drop database"),
    ("USE pg", "use"),
    ("CREATE TABLE t (k UInt32, s String) ENGINE = MergeTree ORDER BY k", "create table"),
    ("DROP TABLE IF EXISTS db.t", "drop table"),
    ("INSERT INTO t (k, s) FORMAT CSV\n1,'x'\n2,-- y", "insert format"),
    ("INSERT INTO t VALUES (1, ' FORMAT CSV\n')", "insert"),
    ("INSERT INTO t SELECT number, 'x' FROM numbers(3)", "insert"),
    ("DESC format(CSV, '1,2\n3,4')", "describe format"),
    ("EXPLAIN PIPELINE SELECT 1", "explain"),
    ("ALTER TABLE t ADD COLUMN x UInt8, MODIFY ORDER BY (k, x)", "alter actions"),
    ("CREATE ROW POLICY p ON t USING k > 1 TO r", "create row policy"),
    ("DROP ROW POLICY p ON t", "drop row policy"),
    ("ALTER TABLE t MODIFY ORDER BY (k, toDate(d))", "modify order by"),
    ("KILL QUERY WHERE query_id = 'ab12'", "kill query"),
    ("SET max_result_rows = 10", "set"),
    ("ALTER TABLE t ADD INDEX i s TYPE ngrambf_v1(3, 256, 2, 0) GRANULARITY 1", "add index"),
    ("ALTER TABLE t MATERIALIZE INDEX i", "materialize index"),
    ("ALTER TABLE t DROP INDEX IF EXISTS i", "drop index"),
    ("ALTER TABLE t ADD PROJECTION p (SELECT k, sum(v) GROUP BY k)", "add projection"),
    ("ALTER TABLE t MATERIALIZE PROJECTION p", "materialize projection"),
    ("ALTER TABLE t DROP PROJECTION p", "drop projection"),
    ("ALTER TABLE t UPDATE s = 'x WHERE y', v = 'p, DROP q' WHERE k = 1", "update"),
    ("ALTER TABLE t UPDATE v = 1, comment = 'x' WHERE k = 1", "update"),
    ("ALTER TABLE t DELETE WHERE s = 'a'", "alter delete"),
    ("DELETE FROM t WHERE s = ' ON CLUSTER c '", "lightweight delete"),
    ("ALTER TABLE t DROP PARTITION (1, '2024-01-01')", "drop partition"),
    ("ALTER TABLE t DETACH PARTITION 202401", "detach partition"),
    ("ALTER TABLE t ATTACH PARTITION ID '202401' FROM src", "attach partition from"),
    ("ALTER TABLE t ATTACH PARTITION 202401", "attach partition"),
    ("ALTER TABLE t REPLACE PARTITION 202401 FROM src", "replace partition"),
    ("ALTER TABLE t MOVE PARTITION 202401 TO TABLE dst", "move partition"),
    ("ALTER TABLE t FREEZE", "freeze"),
    ("SYSTEM STOP MERGES t", "system noop"),
    ("CREATE QUOTA q FOR INTERVAL 1 hour MAX queries = 10 TO u", "create quota"),
    ("DROP QUOTA IF EXISTS q", "drop quota"),
    ("CREATE SETTINGS PROFILE p SETTINGS max_memory_usage = 100 TO u", "create settings profile"),
    ("DROP SETTINGS PROFILE p", "drop settings profile"),
    ("CREATE USER u IDENTIFIED WITH sha256_password BY 'pw'", "create user"),
    ("DROP USER IF EXISTS u", "drop user"),
    ("CREATE ROLE r", "create role"),
    ("DROP ROLE r", "drop role"),
    ("GRANT SELECT, INSERT ON db.* TO r WITH GRANT OPTION", "grant"),
    ("GRANT r TO u", "grant role"),
    ("REVOKE SELECT ON t FROM r", "revoke"),
    ("REVOKE r FROM u", "revoke role"),
    ("SET ROLE r", "set role"),
    ("SET DEFAULT ROLE r", "set role"),
    ("ALTER USER u IDENTIFIED BY 'pw'", "access control"),
    ("SYSTEM RELOAD DICTIONARIES", "reload dictionary"),
    ("ALTER TABLE t ADD COLUMN IF NOT EXISTS c String DEFAULT ' AFTER k' AFTER k", "add column"),
    ("ALTER TABLE t DROP COLUMN c", "drop column"),
    ("ALTER TABLE t MODIFY COLUMN c DEFAULT 5", "modify column default"),
    ("ALTER TABLE t MODIFY COLUMN c Enum8('a' = 1, 'b' = 2)", "modify column"),
    ("ALTER TABLE t RENAME COLUMN c TO d", "rename column"),
    ("ALTER TABLE t MODIFY TTL d + INTERVAL 1 DAY TO VOLUME 'cold'", "modify ttl"),
    ("SYSTEM APPLY TTL t", "apply ttl"),
    ("OPTIMIZE TABLE t FINAL DEDUPLICATE BY k, s", "optimize"),
    ("TRUNCATE TABLE t", "truncate"),
    ("RENAME TABLE t TO u", "rename table"),
    ("EXCHANGE TABLES t AND u", "exchange tables"),
    ("CREATE NAMED COLLECTION nc AS host = 'h', port = 5432", "create named collection"),
    ("ALTER NAMED COLLECTION nc SET port = 5433", "alter named collection"),
    ("DROP NAMED COLLECTION IF EXISTS nc", "drop named collection"),
    ("SHOW NAMED COLLECTIONS", "show named collections"),
    ("SHOW TABLES FROM db LIKE 'a%'", "show tables"),
    ("SHOW TABLES", None),
    ("SHOW GRANTS", "show"),
    ("SHOW TABLE t", "show create table"),
    ("SHOW INDEXES FROM t", "show indexes"),
    ("CREATE MATERIALIZED VIEW mv TO tgt AS SELECT k, 'from u' AS tag FROM src", "create materialized view"),
    ("CREATE VIEW v AS SELECT 1", "create view"),
    ("DROP VIEW v", "drop view"),
    ("CREATE FUNCTION f AS (x, y) -> x + y", "create function"),
    ("DROP FUNCTION f", "drop function"),
    ("BACKUP TABLE t TO Disk('backups', 't.1')", "backup table"),
    ("RESTORE TABLE t AS u FROM S3('http://m/b/', 'key', 'secret')", "restore table"),
    ("BACKUP DATABASE db TO 'file:///b/db' WITH increment", "backup database"),
    ("RESTORE DATABASE db FROM 'file:///b/db'", "restore database"),
    ("CREATE DICTIONARY d (k UInt64, v String) PRIMARY KEY k SOURCE(CLICKHOUSE(TABLE 'src')) "
     "LAYOUT(HASHED()) LIFETIME(300)", "create dictionary"),
    ("SHOW CREATE DICTIONARY d", "show create dictionary"),
    ("DROP DICTIONARY IF EXISTS d", "drop dictionary"),
    ("SELECT 'ALTER TABLE t DELETE WHERE 1' AS s", None),
]


def test_route_table():
    """Each statement reaches the route of its kind, on masked text, and
    every route is reached: the order-sensitive pairs (MODIFY COLUMN …
    DEFAULT and MODIFY COLUMN, ATTACH PARTITION … FROM and ATTACH
    PARTITION, SET x = v and SET ROLE, a privilege and a role GRANT,
    CREATE MATERIALIZED VIEW and CREATE VIEW, bare SHOW TABLES to Spark)
    stay pinned."""
    from otus_clickhouse_spark.functions.lexer import Masked, split_data
    from otus_clickhouse_spark.plans.statements import ROUTES, find_route

    for stmt, kind in _ROUTED:
        head, data = split_data(stmt)  # as Engine.execute masks it
        lits = Masked(head)
        found = find_route(lits.text.strip() + ("\n" + lits.keep(data) if data else ""))
        assert (found and found[0].kind) == kind, stmt
    assert {k for _, k in _ROUTED} - {None} == {r.kind for r in ROUTES}
    mutations = {r.kind for r in ROUTES if r.mutation}
    assert mutations == {
        "update", "alter delete", "lightweight delete", "drop partition", "detach partition",
        "attach partition from", "attach partition", "replace partition", "move partition",
        "modify ttl", "optimize", "truncate",
    }


@pytest.mark.parametrize(
    "value", ["x WHERE y", "p, DROP q", "x ON CLUSTER c1 y", "from lit_u"]
)
def test_keywords_in_literals_keep_their_statement(engine, tmp_path, value):
    """A statement keyword inside a literal neither splits nor reroutes
    its statement: an UPDATE stores the literal as written and declares
    no cluster, and an MV attaches to its real FROM table."""
    tables = {"lit_u": "k UInt32, s String", "lit_src": "k UInt32", "lit_tgt": "k UInt32, tag String"}
    for name, cols in tables.items():
        engine.execute(f"CREATE TABLE {name} ({cols}) ENGINE = MergeTree ORDER BY k")
        engine.tables[name].path = str(tmp_path / name)
    try:
        engine.execute("INSERT INTO lit_u VALUES (1, 'a'), (2, 'b')")
        engine.execute(f"ALTER TABLE lit_u UPDATE s = '{value}' WHERE k = 2")
        assert [tuple(r) for r in engine.run("SELECT k, s FROM lit_u ORDER BY k")] == [
            (1, "a"), (2, value)
        ]
        assert "c1" not in engine._clusters
        engine.execute(
            f"CREATE MATERIALIZED VIEW lit_mv TO lit_tgt AS SELECT k, '{value}' AS tag FROM lit_src"
        )
        engine.execute("INSERT INTO lit_src VALUES (7)")
        assert [tuple(r) for r in engine.run("SELECT k, tag FROM lit_tgt")] == [(7, value)]
    finally:
        for name in ("lit_mv", *tables):
            engine.execute(f"DROP TABLE IF EXISTS {name}")


def test_show_grants_hides_passwords(engine):
    """SHOW GRANTS, and the CLI and HTTP output of it, shows a CREATE
    USER with its password hidden, as ClickHouse does."""
    from otus_clickhouse_spark.__main__ import execute_render

    engine.execute("CREATE USER john_pw IDENTIFIED WITH sha256_password BY 'qwerty'")
    try:
        grants = engine.execute("SHOW GRANTS")
        assert "CREATE USER john_pw IDENTIFIED WITH sha256_password BY '[HIDDEN]'" in grants
        assert not any("qwerty" in g for g in grants)
        assert "qwerty" not in execute_render(engine, "SHOW GRANTS")
        assert "john_pw" in engine.execute("SHOW USERS")
    finally:
        engine.execute("DROP USER john_pw")


def test_access_check_and_query_log_skip_literals(engine, tmp_path):
    """A table name inside a literal or comment is not a table the query
    reads: the access check lets it through and query_log's tables
    leave it out."""
    engine.execute("DROP TABLE IF EXISTS acl_u")
    engine.execute("CREATE TABLE acl_u (x UInt32) ENGINE = Log")
    engine.tables["acl_u"].path = str(tmp_path / "acl_u")
    engine.execute("CREATE USER lit_reader IDENTIFIED WITH no_password")
    try:
        assert engine._referenced_tables("SELECT 'from acl_u' AS x -- join acl_u") == []
        assert engine._referenced_tables("SELECT * FROM `acl_u`") == ["acl_u"]
        engine.set_user("lit_reader")
        assert engine.run("SELECT 'from acl_u' AS x")[0].x == "from acl_u"
        with pytest.raises(PermissionError, match="ACCESS_DENIED"):
            engine.run("SELECT * FROM acl_u")
        engine.set_user("default")
        engine.run("SELECT 'acl_u' AS x")
        assert engine._query_log[-1][-1] == []
        engine.run("SELECT count() FROM acl_u")
        assert engine._query_log[-1][-1] == ["acl_u"]
    finally:
        engine.set_user("default")
        engine.execute("DROP USER lit_reader")
        engine.execute("DROP TABLE acl_u")
