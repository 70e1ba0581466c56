"""MVs (per-block semantics), mutations, projections, dictionaries, sources."""

from pyspark.sql import functions as F

from otus_clickhouse_spark.engine import TableDef
from otus_clickhouse_spark.plans import mutations
from otus_clickhouse_spark.plans.dictionary import Dictionary
from otus_clickhouse_spark.plans.projections import Projection, ProjectionRegistry
from otus_clickhouse_spark.sources.readers import generate_random, merge_tables, numbers
from otus_clickhouse_spark.streaming.mv import MaterializedView


def test_mv_per_block_semantics(spark):
    """MV aggregates ONLY the inserted block (lecture_09.md:673-678):
    two inserts of the same key yield two partial rows in the target,
    re-aggregated at read time — the lecture_13.md:127-182 pattern."""
    target = []

    mv = MaterializedView(
        name="sums",
        transform=lambda b: b.groupBy("k").agg(F.sum("v").alias("v")),
        sink=lambda out: target.append(out),
    )
    mv.process_block(spark.createDataFrame([(1, 10.0), (1, 5.0)], "k int, v double"))
    mv.process_block(spark.createDataFrame([(1, 2.0)], "k int, v double"))

    partials = target[0].unionByName(target[1])
    assert partials.count() == 2  # NOT merged across inserts
    final = partials.groupBy("k").agg(F.sum("v").alias("v")).collect()
    assert final[0].v == 17.0


def test_mv_cascade(spark):
    """Cascaded MVs (clusters/ch_and_kafka/db/init.sql:46-79 raw→parsed→out)."""
    sink1, sink2 = [], []
    parsed = MaterializedView(
        name="parsed",
        transform=lambda b: b.withColumn("k2", F.col("k") * 2),
        sink=sink1.append,
        cascades=[
            MaterializedView(
                name="out", transform=lambda b: b.where(F.col("k2") > 2), sink=sink2.append
            )
        ],
    )
    parsed.process_block(spark.createDataFrame([(1,), (2,)], "k int"))
    assert sink1[0].count() == 2
    assert sink2[0].count() == 1


def test_mutation_update_delete(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, v string")
    up = mutations.update(df, F.col("id") == 2, {"v": F.lit("B")})
    assert {r.v for r in up.collect()} == {"a", "B", "c"}
    de = mutations.delete(df, F.col("id") >= 3)
    assert de.count() == 2


def test_lightweight_delete_mask(spark):
    df = spark.createDataFrame([(1,), (2,)], "id int")
    masked = mutations.lightweight_delete(df, F.col("id") == 1)
    assert masked.count() == 2  # rows still there
    assert mutations.read_with_mask(masked).collect()[0].id == 2


def test_partition_ops(spark):
    # DROP PARTITION (lecture_16.md:114-152) keeps the rows outside it
    t1 = spark.createDataFrame([(202401, 1), (202402, 2)], "p int, v int")
    part = TableDef("t1", partition_by=("p",)).in_partition(t1, "202402")
    assert t1.filter(~part).count() == 1


def test_ttl_expire(spark):
    df = spark.createDataFrame([(1, 10), (2, 99)], "id int, age int")
    assert mutations.ttl_expire(df, F.col("age") > 50).count() == 1


def test_projection_serving(spark):
    """Projection auto-selection (lecture_13.md:243-314): an aggregate over
    the registered keys is served from the pre-agg, including coarser
    re-aggregation (hw08.md:206-233 projection-hit shape)."""
    base = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)], "k string, sub int, amt double"
    )
    reg = ProjectionRegistry()
    reg.add(base, Projection("p1", "sales", ("k", "sub"), {"total": ("sum", "amt"), "n": ("count", "*")}))

    exact = reg.serve("sales", ["k", "sub"], {"total": ("sum", "amt")})
    assert exact is not None and exact.count() == 3

    coarser = {r.k: r.total for r in reg.serve("sales", ["k"], {"total": ("sum", "amt")}).collect()}
    assert coarser == {"a": 30.0, "b": 5.0}

    assert reg.serve("sales", ["sub", "missing"], {"total": ("sum", "amt")}) is None
    reg.use_projections = False
    assert reg.serve("sales", ["k"], {"total": ("sum", "amt")}) is None


def test_dictionary_get_default_and_has(spark):
    d = Dictionary.from_df(
        spark, "emails", spark.createDataFrame([(1, "a@x"), (2, "b@x")], "uid int, email string"), "uid"
    )
    target = spark.createDataFrame([(1,), (3,)], "uid int")
    out = {r.uid: r.email for r in d.get("email", target, "uid", default="none").collect()}
    assert out == {1: "a@x", 3: "none"}
    has = {r.uid: r.dict_has for r in d.has(target, "uid").collect()}
    assert has == {1: True, 3: False}


def test_numbers_and_generate_random(spark):
    assert numbers(spark, 10).count() == 10
    assert numbers(spark, 5, 20, 5).count() == 3
    g = generate_random(spark, "a UInt64, b Float64, s String", 100, seed=1)
    assert g.count() == 100 and g.columns == ["a", "b", "s"]


def test_merge_tables_union(spark):
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("mlog_1")
    spark.createDataFrame([(2,), (3,)], "x int").createOrReplaceTempView("mlog_2")
    out = merge_tables(spark, r"mlog_\d", ["mlog_1", "mlog_2", "other"])
    assert out.count() == 3
    assert set(out.columns) == {"x", "_table"}


def test_engine_system_views(engine):
    assert engine.system("tables").count() >= 10
    parts = engine.system("parts")
    assert parts.where(F.col("bytes_on_disk") > 0).count() >= 10
    assert engine.system("settings").count() > 5
    cols = engine.system("columns")
    n_li = len(engine.table("lineitem").columns)
    assert cols.where(F.col("table") == "lineitem").count() == n_li
    engine.execute("CREATE FUNCTION sysfn_probe AS (x) -> x + 1")
    fns = engine.system("functions")
    assert fns.where("origin = 'SQLUserDefined' AND name = 'sysfn_probe'").count() == 1
    assert fns.where("origin = 'System'").count() > 10
    engine.execute("DROP FUNCTION sysfn_probe")


def test_streaming_tumbling_window(spark, tmp_path):
    """T4: event-time tumbling window over a rate-source micro-batch."""
    from otus_clickhouse_spark.streaming.mv import tumbling_window_agg

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    )
    agg = tumbling_window_agg(stream, "timestamp", "1 second", "0 seconds", F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_agg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # watermark append-mode emits only closed windows; just assert the
    # query ran and the plan was valid
    assert spark.table("rate_agg").columns[0] == "w"


def test_drop_table_detaches_mv_trigger(engine, tmp_path):
    """DROP TABLE on an MV's name must detach its trigger (CH: MVs live
    in the table namespace) — inserts into the source after the drop
    must not fire the dangling transform. Dropping the SOURCE leaves
    name-keyed attachments (recreating the source re-arms, like CH)."""
    engine.execute("DROP TABLE IF EXISTS mvd_src")
    engine.execute("DROP TABLE IF EXISTS mvd_tgt")
    engine.execute("CREATE TABLE mvd_src (id UInt32) ENGINE = Memory")
    engine.execute("CREATE TABLE mvd_tgt (id UInt32) ENGINE = Memory")
    engine.execute(
        "CREATE MATERIALIZED VIEW mvd_mv TO mvd_tgt AS SELECT id FROM mvd_src"
    )
    engine.execute("INSERT INTO mvd_src VALUES (1)")
    assert engine.execute("SELECT count() AS n FROM mvd_tgt")[0].n == 1
    engine.execute("DROP TABLE mvd_mv")
    engine.execute("INSERT INTO mvd_src VALUES (2)")
    assert engine.execute("SELECT count() AS n FROM mvd_tgt")[0].n == 1  # no re-fire
    engine.execute("DROP TABLE mvd_src")
    engine.execute("DROP TABLE mvd_tgt")
