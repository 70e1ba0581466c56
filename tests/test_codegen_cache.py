"""A statement shape compiles once per process.

``get_spark`` sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``) to the engine's working set.
With Spark's default of 100 entries, 60 distinct grouped statements
evict each other's classes and every re-run compiles again.
"""

SHAPES = [
    f"SELECT k % {i} AS g, count(*) AS n FROM cg_small GROUP BY k % {i}" for i in range(2, 62)
]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_rerun_shapes_compile_nothing(spark):
    spark.range(64).selectExpr("id AS k").createOrReplaceTempView("cg_small")
    try:
        before = _compiles(spark)
        for text in SHAPES:
            spark.sql(text).collect()
        first = _compiles(spark) - before
        assert first > 100, f"the shapes compiled only {first} classes"
        before = _compiles(spark)
        for text in SHAPES:
            spark.sql(text).collect()
        assert _compiles(spark) - before == 0
    finally:
        spark.catalog.dropTempView("cg_small")
