"""SparkSession bootstrap tuned for the engine.

Local testing runs on ``local[N]``; the config is chosen so the same
logical plans scale to a multi-executor cluster: AQE handles runtime
partition coalescing / skew joins / broadcast demotion, shuffle
partition count is environment-driven, and Arrow is enabled for the
(rare) pandas-UDF paths. Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``) holds the engine's working set,
so a statement shape is compiled once per process, as ClickHouse keeps
its compiled expressions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "otus-clickhouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    AQE is on (adaptive shuffle coalescing, skew-join splitting,
    runtime broadcast conversion) so plans written here survive a
    100x scale-up without hand-retuning partition counts.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
        # direct task-commit (v2): tasks rename straight into the
        # destination instead of a second job-level rename pass — the
        # lecture's Log-engine append has no two-phase commit either;
        # on cloud object stores swap this for a manifest committer
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # generated classes kept per JVM (≈ ClickHouse's compiled
        # expression cache, lecture_21.md:157). Spark's default of 100 is
        # below one pass of the interactive statements (20 templates, 56
        # texts: 230 classes), so every pass recompiled 226 of them, 3-19
        # per statement at 10-65 ms of Janino each, and ran bytecode the
        # JIT had not yet seen. A class costs 15-20 KB of metaspace, so
        # 1000 entries (4x the interactive set) hold at most ~20 MB. One
        # pass of the 252 registry queries at sf0.001 compiles 3,721
        # classes (225 again on a second pass with room for all); holding
        # it would take ~60 MB in every process, and bench.py runs each
        # query six times back to back, its ~15 classes kept either way.
        # A new literal still compiles the stages that inline it.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
