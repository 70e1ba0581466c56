"""Table files: the one reader and the one writer.

:func:`write_parts` is the part layout every write of a table's own
files uses, and :func:`rewrite_parts` its write-then-swap.

The driver's ``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS),
which Spark's vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL).
We read nanos as i64 (``spark.sql.legacy.parquet.nanosAsLong``) and
rebuild a proper TimestampType via integer µs division — bit-exact with
how DuckDB/pyarrow truncate ns → µs, so oracle comparisons line up.
"""

from __future__ import annotations

import re
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _nanos_columns(path: str) -> list[str]:
    try:
        schema = pq.read_schema(path.replace("file://", ""))
    except Exception:
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def read_table(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """spark.read.parquet with TIMESTAMP(NANOS) columns normalized to µs.

    ``schema``, when given, is the files' schema as known from an earlier
    read; it skips the footer-inference job. It is ignored for files with
    nanosecond columns, whose on-disk type differs from the converted one.
    """
    # timestamp semantics (date_trunc/window/unix_timestamp) follow the
    # session timezone; oracles + CH DateTime assume UTC — pin it so the
    # engine behaves identically under any host/cluster default
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos = _nanos_columns(path)
    if not nanos:
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def partition_columns(td, columns) -> list[str]:
    """The on-disk partition column of each PARTITION BY expression: a
    plain column of the block keeps its name, any other expression is
    written as a generated ``_p_*`` column (:func:`write_parts`)."""
    return [
        expr
        if re.fullmatch(r"[A-Za-z_]\w*", expr) and expr in columns
        else "_p_" + re.sub(r"[^\w]+", "_", expr).strip("_")
        for expr in td.partition_by
    ]


def write_parts(df: DataFrame, td, path: str, mode: str = "append") -> None:
    """Write ``df`` under ``path`` as parts of table ``td`` (a ``TableDef``).

    This is the one part layout (lecture_02.md:107-196): the
    ``PARTITION BY`` directories, with generated ``_p_*`` columns
    recomputed from their expressions, and each file sorted by the
    ``ORDER BY`` columns (after the partition columns, or Spark's own
    sort for the partitioned write would replace the key sort).

    LZ4 block compression is ClickHouse's default codec and out-writes
    snappy on the insert probe. Page CRC32s are off: they cost ~15% of
    write throughput, ClickHouse relies on its own block checksums, and
    parquet-mr wrote none before 1.12, so every reader tolerates their
    absence. Page size stays at the 1 MB default, since the page column
    index is the sparse-PK analogue for sub-row-group pruning.

    The ``ORDER BY`` columns and the columns of bloom-family skip indexes
    get parquet bloom filters (≈ the bloom_filter index,
    lecture_08.md:99-240), so point lookups skip row groups whose min/max
    ranges overlap. The adaptive writer picks the smallest of ten
    candidate sizes that holds the column chunk's distinct values,
    instead of a fixed 1 MB filter per column per file.
    """
    part_cols = partition_columns(td, df.columns)
    for expr, col in zip(td.partition_by, part_cols):
        if col != expr:
            df = df.withColumn(col, F.expr(expr))
    keys = [k for k in td.order_by if k in df.columns]
    if part_cols or keys:
        df = df.sortWithinPartitions(*part_cols, *keys)
    writer = (
        df.write.mode(mode)
        .option("compression", "lz4")
        .option("parquet.page.write-checksum.enabled", "false")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
    )
    blooms = set(td.order_by) | {
        expr
        for expr, itype in td.skip_indexes.values()
        if itype.split("(")[0] in ("bloom_filter", "tokenbf_v1", "ngrambf_v1")
    }
    # OPTIMIZE of a 240k-row table with two bloom columns, on 4 cores:
    # the filters cost 130-260 ms of about 1 s; LZ4 against snappy and
    # 3 against 10 candidates change nothing beyond the noise
    for col in blooms & set(df.columns):
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true").option(
            f"parquet.bloom.filter.candidates.number#{col}", "10"
        )
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(path)


def rewrite_parts(df: DataFrame, td) -> None:
    """Replace the files under ``td.path`` with ``df`` in the part layout.

    The new parts are written beside the old ones, then swapped in, so
    a reader of the old listing is never half-served and ``df`` may
    read the files it replaces. (A lakehouse table format does this
    with a commit; the swap is the single-writer parquet-dir analogue.)
    """
    base = td.path.rstrip("/")
    tag = uuid.uuid4().hex[:8]
    tmp, old = f"{base}.__new_{tag}", f"{base}.__old_{tag}"
    write_parts(df, td, tmp, "overwrite")
    shutil.move(td.path, old)
    shutil.move(tmp, td.path)
    shutil.rmtree(old)


# partition-probe memo (r12, guide §1.2 step 2): the rebalance() probe
# ``df.rdd.getNumPartitions()`` costs 30-60 ms of driver-side physical
# planning PER CALL (measured; ~1.3 s per full bench). For identical
# analyzed semantics over the SAME leaf relation objects the partition
# count is deterministic, so it is memoized on (semanticHash, leaf
# hashCodes). Leaf hashCodes carry the relations' attribute expr-ids —
# globally unique per JVM and minted fresh by every read — so a
# re-read of a rewritten engine table can never be served a stale
# count. (A mid-session change to spark.sql.files.* split confs could
# stale an entry; that is perf-only and nothing in the engine does it.)
_NPARTS: dict[tuple, int] = {}
# memo size cap (ADVICE r12): one entry per fresh leaf relation means
# unbounded growth over a very long session. The key is two 32-bit Java
# hashes, so a collision is possible (~2^-64 per pair) — the impact is
# perf-only (a skipped or extra repartition), never correctness.
_NPARTS_MAX = 4096


def _num_partitions(df: DataFrame) -> int:
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        key = (
            plan.semanticHash(),
            tuple(leaves.apply(i).hashCode() for i in range(leaves.size())),
        )
    except Exception:
        return df.rdd.getNumPartitions()
    n = _NPARTS.get(key)
    if n is None:
        if len(_NPARTS) >= _NPARTS_MAX:
            _NPARTS.clear()
        n = df.rdd.getNumPartitions()
        _NPARTS[key] = n
    return n


def rebalance(df: DataFrame, *key_cols: str) -> DataFrame:
    """Spread a narrow scan across the cluster before CPU-heavy stages.

    A small table arrives as one or two file splits, so an explode/
    hash/vector stage downstream would run on one core. When the scan
    has fewer partitions than ``defaultParallelism`` we repartition up
    (by ``key_cols`` when the downstream op groups on them, else
    round-robin). On a real cluster reading many files/row-groups the
    scan already has enough splits and this is a no-op — it never adds
    a shuffle at scale.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df) >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)
