"""Background-merge analogue: parquet small-file compaction.

MergeTree continuously merges small parts into larger sorted parts
(reference lectures/lecture_02.md:107-196, lecture_04.md:3-52,
lecture_16.md:3-6); the parquet-table analogue is a compaction job
that rewrites a directory of small files into ~``target_bytes`` files.
The merged parts are written by :func:`otus_clickhouse_spark.io.rewrite_parts`,
so they keep the layout an INSERT writes: the partition directories,
files sorted by the table's ORDER BY (row-group min/max stats stay
selective), LZ4 and the sort-key bloom filters. At 100 TB this is what
keeps scan task counts (and the driver's file-listing cost) bounded as
streaming/MV appends accumulate small files — the #1 operational
failure mode of append-heavy lakes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from otus_clickhouse_spark.io import partition_columns, read_table, rewrite_parts


def plan_compaction(path: str, target_bytes: int = 256 * 1024 * 1024, min_files: int = 2):
    """Inventory a parquet dir: (n_files, total_bytes, n_target_files).

    Returns None when the directory is already compact (fewer than
    ``min_files`` files or already near target size per file)."""
    files = []
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                files.append((p, os.path.getsize(p)))
    if os.path.isfile(path):
        files = [(path, os.path.getsize(path))]
    n = len(files)
    total = sum(b for _p, b in files)
    n_target = max(1, -(-total // target_bytes))  # ceil
    if n < min_files or n <= n_target:
        return None
    return {"n_files": n, "total_bytes": total, "n_target_files": int(n_target)}

def compact_table(
    spark: SparkSession, td, target_bytes: int = 256 * 1024 * 1024
) -> dict | None:
    """OPTIMIZE TABLE ≈ merge parts: rewrite the files of ``td`` (a
    ``TableDef``) as ~target-size parts. Returns the compaction stats,
    or None if the table was already compact."""
    plan = plan_compaction(td.path, target_bytes)
    if plan is None:
        return None
    df = read_table(spark, td.path)
    rewrite_parts(df.repartition(plan["n_target_files"], *partition_columns(td, df.columns)), td)
    return plan
