"""Mutations & partition manipulation (SURVEY.md §2.11).

ClickHouse mutations rewrite whole parts (homeworks/hw11.md:95-130,
lectures/lecture_16.md:114-336); the Spark analogue rewrites whole
partition directories / file sets. These operate on parquet-backed
TableDefs and are DataFrame-functional: each returns the new table
content so callers (and tests) can verify before/after.

At scale: UPDATE/DELETE should touch only affected partitions — we
filter on the partition predicate first so unaffected directories are
never read or rewritten (≈ mutation granularity of parts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def update(df: DataFrame, where: Column, assignments: dict[str, Column]) -> DataFrame:
    """ALTER TABLE … UPDATE c = expr WHERE pred (hw11.md:95-130)."""
    out = df
    for col, expr in assignments.items():
        out = out.withColumn(col, F.when(where, expr).otherwise(F.col(col)))
    return out


def delete(df: DataFrame, where: Column) -> DataFrame:
    """ALTER TABLE … DELETE WHERE / lightweight DELETE (lecture_16.md:176-202)."""
    return df.filter(~where)


def lightweight_delete(df: DataFrame, where: Column) -> DataFrame:
    """Lightweight DELETE via the `_row_exists` mask (lecture_16.md:196-202).

    Adds/updates the mask instead of rewriting; readers filter it.
    """
    mask = F.col("_row_exists") if "_row_exists" in df.columns else F.lit(1)
    return df.withColumn("_row_exists", F.when(where, F.lit(0)).otherwise(mask))


def read_with_mask(df: DataFrame) -> DataFrame:
    """``df`` without the rows a lightweight DELETE masked.

    A file written without the mask (an INSERT after the DELETE) reads
    it as NULL under the masked files' schema: its rows exist."""
    if "_row_exists" in df.columns:
        exists = F.coalesce(F.col("_row_exists"), F.lit(1)) == 1
        return df.filter(exists).drop("_row_exists")
    return df


def drop_partition(df: DataFrame, partition_col: str, value) -> DataFrame:
    """ALTER TABLE DROP PARTITION (lecture_16.md:114-152)."""
    return df.filter(F.col(partition_col) != F.lit(value))


def replace_partition(
    target: DataFrame, source: DataFrame, partition_col: str, value
) -> DataFrame:
    """REPLACE PARTITION … FROM TABLE (lecture_16.md:211-327)."""
    keep = target.filter(F.col(partition_col) != F.lit(value))
    incoming = source.filter(F.col(partition_col) == F.lit(value))
    return keep.unionByName(incoming)


def ttl_expire(df: DataFrame, ttl_predicate: Column) -> DataFrame:
    """TTL delete (lecture_14.md:217-242): drop rows past their TTL."""
    return df.filter(~ttl_predicate)
