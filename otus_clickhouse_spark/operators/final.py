"""FINAL views: MergeTree-family collapse semantics at read time.

The reference defines each engine's merge contract in
lectures/lecture_07.md:362-790 and tests them as golden cases in
homeworks/hw05.md:11-233. ClickHouse applies these lazily during
background merges and exactly under ``SELECT … FINAL``; we reproduce the
``FINAL`` (fully-merged) semantics as declarative DataFrame rewrites, so
Catalyst plans them (window or partial-agg) and they scale with the data.

- ReplacingMergeTree: keep the last (or highest-``version``) row per
  ORDER-BY key — the reference itself shows the row_number() rewrite at
  lecture_07.md:582-609.
- SummingMergeTree: sum the numeric columns per key, arbitrary value for
  the rest (we pick ``first`` and document it; lecture_07.md:430-493).
- CollapsingMergeTree(sign): +1/-1 pairs cancel; a group survives iff
  sum(sign) > 0 and its surviving state is the last +1 row
  (lecture_07.md:680-736).
- VersionedCollapsingMergeTree(sign, version): pairs cancel per
  (key, version) (lecture_07.md:738-790).
- AggregatingMergeTree: per-key re-aggregation of raw rows — our stand-in
  for -State columns per SURVEY.md §7 "hard parts" (lecture_07.md:495-546).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def replacing_final(df: DataFrame, keys: list[str], version: str | None = None) -> DataFrame:
    """ReplacingMergeTree FINAL (lecture_07.md:551-678).

    One shuffle on the sort key; at cluster scale this is the same
    hash-partition the table would be bucketed by, so with bucketed
    storage the exchange is elided.
    """
    order = [F.col(version).desc()] if version else [F.lit(1).asc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    if version:
        rn = F.row_number().over(w)
    else:
        # "last inserted row" — without an insert-order column Spark has no
        # stable tiebreak; any row of the group is a valid FINAL result.
        rn = F.row_number().over(w)
    return df.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


def summing_final(
    df: DataFrame, keys: list[str], sum_columns: list[str] | None = None
) -> DataFrame:
    """SummingMergeTree FINAL (lecture_07.md:430-493): groupBy(key).sum.

    Map-side partial aggregation makes this a combiner-friendly single
    shuffle. Non-summed, non-key columns get ``first`` ("any value" in
    the reference contract — lecture_07.md:476 documents arbitrariness).
    """
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.NumericType,)) and f.name not in keys
    }
    sums = sum_columns or sorted(numeric)
    others = [c for c in df.columns if c not in keys and c not in sums]
    aggs = [F.sum(c).alias(c) for c in sums] + [F.first(c).alias(c) for c in others]
    return df.groupBy(*keys).agg(*aggs).select(*df.columns)


def collapsing_final(df: DataFrame, keys: list[str], sign: str) -> DataFrame:
    """CollapsingMergeTree FINAL (lecture_07.md:680-736).

    A key survives iff sum(sign) > 0; the surviving state is the last
    ``sign=+1`` row. Implemented as one aggregation: max_by over state
    rows + a HAVING on the sign sum — single shuffle, combiner-friendly.
    """
    value_cols = [c for c in df.columns if c not in keys and c != sign]
    aggs = [
        F.max_by(F.struct(*value_cols), F.when(F.col(sign) == 1, F.lit(1)).otherwise(F.lit(0))).alias("__state"),
        F.sum(sign).alias("__s"),
    ]
    out = df.groupBy(*keys).agg(*aggs).filter(F.col("__s") > 0)
    return out.select(*keys, *[F.col(f"__state.{c}").alias(c) for c in value_cols]).withColumn(
        sign, F.lit(1)
    ).select(*df.columns)


def versioned_collapsing_final(
    df: DataFrame, keys: list[str], sign: str, version: str
) -> DataFrame:
    """VersionedCollapsingMergeTree FINAL (lecture_07.md:738-790).

    +1/-1 rows with equal (key, version) cancel pairwise; unmatched rows
    survive. Cancellation per (key, version, |extra state|) is exactly a
    signed count: keep groups where sum(sign) != 0, replicated min(1, n)
    times with the state of the positive row.
    """
    group = [*keys, version]
    value_cols = [c for c in df.columns if c not in group and c != sign]
    out = (
        df.groupBy(*group)
        .agg(
            F.sum(sign).alias("__s"),
            F.max_by(F.struct(*value_cols), F.col(sign)).alias("__state"),
        )
        .filter(F.col("__s") != 0)
    )
    return out.select(
        *keys,
        F.col(version).alias(version),
        *[F.col(f"__state.{c}").alias(c) for c in value_cols],
        F.when(F.col("__s") > 0, F.lit(1)).otherwise(F.lit(-1)).alias(sign),
    ).select(*df.columns)


def aggregating_final(df: DataFrame, keys: list[str]) -> DataFrame:
    """AggregatingMergeTree stand-in: re-aggregate raw rows per key.

    Per SURVEY.md §7, -State columns have no portable Spark analogue;
    numeric columns are summed (callers needing uniq-state use
    approx_count_distinct over the raw rows instead)."""
    return summing_final(df, keys)


def final_view(df: DataFrame, td) -> DataFrame:
    """Dispatch on TableDef.engine → the FINAL-collapsed DataFrame. An
    expression key (``ORDER BY (k, toDate(d))``) collapses on its value,
    held in a hidden column for the collapse (``TableDef.keyed``)."""
    df, keys, hidden = td.keyed(df, "order")
    if td.engine == "ReplacingMergeTree":
        out = replacing_final(df, keys, td.version)
    elif td.engine == "SummingMergeTree":
        out = summing_final(df, keys, list(td.sum_columns) or None)
    elif td.engine == "CollapsingMergeTree":
        out = collapsing_final(df, keys, td.sign or "sign")
    elif td.engine == "VersionedCollapsingMergeTree":
        out = versioned_collapsing_final(df, keys, td.sign or "sign", td.version or "version")
    elif td.engine == "AggregatingMergeTree":
        out = aggregating_final(df, keys)
    else:
        out = df
    return out.drop(*hidden)
