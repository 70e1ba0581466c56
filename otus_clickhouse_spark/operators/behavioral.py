"""Behavioral-analytics aggregates: windowFunnel / sequenceMatch /
retention / topK / sumMap / entropy / deltaSum.

ClickHouse's parametric-aggregate family (the two-paren syntax the
course introduces at lectures/lecture_06.md:57-59; semantics per the
public ClickHouse docs for each function). None of these exist as
Spark builtins; each is expressed as a composition of built-in
DataFrame/SQL operators so the whole thing stays inside whole-stage
codegen — no Python UDFs.

Scale notes (100 TB design):
- ``window_funnel`` / ``sequence_match`` buffer one user's events as a
  sorted array inside an aggregate (exactly what ClickHouse's own
  implementation does per group); the shuffle key is the user column,
  so data is partitioned by user and no single executor ever holds
  more than its users' events. Skewed mega-users are the same hazard
  ClickHouse has; salt upstream if one user is >executor-memory.
- ``top_k`` / ``sum_map`` / ``entropy`` are two-level exact
  aggregations (partial map-side combine on (group, value) first), so
  the big shuffle carries one row per distinct (group, value), not per
  event.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from otus_clickhouse_spark.functions.clickhouse import frame_expr

__all__ = [
    "window_funnel_expr",
    "window_funnel",
    "sequence_match",
    "sequence_count_expr",
    "sequence_count",
    "retention",
    "top_k",
    "sum_map",
    "entropy",
    "delta_sum",
    "histogram",
]


def window_funnel_expr(
    ts_sql: str, conds_sql: list[str], window_seconds: float | None = None
) -> str:
    """SQL aggregate expression implementing ClickHouse ``windowFunnel``.

    Returns the max funnel level reached: the largest ``k`` such that
    events matching ``conds_sql[0..k-1]`` occur at non-decreasing
    timestamps (distinct events) with ``last.ts - first.ts <= window``.

    Implementation: sort the group's events by time, then run a
    greedy state machine with ``aggregate()`` (a JVM-side higher-order
    function). State = one chain-start timestamp per level, keeping
    the *maximum* feasible start; a later start can only loosen the
    window constraint for future extensions, so max-start per level is
    dominant and the greedy pass is exact. All levels update from the
    pre-event state, so a single event never advances two levels of
    the same chain.
    """
    k = len(conds_sql)
    if k < 1:
        raise ValueError("windowFunnel needs at least one condition")
    mask = " + ".join(f"IF(({c}), {1 << i}, 0)" for i, c in enumerate(conds_sql))
    if window_seconds is None:
        wcond = "TRUE"
    else:
        wcond = f"e.ts - st[i - 1] <= {int(window_seconds * 1_000_000)}"
    return f"""
    aggregate(
      array_sort(collect_list(named_struct(
        'ts', unix_micros(CAST({ts_sql} AS TIMESTAMP)), 'mask', CAST({mask} AS INT)))),
      array_repeat(CAST(NULL AS BIGINT), {k}),
      (st, e) -> transform(st, (s, i) -> CASE
          WHEN i = 0 THEN
            IF((e.mask & 1) <> 0, greatest(coalesce(s, e.ts), e.ts), s)
          WHEN (e.mask & shiftleft(1, i)) <> 0
               AND st[i - 1] IS NOT NULL AND ({wcond})
            THEN greatest(coalesce(s, st[i - 1]), st[i - 1])
          ELSE s END),
      st -> CAST(size(filter(st, s -> s IS NOT NULL)) AS INT)
    )"""


def window_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    conds_sql: list[str],
    window_seconds: float | None = None,
    level_col: str = "level",
) -> DataFrame:
    """Per-user funnel level: ``(user_col, level)``.

    ``conds_sql`` are SQL boolean expressions over ``df``'s columns,
    ordered by funnel step (e.g. ``["event_type = 'view'", …]``).
    """
    expr = window_funnel_expr(ts_col, conds_sql, window_seconds)
    return df.groupBy(user_col).agg(frame_expr(df, expr).alias(level_col))


def sequence_match(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    pattern_conds: list[str],
    matched_col: str = "matched",
) -> DataFrame:
    """ClickHouse ``sequenceMatch('(?1).*(?2)…')``: did events matching
    each condition occur in order (any gaps allowed)? Per-user boolean.

    The strict-order pattern is exactly a windowFunnel with an
    unbounded window reaching the final level.
    """
    lvl = window_funnel(df, user_col, ts_col, pattern_conds, None, level_col="__lvl")
    return lvl.select(
        user_col, (F.col("__lvl") == len(pattern_conds)).alias(matched_col)
    )


def retention(
    df: DataFrame, user_col: str, conds_sql: list[str]
) -> DataFrame:
    """ClickHouse ``retention(cond1, …)`` per user: ``r1 = cond1 fired``,
    ``r_i = cond1 AND cond_i fired`` — one 0/1 column per condition
    (``r1 … rN``). Single map-side-combinable aggregation."""
    flags = [
        F.max(frame_expr(df, f"IF(({c}), 1, 0)")).alias(f"__m{i}")
        for i, c in enumerate(conds_sql)
    ]
    agg = df.groupBy(user_col).agg(*flags)
    cols = [F.col(user_col)] + [
        (
            F.col("__m0")
            if i == 0
            else F.least(F.col("__m0"), F.col(f"__m{i}"))
        ).alias(f"r{i + 1}")
        for i in range(len(conds_sql))
    ]
    return agg.select(*cols)


def top_k(
    df: DataFrame,
    value_col: str,
    k: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """ClickHouse ``topK(k)(col)`` as rows: the k most frequent values
    (per group), with deterministic count-desc / value-asc order.
    Exact two-level aggregation: the heavy shuffle is on
    (group, value) with map-side partial counts; the per-group top-k
    window only sees one row per distinct value.
    """
    group_cols = group_cols or []
    counts = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("cnt").desc(), F.col(value_col).asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(*group_cols, value_col, F.col("cnt"), F.col("rnk"))
    )


def sum_map(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    keys_col: str = "keys",
    values_col: str = "vals",
) -> DataFrame:
    """ClickHouse ``sumMap(key, value)``: per group, sum values per key
    and return key-sorted parallel arrays — via a (group, key) pre-agg
    so the wide shuffle carries distinct keys, then one slim reassembly."""
    per_key = df.groupBy(*group_cols, key_col).agg(F.sum(value_col).alias("__s"))
    g = per_key.groupBy(*group_cols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col(key_col).alias("k"), F.col("__s").alias("v")))
        ).alias("__p")
    )
    return g.select(
        *group_cols,
        F.expr("transform(__p, p -> p.k)").alias(keys_col),
        F.expr("transform(__p, p -> p.v)").alias(values_col),
    )


def entropy(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out_col: str = "entropy",
) -> DataFrame:
    """ClickHouse ``entropy(col)``: Shannon entropy (log2) of the value
    distribution. Two-level exact agg — counts per (group, value)
    first, then ``-Σ p·log2(p)`` over the distinct-value rows."""
    group_cols = group_cols or []
    counts = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("c"))
    total = F.sum("c")
    # -Σ (c/n) log2(c/n) = log2(n) - Σ c·log2(c) / n
    ent = (
        F.log2(total) - F.sum(F.col("c") * F.log2(F.col("c"))) / total
    ).alias(out_col)
    return counts.groupBy(*group_cols).agg(ent)


def delta_sum(
    df: DataFrame,
    part_col: str,
    ts_col: str,
    value_col: str,
    out_col: str = "delta_sum",
) -> DataFrame:
    """ClickHouse ``deltaSum(value)`` over time order: sum of positive
    increments per partition. One window pass (partitioned — no global
    sort) + one grouped sum."""
    w = Window.partitionBy(part_col).orderBy(ts_col)
    d = df.withColumn("__prev", F.lag(value_col).over(w))
    inc = F.when(
        F.col("__prev").isNotNull() & (F.col(value_col) > F.col("__prev")),
        F.col(value_col) - F.col("__prev"),
    ).otherwise(F.lit(0.0))
    return d.groupBy(part_col).agg(F.sum(inc).alias(out_col))


def sequence_count_expr(
    ts_sql: str, conds_sql: list[str], window_seconds: float | None = None
) -> str:
    """SQL aggregate expression for ClickHouse ``sequenceCount``: the
    number of NON-OVERLAPPING left-to-right matches of the ordered
    condition chain. Same greedy chain machine as
    :func:`window_funnel_expr` plus a counter — when the chain
    completes, the counter increments and the state resets (greedy
    left-most matching maximizes the non-overlap count)."""
    k = len(conds_sql)
    if k < 1:
        raise ValueError("sequenceCount needs at least one condition")
    mask = " + ".join(f"IF(({c}), {1 << i}, 0)" for i, c in enumerate(conds_sql))
    if window_seconds is None:
        wcond = "TRUE"
    else:
        wcond = f"e.ts - acc.st[i - 1] <= {int(window_seconds * 1_000_000)}"
    # the post-event chain state (written twice below: no let-bindings
    # in Spark SQL lambdas; codegen CSE collapses the duplicates)
    new_st = f"""transform(acc.st, (s, i) -> CASE
          WHEN i = 0 THEN
            IF((e.mask & 1) <> 0, greatest(coalesce(s, e.ts), e.ts), s)
          WHEN (e.mask & shiftleft(1, i)) <> 0
               AND acc.st[i - 1] IS NOT NULL AND ({wcond})
            THEN greatest(coalesce(s, acc.st[i - 1]), acc.st[i - 1])
          ELSE s END)"""
    return f"""
    aggregate(
      array_sort(collect_list(named_struct(
        'ts', unix_micros(CAST({ts_sql} AS TIMESTAMP)), 'mask', CAST({mask} AS INT)))),
      named_struct('st', array_repeat(CAST(NULL AS BIGINT), {k}),
                   'c', CAST(0 AS BIGINT)),
      (acc, e) -> named_struct(
        'st', CASE WHEN ({new_st})[{k - 1}] IS NOT NULL
                   THEN array_repeat(CAST(NULL AS BIGINT), {k})
                   ELSE ({new_st}) END,
        'c', acc.c + IF(({new_st})[{k - 1}] IS NOT NULL, CAST(1 AS BIGINT),
                        CAST(0 AS BIGINT))),
      acc -> acc.c
    )"""


def sequence_count(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    conds_sql: list[str],
    window_seconds: float | None = None,
    count_col: str = "n_matches",
) -> DataFrame:
    """Per-user non-overlapping ordered-sequence match count."""
    expr = sequence_count_expr(ts_col, conds_sql, window_seconds)
    return df.groupBy(user_col).agg(frame_expr(df, expr).alias(count_col))


def histogram(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-width histogram: ``(…group, bin, lo, hi, height)``.

    ClickHouse's ``histogram(n)(x)`` builds *adaptive* bins from a
    streaming sample (bin edges are non-deterministic across runs);
    this deterministic equi-width variant keeps the same role with
    reproducible output. Two passes over the (group, value) pairs:
    one min/max agg, one bucketed count — both map-side combinable.
    """
    group_cols = group_cols or []
    rng = df.groupBy(*group_cols).agg(
        F.min(value_col).alias("__lo"), F.max(value_col).alias("__hi")
    )
    joined = df.join(F.broadcast(rng), on=group_cols) if group_cols else df.crossJoin(
        F.broadcast(rng)
    )
    width = (F.col("__hi") - F.col("__lo")) / n_bins
    bin_ = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.col("__lo")) / width).cast("int"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    return (
        joined.withColumn("bin", bin_)
        .groupBy(*group_cols, "bin", "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("height"))
        .select(
            *group_cols,
            F.col("bin").cast("bigint").alias("bin"),
            # raw doubles, not round(x, 4): the bounds are derived by
            # exact IEEE arithmetic that any engine reproduces, while
            # ROUND implementations disagree on .5-boundary doubles
            (F.col("__lo") + F.col("bin") * width).alias("lo"),
            (F.col("__lo") + (F.col("bin") + 1) * width).alias("hi"),
            F.col("height"),
        )
    )
