"""AggregateFunction / -State / -Merge columns (SURVEY.md §7 hard part 1).

ClickHouse persists partial-aggregate state in typed columns
(``AggregateFunction(uniq, UInt64)``) written by ``uniqState`` and read
back with ``uniqMerge``/``finalizeAggregation`` (reference
lectures/lecture_04.md:113-120, lecture_07.md:495-546,
lecture_13.md:57-94). The Spark-native equivalent for ``uniq`` is the
DataSketches HLL surface: ``hll_sketch_agg`` produces a binary,
mergeable sketch column; ``hll_union_agg`` + ``hll_sketch_estimate``
merge and finalize. The sketch is exact at low per-group cardinality
(sparse mode, which at the lg_k=14 default holds through a few
thousand distincts per group) and ~1% error beyond — the same
contract as CH ``uniq``.

For the merge-idempotent aggregates (sum/count/min/max —
``SimpleAggregateFunction``) no sketch is needed: the partial IS the
state; re-aggregate with the matching merge function
(sum→sum, count→sum, min→min, max→max), as the Summing-engine
view already does.

This is what makes the MV → AggregatingMergeTree pattern work at
100 TB: each inserted block appends O(groups) sketch rows, never
rescanning history; reads merge states instead of raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def uniq_state(col: str | Column, lg_k: int = 14) -> Column:
    """``uniqState(col)`` → binary HLL sketch (AggregateFunction value)."""
    return F.hll_sketch_agg(col, F.lit(lg_k))


def uniq_merge(state_col: str | Column) -> Column:
    """``uniqMerge(state)`` → merged estimate across state rows."""
    return F.hll_sketch_estimate(F.hll_union_agg(state_col))


def uniq_exact_state(col: str | Column) -> Column:
    """``uniqExactState(col)`` → the sorted distinct value set — the
    EXACT mergeable state (CH stores the value set too; memory grows
    with cardinality, which is the price of exactness at 100 TB — the
    HLL :func:`uniq_state` is the bounded-memory trade). Sorted so the
    state VALUE is deterministic across partition orders."""
    return F.array_sort(F.collect_set(col))


def uniq_exact_merge(state_col: str | Column) -> Column:
    """``uniqExactMerge(state)`` → exact distinct count across states."""
    return F.size(F.array_distinct(F.flatten(F.collect_list(state_col))))


def aggregating_target(
    block: DataFrame,
    keys: list[str],
    uniq_cols: dict[str, str],
    lg_k: int = 14,
    exact: bool = False,
) -> DataFrame:
    """Transform one inserted block into AggregatingMergeTree target rows:
    one state per (keys, uniq column) — HLL sketch by default,
    ``exact=True`` for uniqExact value-set states. Append-only;
    per-block semantics (lecture_13.md:7-24 — no merge with existing
    target data)."""
    mk = uniq_exact_state if exact else (lambda c: uniq_state(c, lg_k))
    return block.groupBy(*keys).agg(
        *[mk(src).alias(out) for out, src in uniq_cols.items()]
    )


def read_aggregating_final(target: DataFrame, keys: list[str], state_cols: list[str]) -> DataFrame:
    """``SELECT ... FROM agg_tbl FINAL``-equivalent read: merge all
    persisted states per key (lecture_07.md:516-546)."""
    return target.groupBy(*keys).agg(
        *[uniq_merge(c).alias(c) for c in state_cols]
    )
