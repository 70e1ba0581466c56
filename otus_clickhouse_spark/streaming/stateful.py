"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no event-time state machine (ClickHouse handles
lateness with versioned upserts — SURVEY.md T5); this is the
idiomatic-Spark superset (T6): arbitrary per-key state with timeouts,
the building block for streaming sessionization, running dedup, and
incremental counters that a training-data ingest pipeline needs.

State is per grouping key and lives in the state store (RocksDB/HDFS-
backed on a cluster), so the operator scales with keys × state size,
not stream length. The pandas batches arrive Arrow-encoded.
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _running_counter(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-key running event count + value sum across micro-batches."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"key": [key[0]], "n_events": [n], "sum_value": [total]})


def running_counts(stream: DataFrame, key_col: str = "user_id", value_col: str = "value") -> DataFrame:
    """Streaming running aggregate with explicit keyed state.

    Output mode must be ``update``. Equivalent batch shape:
    ``groupBy(key).agg(count, sum)`` — but incremental across
    micro-batches with O(keys) state.
    """
    from pyspark.sql import functions as F

    src = stream.select(F.col(key_col).alias("key"), F.col(value_col).alias("value"))
    return src.groupBy("key").applyInPandasWithState(
        _running_counter,
        outputStructType="key long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _funnel_update_factory(n_conds: int, window_us: int | None):
    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        # state: chain-start micros per level, -1 = not reached (the
        # same greedy max-start machine as operators.behavioral —
        # incremental because the fold is left-to-right over time)
        st = list(state.get) if state.exists else [-1] * n_conds
        for pdf in pdfs:
            pdf = pdf.sort_values("__ts_us")
            for ts, mask in zip(pdf["__ts_us"], pdf["__mask"]):
                prev = list(st)
                for i in range(n_conds):
                    if not (mask >> i) & 1:
                        continue
                    if i == 0:
                        st[0] = max(st[0], int(ts))
                    elif prev[i - 1] >= 0 and (
                        window_us is None or ts - prev[i - 1] <= window_us
                    ):
                        st[i] = max(st[i], prev[i - 1])
        state.update(tuple(st))
        level = 0
        for i in range(n_conds):
            if st[i] >= 0:
                level = i + 1
        yield pd.DataFrame({"key": [key[0]], "level": [level]})

    return update


def streaming_funnel(
    stream: DataFrame,
    conds_sql: list[str],
    window_seconds: float | None = None,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming windowFunnel: per-user funnel level maintained across
    micro-batches (T6-family custom stateful operator — the streaming
    counterpart of operators.behavioral.window_funnel).

    The condition mask is evaluated JVM-side before the stateful stage,
    so the Python hop carries only (key, ts, mask). State is O(levels)
    per user in the state store; each batch folds its events in time
    order, so levels are exact for per-key in-order delivery (late
    cross-batch events are the same limitation every stateful stream
    has without event-time retraction). Output mode: update.
    """
    mask = " + ".join(f"IF(({c}), {1 << i}, 0)" for i, c in enumerate(conds_sql))
    src = stream.selectExpr(
        f"{key_col} AS key",
        f"unix_micros(CAST({ts_col} AS TIMESTAMP)) AS __ts_us",
        f"CAST({mask} AS INT) AS __mask",
    )
    window_us = None if window_seconds is None else int(window_seconds * 1_000_000)
    return src.groupBy("key").applyInPandasWithState(
        _funnel_update_factory(len(conds_sql), window_us),
        outputStructType="key long, level int",
        stateStructType=", ".join(f"s{i} long" for i in range(len(conds_sql))),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_window_stats(
    stream: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Built-in session windows over a stream (T6's native complement
    to the applyInPandasWithState operators above): per (key, session)
    event count and value total, where a session extends while
    consecutive events arrive within ``gap`` of each other INCLUSIVE:
    Spark's per-event [t, t+gap] windows merge on touch, so an event
    landing exactly ``gap`` after the previous one still merges (pinned
    by test; the same `> gap`-starts-new rule as the batch sessionize
    in pipeline/events.py).

    Entirely JVM-side — no Python hop: the session assignment lives in
    the streaming state store keyed by (key, window), scaling with
    ACTIVE sessions, not stream length. Emits ``session_start`` as
    microsecond text so batch replays hash-match engine-independently
    (timestamps stay NTZ end to end; no timezone crosses the plan).
    """
    from pyspark.sql import functions as F

    return (
        stream.groupBy(F.session_window(ts_col, gap), key_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            # integer-exact sum (the x96 discipline): per-event values
            # integer-ize to centi-units before summing so float
            # accumulation ORDER (which differs between the streaming
            # state store and any batch replay) cannot move a session
            # total landing within one ulp of a 2dp boundary
            F.round(
                F.sum(F.round(F.col(value_col) * 100).cast("bigint")) / 100.0, 2
            ).alias("total_value"),
        )
        .select(
            F.col(key_col),
            F.date_format(
                F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
            ).alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def streaming_kmv_distinct(
    stream: DataFrame,
    key_col: str = "event_type",
    value_col: str = "user_id",
    num_hashes: int = 8,
) -> DataFrame:
    """Streaming distinct-value estimate with EXACT batch parity: the
    KMV estimator (x126's md5-affine minhash arithmetic) maintained as
    per-key per-permutation minima in the streaming state store —
    min() is order-insensitive and exactly mergeable, so the streaming
    result is bit-identical to the batch computation over the same
    events (the parity HLL sketches cannot give, since their merge
    order surfaces in register ties on some engines). State per key is
    ``num_hashes`` bigints + a count — O(keys), never O(stream).

    Entirely JVM-side: the hash columns are map-side expressions and
    the groupBy runs as a built-in streaming aggregation (complete
    mode). Emits per key: ``n_events`` and ``distinct_est`` (4dp,
    integer-ized basis points before the divide so replays hash-match
    engine-independently)."""
    from pyspark.sql import functions as F

    from otus_clickhouse_spark.pipeline.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
    )

    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    src = stream.select(
        F.col(key_col),
        *[
            ((h * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)).alias(
                f"__h{i}"
            )
            for i in range(num_hashes)
        ],
    )
    agg = src.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        *[F.min(f"__h{i}").alias(f"__m{i}") for i in range(num_hashes)],
    )
    est = sum(
        (F.lit(float(MINHASH_P)) / (F.col(f"__m{i}") + 1) - 1)
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return agg.select(
        key_col,
        "n_events",
        (F.round(est * 10000).cast("bigint") / 10000.0).alias("distinct_est"),
    )
