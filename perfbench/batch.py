"""``batch_pipeline``: registry DataFrame queries into the noop sink.

One client runs the registry queries sequentially, the way ``bench.py``
does: ``all_queries()[name](spark, sf_dir)`` written to the noop sink,
``clearCache()`` between queries. The seed sets the order. Shuffles,
operator execution and the eager materialization barriers of the
pipeline operators take nearly all the time; there is no SQL text, no
HTTP and no write, so a front-end or write-path change should not move
it.

Before timing, one pass collects every query and compares it with its
DuckDB oracle (row count, column names, and the order-insensitive value
hash of ``tools/check_oracles.py``); that pass is also the warm-up.
"""

from __future__ import annotations

import random
import statistics
import time

from perfbench.common import (
    Outcome,
    duckdb_over,
    geomean,
    hd_median,
    latency_summary,
    per_key_geomean_ms,
)

SF = 0.1
QUERIES = (
    "q01_pricing_summary",
    "q06_range_revenue",
    "h03_shipping_priority",
    "h09_product_profit",
    "q21_window_rownum",
    "q75_window_funnel",
    "x02_minhash_pairs",
    "x10_ngram_jaccard_block",
    "x68_winnowing_dups",
    "x60_pq_adc_topk",
    "x42_ann_recall_multiprobe",
    "x17_pii_redaction",
    "x47_curation_funnel",
    "x27_bm25_topk",
    "x104_cohort_retention",
)


def query_order(seed: int) -> list[str]:
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


def oracle_mismatch(sdf, odf) -> str | None:
    """The oracle gate's comparison: rows, columns, value hash."""
    from tools.check_oracles import frame_hash

    if len(sdf) != len(odf):
        return f"rows {len(sdf)} != {len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return f"columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    if frame_hash(sdf) != frame_hash(odf):
        return "value hash mismatch"
    return None


def check_against_oracles(spark, data_dir: str, order: list[str], out: Outcome) -> None:
    from otus_clickhouse_spark.queries import all_oracles, all_queries

    qs, oracles = all_queries(), all_oracles()
    con = duckdb_over(data_dir)
    try:
        for name in order:
            sdf = qs[name](spark, data_dir).toPandas()
            spark.catalog.clearCache()
            problem = oracle_mismatch(sdf, con.sql(oracles[name]).df())
            if problem:
                out.mismatch(f"batch.{name}", problem)
    finally:
        con.close()


def run(session, seed: int, seconds: float) -> Outcome:
    from otus_clickhouse_spark.queries import all_queries

    out = Outcome()
    data_dir = session.make_data(SF)
    spark = session.start_spark()
    order = query_order(seed)
    with session.phase("setup.warmup_s"):
        check_against_oracles(spark, data_dir, order, out)
    qs = all_queries()
    tracer = session.tracer

    samples: list[tuple[str, float]] = []
    build_s = 0.0
    passes: list[float] = []
    session.begin_timed()
    t0 = time.perf_counter()
    while not passes or time.perf_counter() < t0 + seconds:
        p0 = time.perf_counter()
        for name in order:
            with tracer.op("query"):
                q0 = time.perf_counter()
                with tracer.span("queries.build"):
                    df = qs[name](spark, data_dir)
                build_s += time.perf_counter() - q0
                df.write.format("noop").mode("overwrite").save()
                spark.catalog.clearCache()
                samples.append((name, 1000.0 * (time.perf_counter() - q0)))
        passes.append(time.perf_counter() - p0)
    wall = time.perf_counter() - t0
    session.end_timed(len(samples), wall)
    out.attempted = len(samples)

    by_query: dict[str, list[float]] = {}
    for name, ms in samples:
        by_query.setdefault(name, []).append(ms)
    medians_s = {k: statistics.median(v) / 1000.0 for k, v in by_query.items()}
    out.metrics = {
        "setup_s": (session.setup_s, "s"),
        "query_p50_ms": (hd_median([ms for _n, ms in samples]), "ms"),
        "op_geomean_ms": (per_key_geomean_ms(samples), "ms"),
        "ops_per_s": (len(samples) / wall, "1/s"),
        "peak_rss_mb": (session.peak_rss_mb, "MB"),
    }
    out.detail = {
        "passes": len(passes),
        "timed_wall_s": wall,
        "batch_pass_s": statistics.median(passes),
        "batch_geomean_s": geomean(list(medians_s.values())),
        "query_latency": latency_summary([ms for _n, ms in samples]),
        "queries.build_s_per_pass": build_s / len(passes),
        **{f"batch.q.{k}_s": v for k, v in sorted(medians_s.items())},
    }
    return out
