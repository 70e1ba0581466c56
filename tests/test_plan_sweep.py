"""Whole-registry plan sweep: every driver-contract query stays JVM-side.

The scale contract (README "Scale design") says hot paths never drop
into Python row evaluation — ClickHouse-named functions are inlined
Catalyst expressions, pipeline operators are built-in SQL exprs, and
Pandas UDFs appear only in the multimodal decode stubs (which are not
part of the query registry). This sweep builds every ``queries()``
entry and asserts its PHYSICAL plan contains no Python-eval operator,
so a regression that silently de-optimizes an operator (e.g. a helper
becoming a row-at-a-time UDF) fails CI rather than surfacing as a 10×
slowdown at 100 TB.
"""

import functools
import os
import re

import pytest
from pyspark.sql import functions as F

PYTHON_EVAL_MARKS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
)

# The ONE designed Python boundary: multimodal byte decode is Arrow-
# batched mapInPandas by construction (numpy codec work cannot be a SQL
# expression). Everything downstream of the decode in that query —
# banding, Hamming, grouping — must still be JVM-side, which the
# per-mark allowlist enforces.
PYTHON_ALLOWED = {"x34_media_dedup": {"MapInPandas"}}


@pytest.fixture(scope="module")
def registry_frames(spark, sf_dir):
    """Every registry query's frame, built once for all the sweep checks.

    Built with codegen fallback off, as the codegen check built them, so
    a compile failure in a query's eager build work still raises."""
    from otus_clickhouse_spark.queries import all_queries

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        return {name: fn(spark, sf_dir) for name, fn in sorted(all_queries().items())}
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_all_queries_plan_jvm_side(registry_frames):
    offenders = {}
    for name, df in registry_frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        marks = [m for m in PYTHON_EVAL_MARKS if m in plan]
        marks = [m for m in marks if m not in PYTHON_ALLOWED.get(name, set())]
        if marks:
            offenders[name] = marks
    assert not offenders, f"queries fell back to Python eval: {offenders}"


def test_no_collect_list_in_global_agg(registry_frames):
    """No registry query may collect the whole input into one aggregation
    group: collect_list/collect_set inside a zero-key (global) aggregate
    is a driver-OOM at 100 TB. Keyed collect_list (bounded groups) is
    allowed."""
    offenders = {}
    for name, df in registry_frames.items():
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        for line in opt.splitlines():
            stripped = line.strip()
            if not stripped.startswith("Aggregate ["):
                continue
            # "Aggregate [groupkeys], [aggexprs]" — a global agg has an
            # empty grouping list: "Aggregate [aggexprs]" (one bracket
            # group) or "Aggregate [], [...]".
            grouped = stripped.startswith("Aggregate [") and "], [" in stripped and not stripped.startswith("Aggregate [], [")
            if not grouped and ("collect_list" in stripped or "collect_set" in stripped):
                offenders.setdefault(name, []).append(stripped[:120])
    assert not offenders, f"global-agg collect_list/set found: {offenders}"


def test_no_complex_columns_in_registry_output(registry_frames):
    """Driver-contract queries must emit only scalar columns: the
    correctness harness canonicalizes results via pandas hashing, which
    cannot hash list/struct/map cells (the round-1 q16 failure). Arrays
    are fine internally — join them to strings at the output boundary."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = {}
    for name, df in registry_frames.items():
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"non-scalar output columns: {offenders}"


# Unpartitioned-window allowlist: each entry is a query whose plan
# contains Window operators with an EMPTY partition spec over an input
# that is CONSTANT-BOUNDED by construction — the single task such a
# window funnels through sees O(k) rows regardless of corpus size.
# name -> (max allowed count, why the input is bounded).
UNPARTITIONED_WINDOW_OK = {
    "q72_fill_interpolate_sql": (1, "WITH FILL grid post-agg: rows = fill range (1..8)"),
    "q86_funnel_conversion": (1, "step ladder: rows = number of funnel steps (3)"),
    "x21_mixture_weights": (2, "strata windows post-agg: rows = number of strata"),
    "x25_vocab_build": (1, "rank+coverage over salted-top-N survivors: <= salts*top_n rows"),
    "x27_bm25_topk": (1, "rank AFTER LIMIT: rows <= k"),
    "x36_budget_select": (1, "histogram cumsum: <= `buckets` rows by construction"),
    "x43_nb_classifier": (1, "NB priors n_total: sum over the #classes-row per-class count aggregate (~20 rows)"),
    "x69_nb_calibration": (1, "NB priors n_total: same #classes-row bound as x43"),
    "x49_temperature_mixture": (2, "per-source weight table: rows = number of sources"),
    "x50_passage_retrieval": (1, "rank AFTER LIMIT: rows <= k"),
    "x52_zipf_diagnostic": (1, "regression input AFTER LIMIT 1000 (TakeOrderedAndProject)"),
    "x86_ngram_novelty": (1, "cumulative over the #buckets-row novelty curve (10 rows)"),
    "x91_neyman_allocation": (1, "N*sigma normalization over the #strata aggregate (~20 rows)"),
    "x95_hybrid_rrf": (2, "rank AFTER LIMIT in the BM25 branch and after the bounded 2x20-row fusion"),
    "x89_quality_deciles": (1, "cumulative walk over the global 4dp-quality histogram (<= ~10k rows)"),
    "x106_gate_disagreement": (1, "global-median cumulative walk over the 4dp avg_nll value histogram (range-bounded, never row-bounded; the literal _hist_median key folds away)"),
    "x110_vocab_oov": (1, "vocab_build rank+coverage over salted-top-N survivors (<= salts*top_n rows), same bound as x25"),
    "x114_activity_concentration": (2, "rank cumulative over the (activity value, n_users) histogram — distinct-value-bounded; x2 consumers (gini terms + top-decile overlap)"),
    "x115_quality_ks_drift": (1, "global cdf cumulative over the distinct-4dp-quality histogram (range-bounded)"),
    "x125_token_waterfill": (2, "water-fill rank+cumsum over the #sources-row token aggregate (~20 rows)"),
    "x129_eval_quota": (1, "largest-remainder seat rank over the #sources-row count aggregate (~20 rows)"),
    "x131_rfm_segments": (6, "three quartile-boundary cumulative walks over per-metric VALUE histograms (distinct-value-bounded, never user rows) x2 consumers (cells + share total)"),
}


def test_no_unpartitioned_window_over_unbounded_input(registry_frames):
    """The x25 regression class (r6 verdict ask #3): a Window with an
    empty partition spec moves ALL input rows to one task — fine over a
    constant-bounded input (post-LIMIT rank, a histogram, a strata
    table), fatal over anything corpus-sized. Every registry query's
    optimized plan is walked for unpartitioned Window operators; any
    query not on the justified allowlist fails, and allowlist entries
    that stop triggering fail too (the list can't go stale)."""

    def iter_nodes(p):
        yield p
        it = p.children().iterator()
        while it.hasNext():
            yield from iter_nodes(it.next())

    offenders, seen = {}, {}
    for name, df in registry_frames.items():
        opt = df._jdf.queryExecution().optimizedPlan()
        n = sum(
            1
            for node in iter_nodes(opt)
            if node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        )
        if not n:
            continue
        seen[name] = n
        allowed = UNPARTITIONED_WINDOW_OK.get(name, (0, ""))[0]
        if n > allowed:
            offenders[name] = n
    assert not offenders, (
        f"unpartitioned Window over potentially unbounded input: {offenders} — "
        "repartition the window or justify a constant bound in the allowlist"
    )
    stale = set(UNPARTITIONED_WINDOW_OK) - set(seen)
    assert not stale, f"allowlist entries no longer triggering (remove them): {stale}"


# Low-cardinality window-partition keys are the unpartitioned-window
# scale-killer wearing a hat — every row of a key funnels into ONE
# task, which then sorts it (a multi-TB single-task sort for a big
# source at 100 TB). r9 verdict ask #2: the column set is DERIVED, not
# hand-maintained — a column is low-card iff its fixture distinct
# count is both small AND flat across the 100x sf0.001 -> sf0.1 step
# (a scaling key like user_id grows 15 -> 1500 across that step; a
# categorical like source stays at 20). A future fixture column with
# these properties enters the guard automatically.
_LOW_CARD_THRESHOLD = 1024
_CARD_SF_LO = "/root/testdata/sf0.001"
_CARD_SF_HI = "/root/testdata/sf0.1"
_FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@functools.lru_cache(maxsize=1)
def fixture_low_card_cols() -> frozenset:
    import duckdb

    con = duckdb.connect()
    out = set()
    for tbl in _FIXTURE_TABLES:
        hi, lo = (f"{d}/{tbl}.parquet" for d in (_CARD_SF_HI, _CARD_SF_LO))
        if not (os.path.exists(hi) and os.path.exists(lo)):
            continue
        for (col,) in con.execute(
            f"SELECT column_name FROM (DESCRIBE SELECT * FROM '{hi}')"
        ).fetchall():
            n_hi = con.execute(
                f'SELECT count(DISTINCT "{col}") FROM \'{hi}\''
            ).fetchone()[0]
            if n_hi > _LOW_CARD_THRESHOLD:
                continue
            n_lo = con.execute(
                f'SELECT count(DISTINCT "{col}") FROM \'{lo}\''
            ).fetchone()[0]
            if n_hi <= 2 * max(n_lo, 1):  # flat across 100x data => categorical
                out.add(col)
    return frozenset(out)


# Registry-emitted categorical ALIASES (computed columns the fixture
# can't measure): dataset splits, banding/bucket/decile labels,
# classifier outputs, packing shards. A new query windowing by one of
# these trips the guard even though the column never appears in a
# fixture table.
DERIVED_LOW_CARD_ALIASES = frozenset(
    {"split", "band", "bucket", "decile", "quartile", "tile", "shard",
     "jaccard_bin", "quality_bin", "predicted", "flag"}
)

# NOT in the set by design: bounded-eval fanout keys (query_id / q_id /
# eval_id — a handful of eval items each fanning out over candidates is
# the documented harness pattern, e.g. x04's brute-force ANN baseline),
# and every key the fixture shows scaling with data (user_id, doc_id,
# cluster ids, order/part/supp keys).


def low_card_cols() -> frozenset:
    return fixture_low_card_cols() | DERIVED_LOW_CARD_ALIASES


def count_low_card_windows(df) -> int:
    """Windows in df's optimized plan whose partition spec references
    ONLY low-cardinality columns (shared by the registry sweep and the
    synthetic red-tests below)."""

    def iter_nodes(p):
        yield p
        it = p.children().iterator()
        while it.hasNext():
            yield from iter_nodes(it.next())

    cols = low_card_cols()
    n = 0
    for node in iter_nodes(df._jdf.queryExecution().optimizedPlan()):
        if node.getClass().getSimpleName() != "Window":
            continue
        ps = node.partitionSpec()
        if ps.isEmpty():
            continue  # the unpartitioned guard owns that case
        refs = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", ps.toString()))
        if refs and refs <= cols:
            n += 1
    return n

# Allowlist: queries whose low-card-partitioned windows run over inputs
# that are BOUNDED by construction, independent of corpus size. Counts
# include logical-plan subtree duplication (an un-reused CTE appears
# once per consumer). name -> (max allowed count, why bounded).
LOW_CARD_WINDOW_OK = {
    "x47_curation_funnel": (
        3,
        "budget histogram cumsum (<=10k 4dp-quality buckets/source, x2 "
        "consumers) + boundary-bucket tie-break (rows tied at ONE quality)",
    ),
    "x115_quality_ks_drift": (
        1,
        "per-source cdf cumulative over the (#sources x distinct-4dp-quality) "
        "grid — histogram-bounded by construction, never corpus rows",
    ),
    "x61_domain_cap": (
        1,
        "phase-2 exact window over salted-top-N survivors: <= salts*cap rows",
    ),
    "x74_mad_outliers": (
        4,
        "_hist_median cumulative walks over (source, value) histograms "
        "(distinct-length-bounded; med + MAD, x2 consumers each)",
    ),
    "x75_quality_quantile_gate": (
        3,
        "quantile histogram cumsum (<=10k buckets/source, x2 consumers) "
        "+ boundary-bucket tie-break (rows tied at ONE quality)",
    ),
    "x83_length_quantiles": (
        1,
        "histogram cumulative walk over (source, n_chars) rows — "
        "distinct-length-bounded, never corpus-sized",
    ),
    # -- entries below entered when the column set became derived (r10):
    "q24_window_rank": (
        1,
        "reference W6 rank/dense_rank demo over the part DIMENSION table "
        "(rows = part count, the small side of every join; not a fact-"
        "table window)",
    ),
    "q58_topk_heavy_hitters": (
        1,
        "rank over the (l_returnflag x l_suppkey) AGGREGATE — key-pair-"
        "bounded post-agg input, never lineitem rows",
    ),
    "q66_limit_by": (
        1,
        "LIMIT BY rank over the (event_type x user_id) AGGREGATE — key-"
        "pair-bounded post-agg input",
    ),
    "q78_topk": (
        1,
        "topK rank over the (bucket x event_type) AGGREGATE — key-pair-"
        "bounded post-agg input (5x5 rows)",
    ),
    "q88_window_suite": (
        1,
        "reference breadth demo: percent_rank/cume_dist/ntile are whole-"
        "partition SEMANTICS (the full partition is the operator's "
        "input by definition); production rank paths use the histogram "
        "forms (x75/x83/x89) instead",
    ),
    "x18_sequence_packing": (
        1,
        "packing's offset-bucketing window runs per hash-uniform shard; "
        "n_shards is the parallelism parameter (sized to the cluster at "
        "100 TB) — per-task input is corpus/n_shards by design",
    ),
}


def test_no_low_cardinality_window_over_unbounded_input(registry_frames):
    """r8 verdict ask #3 + r9 ask #2: walk every registry query's
    optimized plan for Window operators whose partition spec references
    ONLY low-cardinality columns — where the column set is DERIVED from
    the fixtures (small + flat across the 100x SF step) plus the
    registry's categorical aliases, so a NEW low-card column (a future
    `split`, a decile label) trips the guard without anyone editing a
    list. Any query off the justified-bounded allowlist fails, and
    allowlist entries that stop triggering fail too (the list can't go
    stale)."""
    offenders, seen = {}, {}
    for name, df in registry_frames.items():
        n = count_low_card_windows(df)
        if not n:
            continue
        seen[name] = n
        allowed = LOW_CARD_WINDOW_OK.get(name, (0, ""))[0]
        if n > allowed:
            offenders[name] = n
    assert not offenders, (
        f"window partitioned only by low-cardinality keys over potentially "
        f"corpus-sized input: {offenders} — reduce to a histogram/two-phase "
        f"form or justify a constant bound in the allowlist"
    )
    stale = set(LOW_CARD_WINDOW_OK) - set(seen)
    assert not stale, f"allowlist entries no longer triggering (remove them): {stale}"


def test_low_card_column_set_is_derived_from_fixtures(spark):
    """The derived set finds the categorical fixture columns (source,
    lang, label, event_type, l_returnflag) and EXCLUDES every key the
    fixture shows scaling with data (user_id 15 -> 1500 across the
    100x step; doc_id, vec_id, order/part/supp keys)."""
    cols = fixture_low_card_cols()
    assert {"source", "lang", "label", "event_type", "l_returnflag"} <= cols
    assert not cols & {
        "user_id", "doc_id", "vec_id", "event_id", "o_orderkey",
        "l_orderkey", "o_custkey", "c_custkey", "p_partkey", "s_suppkey",
        "l_suppkey", "value", "ts",
    }


def test_low_card_guard_catches_synthetic_split_window(spark, sf_dir):
    """Red-team the guard (r9 verdict ask #2 'done' criterion): a
    window partitioned by a NEW derived categorical alias (`split`) or
    by a fixture categorical (`source`) is flagged; the same window
    keyed by a scaling column (user_id) is not."""
    from pyspark.sql import Window

    from otus_clickhouse_spark.queries import t

    docs = t(spark, sf_dir, "documents").withColumn(
        "split", (F.col("doc_id") % 10 == 0).cast("string")
    )
    by_split = docs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("split").orderBy("doc_id"))
    )
    assert count_low_card_windows(by_split) == 1
    by_source = docs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
    )
    assert count_low_card_windows(by_source) == 1
    ev = t(spark, sf_dir, "events")
    by_user = ev.withColumn(
        "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("ts"))
    )
    assert count_low_card_windows(by_user) == 0


# ---------------------------------------------------------------------------
# AQE pair-expansion collapse guard (r11 verdict ask #2). The x06/x10
# sf1 finding: AQE sizes post-shuffle partitions from the join's INPUT
# bytes, but a bucket-local self-join EXPANDS after the shuffle — a
# small posting/band/block relation coalesces to 1-2 tasks that then
# each produce millions of pairs (x06 342 s, x10 237 s at sf1). The fix
# is an explicit repartition (REPARTITION_BY_COL/NUM shuffles are
# exempt from AQE coalescing); this guard makes the fix a standing
# invariant instead of a per-round rediscovery.
#
# Detection: a SortMergeJoin/ShuffledHashJoin whose left and right key
# COLUMN NAMES are identical (the self-join signature of every pair
# generator: band_key, (block, shingle), fp, gh...) AND whose residual
# condition is the `a < b` unordered-pair filter is an expansion site;
# the first shuffle exchange under each side must not be
# ENSURE_REQUIREMENTS (the only origin AQE will coalesce). Sides with
# no visible exchange (cached/checkpointed input whose partitioning
# already satisfies the join) are fine — AQE cannot coalesce what
# doesn't shuffle. Self-key joins WITHOUT the pair filter (stats
# joined back to the same table, eval fan-outs) are 1-row-per-key
# lookups, not expansions — they are ignored.

SELF_JOIN_COALESCE_OK = {
    # name -> (max flagged self-joins allowed, why the expansion is bounded)
}


def _strip_ids(mk: str) -> tuple:
    return tuple(
        re.sub(r"#\d+L?", "", k).strip() for k in mk.split(",") if k.strip()
    )


def _first_exchanges(node, out):
    name = node.getClass().getSimpleName()
    if name == "ReusedExchangeExec":
        node = node.child()
        name = node.getClass().getSimpleName()
    if name == "ShuffleExchangeExec":
        out.append(node.shuffleOrigin().toString())
        return
    if name in ("BroadcastExchangeExec",):
        return
    it = node.children().iterator()
    while it.hasNext():
        _first_exchanges(it.next(), out)


def count_coalescible_selfjoins(df) -> int:
    """Self-key SMJ/SHJ joins in df's physical plan whose shuffles AQE
    may coalesce (shared by the registry sweep and the red-team test)."""

    def iter_nodes(p):
        yield p
        it = p.children().iterator()
        while it.hasNext():
            yield from iter_nodes(it.next())

    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    n = 0
    for node in iter_nodes(plan):
        name = node.getClass().getSimpleName()
        if name not in ("SortMergeJoinExec", "ShuffledHashJoinExec"):
            continue
        lk = _strip_ids(node.leftKeys().mkString(","))
        rk = _strip_ids(node.rightKeys().mkString(","))
        if not lk or lk != rk:
            continue  # not the self-join pair-expansion signature
        cond = node.condition().toString() if node.condition().isDefined() else ""
        if not re.search(r"#\d+L?\s*<\s*\w+#\d+", cond):
            continue  # no a < b pair filter => per-key lookup, not expansion
        origins: list = []
        it = node.children().iterator()
        while it.hasNext():
            _first_exchanges(it.next(), origins)
        if any(o == "ENSURE_REQUIREMENTS" for o in origins):
            n += 1
    return n


def test_no_aqe_coalescible_pair_expansion_joins(registry_frames):
    offenders, seen = {}, {}
    for name, df in registry_frames.items():
        n = count_coalescible_selfjoins(df)
        if not n:
            continue
        seen[name] = n
        allowed = SELF_JOIN_COALESCE_OK.get(name, (0, ""))[0]
        if n > allowed:
            offenders[name] = n
    assert not offenders, (
        f"self-key join without an AQE-exempt repartition (pair expansion "
        f"will coalesce onto 1-2 tasks at scale): {offenders} — add an "
        f"explicit .repartition(n, keys) on both sides or justify a bound "
        f"in the allowlist"
    )
    stale = set(SELF_JOIN_COALESCE_OK) - set(seen)
    assert not stale, f"allowlist entries no longer triggering (remove them): {stale}"


def test_aqe_collapse_guard_catches_synthetic_plan(spark, sf_dir):
    """Red-team (the ask's 'done' criterion): a bucket-local pair
    self-join WITHOUT the explicit repartition is flagged; the same
    join with REPARTITION_BY_NUM shuffles passes; a normal two-table
    key join is not a self-join signature and is ignored."""
    from otus_clickhouse_spark.queries import t

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = t(spark, sf_dir, "documents").select(
            "doc_id", (F.col("doc_id") % 50).alias("band_key")
        )
        a = docs.select(F.col("doc_id").alias("a"), "band_key")
        b = docs.select(F.col("doc_id").alias("b"), "band_key")
        bad = a.join(b, "band_key").where(F.col("a") < F.col("b"))
        assert count_coalescible_selfjoins(bad) == 1
        good = (
            a.repartition(8, "band_key")
            .join(b.repartition(8, "band_key"), "band_key")
            .where(F.col("a") < F.col("b"))
        )
        assert count_coalescible_selfjoins(good) == 0
        ev = t(spark, sf_dir, "events")
        two_table = ev.join(
            t(spark, sf_dir, "documents"), ev.user_id == F.col("doc_id")
        )
        assert count_coalescible_selfjoins(two_table) == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_registry_codegen_compiles(spark, registry_frames):
    """Codegen-health guard (r7 verdict ask #2): the PQ literal
    transport's registry plans FAILED whole-stage codegen (janino
    InternalCompilerException, 3.5–4.9 MiB task binaries) and silently
    ran interpreted — a 12–15× slowdown invisible to every correctness
    check (x60 43.5 s vs its bit-identical HOF twin at 3.6 s, sf0.01).
    Execute every registry query with ``spark.sql.codegen.fallback=
    false`` so a compile failure RAISES instead of interpreting; the
    noop sink forces full execution without driver-collect cost. (The
    other silent-fallback channel — bytecode above
    ``spark.sql.codegen.hugeMethodLimit`` — downgrades before the
    compile step and cannot be trapped this way; janino errors are the
    observed failure class.)"""
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        failures = {}
        for name, df in registry_frames.items():
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — report every offender
                failures[name] = str(exc).splitlines()[0][:160]
            finally:
                spark.catalog.clearCache()
        assert not failures, (
            f"whole-stage codegen compile failures (these queries run "
            f"interpreted at scale): {failures}"
        )
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")
