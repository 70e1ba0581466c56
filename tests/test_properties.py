"""Property-based checks (hypothesis): randomized inputs vs pure-Python
reference implementations for custom operators whose edge cases are easy
to get wrong — ASOF matching, BPE merge application, sliding-window chunk
geometry, and the progressive-JPEG AC bit machinery. Each example batches
into a single Spark job (or stays JVM-free) so the suite stays fast.
"""

import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

HSET = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------- ASOF join
def _ref_asof(left, right, direction, exact):
    """Brute-force nearest-timestamp match per (key, left_ts)."""
    out = []
    for k, lt in left:
        if direction == "backward":
            cands = [rt for rk, rt in right if rk == k and (rt <= lt if exact else rt < lt)]
            m = max(cands) if cands else None
        else:
            cands = [rt for rk, rt in right if rk == k and (rt >= lt if exact else rt > lt)]
            m = min(cands) if cands else None
        if m is not None:
            out.append((k, lt, m))
    return sorted(out)


@settings(**HSET)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=25
    ),
    right=st.sets(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=25
    ),
    direction=st.sampled_from(["backward", "forward"]),
    exact=st.booleans(),
)
def test_asof_join_matches_bruteforce(spark, left, right, direction, exact):
    """operators.asof.asof_join vs a per-row nearest-match reference —
    right timestamps unique per key (sets) so the match is unambiguous."""
    from otus_clickhouse_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(left, "k int, ts int")
    rdf = spark.createDataFrame(sorted(right), "k int, rts int")
    got = sorted(
        (r.k, r.ts, r.r_rts)
        for r in asof_join(
            ldf, rdf, on=["k"], left_ts="ts", right_ts="rts",
            direction=direction, allow_exact_matches=exact,
        ).collect()
    )
    assert got == _ref_asof(left, right, direction, exact)


# ------------------------------------------------------------- BPE merging
def _ref_bpe_merge(sym, l, r):
    """Sennrich greedy left-to-right whole-symbol merge."""
    toks = sym.split(" ")
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return " ".join(out)


@settings(**HSET)
@given(
    seqs=st.lists(
        st.lists(st.sampled_from(["a", "l", "r", "al", "lr", "alr", "b"]),
                 min_size=1, max_size=10),
        min_size=1,
        max_size=20,
    ),
    rule=st.tuples(st.sampled_from(["a", "l", "al", "lr"]),
                   st.sampled_from(["l", "r", "lr", "al"])),
)
def test_bpe_apply_merge_matches_reference(spark, seqs, rule):
    """pipeline.text.bpe_apply_merge vs the greedy reference, batched
    into one Spark job per example. The alphabet deliberately contains
    symbols that are prefixes/concatenations of each other — the
    cross-boundary cases the naive replace() got wrong."""
    from otus_clickhouse_spark.pipeline.text import bpe_apply_merge

    l, r = rule
    rows = [(" ".join(s),) for s in seqs]
    df = spark.createDataFrame(rows, "sym string")
    got = [
        row.out
        for row in df.select(
            bpe_apply_merge(F.col("sym"), F.lit(l), F.lit(r)).alias("out")
        ).collect()
    ]
    assert got == [_ref_bpe_merge(s, l, r) for (s,) in rows]


# --------------------------------------------------------- chunk geometry
@settings(**HSET)
@given(
    lengths=st.lists(st.integers(1, 300), min_size=1, max_size=8),
    window=st.integers(2, 64),
    data=st.data(),
)
def test_chunk_passages_geometry(spark, lengths, window, data):
    """Every chunk of chunk_passages is exactly the reference token
    slice [i*stride, i*stride+window), the chunk count matches the
    ceil formula, and pids decode back to (doc, chunk)."""
    from otus_clickhouse_spark.pipeline.text import chunk_passages

    stride = data.draw(st.integers(1, window))
    docs = [(i, " ".join(f"t{j}" for j in range(n))) for i, n in enumerate(lengths)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = chunk_passages(df, chunk_tokens=window, stride=stride).collect()
    got = {}
    for row in rows:
        got.setdefault(row.pid >> 20, {})[row.pid & ((1 << 20) - 1)] = row.text
    for i, n in enumerate(lengths):
        toks = [f"t{j}" for j in range(n)]
        expect_chunks = 1 if n <= window else 1 + -(-(n - window) // stride)
        assert set(got[i]) == set(range(expect_chunks))
        for c in range(expect_chunks):
            assert got[i][c] == " ".join(toks[c * stride: c * stride + window])


# --------------------------------------- progressive JPEG AC bit machinery
def test_progressive_ac_scan_fuzz():
    """Band-level fuzz of the AC first+refinement encode/decode pair
    (fixed seed, 120 trials, no Spark): multi-block EOB runs, buffered
    correction bits, ZRL interplay, and 2-level successive
    approximation must reconstruct every coefficient exactly."""
    import numpy as np

    from otus_clickhouse_spark.pipeline import jpeg as J

    ac_codes = J._build_huffman(*J.HT_AC_FLAT)
    ac_dec = J._build_decoder(*J.HT_AC_FLAT)

    def roundtrip(bands, al_hi):
        n = len(bands)
        comps = [{"id": 1, "tq": 0, "sx": 1, "sy": 1}]
        coefs = [np.zeros((1, n, 64), np.int32)]
        sc = [{"id": 1, "dc_tab": None, "ac_tab": ac_dec}]
        bw = J._BitWriter()
        w = J._ProgressiveACWriter(bw, ac_codes)
        for b in bands:
            w.block_first(b, al_hi)
        w.emit_eobrun()
        bw.flush()
        J._decode_scan_progressive(
            bytes(bw.buf), sc, comps, {1: 0}, coefs, [0],
            1, n, 1, 63, 0, al_hi, 8, 8 * n, 1, 1,
        )
        for al in range(al_hi - 1, -1, -1):
            bw = J._BitWriter()
            w = J._ProgressiveACWriter(bw, ac_codes)
            for b in bands:
                w.block_refine(b, al)
            w.emit_eobrun()
            bw.flush()
            J._decode_scan_progressive(
                bytes(bw.buf), sc, comps, {1: 0}, coefs, [0],
                1, n, 1, 63, al + 1, al, 8, 8 * n, 1, 1,
            )
        return [coefs[0][0, i, 1:64].tolist() for i in range(n)]

    rng = random.Random(3)

    def mkband(nz):
        b = [0] * 63
        for _ in range(nz):
            b[rng.randrange(63)] = rng.choice([-9, -3, -2, -1, 1, 2, 3, 17, 255, -128])
        return b

    for _ in range(120):
        bands = [mkband(rng.randrange(0, 25)) for _ in range(rng.randrange(1, 9))]
        al_hi = rng.choice([1, 1, 2, 3])
        assert roundtrip(bands, al_hi) == bands


def _scd2_reference(rows):
    """Pure-python SCD2: per key, sort by ts, collapse no-op versions,
    chain valid_from/valid_to."""
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, ts, attr in rows:
        by_key[k].append((ts, attr))
    out = []
    for k, versions in by_key.items():
        versions.sort()
        opened = []
        for ts, attr in versions:
            if not opened or opened[-1][1] != attr:
                opened.append((ts, attr))
        for i, (ts, attr) in enumerate(opened):
            vt = opened[i + 1][0] if i + 1 < len(opened) else None
            out.append((k, ts, vt, attr, vt is None))
    return sorted(out, key=lambda r: (r[0], r[1]))


@settings(**HSET)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30), st.sampled_from("AB")),
        min_size=1,
        max_size=25,
        unique_by=lambda r: (r[0], r[1]),  # one version per (key, ts)
    ),
    split=st.integers(0, 24),
)
def test_scd2_merge_matches_reference(spark, rows, split):
    """pipeline.cdc.scd2_merge vs the pure-python reference, with the
    input arbitrarily split into a 'base' and an 'updates' batch (the
    merge must not depend on which side a version arrives on).
    Invariants: per key exactly one current row, intervals chain
    without gaps, no-op versions collapse."""
    from otus_clickhouse_spark.pipeline.cdc import scd2_merge

    base_rows = rows[:split] or [rows[0]]
    upd_rows = rows[split:] or [rows[-1]]
    dedup = {(k, ts): (k, ts, a) for k, ts, a in base_rows + upd_rows}
    base = spark.createDataFrame(
        [r for r in base_rows if dedup[(r[0], r[1])] == r] or list(dedup.values())[:1],
        "k int, ts int, attr string",
    )
    upd = spark.createDataFrame(
        [r for r in upd_rows if dedup[(r[0], r[1])] == r] or list(dedup.values())[:1],
        "k int, ts int, attr string",
    )
    all_rows = sorted(set(base.collect()) | set(upd.collect()))
    got = sorted(
        ((r.k, r.valid_from, r.valid_to, r.attr, r.is_current)
         for r in scd2_merge(base, upd, key="k", ts_col="ts", attrs=["attr"]).collect()),
        key=lambda r: (r[0], r[1]),
    )
    want = _scd2_reference([(r.k, r.ts, r.attr) for r in all_rows])
    assert got == want
    # exactly one current row per key
    keys = {r[0] for r in got}
    assert sum(1 for r in got if r[4]) == len(keys)


@settings(max_examples=120, deadline=None)
@given(
    db=st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
        lambda s: s not in ("default", "system")
    ),
    tbl=st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
    literal=st.text(
        alphabet=st.characters(blacklist_characters="'\"`\\\n", max_codepoint=0x2FF),
        max_size=20,
    ),
)
def test_db_qualifier_resolution_properties(spark, db, tbl, literal):
    """Invariants of the namespace resolver: a known-db qualifier
    mangles to db__table OUTSIDE quotes and never inside a string
    literal; resolution is idempotent; unknown qualifiers pass through
    untouched."""
    from otus_clickhouse_spark.engine import Engine

    eng = Engine.__new__(Engine)  # resolver needs only these two fields
    eng._databases = {"default", db}
    eng.current_database = "default"

    text = f"SELECT * FROM {db}.{tbl} WHERE s = '{db}.{tbl}' AND x = '{literal}'"
    got = eng._strip_known_db_prefixes(text)
    assert f"FROM {db}__{tbl} " in got            # qualifier resolved
    assert f"'{db}.{tbl}'" in got                  # literal untouched
    assert f"'{literal}'" in got                   # arbitrary literal untouched
    assert eng._strip_known_db_prefixes(got) == got  # idempotent
    # unknown database prefixes never silently resolve
    other = f"SELECT * FROM zz_unknown_db.{tbl}"
    assert eng._strip_known_db_prefixes(other) == other
    # default. always strips to the flat name
    assert (
        eng._strip_known_db_prefixes(f"SELECT * FROM default.{tbl}")
        == f"SELECT * FROM {tbl}"
    )


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),           # doc_id space w/ gaps
            st.sampled_from(["a", "b", "c"]),
            st.floats(min_value=0, max_value=1, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    cap=st.integers(min_value=1, max_value=6),
    salts=st.integers(min_value=1, max_value=8),
)
@pytest.mark.slow  # heavy sweep/equivalence proof (r13): round-close suite only
def test_domain_cap_property_equals_global_window(spark, rows, cap, salts):
    """For ANY frame, cap and salt count, the salted two-phase top-N
    equals the single global window (quality desc, id asc ties)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from otus_clickhouse_spark.pipeline.curation import domain_cap

    docs = spark.createDataFrame(rows, "doc_id long, source string, quality double")
    got = {
        (r.source, r.doc_id)
        for r in domain_cap(docs, cap=cap, salts=salts).collect()
    }
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    want = {
        (r.source, r.doc_id)
        for r in docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .collect()
    }
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),            # doc_id, unique
            st.sampled_from(["a", "b", "c"]),
            # coarse 2dp grid FORCES quality ties so the boundary-bucket
            # tie-break path exercises; includes single-row groups
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    keep_frac=st.sampled_from([0.0, 0.1, 0.25, 1 / 3, 0.5, 0.75, 1.0]),
)
@pytest.mark.slow  # heavy sweep/equivalence proof (r13): round-close suite only
def test_quantile_gate_histogram_equals_percent_rank(spark, rows, keep_frac):
    """r8 verdict ask #5: the histogram-threshold quantile gate must be
    ROW-FOR-ROW identical to the naive percent_rank window it replaced
    (same K boundary under double division, same tie-break by id inside
    the boundary quality bucket), for ANY frame and keep fraction."""
    from pyspark.sql import Window

    from otus_clickhouse_spark.pipeline.curation import quantile_quality_gate

    docs = spark.createDataFrame(
        [(i, s, q / 20.0) for i, s, q in rows],
        "doc_id long, source string, quality double",
    )
    got = {
        (r.source, r.n_docs, r.n_kept, r.min_kept_quality, r.kept_id_sum)
        for r in quantile_quality_gate(docs, keep_frac=keep_frac).collect()
    }
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    keep = F.col("pr") <= keep_frac
    want = {
        (r.source, r.n_docs, r.n_kept, r.min_kept_quality, r.kept_id_sum)
        for r in docs.withColumn("pr", F.percent_rank().over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(keep.cast("int")).cast("bigint").alias("n_kept"),
            F.round(F.min(F.when(keep, F.col("quality"))), 4).alias(
                "min_kept_quality"
            ),
            F.coalesce(F.sum(F.when(keep, F.col("doc_id"))), F.lit(0))
            .cast("bigint")
            .alias("kept_id_sum"),
        )
        .collect()
    }
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),            # doc_id, unique
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=8),              # quality grid (ties)
            st.integers(min_value=0, max_value=40),             # n_tok incl. ZERO
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],
    ),
    budget=st.integers(min_value=0, max_value=200),
)
@pytest.mark.slow  # heavy sweep/equivalence proof (r13): round-close suite only
def test_budget_select_histogram_equals_cumsum_window(spark, rows, budget):
    """The histogram token-budget cut (x47's selection stage) must equal
    the naive per-source cumulative-sum window — including zero-token
    rows at/after the budget crossing and budgets smaller than the
    first document."""
    from pyspark.sql import Window

    from otus_clickhouse_spark.pipeline.curation import budget_select_stats

    docs = spark.createDataFrame(
        [(i, s, q / 8.0, t) for i, s, q, t in rows],
        "doc_id long, source string, quality double, n_tok long",
    )
    got = {
        (r.source, r.n_selected, r.tok_selected)
        for r in budget_select_stats(docs, budget).collect()
        if r.n_selected > 0
    }
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.source, r.n_selected, r.tok_selected)
        for r in docs.withColumn("cum", F.sum("n_tok").over(w))
        .where(F.col("cum") <= budget)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum("n_tok").cast("bigint").alias("tok_selected"),
        )
        .collect()
    }
    assert got == want


# ------------------------------------------------- round-9 batch operators
@settings(**HSET)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from(["s0", "s1", "s2"])),
        min_size=2,
        max_size=40,
    ),
)
# source s0 here sums to 25/32 = 0.78125, an exact tie at 4 decimals
@example(
    rows=[(0, "s0")] * 5
    + [(14, "s0"), (12, "s1"), (15, "s2"), (22, "s2"), (27, "s0"), (29, "s0")]
)
def test_dup_coverage_equals_python_reference(spark, rows):
    """dup_coverage's per-source micro ratio / heavy count / max bp must
    equal a brute-force Python shingle-df computation on random corpora
    (texts drawn from a tiny word pool so duplicate shingles occur)."""
    from decimal import ROUND_HALF_UP, Decimal

    from otus_clickhouse_spark.pipeline.dedup import dup_coverage

    # Spark's round() is HALF_UP; Python's round() is half-to-even
    def round_half_up(num, den, places):
        q = Decimal(1).scaleb(-places)
        return float((Decimal(num) / Decimal(den)).quantize(q, ROUND_HALF_UP))

    words = ["alpha", "beta", "gamma", "delta"]
    data = []
    for i, (seed, src) in enumerate(rows):
        rnd = random.Random(seed)
        n = rnd.randint(3, 8)
        data.append((i, " ".join(rnd.choice(words) for _ in range(n)), src))
    docs = spark.createDataFrame(data, "doc_id long, text string, source string")

    # python reference
    def sh3(text):
        t = text.split(" ")
        return {" ".join(t[i : i + 3]) for i in range(max(len(t) - 2, 1))} - {""}

    shs = {i: sh3(t) for i, t, _ in data}
    from collections import Counter, defaultdict

    df = Counter(s for v in shs.values() for s in v)
    per_src = defaultdict(list)
    for i, _, src in data:
        n_sh = len(shs[i])
        n_dup = sum(1 for s in shs[i] if df[s] >= 2)
        per_src[src].append((n_sh, n_dup))
    got = {r.source: r for r in dup_coverage(docs).collect()}
    for src, items in per_src.items():
        r = got[src]
        assert r.n_docs == len(items)
        assert r.n_heavy == sum(1 for n_sh, n_dup in items if 2 * n_dup >= n_sh)
        assert r.max_cov_bp == max(
            int(round_half_up(n_dup * 10000, n_sh, 0)) for n_sh, n_dup in items
        )
        tot_sh = sum(n for n, _ in items)
        tot_dup = sum(d for _, d in items)
        assert float(r.dup_shingle_ratio) == round_half_up(tot_dup, tot_sh, 4)


@settings(**HSET)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 120), st.sampled_from(
            ["view", "click", "purchase"])),
        min_size=1,
        max_size=40,
        unique_by=lambda e: (e[0], e[1]),
    ),
)
def test_funnel_timing_equals_python_reference(spark, events):
    """Strict-sequential funnel counts and gaps vs brute force."""
    import datetime

    from otus_clickhouse_spark.pipeline.events import funnel_timing

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, base + datetime.timedelta(seconds=s), u, t)
        for i, (u, s, t) in enumerate(events)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    # python reference
    users = {u for _, _, u, _ in data}
    t1, t2, t3 = {}, {}, {}
    for u in users:
        vs = [ts for _, ts, uu, t in data if uu == u and t == "view"]
        if not vs:
            continue
        t1[u] = min(vs)
        cs = [ts for _, ts, uu, t in data if uu == u and t == "click" and ts > t1[u]]
        if not cs:
            continue
        t2[u] = min(cs)
        ps = [ts for _, ts, uu, t in data
              if uu == u and t == "purchase" and ts > t2[u]]
        if ps:
            t3[u] = min(ps)
    r = funnel_timing(ev).collect()[0]
    assert (r.n_step1, r.n_step2, r.n_step3) == (len(t1), len(t2), len(t3))
    if t2:
        gaps = [int((t2[u] - t1[u]).total_seconds() * 1e6) for u in t2]
        assert r.max_gap12_us == max(gaps)
        assert float(r.mean_gap12_sec) == round(sum(gaps) / (len(gaps) * 1e6), 4)
    if t3:
        gaps = [int((t3[u] - t2[u]).total_seconds() * 1e6) for u in t3]
        assert r.max_gap23_us == max(gaps)
        assert float(r.mean_gap23_sec) == round(sum(gaps) / (len(gaps) * 1e6), 4)


@settings(**HSET)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 27)),
        min_size=1,
        max_size=40,
        unique_by=lambda e: e,
    ),
)
def test_cohort_retention_invariants(spark, rows):
    """Offset 0 is always retention 1.0; retention never exceeds 1;
    active-user counts never exceed the cohort size."""
    import datetime

    from otus_clickhouse_spark.pipeline.events import cohort_retention

    base = datetime.datetime(2024, 1, 1)  # a Monday
    data = [
        (i, base + datetime.timedelta(days=d, hours=1), u)
        for i, (u, d) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, ts timestamp_ntz, user_id long"
    )
    out = cohort_retention(ev).collect()
    sizes = {r.cohort_week: r.n_users for r in out if r.week_offset == 0}
    for r in out:
        assert 0 < float(r.retention) <= 1.0
        assert r.n_users <= sizes[r.cohort_week]
        if r.week_offset == 0:
            assert float(r.retention) == 1.0


# ------------------------------------------- LSH hot-bucket cap invariants
_LSH_TEXT_POOL = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "sphinx of black quartz judge my vow today",
    "the quick brown fox jumps over the lazy cat",
]


def _components(pairs, nodes):
    """Union-find component labels over an edge list."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    return frozenset(frozenset(n for n in nodes if find(n) == r)
                     for r in {find(n) for n in nodes})


@settings(**HSET)
@given(
    texts=st.lists(st.sampled_from(_LSH_TEXT_POOL), min_size=2, max_size=24),
    cap=st.integers(1, 5),
)
def test_lsh_cap_preserves_candidate_components(spark, texts, cap):
    """For ANY corpus and ANY cap, the capped candidate graph is a
    subset of the uncapped one with IDENTICAL connected components —
    within a bucket the representative star and the clique connect the
    same member set, and small-bucket edges are untouched. This is the
    invariant that lets dedup_clusters run unchanged over the capped
    generator."""
    from otus_clickhouse_spark.pipeline.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sig = minhash_signatures(shingles(docs), with_size=True).localCheckpoint()
    capped = {(r.a, r.b) for r in lsh_candidate_pairs(sig, max_bucket=cap).collect()}
    full = {(r.a, r.b) for r in lsh_candidate_pairs(sig, max_bucket=1 << 30).collect()}
    assert capped <= full
    nodes = range(len(texts))
    assert _components(capped, nodes) == _components(full, nodes)


@settings(**HSET)
@given(
    texts=st.lists(st.sampled_from(_LSH_TEXT_POOL), min_size=2, max_size=24),
    cap=st.integers(1, 5),
)
def test_blocked_jaccard_cap_recall_and_exact_values(spark, texts, cap):
    """r11 verdict ask #1 property: for ANY corpus and ANY max_df,
    blocked_jaccard_pairs' output is (1) a SUBSET of the uncapped
    result with (2) VALUE-IDENTICAL jaccard for every surviving pair
    (verification always runs over FULL shingle sets — the cap trades
    recall only, never exactness), and (3) recall is lossless for any
    pair sharing at least one under-cap shingle in its block."""
    import itertools

    from otus_clickhouse_spark.pipeline.dedup import blocked_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, t, "l0", "s0") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string",
    )
    capped = {
        (r.a, r.b): r.jaccard
        for r in blocked_jaccard_pairs(docs, threshold=0.2, max_df=cap).collect()
    }
    full = {
        (r.a, r.b): r.jaccard
        for r in blocked_jaccard_pairs(
            docs, threshold=0.2, max_df=1 << 30
        ).collect()
    }
    assert set(capped) <= set(full)
    for p, j in capped.items():
        assert j == full[p], (p, j, full[p])

    # independent recall model: python shingle sets + the cap rule
    def sh(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 2, 1))
            if " ".join(toks[i : i + 3])
        }
    sets = {i: sh(t) for i, t in enumerate(texts)}
    df_count = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    for a, b in itertools.combinations(range(len(texts)), 2):
        inter = sets[a] & sets[b]
        union = len(sets[a] | sets[b])
        if not union or not inter:
            continue
        j = round(len(inter) / union, 4)
        shares_undercap = any(1 < df_count[g] <= cap for g in inter)
        if j >= 0.2 and shares_undercap:
            assert (a, b) in capped, (a, b, j, cap)
        if j >= 0.2:
            assert (a, b) in full, (a, b, j)
            assert abs(full[(a, b)] - j) < 1e-9, (a, b, full[(a, b)], j)


# ------------------------------------------ round-10 events-family references
def _ref_sessions(rows, gap=1800):
    """rows: [(user, epoch_sec, event_id, type)] -> {(user, sess): [events
    in (ts, id) order]} under the strictly-greater-than gap rule."""
    out = {}
    for u in {r[0] for r in rows}:
        ev = sorted([r for r in rows if r[0] == u], key=lambda r: (r[1], r[2]))
        sess, prev = 0, None
        for r in ev:
            if prev is None or r[1] - prev > gap:
                sess += 1
            prev = r[1]
            out.setdefault((u, sess), []).append(r)
    return out


@settings(**HSET)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 2),                 # user
            st.integers(0, 7200),              # epoch offset sec
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: (r[0], r[1]),      # unique (user, ts)
    )
)
def test_touch_attribution_matches_python_reference(spark, rows):
    """pipeline.events.touch_attribution vs a brute-force Python replay
    of the session/first/last-before-conversion rules."""
    import datetime

    from otus_clickhouse_spark.pipeline.events import touch_attribution

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, base + datetime.timedelta(seconds=sec), u, t)
        for i, (u, sec, t) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )
    ref_rows = [(u, sec, i, t) for i, (u, sec, t) in enumerate(rows)]
    first, last = {}, {}
    for (u, s), evs in _ref_sessions(ref_rows).items():
        conv = [e for e in evs if e[3] == "purchase"]
        if not conv:
            continue
        c = min(conv, key=lambda e: (e[1], e[2]))
        first[evs[0][3]] = first.get(evs[0][3], 0) + 1
        pre = [e for e in evs if (e[1], e[2]) < (c[1], c[2])]
        lt = max(pre, key=lambda e: (e[1], e[2]))[3] if pre else "direct"
        last[lt] = last.get(lt, 0) + 1
    got = {
        r.event_type: (r.first_touch_conversions, r.last_touch_conversions)
        for r in touch_attribution(ev).collect()
    }
    want = {
        t: (first.get(t, 0), last.get(t, 0)) for t in set(first) | set(last)
    }
    assert got == want


@settings(**HSET)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 20)),  # (user, day)
        min_size=1,
        max_size=40,
    )
)
def test_engagement_stickiness_matches_python_reference(spark, rows):
    """engagement_stickiness's DAU/WAU/MAU vs set arithmetic over the
    distinct (day, user) pairs (trailing-7-day WAU, calendar-month
    MAU)."""
    import datetime

    from otus_clickhouse_spark.pipeline.events import engagement_stickiness

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, base + datetime.timedelta(days=d, hours=3), u)
        for i, (u, d) in enumerate(rows)
    ]
    ev = spark.createDataFrame(data, "event_id long, ts timestamp_ntz, user_id long")
    ud = {(base.date() + datetime.timedelta(days=d), u) for u, d in rows}
    days = sorted({d for d, _ in ud})
    got = {r.day: r for r in engagement_stickiness(ev).collect()}
    assert set(got) == {str(d) for d in days}
    for d in days:
        dau = len({u for dd, u in ud if dd == d})
        wau = len({u for dd, u in ud
                   if d - datetime.timedelta(days=6) <= dd <= d})
        mau = len({u for dd, u in ud
                   if (dd.year, dd.month) == (d.year, d.month)})
        r = got[str(d)]
        assert (r.dau, r.wau, r.mau) == (dau, wau, mau)
        assert float(r.dau_mau) == round(dau / mau, 4)
        assert float(r.wau_mau) == round(wau / mau, 4)
