"""Text analysis operators: language-ID, quality scoring, token counts,
document fingerprinting. All pure Spark SQL expressions (codegen'd).

These extend the reference's tokenbf/ngrambf tokenizer concepts
(lectures/lecture_08.md:158-190) from index structures into first-class
text-pipeline operators, as SURVEY.md §7 Phase 7 plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

# Tiny per-language stopword lists for the n-gram/stopword heuristic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "de", "es", "y"],
    "fr": ["le", "la", "les", "et", "est"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenizer (filter_empty for trailing spaces)."""
    return F.filter(F.split(text, "\\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = tokens(F.lower(text))
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.size(toks)


def language_id(text: Column) -> Column:
    """Heuristic language-ID: argmax stopword hit-rate across languages."""
    toks = tokens(F.lower(text))
    scores = []
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        scores.append(
            F.struct(
                (F.size(F.filter(toks, lambda t: F.array_contains(sw, t))) / F.size(toks)).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length, word length, alpha ratio.

    Deterministic arithmetic only, so the oracle can reproduce it.
    """
    n_tok = token_count(text)
    n_chars = F.length(text)
    avg_word_len = n_chars / F.greatest(n_tok, F.lit(1))
    alpha_ratio = (
        F.length(F.regexp_replace(text, r"[^A-Za-z ]", "")) / F.greatest(n_chars, F.lit(1))
    )
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    word_len_score = F.when((avg_word_len >= 3) & (avg_word_len <= 10), 1.0).otherwise(0.5)
    return F.round((len_score + word_len_score + alpha_ratio) / 3.0, 4)


def fingerprint(text: Column, length: int = 16) -> Column:
    """Rolling-hash-style doc fingerprint: md5 prefix of normalized text."""
    normalized = F.lower(F.regexp_replace(text, r"\s+", " "))
    return F.substring(F.md5(normalized), 1, length)


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """documents → + n_tokens, stopword_en_ratio, lang_guess, quality, fp."""
    t = F.col(text_col)
    return df.select(
        *df.columns,
        token_count(t).alias("n_tokens"),
        F.round(stopword_ratio(t, "en"), 4).alias("stopword_en_ratio"),
        language_id(t).alias("lang_guess"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fp"),
    )


# --- repetition filtering ----------------------------------------------
def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style within-document repetition metrics over word n-grams.

    Per doc: ``n_grams`` total n-gram occurrences, ``n_distinct``
    distinct n-grams, ``dup_frac`` = fraction of occurrences that are
    repeats (1 - distinct/total), ``top_frac`` = fraction taken by the
    single most frequent n-gram. High values mark boilerplate/spam docs
    that repetition filters drop before training.

    Plan shape: n-grams are built map-side with JVM higher-order
    functions (same slice/array_join convention as
    pipeline.dedup.shingles, minus the distinct), then ONE shuffle
    keyed on (doc id, gram) for the counts and a partial-agg rollup to
    per-doc stats. Gram strings shuffle once; doc bodies never do.
    """
    toks = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    per_gram = (
        df.select(F.col(id_col), F.explode(grams).alias("gram"))
        .where(F.length("gram") > 0)
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("cnt").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt"), 4).alias("dup_frac"),
        F.round(F.max("cnt") / F.sum("cnt"), 4).alias("top_frac"),
    )


# --- PII redaction -----------------------------------------------------
# Order matters: phone before generic number patterns would matter if we
# had them; here the three classes are disjoint. All plain regexp_replace
# chains — JVM-side, codegen'd, linear scan per doc.
PII_PATTERNS = (
    # email
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # US-ish phone: optional +1, separators -/./space, 10 digits
    (r"(\+?1[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
    # SSN-shaped
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    # IPv4
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(text: Column) -> Column:
    """Mask email/phone/SSN/IP spans with typed placeholder tokens."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc PII hit counts + the redacted text (a pre-training scrub
    pass: one narrow projection, no shuffle)."""
    t = F.col(text_col)
    cols = [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        for (pat, _), name in zip(PII_PATTERNS, ("email", "phone", "ssn", "ip"))
    ]
    return df.select(*df.columns, *cols, redact_pii(t).alias("redacted"))


# --- sequence packing --------------------------------------------------
def pack_sequences(
    df: DataFrame,
    max_tokens: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
    shards: int = 64,
) -> DataFrame:
    """Assign docs to training-context bins of ≤ ``max_tokens`` tokens.

    Greedy packing is inherently sequential, so we shard deterministically
    (md5 of the doc id — portable to the oracle) and pack by running
    token count *within* each shard: bin = floor(start_offset /
    max_tokens), where start_offset = cumsum - n_tok. One window shuffle
    on the shard key; shards are hash-uniform, so no skew. A doc whose
    tokens straddle a bin boundary stays in the bin it starts in, so a
    bin holds < 2×max_tokens worst-case — the standard offset-bucket
    approximation of greedy packing (exact greedy would serialize).
    Docs longer than max_tokens are capped (truncation policy belongs to
    the tokenizer stage).

    Returns (id, n_tok, shard, bin_id) — the grouping key for a
    downstream collect_list into packed examples.
    """
    from pyspark.sql import Window

    n_tok = F.least(token_count(F.col(text_col)), F.lit(max_tokens))
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint"),
        F.lit(shards),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    return (
        df.select(F.col(id_col), n_tok.alias("n_tok"), shard.alias("shard"))
        .withColumn("cum", F.sum("n_tok").over(w))
        .withColumn("bin_id", F.floor((F.col("cum") - F.col("n_tok")) / max_tokens))
        .drop("cum")
    )


def text_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens, stopword_en_ratio, quality, fp) with the token
    arrays materialized ONCE in a prior projection.

    The per-function Column helpers each re-split the text; within one
    Project, codegen's subexpression elimination only catches identical
    subtrees, and the lower()-tokenized stopword path defeats it.
    Sharing the arrays explicitly measures ~20% faster at sf0.1 —
    at corpus scale this is a pure CPU saving on the scan stage.
    Values are bit-identical to the per-function forms (same exprs).
    """
    t = F.col(text_col)
    staged = df.select(
        id_col,
        text_col,
        tokens(t).alias("__toks"),
        tokens(F.lower(t)).alias("__lowtoks"),
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size("__toks")
    n_chars = F.length(text_col)
    avg_word_len = n_chars / F.greatest(n_tok, F.lit(1))
    alpha_ratio = (
        F.length(F.regexp_replace(text_col, r"[^A-Za-z ]", "")) / F.greatest(n_chars, F.lit(1))
    )
    quality = F.round(
        (
            F.least(n_tok / F.lit(64.0), F.lit(1.0))
            + F.when((avg_word_len >= 3) & (avg_word_len <= 10), 1.0).otherwise(0.5)
            + alpha_ratio
        )
        / 3.0,
        4,
    )
    return staged.select(
        id_col,
        n_tok.alias("n_tokens"),
        F.round(
            F.size(F.filter(F.col("__lowtoks"), lambda x: F.array_contains(sw, x)))
            / F.size("__lowtoks"),
            4,
        ).alias("stopword_en_ratio"),
        quality.alias("quality"),
        fingerprint(F.col(text_col)).alias("fp"),
    )


def vocab_build(
    df: DataFrame, text_col: str = "text", top_n: int = 1000, salts: int = 32
) -> DataFrame:
    """Frequency-ranked vocabulary table (token, vocab_id, freq, coverage).

    The tokenizer pass over training data: map-side-combined token
    count, then a skew-proof two-phase top-N (the domain_cap shape from
    pipeline/curation.py): phase 1 windows over ``xxhash64(token) %
    salts`` and keeps each salt's local top-``top_n`` by (freq desc,
    token asc) — per-task input is ~1/salts of the vocabulary; phase 2
    runs the exact rank + cumulative-coverage window over the ≤
    salts·top_n survivors. Every token ranked at or above any global
    top-``top_n`` token survives phase 1 (each salt keeps its own
    top-``top_n``), so rank AND running coverage over the survivors
    equal the full-vocabulary answer for the kept rows. The one
    unpartitioned window therefore sees a CONSTANT-bounded input
    (salts·top_n rows), never the corpus-dependent distinct-token
    table — 10⁸–10⁹ tokens at 100 TB would otherwise funnel through a
    single task. Ties break lexicographically for determinism.
    """
    from pyspark.sql import Window

    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    total = cnt.agg(F.sum("freq")).collect()[0][0] or 1
    salted = Window.partitionBy(
        F.pmod(F.xxhash64("token"), F.lit(salts))
    ).orderBy(F.desc("freq"), F.asc("token"))
    survivors = (
        cnt.withColumn("__rn", F.row_number().over(salted))
        .where(F.col("__rn") <= top_n)
        .drop("__rn")
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    return (
        survivors.withColumn("vocab_id", F.row_number().over(w) - 1)
        .withColumn(
            "coverage",
            F.round(F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, 0)) / F.lit(float(total)), 6),
        )
        .where(F.col("vocab_id") < top_n)
        .select("vocab_id", "token", "freq", "coverage")
    )


def shingle_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    shingles that appear in NO other document (doc_id, n_shingles,
    novel_share). The complement of near-duplication — the dedup-
    adjacent score pipelines threshold on before spending minhash work.

    One gram-keyed aggregation over xxhash64 digests (8-byte shuffle
    keys, bodies never move) + one digest-keyed join back; both shuffle
    keys are hash-uniform, so there is no skew at any scale.
    """
    from otus_clickhouse_spark.pipeline.dedup import shingles

    sh = shingles(df, text_col, id_col, n).select(
        F.col(id_col), F.xxhash64("shingle").alias("g")
    ).persist()
    freq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(freq, on="g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(F.avg((F.col("df") == 1).cast("double")), 4).alias("novel_share"),
        )
    )


# --- document chunking -------------------------------------------------
def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window preparation step of a training-data pipeline.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + chunk_tokens)``;
    the final partial window is kept (standard sliding-window
    chunking). Entirely map-side: one sequence()+explode per doc, no
    shuffle, so it composes with any downstream repartition for free.

    Returns (id, chunk_id, n_chunk_tokens, chunk_fp) where chunk_fp is
    the md5 of the space-joined chunk text (portable to the oracle;
    downstream embedding/packing stages key on it).
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int")
    )
    staged = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return staged.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_fp"),
    )


def chunk_passages(
    df: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking that MATERIALIZES the passage text under
    a collision-free packed passage id (the retrieval-granularity
    sibling of ``chunk_documents``, which only fingerprints).

    pid packs (doc_id, chunk_id) as ``doc_id << 20 | chunk_id`` —
    2^20 = 1,048,576 chunks per document (≈ 50M tokens at stride 48,
    three orders of magnitude past book length) before the guard
    trips, vs. the naive ``doc_id * 1000`` packing that silently
    collided pids for any document past ~48k tokens. Exact int64 bit
    arithmetic on both engines (the DuckDB replay is
    ``doc_id * 1048576 + chunk_id`` / ``pid // 1048576`` /
    ``pid % 1048576``), so no double-precision drift at large ids.
    Entirely map-side: one sequence()+explode per doc, no shuffle.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int")
    )
    staged = df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    # assert_true is codegen'd and free in the happy path; it turns a
    # silent pid collision into a loud failure if a doc ever exceeds
    # the packing width.
    guarded = F.when(
        F.col("chunk_id") < F.lit(1 << 20), F.col("chunk_id")
    ).otherwise(F.raise_error(F.lit("chunk_passages: >2^20 chunks in one document")))
    return staged.select(
        (F.shiftleft(F.col(id_col), 20) + guarded).alias("pid"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens), " "
        ).alias(text_col),
    )


def bigram_nll(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
) -> DataFrame:
    """Interpolated bigram language-model score per document (the CCNet
    / Wenzek et al. 2020 perplexity-filter shape, with the in-corpus
    bigram model standing in for the external KenLM):

        p(w2|w1) = lam * c(w1,w2)/c(w1) + (1-lam) * c(w2)/N

    Returns (id, n_bigrams, avg_nll) — mean negative log-probability
    over the document's adjacent token pairs; docs with <2 tokens drop.

    Scale shape: bigram pairs are generated map-side (transform over a
    sequence — multiplicity preserved, LM counts need it); the two
    count tables are vocabulary- and bigram-vocabulary-sized hash
    aggregations that broadcast back onto the pair stream; the only
    corpus-wide shuffle is the per-doc mean."""
    toks = tokens(F.col(text_col))
    staged = df.select(F.col(id_col), toks.alias("__toks")).where(F.size(F.col("__toks")) >= 2)
    pairs = staged.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(F.col("__toks")) - 2),
                lambda i: F.struct(
                    F.element_at(F.col("__toks"), i + 1).alias("w1"),
                    F.element_at(F.col("__toks"), i + 2).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2").persist()
    uni = df.select(F.explode(toks).alias("w"))
    cnt1 = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    n_total = uni.count()
    cnt2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    p = (
        F.lit(lam) * (F.col("c2") / F.col("c1"))
        + F.lit(1.0 - lam) * (F.col("cw2") / F.lit(float(n_total)))
    )
    scored = (
        pairs.join(F.broadcast(cnt2), ["w1", "w2"])
        .join(F.broadcast(cnt1), pairs.w1 == cnt1.w, "inner")
        .drop("w")
        .join(
            F.broadcast(cnt1.select(F.col("w").alias("__w2"), F.col("c1").alias("cw2"))),
            pairs.w2 == F.col("__w2"),
        )
        .select(id_col, (-F.log(p)).alias("nll"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
    )


def canonical_url(url: Column) -> Column:
    """URL canonicalization for web-corpus dedup: lowercase scheme+host,
    drop the scheme, a leading ``www.``, every query-string/fragment,
    and any trailing slash. Pure regexp chain (codegen'd, no UDF) —
    the same string on both engines, so URL-keyed dedup is
    oracle-replayable.

        https://WWW.Example.com/Path/?utm=x#f  →  example.com/Path
    """
    u = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")   # scheme
    u = F.regexp_replace(u, r"[?#].*$", "")                          # query/fragment
    # lowercase ONLY the host part (path stays case-sensitive)
    host = F.lower(F.regexp_extract(u, r"^([^/]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(F.regexp_extract(u, r"^[^/]*(.*)$", 1), r"/+$", "")
    return F.concat(host, path)


def url_dedup_stats(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Per-canonical-URL dup groups: (canon_url, keep_id, n_dups, domain).
    One groupBy on the canonical string — at 100 TB, hash the canon URL
    first (xxhash64) so the shuffle key is 8 bytes, exactly like
    exact_dedup's digest; the string form here keeps the oracle
    comparable."""
    canon = canonical_url(F.col(url_col)).alias("canon_url")
    return (
        df.select(F.col(id_col), canon)
        .groupBy("canon_url")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .withColumn("domain", F.regexp_extract("canon_url", r"^([^/]*)", 1))
    )


def bpe_apply_merge(sym_col, l_col, r_col):
    """Apply one BPE merge rule (l, r) to a space-joined symbol string,
    boundary-aware (Sennrich et al. 2016 semantics).

    A naive ``replace(sym, 'l r', 'lr')`` also fires across symbol
    boundaries once earlier merges produce multi-char symbols: rule
    (l, r) on "t al r" would glue the *pair (al, r)* into "t alr".
    Encoding every symbol with its OWN surrounding space — double the
    separators, pad the ends — makes the pattern ``' l  r '`` match
    exactly whole-symbol occurrences, and left-to-right non-overlapping
    replacement reproduces BPE's greedy scan ("a b a b" + (a,b) →
    "ab ab"). Decode collapses the doubled separators back. Pure string
    expressions → whole-stage codegen, and the identical one-liner
    replays in the DuckDB oracle (no regex, so no lookbehind-support
    divergence between engines)."""
    enc = F.concat(F.lit(" "), F.replace(sym_col, F.lit(" "), F.lit("  ")), F.lit(" "))
    pat = F.concat(F.lit(" "), l_col, F.lit("  "), r_col, F.lit(" "))
    rep = F.concat(F.lit(" "), l_col, r_col, F.lit(" "))
    return F.trim(F.replace(F.replace(enc, pat, rep), F.lit("  "), F.lit(" ")))


def bpe_merges(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Learn byte-pair-encoding merge rules over the corpus (Sennrich et
    al. 2016): repeatedly count adjacent symbol pairs (weighted by word
    frequency) and merge the most frequent one. Returns one row per
    merge: (rank, left, right, pair_count), ties broken (count desc,
    left, right) so the trajectory is deterministic and SQL-replayable.

    Scale shape: the corpus is reduced ONCE to the word-frequency table
    (vocabulary-sized — this is why BPE training scales: 100 TB of text
    is a few million word types); every merge round then runs on that
    small relation — pair explode + one aggregation — with the winning
    pair broadcast back for the boundary-aware merge application
    (``bpe_apply_merge``).
    localCheckpoint per round keeps the plan from growing with the
    merge count, exactly like the k-means training loop.
    """
    words = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .where(F.col("word").rlike("^[a-z]+$") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "word", "cnt", F.concat_ws(" ", F.split(F.col("word"), "")).alias("sym")
        )
        .localCheckpoint()
    )
    cur = words
    out = None
    for r in range(n_merges):
        syms = F.split(F.col("sym"), " ")
        pairs = (
            cur.where(F.size(syms) >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size(syms) - 1),
                        lambda i: F.struct(
                            F.element_at(syms, i).alias("l"),
                            F.element_at(syms, i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
        )
        top = (
            pairs.orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .select(
                F.lit(r).alias("rank"),
                F.col("l").alias("left"),
                F.col("r").alias("right"),
                F.col("c").cast("bigint").alias("pair_count"),
            )
            .localCheckpoint()
        )
        out = top if out is None else out.unionByName(top)
        merge = top.select(F.col("left").alias("__l"), F.col("right").alias("__r"))
        cur = (
            cur.crossJoin(F.broadcast(merge))
            .select(
                "word",
                "cnt",
                bpe_apply_merge(F.col("sym"), F.col("__l"), F.col("__r")).alias("sym"),
            )
            .localCheckpoint()
        )
    return out


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = ". ",
    max_docs: int = 3,
) -> DataFrame:
    """RefinedWeb/Dolma-style line-level boilerplate dedup.

    Splits each document into lines on ``sep``, counts how many
    DISTINCT documents each line occurs in, and drops lines present in
    ``max_docs`` or more (nav bars, cookie banners, license headers —
    corpus-frequent lines carry no training signal). Returns one row
    per surviving document: kept/removed counts and the md5 of the
    cleaned text reassembled in original line order.

    Scale: the only corpus-wide shuffle is keyed by the line string for
    the frequency count (two-phase agg → distinct lines, not total
    lines), plus the frequency join back. Per-doc reassembly is a
    keyed collect bounded by document length — never a global collect.
    At 100 TB the frequency table is the dedup-digest relation; hot
    boilerplate lines are exactly the keys AQE skew-split handles.
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("pos", "line"),
    ).where(F.length("line") > 0)
    freq = lines.groupBy("line").agg(F.count_distinct(id_col).alias("ndocs"))
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    kept = lines.join(freq, "line").where(F.col("ndocs") < max_docs)
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_sort(F.collect_list(F.struct("pos", "line"))).alias("pl"),
        )
        .select(
            id_col,
            "n_kept",
            F.md5(
                F.array_join(F.transform(F.col("pl"), lambda s: s["line"]), sep)
            ).alias("cleaned_md5"),
        )
    )
    return rebuilt.join(totals, id_col).select(
        id_col,
        "n_lines",
        "n_kept",
        (F.col("n_lines") - F.col("n_kept")).alias("n_removed"),
        "cleaned_md5",
    )


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_at: int = 6,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the classic
    tf · ln((N+1)/(df+1)) weighting, top ``top_n`` terms per doc —
    the keyword/topic tagger a training-data pipeline runs for corpus
    browsing and source profiling (BM25's document-side twin; x27
    covers the query-side ranking).

    Scale shape: one explode → (doc, token) count (single shuffle on
    the token pairs), document frequency derived FROM that table by a
    vocabulary-bounded second aggregate (no second corpus scan), an
    equi-join keyed on token (vocabulary-sized), and a ranking window
    keyed per document — nothing unpartitioned, nothing driver-sized
    except the corpus-count scalar N."""
    from pyspark.sql import Window

    pairs = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n_docs = df.count()  # ONE driver-side scalar
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * F.log((F.lit(n_docs) + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
            round_at,
        ).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= top_n)
        .select(id_col, "term", "tf", "df", "tfidf", "rnk")
    )


def pmi_bigrams(
    df: DataFrame,
    min_count: int = 5,
    top_n: int = 20,
    text_col: str = "text",
    round_at: int = 6,
) -> DataFrame:
    """Collocation mining: pointwise mutual information over adjacent
    token pairs — ln(P(a,b) / (P(a)·P(b))) — the standard detector for
    multi-word expressions ("new york", "machine learning") that a
    tokenizer/vocab pipeline should treat as units (x25/x39's phrase-
    level complement).

    Scale shape: bigrams are built MAP-SIDE inside each document
    (transform over the token array — no positional self-join), so the
    only shuffles are the (a, b) and unigram count aggregates, both
    vocabulary-bounded; the ``min_count`` filter prunes the pair tail
    BEFORE the two token-keyed joins; top-n is TakeOrderedAndProject
    (no global sort, no window). Totals are two driver scalars."""
    base = df.select(tokens(F.lower(F.col(text_col))).alias("__t")).where(
        F.size("__t") >= 2
    )
    base = base.persist()
    uni = base.select(F.explode("__t").alias("tok"))
    # ADVICE r8: localCheckpoint the two VOCABULARY-bounded count tables
    # (unigram counts; UNFILTERED bigram counts, so the bigram total is
    # derivable) and unpersist the corpus-sized token frame before
    # returning — the returned plan depends only on the checkpointed
    # counts, so a long-lived session calling this repeatedly no longer
    # accumulates token arrays in executor storage waiting for a
    # caller-side clearCache().
    uc = (
        uni.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    bg = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - F.lit(1)),
                lambda i: F.struct(
                    F.element_at(F.col("__t"), i).alias("a"),
                    F.element_at(F.col("__t"), i + F.lit(1)).alias("b"),
                ),
            )
        ).alias("bgp")
    ).select("bgp.a", "bgp.b")
    bc_all = (
        bg.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .localCheckpoint(eager=True)
    )
    base.unpersist()
    bc = bc_all.where(F.col("c_ab") >= min_count)
    # two bounded scalars (totals), computed from the SAME aggregates
    t_u = uc.agg(F.sum("c")).collect()[0][0]
    t_b = bc_all.agg(F.sum("c_ab")).collect()[0][0]
    scored = (
        bc.join(uc.select(F.col("tok").alias("a"), F.col("c").alias("c_a")), "a")
        .join(uc.select(F.col("tok").alias("b"), F.col("c").alias("c_b")), "b")
        .select(
            "a",
            "b",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") * F.lit(t_u) * F.lit(t_u))
                    / (F.lit(float(t_b)) * F.col("c_a") * F.col("c_b"))
                ),
                round_at,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b")).limit(top_n)


def trigram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    round_at: int = 6,
) -> DataFrame:
    """Per-source lexical-diversity health: distinct/total word-trigram
    ratio plus the most repeated trigram — the corpus-level
    self-repetition monitor (x20 flags repetition INSIDE a doc; this
    catches a source whose docs repeat each OTHER, e.g. boilerplate
    farms, before they feed the dedup stages).

    Scale shape: trigrams build map-side inside each document
    (transform over the token array), the histogram groupBy is
    (source × distinct-trigram)-bounded, and the per-source stats AND
    the top trigram come out of ONE partial-aggregable reduction — the
    (count DESC, trigram ASC) winner is ``min(struct(-c, tri))``
    (struct ordering is field-by-field, so negating the count turns
    max-count/min-trigram into a plain min), which combines map-side
    instead of sorting each source's distinct-trigram histogram in a
    single window task (r8 verdict ask #4: distinct trigrams per
    source grow with the corpus, so even the histogram must not funnel
    through a per-source sort)."""
    base = df.select(
        F.col(group_col), tokens(F.lower(F.col(text_col))).alias("__t")
    ).where(F.size("__t") >= 3)
    tri = base.select(
        F.col(group_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - F.lit(2)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("__t"), i),
                    F.element_at(F.col("__t"), i + F.lit(1)),
                    F.element_at(F.col("__t"), i + F.lit(2)),
                ),
            )
        ).alias("tri"),
    )
    hist = tri.groupBy(group_col, "tri").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    win = F.min(F.struct((-F.col("c")).alias("nc"), F.col("tri").alias("tri")))
    return (
        hist.groupBy(group_col)
        .agg(
            F.sum("c").cast("bigint").alias("n_trigrams"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(F.count(F.lit(1)) * F.lit(1.0) / F.sum("c"), round_at).alias(
                "diversity"
            ),
            win.alias("__w"),
        )
        .select(
            F.col(group_col),
            "n_trigrams",
            "n_distinct",
            "diversity",
            F.col("__w.tri").alias("top_trigram"),
            (-F.col("__w.nc")).cast("bigint").alias("top_count"),
        )
        .orderBy(group_col)
    )


def boilerplate_phrases(
    df: DataFrame,
    n: int = 5,
    top_n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate mining: the word ``n``-grams that
    appear in the most DOCUMENTS (document frequency, not occurrence
    count — a phrase repeated inside one doc is x20's problem; a phrase
    repeated across docs is template/boilerplate mass that line-dedup
    misses when the surrounding text differs). Top ``top_n`` by
    (df DESC, phrase ASC).

    Scale shape: n-grams build map-side per document and dedup
    per-document BEFORE the explode (array_distinct — no shuffle of
    repeated phrases), the document-frequency groupBy is the only
    shuffle (vocabulary-keyed), and top-n is orderBy+limit →
    TakeOrderedAndProject. Reuses the shingle builder, so the oracle
    replays it verbatim."""
    from otus_clickhouse_spark.pipeline.dedup import shingles

    sh = shingles(df, text_col=text_col, id_col=id_col, n=n)
    return (
        sh.groupBy(F.col("shingle").alias("phrase"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .orderBy(F.desc("df"), F.asc("phrase"))
        .limit(top_n)
    )


def ngram_novelty(
    df: DataFrame,
    buckets: int = 10,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: order the corpus into
    ``buckets`` equal id-ranges and count, per bucket, the distinct
    word ``n``-grams seen for the FIRST time — the saturation
    diagnostic for a growing corpus ("is the next crawl still adding
    novel text, or re-crawling what we have?"). A flattening curve is
    the data-driven stop signal for collection.

    Scale shape: each n-gram reduces to its min bucket in one
    vocabulary-keyed aggregation (first-seen = min over the bucket
    ids, partial-aggregable map-side), the curve is a #buckets-row
    groupBy, and the cumulative column is a window over those
    #buckets rows (bounded allowlist). One driver scalar (the corpus
    count) sizes the id ranges."""
    from pyspark.sql import Window

    from otus_clickhouse_spark.pipeline.dedup import shingles

    total = df.count()  # ONE driver-side scalar
    sh = shingles(df, text_col=text_col, id_col=id_col, n=n)
    b = F.least(
        F.floor(F.col(id_col) * buckets / F.lit(total)), F.lit(buckets - 1)
    ).cast("bigint")
    first_seen = (
        sh.select(b.alias("__b"), "shingle")
        .groupBy("shingle")
        .agg(F.min("__b").alias("__fb"))
    )
    curve = first_seen.groupBy(F.col("__fb").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_ngrams")
    )
    w = Window.orderBy("bucket")  # #buckets rows (bounded allowlist)
    return (
        curve.withColumn(
            "cum_distinct", F.sum("new_ngrams").over(w).cast("bigint")
        )
        .orderBy("bucket")
    )


def readability(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    hard_below: float = 30.0,
) -> DataFrame:
    """Per-source readability sheet (Flesch-reading-ease proxy): score =
    206.835 - 1.015*(words/sentences) - 84.6*(vowel_groups/words), with
    vowel groups standing in for syllables and [.!?] marks for sentence
    ends — the deterministic-arithmetic variant a quality pipeline can
    gate on and an oracle can replay (real syllabification is
    dictionary-bound and engine-specific).

    Per source: ``n_docs``, ``mean_score``, ``min_score``/``max_score``,
    ``n_hard`` (score < ``hard_below``). The per-doc primitive is the
    score in CENTI-POINTS — round(raw*100) as an integer — because
    integer rounding of an identical double is engine-portable while
    two-decimal rounding is not (DuckDB's round(x, 2) multiplies first,
    and the multiply can carry a near-half across the boundary; caught
    at sf0.001 as an 85.16-vs-85.17 max). Every output derives from
    those integers: the mean from their sum, min/max by exact /100
    division, the hard gate as an integer predicate.

    Scale shape: every per-doc term is ONE map-side regexp pass; the
    only shuffle is the #sources-sized reduce.
    """
    t = F.col(text_col)
    words = F.greatest(token_count(t), F.lit(1))
    sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]"), 0)), F.lit(1)
    )
    syls = F.greatest(
        F.size(F.regexp_extract_all(F.lower(t), F.lit(r"[aeiouy]+"), 0)),
        F.lit(1),
    )
    raw = (
        F.lit(206.835) - F.lit(1.015) * (words / sents) - F.lit(84.6) * (syls / words)
    )
    base = docs.select(
        F.col(group_col), F.round(raw * 100).cast("bigint").alias("__cp")
    )
    hard_cp = int(round(hard_below * 100))
    return (
        base.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("__cp") / (F.count(F.lit(1)) * 100), 2).alias(
                "mean_score"
            ),
            (F.min("__cp") / 100.0).alias("min_score"),
            (F.max("__cp") / 100.0).alias("max_score"),
            F.sum((F.col("__cp") < hard_cp).cast("int"))
            .cast("bigint")
            .alias("n_hard"),
        )
        .orderBy(group_col)
    )


def vocab_oov(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_n: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary rate per source against the corpus top-``top_n``
    vocabulary (x25's :func:`vocab_build`): the coverage check a
    tokenizer team runs per domain BEFORE freezing a vocab — a source
    whose token mass is largely OOV will fragment into byte-fallbacks
    and train badly.

    Per source: ``n_tokens``, ``n_oov``, ``oov_rate`` (one integer
    division, 4dp).

    Scale shape: the vocabulary is top_n rows — it BROADCASTS; the
    token stream is generated map-side (explode) and flagged by the
    broadcast left join, then reduced per source. The corpus-sized
    stream shuffles only into the #sources-sized aggregate (map-side
    combined), never by token.
    """
    vocab = vocab_build(docs, text_col, top_n).select(
        F.col("token").alias("__vtok"), F.lit(1).alias("__inv")
    )
    toks = docs.select(
        F.col(group_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    )
    flagged = toks.join(
        F.broadcast(vocab), toks["__tok"] == F.col("__vtok"), "left"
    )
    return (
        flagged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.col("__inv").isNull().cast("int")).cast("bigint").alias("n_oov"),
            F.round(
                F.sum(F.col("__inv").isNull().cast("int")) / F.count(F.lit(1)), 4
            ).alias("oov_rate"),
        )
        .orderBy(group_col)
    )
