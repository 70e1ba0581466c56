"""Scale probe: do the engine's plans hold when data grows 10-100x?

Generates synthetic tables far larger than the driver's sf0.1 bench set
(default 20M fact rows ≈ 33x sf0.1 lineitem; 100k documents = 20x
sf0.1) under .scratch/, runs representative operators at two sizes, and
reports rows/s at each so sub-linear scaling (a plan that would fall
over at 100 TB) is visible. Usage:

    python tools/scale_probe.py [small_rows] [big_rows]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
SCRATCH = os.path.join(REPO, ".scratch")


def gen(spark, n_fact: int, n_docs: int, path: str):
    from pyspark.sql import functions as F

    fact = (
        spark.range(n_fact)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 150_000).alias("custkey"),
            (F.pmod(F.xxhash64("id"), 10000) / 100.0).alias("price"),
            (F.pmod(F.xxhash64("id", "id"), 50) + 1).alias("qty"),
            F.concat(F.lit("F"), (F.col("id") % 3).cast("string")).alias("flag"),
            F.date_add(F.lit("1995-01-01").cast("date"), (F.col("id") % 2000).cast("int")).alias("d"),
        )
    )
    fact.repartition(32).sortWithinPartitions("k").write.mode("overwrite").parquet(f"{path}/fact")
    dim = spark.range(150_000).select(
        F.col("id").alias("custkey"),
        F.concat(F.lit("seg"), (F.col("id") % 5).cast("string")).alias("segment"),
    )
    dim.write.mode("overwrite").parquet(f"{path}/dim")
    words = "the quick brown fox jumps over lazy dog spark engine data scale pipeline token shard".split()
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.element_at(
                    F.array(*[F.lit(w) for w in words]),
                    (F.pmod(F.xxhash64("id", F.lit(i)), 3 if i > 24 else len(words)) + 1).cast("int"),
                )
                for i in range(30)
            ],
        ).alias("text"),
    )
    docs.repartition(16).write.mode("overwrite").parquet(f"{path}/docs")


def probe(spark, path: str, n_fact: int, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from otus_clickhouse_spark.pipeline.dedup import minhash_dedup_pairs

    fact = spark.read.parquet(f"{path}/fact")
    dim = spark.read.parquet(f"{path}/dim")
    docs = spark.read.parquet(f"{path}/docs")
    out = {}

    only = [s for s in os.environ.get("SPARK_GRAFT_PROBE_ONLY", "").split(",") if s]

    def timed(name, fn, rows):
        if only and not any(s in name for s in only):
            return
        t0 = time.time()
        fn()
        dt = time.time() - t0
        out[name] = {"sec": round(dt, 3), "rows_per_sec": int(rows / dt)}

    timed("filtered_count", lambda: fact.where(F.col("flag") == "F1").agg(F.count(F.lit(1))).collect(), n_fact)
    timed(
        "groupby_agg",
        lambda: fact.groupBy("flag").agg(F.sum("price"), F.avg("qty"), F.count(F.lit(1))).collect(),
        n_fact,
    )
    timed(
        "broadcast_join_agg",
        lambda: fact.join(F.broadcast(dim), on="custkey")
        .groupBy("segment")
        .agg(F.sum("price"))
        .collect(),
        n_fact,
    )
    timed(
        "window_topn",
        lambda: fact.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "custkey"
                ).orderBy(F.desc("price"))
            ),
        )
        .where(F.col("rn") <= 2)
        .agg(F.count(F.lit(1)))
        .collect(),
        n_fact,
    )
    timed("minhash_pairs", lambda: minhash_dedup_pairs(docs).count(), n_docs)
    # Pathological hot bucket: 30% of the corpus is ONE boilerplate
    # text, so every band bucket of that group holds 0.3·n docs. The
    # LSH_MAX_BUCKET rep-chain must keep candidate volume ~O(n) — the
    # uncapped self-join would be O((0.3n)²) (quadratic: 4x docs -> 16x
    # pairs -> falls over at 100 TB). `sec` staying ~linear in docs and
    # the recorded n_candidates growing ~linearly IS the pass signal.
    from otus_clickhouse_spark.pipeline.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    boiler_docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 < 3,
            F.lit("breaking news subscribe to our newsletter terms of service apply"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    def hot_bucket_run():
        sig = minhash_signatures(
            shingles(boiler_docs), with_size=True
        ).localCheckpoint()
        n_cand = lsh_candidate_pairs(sig, max_bucket=64).count()
        out.setdefault("_aux", {})["lsh_hot_bucket_candidates"] = n_cand
    timed("lsh_hot_bucket_capped", hot_bucket_run, n_docs)

    # r11 verdict ask #4: the x02 pooling claim needs a number the
    # full-pipeline wall (±15% host noise) can't wash out — time the
    # CANDIDATE STEP alone on one fixed signature relation, three ways:
    # solo (one window shuffle), pooled (shared degree relation passed
    # in), and the r9-era groupBy+join-back form it replaced.
    from otus_clickhouse_spark.pipeline.dedup import (
        lsh_band_buckets,
        lsh_bucket_degrees,
    )

    sig_fixed = minhash_signatures(shingles(docs), with_size=True).localCheckpoint()

    def cand_step_run():
        aux = out.setdefault("_aux", {})
        t0 = time.time()
        aux["lsh_cand_solo_n"] = lsh_candidate_pairs(sig_fixed).count()
        aux["lsh_cand_solo_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        buckets = lsh_band_buckets(sig_fixed).localCheckpoint()
        degrees = lsh_bucket_degrees(buckets).localCheckpoint()
        aux["lsh_cand_pooled_n"] = lsh_candidate_pairs(
            sig_fixed, buckets=buckets, degrees=degrees
        ).count()
        aux["lsh_cand_pooled_sec"] = round(time.time() - t0, 3)
        # r9 form: groupBy degree + join-back (the shape the solo
        # window path replaced)
        t0 = time.time()
        b2 = lsh_band_buckets(sig_fixed)
        deg = b2.groupBy("band_key").agg(
            F.count(F.lit(1)).alias("__deg"), F.min("doc_id").alias("__rep")
        )
        ann = b2.join(deg, "band_key")
        from otus_clickhouse_spark.pipeline.dedup import LSH_MAX_BUCKET

        sm = ann.where((F.col("__deg") > 1) & (F.col("__deg") <= LSH_MAX_BUCKET))
        a2, bb = sm.alias("a"), sm.alias("b")
        ps = (
            a2.join(bb, on="band_key")
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        )
        pb = (
            ann.where(
                (F.col("__deg") > LSH_MAX_BUCKET) & (F.col("doc_id") != F.col("__rep"))
            )
            .select(F.col("__rep").alias("a"), F.col("doc_id").alias("b"))
        )
        aux["lsh_cand_groupby_n"] = ps.unionByName(pb).distinct().count()
        aux["lsh_cand_groupby_sec"] = round(time.time() - t0, 3)

    timed("lsh_candidate_step", cand_step_run, n_docs)

    # r11 verdict ask #1: candidate growth of the two restaged sf1
    # heavy-tail operators must stay ~linear across the 10x step.
    # Dedicated corpus with KNOWN ground truth: every doc is 20
    # hash-unique tokens, and docs (2m, 2m+1) share their first 18
    # tokens (a planted near-dup partner, J≈0.8) — so true pairs = n/2
    # exactly, non-partner docs share nothing, and candidate counts
    # have a linear floor to compare against. (The shared generator
    # corpus draws from a ~3k-shingle space that SATURATES at 100k
    # docs — every pair collides, which demonstrates only the
    # adversarial cap, not scaling.)
    from otus_clickhouse_spark.pipeline.dedup import (
        blocked_jaccard_pairs,
        winnow_dup_pairs,
    )

    pair_id = F.floor(F.col("doc_id") / 2)
    planted = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_",
                            (F.floor(F.col("id") / 2) if j < 18 else F.col("id")).cast("string"),
                            F.lit(str(j)),
                        )
                    ),
                    1,
                    6,
                )
                for j in range(20)
            ],
        ).alias("text"),
        F.concat(F.lit("l"), (pair_id % 5).cast("string")).alias("lang"),
        F.concat(F.lit("s"), (pair_id % 20).cast("string")).alias("source"),
    ).localCheckpoint()

    # x10 class — inverted-index blocked Jaccard: candidates come from
    # (block, shingle) posting lists (max_df-capped), never the n²
    # block cartesian. Expected n_pairs = n_docs/2 (the planted
    # partners): pair count AND wall growing ~linearly with docs is
    # the pass signal.
    def blocked_jaccard_run():
        n_pairs = blocked_jaccard_pairs(
            planted, threshold=0.5, max_df=10_000
        ).count()
        out.setdefault("_aux", {})["blocked_jaccard_pairs_n"] = n_pairs

    timed("blocked_jaccard_index", blocked_jaccard_run, n_docs)

    # x68 class — winnowing fingerprint pairs (polynomial gram hash +
    # rebalanced hashing pass + >1024-df fingerprint drop)
    # x68 class — winnowing fingerprints over the same planted corpus:
    # partners share a ~125-char span, far over the w+k-1 detection
    # floor, so expected pairs = n_docs/2 and growth must be linear
    def winnow_run():
        n_pairs = winnow_dup_pairs(
            planted, k=20, w=8, min_shared=3
        ).count()
        out.setdefault("_aux", {})["winnow_pairs_n"] = n_pairs

    timed("winnow_fingerprint_pairs", winnow_run, n_docs)

    timed(
        "in_subquery_semi",
        lambda: fact.join(
            dim.where(F.col("segment") == "seg1").select("custkey"), on="custkey", how="left_semi"
        )
        .agg(F.count(F.lit(1)))
        .collect(),
        n_fact,
    )
    # AggregatingMergeTree read path: per-(flag, day) HLL states merged
    # to per-flag uniques — state rows, not raw rows, cross the shuffle
    timed(
        "uniq_state_merge",
        lambda: fact.groupBy("flag", "d")
        .agg(F.hll_sketch_agg("custkey").alias("st"))
        .groupBy("flag")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("st")))
        .collect(),
        n_fact,
    )

    from otus_clickhouse_spark.operators.asof import asof_join

    trades = fact.select("k", "custkey", F.col("d").cast("timestamp").alias("ts"), "price")
    quotes = fact.where(F.col("k") % 4 == 0).select(
        "custkey", F.timestamp_add("HOUR", F.lit(-1), F.col("d").cast("timestamp")).alias("ts"),
        F.col("qty").alias("ref"),
    )
    timed(
        "asof_join",
        lambda: asof_join(trades, quotes, on=["custkey"], left_ts="ts", right_ts="ts")
        .agg(F.count(F.lit(1)))
        .collect(),
        n_fact,
    )

    from otus_clickhouse_spark.operators.graphite import (
        GraphitePattern,
        Retention,
        graphite_rollup,
    )
    from otus_clickhouse_spark.pipeline.text import pack_sequences

    patterns = [
        GraphitePattern("^F1", "sum", [Retention(0, 3600), Retention(86400 * 365, 86400)]),
        GraphitePattern(None, "avg", [Retention(0, 3600), Retention(86400 * 365, 86400)]),
    ]
    timed(
        "graphite_rollup",
        lambda: graphite_rollup(
            fact.select(
                F.col("flag").alias("path"),
                F.col("d").cast("timestamp").alias("time"),
                F.col("price").alias("value"),
            ),
            patterns,
            "2001-01-01 00:00:00",
            ts_col=None,
        ).agg(F.count(F.lit(1))).collect(),
        n_fact,
    )
    timed(
        "sequence_packing",
        lambda: pack_sequences(docs, max_tokens=128)
        .groupBy("shard", "bin_id")
        .agg(F.sum("n_tok"))
        .agg(F.count(F.lit(1)))
        .collect(),
        n_docs,
    )

    from otus_clickhouse_spark.operators.behavioral import window_funnel

    # funnel over 150k users × n_fact events — the per-user event
    # arrays are what must stay bounded, not the total volume
    timed(
        "window_funnel",
        lambda: window_funnel(
            fact.select("custkey", F.col("d").cast("timestamp").alias("ts"), "flag"),
            "custkey",
            "ts",
            ["flag = 'F0'", "flag = 'F1'", "flag = 'F2'"],
            86400 * 3650,
        )
        .groupBy("level")
        .count()
        .collect(),
        n_fact,
    )

    from otus_clickhouse_spark.plans.text_index import bm25_topk, build_tf_index
    from otus_clickhouse_spark.pipeline.text import chunk_documents

    timed(
        "bm25_topk",
        lambda: bm25_topk(build_tf_index(docs), ["spark", "engine", "data"], 10).collect(),
        n_docs,
    )
    timed(
        "chunking",
        lambda: chunk_documents(docs, 16, 12).agg(F.count(F.lit(1))).collect(),
        n_docs,
    )

    from otus_clickhouse_spark.pipeline.dedup import substring_dup_pairs
    from otus_clickhouse_spark.pipeline.sampling import dsir_weights

    timed(
        "substring_dedup",
        lambda: substring_dup_pairs(docs, window=16).count(),
        n_docs,
    )
    timed(
        "dsir_weights",
        lambda: dsir_weights(docs, F.col("doc_id") % 3 == 0)
        .agg(F.count(F.lit(1)), F.sum("logw"))
        .collect(),
        n_docs,
    )
    # derived-dimension join (TPC-H h09/h02 shape): per-key aggregate of
    # the fact joined back onto the fact — the one non-broadcast join in
    # the TPC-H suite; both sides hash-partition on the same key
    timed(
        "derived_ps_join",
        lambda: fact.join(
            fact.groupBy("custkey").agg(F.min("price").alias("mc")), "custkey"
        )
        .where(F.col("price") == F.col("mc"))
        .agg(F.count(F.lit(1)))
        .collect(),
        n_fact,
    )

    # classifier-stage curation: NB train (two (class,token) groupBys)
    # + broadcast-model scoring. Shuffle volume tracks distinct tokens
    # and (doc, class) partials, not corpus tokens — docs/s must rise
    # with size as job overhead amortizes.
    from otus_clickhouse_spark.pipeline.classify import (
        naive_bayes_predict,
        naive_bayes_train,
    )

    labeled_docs = docs.withColumn("label", (F.col("doc_id") % 4).cast("string"))

    def nb_run():
        model, priors = naive_bayes_train(
            labeled_docs.where(F.col("doc_id") % 5 != 0), max_vocab=4096
        )
        naive_bayes_predict(
            labeled_docs.where(F.col("doc_id") % 5 == 0), model, priors
        ).groupBy("predicted").count().collect()

    timed("nb_classifier", nb_run, n_docs)

    # line-level boilerplate dedup: corpus shuffle = distinct-line
    # frequency table; reassembly is a per-doc keyed collect
    from otus_clickhouse_spark.pipeline.text import line_dedup

    timed(
        "line_dedup",
        lambda: line_dedup(docs, sep=" ", max_docs=max(n_docs // 2, 2))
        .agg(F.count(F.lit(1)), F.sum("n_removed"))
        .collect(),
        n_docs,
    )

    # feature-hashed embeddings: one explode + one groupBy of 16
    # conditional counts — vocabulary-free text→vector bridge
    from otus_clickhouse_spark.pipeline.classify import hashed_embeddings

    timed(
        "hashed_embeddings",
        lambda: hashed_embeddings(docs, dims=16)
        .agg(F.count(F.lit(1)))
        .collect(),
        n_docs,
    )

    # the one designed Python boundary: Arrow-batched media decode.
    # Real PPM decodes across all partitions — the number to watch is
    # docs/s staying linear as the media table grows (partition-local,
    # no shuffle, so it must).
    from otus_clickhouse_spark.pipeline.multimodal import (
        MEDIA_SCHEMA, extract_features, make_textured_ppm,
    )

    n_media = max(n_docs // 10, 1000)
    payload = [make_textured_ppm(32, 24, seed=s) for s in range(16)]
    media = spark.createDataFrame(
        [(i, "image", "image/x-portable-pixmap", 32, 24, None, payload[i % 16])
         for i in range(n_media)],
        MEDIA_SCHEMA,
    ).repartition(32)
    timed(
        "media_decode",
        lambda: extract_features(media).agg(F.count(F.lit(1))).collect(),
        n_media,
    )

    # retrieval-granularity chunking (x50 path): map-side explode into
    # packed passage ids — zero shuffle, so passages/s must track docs/s
    from otus_clickhouse_spark.pipeline.text import chunk_passages

    timed(
        "chunk_passages",
        lambda: chunk_passages(docs, chunk_tokens=16, stride=8)
        .agg(F.count(F.lit(1)))
        .collect(),
        n_docs,
    )

    # round-8 text/curation ops (x72-x76, x79): every one reduces to a
    # vocabulary-, histogram- or eval-set-bounded aggregate; docs/s must
    # rise with corpus size. The forcing aggregates SUM a computed value
    # column (not count(lit(1))) so Catalyst cannot prune the expensive
    # expressions out of the timing (the agg-pruning microbench trap).
    from otus_clickhouse_spark.pipeline.curation import robust_length_outliers
    from otus_clickhouse_spark.pipeline.decontam import eval_overlap_report
    from otus_clickhouse_spark.pipeline.text import (
        pmi_bigrams, tfidf_top_terms, trigram_diversity,
    )

    sdocs = docs.withColumn("source", (F.col("doc_id") % 20).cast("string"))
    timed(
        "tfidf_top_terms",
        lambda: tfidf_top_terms(docs).agg(F.sum("tfidf")).collect(),
        n_docs,
    )
    timed(
        "pmi_bigrams",
        lambda: pmi_bigrams(docs).agg(F.sum("pmi")).collect(),
        n_docs,
    )
    spark.catalog.clearCache()  # pmi persists its token-array base
    timed(
        "trigram_diversity",
        lambda: trigram_diversity(sdocs)
        .agg(F.sum("diversity"), F.sum("top_count"))
        .collect(),
        n_docs,
    )
    timed(
        "mad_outliers_hist_median",
        lambda: robust_length_outliers(sdocs)
        .agg(F.sum("n_outliers"), F.sum("mad_len"))
        .collect(),
        n_docs,
    )
    # r9: the histogram-threshold quantile gate (x75's rewritten path —
    # no per-source corpus window; 4dp quality grid keeps the histogram
    # <= 10k rows/source, so docs/s must rise with corpus size)
    from otus_clickhouse_spark.pipeline.curation import quantile_quality_gate

    qdocs = sdocs.select(
        "doc_id",
        "source",
        F.round(F.pmod(F.col("doc_id") * 37, F.lit(10000)) / 10000.0, 4).alias(
            "quality"
        ),
    )
    timed(
        "quantile_gate_hist",
        lambda: quantile_quality_gate(qdocs, keep_frac=0.25)
        .agg(F.sum("n_kept"), F.sum("kept_id_sum"))
        .collect(),
        n_docs,
    )
    timed(
        "eval_overlap_report",
        lambda: eval_overlap_report(docs)
        .agg(F.sum("coverage"), F.sum("top_shared"))
        .collect(),
        n_docs,
    )
    # round-9 ops: doc-frequency phrases (vocab-keyed), source overlap
    # (per-key fanout bounded by #sources^2), novelty curve (min-bucket
    # reduce) — docs/s must rise with corpus size for all three
    from otus_clickhouse_spark.pipeline.dedup import source_overlap
    from otus_clickhouse_spark.pipeline.text import boilerplate_phrases, ngram_novelty

    timed(
        "boilerplate_phrases",
        lambda: boilerplate_phrases(docs).agg(F.sum("df")).collect(),
        n_docs,
    )
    timed(
        "source_overlap",
        lambda: source_overlap(sdocs).agg(F.sum("jaccard")).collect(),
        n_docs,
    )
    timed(
        "ngram_novelty",
        lambda: ngram_novelty(docs).agg(F.sum("cum_distinct")).collect(),
        n_docs,
    )

    # OR-construction LSH ANN (x42 path): corpus exploded across 4 hash
    # tables map-side, broadcast query probes, pair-keyed dedup + rank —
    # the corpus never re-shuffles, so rows/s should stay linear
    from otus_clickhouse_spark.pipeline.similarity import lsh_topk

    emb = hashed_embeddings(docs, dims=16).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    ).localCheckpoint()
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    timed(
        "lsh_topk_multitable",
        lambda: lsh_topk(emb, qs, k=10, planes=4, multiprobe=4, tables=4)
        .agg(F.count(F.lit(1)))
        .collect(),
        n_docs,
    )

    # the flagship end-to-end pipeline (x47's exact code path): dedup →
    # quality → NB classifier gate → token-budget select. The number to
    # watch is docs/s holding as the corpus grows — every stage shuffles
    # digests/counts, never bodies.
    from otus_clickhouse_spark.pipeline.curation import curation_funnel

    labeled = docs.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"))
    )
    timed(
        "curation_funnel",
        lambda: curation_funnel(labeled, token_budget=max(n_docs, 5000)).collect(),
        n_docs,
    )

    # link-graph PageRank (x55's code path): 3 power iterations over a
    # 3-out-degree synthetic graph on the full doc set. Each iteration
    # is two edge-keyed shuffles; edges/s should hold as the graph grows
    # (the 100 TB shape is identical, just more edge partitions).
    from otus_clickhouse_spark.pipeline.graph import pagerank

    pr_edges = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    *[
                        (F.col("doc_id") * F.col("doc_id") * (k + 2)) % n_docs
                        for k in (1, 2, 3)
                    ]
                )
            ).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    timed(
        "pagerank_3iter",
        lambda: pagerank(pr_edges, n_iter=3).agg(F.count(F.lit(1))).collect(),
        3 * n_docs,
    )

    # SCD2 CDC merge (x57's code path): base snapshot + a 10% update
    # batch through one key-partitioned window. rows/s should rise with
    # the fact table — the merge shuffles (key, ts, attrs) once.
    from otus_clickhouse_spark.pipeline.cdc import scd2_merge

    base = fact.select(
        "k", F.col("d").alias("ts"), F.col("flag").alias("st"), "price"
    )
    upd = base.where(F.col("k") % 10 == 0).select(
        "k", F.date_add("ts", 30).alias("ts"), F.lit("FX").alias("st"),
        F.round(F.col("price") * 1.1, 2).alias("price"),
    )
    timed(
        "scd2_merge",
        lambda: scd2_merge(base, upd, key="k", ts_col="ts", attrs=["st", "price"])
        .agg(F.count(F.lit(1))).collect(),
        n_fact,
    )

    # SQ8 int8 quantization (x56's code path): per-dim stats pass +
    # code materialization over a synthetic 16-dim embedding column.
    # Both passes are map-side scans; rows/s must scale with the fact
    # table (the stats reduce is dim-bounded).
    from otus_clickhouse_spark.pipeline.similarity import sq8_codes, sq8_stats

    emb = fact.select(
        "k",
        F.array(*[
            (F.pmod(F.xxhash64("k", F.lit(i)), 1000) / 500.0 - 1.0)
            for i in range(16)
        ]).alias("embedding"),
    )

    def sq8_run():
        mins, scales = sq8_stats(emb, 16)
        sq8_codes(emb, mins, scales, id_col="k").agg(F.count(F.lit(1))).collect()

    timed("sq8_quantize", sq8_run, n_fact)

    # PQ: codebook train (seed sample + one Lloyd step whose shuffle is
    # O(m*ksub*dim) partial sums) + m-byte encode + LUT-scored ADC scan
    # for 3 queries. All corpus passes are map-side; rows/s must scale.
    from otus_clickhouse_spark.pipeline.similarity import pq_topk, pq_train

    def pq_run():
        books = pq_train(emb, m=4, ksub=16, dim=16, id_col="k")
        q = emb.where(F.col("k") < 3).select(F.col("k").alias("query_id"), "embedding")
        pq_topk(
            emb, q, k=5, m=4, ksub=16, dim=16, id_col="k", books=books, rerank=50,
        ).agg(F.count(F.lit(1))).collect()

    timed("pq_train_encode_adc", pq_run, n_fact)

    # PQ at PRODUCTION embedding dims (256-d, ksub 64, m 16): codebooks
    # broadcast as data, argmin/LUT/score via transform/zip_with/aggregate
    # HOFs — a constant expression tree however big m·ksub·dsub grows.
    # capped at 500k rows: HOF lambdas evaluate INTERPRETED (no codegen
    # for higher-order functions), so the assignment pass is bounded at
    # ~7k rows/s/32-threads at this shape however the expression is
    # arranged — expressibility is the claim here, not throughput; the
    # Arrow kernel row below is the bulk-encode path at full n_fact
    # the dim-256 inputs are MATERIALIZED to scratch parquet untimed:
    # the synthetic generator (an interpreted 256-element transform) was
    # otherwise the majority of the timed section, and a real encode job
    # reads stored embeddings anyway
    n_hi = min(n_fact, 500_000)
    # the whole dim-256 PQ block (materialize + train + encode + ADC)
    # shares state (books_hi/codes_ar); a filtered run that asks for
    # none of its probes skips the block wholesale
    if not only or any(
        x in "pq_dim256 pq_arrow_encode_dim256 pq_adc_query_dim256"
        for x in only
    ):
        _pq_dim256_block(spark, path, fact, n_fact, n_hi, timed, F)

    # --- remaining probes that need none of the PQ block state ---
    _tail_probes(spark, path, fact, docs, n_fact, n_docs, timed, out, only, F)
    return out


def _pq_dim256_block(spark, path, fact, n_fact, n_hi, timed, F):
    from otus_clickhouse_spark.pipeline.similarity import pq_codes_arrow, pq_topk, pq_train

    emb_hi_path = os.path.join(path, "emb_dim256")
    fact.where(F.col("k") < n_hi).select(
        "k",
        F.transform(
            F.sequence(F.lit(1), F.lit(256)),
            lambda i: (F.pmod(F.xxhash64("k", i), 1000) / 500.0 - 1.0),
        ).alias("embedding"),
    ).write.mode("overwrite").parquet(emb_hi_path)
    emb_hi = spark.read.parquet(emb_hi_path)

    books_hi = {}

    def pq_hi_run():
        books_hi["b"] = pq_train(emb_hi, m=16, ksub=64, dim=256, id_col="k")
        q = emb_hi.where(F.col("k") < 3).select(F.col("k").alias("query_id"), "embedding")
        pq_topk(
            emb_hi, q, k=5, m=16, ksub=64, dim=256, id_col="k",
            books=books_hi["b"], rerank=50,
        ).agg(F.count(F.lit(1))).collect()

    timed("pq_dim256", pq_hi_run, n_hi)

    # the production bulk-encode kernel (pq_codes_arrow — mapInPandas,
    # batched numpy argmin, byte-identical codes pinned by
    # test_pq_dim256_codes_equal_the_arrow_kernel_and_recall) at the SAME dim-256 shape over the
    # full fact table: this is the row that shows the compression pass
    # scales — rows/s must hold from small to big
    from otus_clickhouse_spark.pipeline.similarity import pq_codes_arrow

    n_ar = n_fact  # the bulk kernel takes the FULL fact table
    emb_ar_path = os.path.join(path, "emb_dim256_all")
    # codegen'd randn array (NOT the interpreted 256-element transform,
    # which generates at ~21k rows/s and would dwarf the materialize)
    fact.select(
        "k", F.array(*[F.randn(seed=i) for i in range(256)]).alias("embedding")
    ).write.mode("overwrite").parquet(emb_ar_path)
    emb_ar = spark.read.parquet(emb_ar_path)

    def pq_arrow_run():
        pq_codes_arrow(emb_ar, books_hi["b"], id_col="k").agg(
            F.count(F.lit(1))
        ).collect()

    timed("pq_arrow_encode_dim256", pq_arrow_run, n_ar)

    # PQ ADC QUERY at production dim (verdict-r9 #4): scan PRE-ENCODED
    # m-byte codes (the 100 TB serving shape — codes stored once by the
    # Arrow kernel above; pq_topk(codes=...) skips the encode). The
    # scan is m element_at lookups per (row, query) — NOT the
    # m·ksub·dsub encode arithmetic — so the interpreted-HOF floor that
    # caps pq_dim256 does NOT apply here: measured 55.7k -> 72.1k
    # rows/s at 200k -> 2M rows (RISES at 10×, ~40× above the floor).
    # rows/s must keep rising with n for this row to stay green.
    codes_ar = {
        "c": pq_codes_arrow(emb_ar, books_hi["b"], id_col="k").localCheckpoint()
    }  # encode untimed — the serving path reads STORED codes

    def pq_adc_query_run():
        q = emb_hi.where(F.col("k") < 3).select(F.col("k").alias("query_id"), "embedding")
        pq_topk(
            emb_ar, q, k=5, m=16, ksub=64, dim=256, id_col="k",
            books=books_hi["b"], codes=codes_ar["c"],
        ).agg(F.count(F.lit(1))).collect()

    timed("pq_adc_query_dim256", pq_adc_query_run, n_ar)


def _tail_probes(spark, path, fact, docs, n_fact, n_docs, timed, out, only, F):
    sdocs = docs.withColumn("source", (F.col("doc_id") % 20).cast("string"))
    # round-9 continuation ops: span-level dup coverage (one digest-
    # keyed df agg + one digest-keyed join), the LSH s-curve audit
    # (candidate-bounded verify on x02's machinery), and the two-gate
    # disagreement sheet (vocab-bounded LM broadcasts + histogram
    # median). docs/s must rise with corpus size for all three.
    from otus_clickhouse_spark.pipeline.curation import gate_disagreement
    from otus_clickhouse_spark.pipeline.dedup import (
        band_collision_audit,
        dup_coverage,
    )

    timed(
        "dup_coverage",
        lambda: dup_coverage(sdocs).agg(F.sum("n_docs")).collect(),
        n_docs,
    )
    timed(
        "band_scurve_audit",
        lambda: band_collision_audit(docs).agg(F.sum("n_pairs")).collect(),
        n_docs,
    )
    timed(
        "gate_disagreement",
        lambda: gate_disagreement(sdocs).agg(F.sum("n_docs")).collect(),
        n_docs,
    )

    # batch-B ops: readability (one map-side regexp pass + #sources
    # reduce) and vocab OOV (top-N vocab broadcast onto the exploded
    # token stream). Both must approach the scan asymptote.
    from otus_clickhouse_spark.pipeline.text import readability, vocab_oov

    timed(
        "readability",
        lambda: readability(sdocs).agg(F.sum("n_docs")).collect(),
        n_docs,
    )
    timed(
        "vocab_oov",
        lambda: vocab_oov(sdocs, top_n=10).agg(F.sum("n_tokens")).collect(),
        n_docs,
    )

    # IVF stored-index lifecycle (verdict-r10 #4): build the index ONCE
    # (offline cost, not measured), then (a) append a FIXED 2k-row
    # sliver — cost must stay flat as the index grows 10x (assign is
    # O(sliver·k·dim), parquet append touches only the sliver's list
    # dirs), and (b) serve queries from the stored lists — reads
    # nprobe/k of the corpus via partition pruning, so rows/s (metric:
    # corpus rows "covered" per sec) must rise-or-hold with index size.
    from otus_clickhouse_spark.pipeline.similarity import (
        ivf_append_index,
        ivf_search_stored,
        ivf_write_index,
    )

    def _ivf_vecs(df, id_col="doc_id", dim=32):
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(dim)),
                lambda i: F.sin((F.col(id_col) + 1) * i.cast("double") * 0.1),
            ).alias("embedding"),
        )

    ivf_path = os.path.join(path, "ivf_idx")
    # everything below has unconditional heavy SETUP (index build,
    # stream engine); skip it entirely when a filtered run doesn't ask
    # for one of its probes
    if only and not any(
        x in "ivf_incremental_append ivf_stored_search stream_backlog_replay"
        for x in only
    ):
        return out
    ivf_write_index(_ivf_vecs(docs), ivf_path, k=16, iters=2)
    sliver_n = 2_000
    sliver = spark.range(sliver_n).select(
        (F.col("id") + 10_000_000).alias("doc_id")
    )

    timed(
        "ivf_incremental_append",
        lambda: ivf_append_index(_ivf_vecs(sliver), ivf_path),
        sliver_n,
    )

    def ivf_search_run():
        qs = _ivf_vecs(docs.where(F.col("doc_id") < 8)).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
        )
        n = ivf_search_stored(spark, ivf_path, qs, k=10, nprobe=2).count()
        assert n == 80, n

    timed("ivf_stored_search", ivf_search_run, n_docs)

    # Streaming ingest backlog replay (verdict-r9 #5): an n_docs-message
    # pre-existing backlog (100 jsonl segments) streamed through
    # kafka_attach_stream's file-topic stand-in -> MV -> MergeTree
    # landing. The per-trigger bound (16 files/trigger) walks the
    # backlog in block-sized, executor-resident batches; sustained
    # rows/s must HOLD as the backlog grows 10x. The state-boundedness
    # half of the ask (session-window state rows == active sessions,
    # 10x events -> zero state growth) is the standing pytest
    # test_session_window_state_scales_with_sessions_not_events.
    import json
    import shutil as _shutil

    from otus_clickhouse_spark.engine import Engine

    topic = "probe_backlog"
    _shutil.rmtree(f"spark-warehouse/_kafka/{topic}", ignore_errors=True)
    eng = Engine(spark, data_dir=path)
    eng.execute(
        "CREATE TABLE pb_src (message String) ENGINE = Kafka SETTINGS "
        "kafka_broker_list = 'b:9092', kafka_topic_list = '%s', "
        "kafka_format = 'JSONAsString', kafka_group_name = 'pb_grp'" % topic
    )
    eng.execute(
        "CREATE TABLE pb_raw (message String, _offset UInt64) "
        "ENGINE = MergeTree ORDER BY _offset"
    )
    eng.tables["pb_raw"].path = os.path.join(path, "pb_raw")
    eng.execute(
        "CREATE MATERIALIZED VIEW pb_mv TO pb_raw AS "
        "SELECT message, _offset FROM pb_src"
    )
    n_stream = n_docs
    seg = [json.dumps({"i": i}) for i in range(n_stream // 100)]
    for _ in range(100):  # 100 produce blocks = 100 topic segments
        eng.kafka_produce(topic, seg)
    sq = {}

    def backlog_run():
        sq["q"] = eng.kafka_attach_stream(
            "pb_src", checkpoint=os.path.join(path, "pb_ck")
        )
        sq["q"].processAllAvailable()
        n_landed = eng.execute("SELECT count() AS n FROM pb_raw")[0].n
        assert n_landed == n_stream, (n_landed, n_stream)

    try:
        timed("streaming_ingest_backlog", backlog_run, n_stream)
    finally:
        if "q" in sq:
            sq["q"].stop()
        for ddl in ("DROP TABLE IF EXISTS pb_mv", "DROP TABLE IF EXISTS pb_src",
                    "DROP TABLE IF EXISTS pb_raw"):
            eng.execute(ddl)
        _shutil.rmtree(f"spark-warehouse/_kafka/{topic}", ignore_errors=True)
    return out


def main():
    small_fact = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    big_fact = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000
    from otus_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="scale-probe")
    results = {}
    for label, n_fact, n_docs in (("small", small_fact, 10_000), ("big", big_fact, 100_000)):
        path = os.path.join(SCRATCH, label)
        gen(spark, n_fact, n_docs, path)
        results[label] = {"n_fact": n_fact, "n_docs": n_docs, **probe(spark, path, n_fact, n_docs)}
    print(json.dumps(results, indent=2))
    # clean up only this tool's own datasets — .scratch is shared with
    # bench.py, whose cached scale table (100M rows by default;
    # SPARK_GRAFT_SCALE_ROWS overrides) must survive between rounds
    for label in ("small", "big"):
        shutil.rmtree(os.path.join(SCRATCH, label), ignore_errors=True)


if __name__ == "__main__":
    main()
