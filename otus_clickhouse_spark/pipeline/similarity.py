"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set, crossJoin against the corpus — embarrassingly parallel, no
shuffle of the corpus, scales linearly with corpus size. The LSH
(sign-random-projection) variant prunes the corpus to matching buckets
first: candidate generation becomes an equi-join on bucket id, which at
100 TB turns a full scan per query into a hash-partition lookup.

All vector math is JVM-side (``zip_with`` + ``aggregate``); no UDFs —
with ONE documented exception: :func:`pq_codes_arrow`, an opt-in
Arrow-vectorized PQ encode kernel for production embedding dims. No
registry query uses it (tests/test_plan_sweep.py keeps Python eval out
of those); it exists because interpreted HOF evaluation is the JVM
expression engine's floor at dim ≳ 256 and a batched numpy argmin is
the honest 100 TB encode path. It is also the reference the tests
pin the HOF encode against.

The quantized-ANN family (SQ8, PQ, IVF-PQ) has one model transport:
the (min, scale) vectors or the codebook tensor broadcast as a 1-row
array frame and are consumed through ``transform``/``zip_with``/
``aggregate``, so the expression tree has the same size at any dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from otus_clickhouse_spark.io import rebalance


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0).cast("double"), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Plan: BroadcastNestedLoopJoin(queries) over corpus → per-query window
    top-k. Corpus never shuffles for scoring; the window shuffles only
    (query_id, score) pairs.

    Norms are hoisted to the per-row side (r12, guide §2.3): cosine()
    would re-fold norm(corpus row) once per QUERY and norm(query) once
    per corpus ROW; computing each once and scoring dot/(qn·cn) is
    bit-identical (same fold order, same multiply) and drops ~2/3 of
    the per-pair arithmetic.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
    ).withColumn("__qn", norm(F.col("__qv")))
    c = rebalance(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv"))
    ).withColumn("__cn", norm(F.col("__cv")))
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos", "rnk")
    )


def srp_bucket(vec: Column, planes: int = 8, offset: int = 0) -> Column:
    """Sign-random-projection bucket id from ``planes`` dims starting at
    ``offset`` (0-based).

    Deterministic stand-in for random hyperplanes: bit b = sign of
    element offset+b. Portable to the SQL oracle (element access +
    CASE). Distinct offsets give the independent hash tables of
    OR-construction LSH (each table looks at a disjoint dim slice).
    """
    bits = [
        F.when(F.element_at(vec, offset + b + 1) >= 0, F.lit(2**b)).otherwise(F.lit(0))
        for b in range(planes)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out.cast("int")


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_cos: int | None = None,
    round_mean: int | None = None,
) -> DataFrame:
    """Train the IVF coarse quantizer: Lloyd's k-means over embeddings.

    Per iteration: broadcast the k centroids, map-side assign every
    vector to its argmax-cosine centroid (zero corpus shuffle — the
    same plan as :func:`x11`'s assignment), then one groupBy(k) to
    average members element-wise. Shuffle volume per round is
    O(partitions × k × dim) partial sums, independent of corpus size —
    the plan a 100 TB IVF build needs. Deterministic init: the k
    lowest-id vectors. Returns (centroid_id, centroid) with unit-less
    mean vectors; converged assignment = ``lsh``-style bucket column
    for writes.

    ``round_cos``/``round_mean`` quantize the assignment score and the
    recomputed centroid components each round. With both set, the
    trajectory is bit-reproducible across engines and summation orders
    (ties broken by lowest centroid_id), which is what lets an external
    SQL oracle replay the training loop exactly.
    """
    # __nrm rides in the persisted projection: one norm fold per row for
    # the WHOLE training run instead of k per row per iteration —
    # dot/(nv·nc) is bit-identical to cosine() (same fold order)
    base = rebalance(
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    ).withColumn("__nrm", norm(F.col("v"))).persist()
    # deterministic spread init: the k lowest md5(id) ranks — a
    # hash-uniform pseudo-random sample. Planned as TakeOrderedAndProject
    # (per-partition top-k, tiny merge on the driver), unlike a
    # row_number window which would sort the whole corpus in one task.
    seeds = (
        base.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    cent = corpus.sparkSession.createDataFrame(
        [(i, list(r["v"])) for i, r in enumerate(sorted(seeds, key=lambda r: r["__h"]))],
        "centroid_id int, cv array<double>",
    )
    for _ in range(iters):
        # centroid norms: k folds per round on the broadcast side
        centn = cent.withColumn("__cn", norm(F.col("cv")))
        score = dot(F.col("v"), F.col("cv")) / (F.col("__nrm") * F.col("__cn"))
        if round_cos is not None:
            score = F.round(score, round_cos)
        assigned = (
            base.crossJoin(F.broadcast(centn))
            .withColumn("cos", score)
            .groupBy(id_col, "v")
            .agg(F.max_by("centroid_id", F.struct("cos", (-F.col("centroid_id")).alias("t"))).alias("centroid_id"))
        )
        mean = F.avg("x")
        if round_mean is not None:
            mean = F.round(mean, round_mean)
        # element-wise mean via posexplode → (centroid, pos) partial sums
        cent = (
            assigned.select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(mean.alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform(F.col("pm"), lambda s: s["m"]).alias("cv"),
            )
        ).localCheckpoint()
    base.unpersist()
    return cent.select("centroid_id", F.col("cv").alias("centroid"))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    multiprobe: int = 0,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's bucket.

    At scale the corpus is written bucketed/partitioned by ``bucket`` so
    each query touches one partition (partition pruning on the equi-join
    key) instead of the full corpus.

    ``multiprobe=m`` additionally probes the ``m`` buckets at Hamming
    distance 1 from the query's bucket (single sign-bit flips — the
    standard multi-probe LSH recall fix, Lv et al. 2007). The corpus
    never re-shuffles: only the tiny broadcast query side is expanded
    ``m+1``×.

    ``tables=L`` is OR-construction LSH: L independent hash tables,
    table t hashing the disjoint dim slice ``[t*planes, (t+1)*planes)``;
    a corpus vector is a candidate if it collides with the query in ANY
    table. This is the recall dial that multiprobe alone cannot reach —
    probe depth explores one table's Hamming ball, extra tables give
    independent chances to catch a neighbour whose signs differ in the
    first slice. Candidates are deduped on the (query, vector) pair
    before the exact cosine re-rank, so results stay identical to
    brute force restricted to the candidate union. The corpus side is
    exploded L× map-side (no shuffle — the join stays broadcast-hash);
    the pair dedup shuffles candidate PAIRS only, never the corpus."""
    # All ``tables`` bucket ids come from ONE sign-bit fold per row
    # (r12, guide §1.2 — plan-construction cost): H = Σ 2^j·[vec[j]≥0]
    # over the first planes·tables dims, then table t's bucket is the
    # integer slice (H >> t·planes) & (2^planes − 1) — bit-identical to
    # the per-table srp_bucket when-chain (same [x ≥ 0] predicate, same
    # powers of two), but the expression tree is ~10 nodes instead of
    # tables × planes CASE branches. At the registry shape (4 tables ×
    # 4 planes, both join sides) the when-chain form cost ~1.5 s of
    # Catalyst analysis per query CONSTRUCTION — paid on every run.
    nbits = planes * tables
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(nbits)])
    mask = (1 << planes) - 1

    def hbits(col: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                F.slice(col, 1, nbits),
                powers,
                lambda x, p: F.when(x >= 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def table_bucket(hcol: Column, t: int) -> Column:
        return F.shiftright(hcol, t * planes).bitwiseAND(F.lit(mask)).cast("int")

    c = rebalance(
        corpus.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        )
    ).select(
        id_col,
        "__cv",
        norm(F.col("__cv")).alias("__cn"),  # once per row, not per candidate
        hbits(F.col("__cv")).alias("__hb"),
    )
    c = c.select(
        id_col,
        "__cv",
        "__cn",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), table_bucket(F.col("__hb"), t).alias("b")
                    )
                    for t in range(tables)
                ]
            )
        ).alias("__tb"),
    )
    # query side: every (table, probe) entry comes off the same __hb in
    # ONE flat explode — the old per-table explode + per-probe explode
    # was two chained generators and two more analyzer passes
    q_entries = []
    for t in range(tables):
        qb = table_bucket(F.col("__hb"), t)
        q_entries.append(F.struct(F.lit(t).alias("t"), qb.alias("b")))
        for bit in range(multiprobe):
            q_entries.append(
                F.struct(
                    F.lit(t).alias("t"),
                    qb.bitwiseXOR(F.lit(1 << bit)).cast("int").alias("b"),
                )
            )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).select(
        query_id_col,
        "__qv",
        norm(F.col("__qv")).alias("__qn"),
        hbits(F.col("__qv")).alias("__hb"),
    ).select(
        query_id_col,
        "__qv",
        "__qn",
        F.explode(F.array(*q_entries)).alias("__tb"),
    )
    scored = c.join(F.broadcast(q), on="__tb").select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 4
        ).alias("cos"),
    )
    if tables > 1:
        # same pair can collide in several tables — exact re-rank needs it once
        scored = scored.groupBy(query_id_col, id_col).agg(F.first("cos").alias("cos"))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos", "rnk")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_cos: int | None = None,
) -> DataFrame:
    """Assign every vector to its argmax-cosine centroid — the shared
    map-side build step of IVF (x11, :func:`ivf_topk`, and the stored
    index). Broadcast the k centroids; ZERO corpus shuffle: the argmax
    folds in a map-side groupBy on the (already unique) id. Returns
    (id_col, v array<double>, centroid_id); ties break to the lowest
    centroid_id. Cost is O(rows·k·dim) map work — linear in the rows
    you feed it, which is what makes the incremental-append path cheap:
    assigning a new-rows sliver never touches the existing index."""
    base = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("__nv", norm(F.col("v")))  # once per row, not per centroid
    ccol = "cv" if "cv" in centroids.columns else "centroid"
    cent = centroids.select("centroid_id", F.col(ccol).alias("cv")).withColumn(
        "__nc", norm(F.col("cv"))
    )
    score = dot(F.col("v"), F.col("cv")) / (F.col("__nv") * F.col("__nc"))
    if round_cos is not None:
        score = F.round(score, round_cos)
    return (
        base.crossJoin(F.broadcast(cent))
        .withColumn("__cos", score)
        .groupBy(id_col, "v")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct("__cos", (-F.col("centroid_id")).alias("t")),
            ).alias("centroid_id")
        )
    )


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_cos: int | None = None,
    round_mean: int | None = None,
) -> DataFrame:
    """Build AND persist an IVF index: ``<path>/centroids.parquet`` (the
    trained coarse quantizer) + ``<path>/assignments/`` parquet
    PARTITIONED BY centroid_id, each row carrying (id, v) — a covering
    inverted list, so a probe is a partition-pruned scan that never
    touches the base table (the MergeTree-part / projection analogy:
    reference lectures/lecture_13.md:187-257 teaches indexes as stored
    derived tables, not per-query recomputation). Returns the centroids.

    At 100 TB this is the production serving layout: train once, store
    lists partitioned by centroid_id; searches read nprobe/k of the
    data; INSERTs assign only the new sliver (:func:`ivf_append_index`)
    — retraining is an offline rebuild, exactly like a merge."""
    cent = kmeans_centroids(
        corpus, k=k, iters=iters, vec_col=vec_col, id_col=id_col,
        round_cos=round_cos, round_mean=round_mean,
    ).localCheckpoint()  # train once; the write below must not retrain
    cent.write.mode("overwrite").parquet(f"{path}/centroids.parquet")
    assigned = ivf_assign(corpus, cent.select("centroid_id", F.col("centroid").alias("cv")),
                          vec_col=vec_col, id_col=id_col, round_cos=round_cos)
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/assignments")
    )
    return cent


def ivf_append_index(
    new_rows: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_cos: int | None = None,
) -> None:
    """Incremental insert: assign ONLY the new rows using the STORED
    centroids (no retrain, no touch of existing lists) and append them
    to the partitioned assignment table. Cost is O(new·k·dim) — linear
    in the sliver, independent of index size; parquet partition append
    only creates files under the slivers' centroid_id dirs."""
    spark = new_rows.sparkSession
    cent = spark.read.parquet(f"{path}/centroids.parquet").select(
        "centroid_id", F.col("centroid").alias("cv")
    )
    assigned = ivf_assign(new_rows, cent, vec_col=vec_col, id_col=id_col,
                          round_cos=round_cos)
    (
        assigned.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/assignments")
    )


def ivf_rebuild_lists(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_cos: int | None = None,
) -> None:
    """Rebuild the inverted lists of an EXISTING index with the STORED
    centroids — the mutation-maintenance path (ClickHouse rebuilds skip
    indexes when a mutation rewrites the part, lecture_16.md:60-98):
    after ALTER DELETE/UPDATE or OPTIMIZE the lists must reflect the
    surviving rows, or the index serves ids the table no longer holds.
    No retraining (centroids are untouched), so cost is one O(n·k·dim)
    assignment pass + the partitioned list write — the same shape as the
    initial build minus the k-means iterations."""
    import shutil

    spark = corpus.sparkSession
    cent = spark.read.parquet(f"{path}/centroids.parquet").select(
        "centroid_id", F.col("centroid").alias("cv")
    )
    assigned = ivf_assign(corpus, cent, vec_col=vec_col, id_col=id_col,
                          round_cos=round_cos)
    # stage-then-swap: the overwrite must not race a concurrent probe
    # reading the old lists mid-delete
    tmp = path.rstrip("/") + ".__rebuild"
    (
        assigned.repartition("centroid_id")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(tmp)
    )
    shutil.rmtree(f"{path}/assignments", ignore_errors=True)
    shutil.move(tmp, f"{path}/assignments")


def ivf_search_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    id_col: str = "vec_id",
    round_cos: int | None = None,
) -> DataFrame:
    """Serve top-k from a STORED index — no training, no assignment of
    the corpus: probe centroids per query (tiny × tiny, driver-side
    nq·nprobe ids — a bounded collect), then scan ONLY the probed
    inverted lists via a literal ``centroid_id IN (…)`` partition-pruned
    parquet read, score and rank. This is what a query pays at 100 TB:
    nprobe/k of one covering table, zero work proportional to corpus
    size outside the probed lists."""
    cent = spark.read.parquet(f"{path}/centroids.parquet").select(
        "centroid_id", F.col("centroid").alias("cv")
    )
    qs = queries.select(
        F.col(q_id_col), F.col(q_vec_col).cast("array<double>").alias("__qv")
    )

    def scored(a, b):
        s = cosine(a, b)
        return F.round(s, round_cos) if round_cos is not None else s

    wq = Window.partitionBy(q_id_col).orderBy(F.desc("__pcos"), F.asc("centroid_id"))
    probe = (
        qs.crossJoin(F.broadcast(cent))
        .withColumn("__pcos", scored(F.col("__qv"), F.col("cv")))
        .withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= nprobe)
        .select(q_id_col, "centroid_id", "__qv")
    )
    # bounded collect: nq × nprobe ints — the literal probe set is what
    # turns the scan into parquet PARTITION PRUNING (PartitionFilters)
    probe_ids = sorted({r["centroid_id"] for r in probe.select("centroid_id").distinct().collect()})
    lists = spark.read.parquet(f"{path}/assignments").where(
        F.col("centroid_id").isin(probe_ids)
    )
    # norms hoisted per side (not per candidate pair) — bit-identical,
    # see brute_force_topk
    s = dot(F.col("__qv"), F.col("v")) / (F.col("__qn") * F.col("__vn"))
    if round_cos is not None:
        s = F.round(s, round_cos)
    cand = (
        lists.withColumn("__vn", norm(F.col("v")))
        .join(F.broadcast(probe.withColumn("__qn", norm(F.col("__qv")))), on="centroid_id")
        .withColumn("score", s)
    )
    wr = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(q_id_col, id_col, "score", "rnk")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    round_cos: int | None = None,
) -> DataFrame:
    """IVF search: top-k nearest corpus vectors per query, scanning only
    the ``nprobe`` most promising inverted lists — the query-side
    counterpart of :func:`kmeans_centroids` (train) and the x11
    assignment (build).

    Scale shape: centroids and queries are broadcast (both tiny); the
    corpus is assigned map-side with zero shuffle (same plan as the
    build step — at scale the assignment is precomputed and the table
    is partitioned by ``centroid_id``, making the probe join a
    partition-pruned scan of nprobe/k of the data). Candidates then
    rank per query in one window over the probed subset. Deterministic
    ties: lowest centroid_id for probes, lowest vec_id for results.
    """
    from pyspark.sql import Window

    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = centroids.select("centroid_id", F.col("centroid").alias("cv"))
    qs = queries.select(
        F.col(q_id_col), F.col(q_vec_col).cast("array<double>").alias("__qv")
    )

    def scored(col_a, col_b):
        s = cosine(col_a, col_b)
        return F.round(s, round_cos) if round_cos is not None else s

    # corpus → inverted list (map-side: broadcast centroids)
    assigned = ivf_assign(base, centroids, vec_col="v", id_col=id_col,
                          round_cos=round_cos)
    # per-query probe set: nprobe best centroids (tiny × tiny)
    wq = Window.partitionBy(q_id_col).orderBy(
        F.desc("__pcos"), F.asc("centroid_id")
    )
    probe = (
        qs.crossJoin(F.broadcast(cent))
        .withColumn("__pcos", scored(F.col("__qv"), F.col("cv")))
        .withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= nprobe)
        .select(q_id_col, "centroid_id", "__qv")
        .withColumn("__qn", norm(F.col("__qv")))
    )
    # scan only the probed lists, rank per query; norms hoisted to each
    # side (once per list row / probe row, not per candidate pair —
    # bit-identical, see brute_force_topk)
    s = dot(F.col("__qv"), F.col("v")) / (F.col("__qn") * F.col("__vn"))
    if round_cos is not None:
        s = F.round(s, round_cos)
    cand = (
        assigned.withColumn("__vn", norm(F.col("v")))
        .join(F.broadcast(probe), on="centroid_id")
        .withColumn("score", s)
    )
    wr = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        cand.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(q_id_col, id_col, "score", "rnk")
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 3,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_cos: int = 4,
    round_mean: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    cluster the embedding corpus, then inside each cluster remove every
    vector that has a higher-similarity-than-``threshold`` neighbour
    with a smaller id (keep-lowest-id, chain-free — removal of x never
    depends on whether its witness was itself removed).

    Scale shape: clustering is :func:`kmeans_centroids` (broadcast
    centroids, O(k×dim) shuffle per round); the final assignment is one
    map-side argmax over broadcast centroids; the pairwise step is
    cluster-blocked — one shuffle on the cluster id, local quadratic
    bounded by cluster size (at 100 TB: raise k so clusters stay
    partition-sized; the cost model is identical to IVF bucketing).

    Returns (vec_id, cluster_id, removed) for every corpus vector.
    """
    # materialize the (id, vector) projection ONCE: the corpus subtree
    # is re-evaluated by the training loop, both pair-join sides and
    # the final flag join — an expensive upstream lineage (synthetic
    # copies, casts, a prior pipeline stage) otherwise recomputes per
    # consumer (r12: x32 at sf1 went 154 s → ~12 s from this alone)
    corpus = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).localCheckpoint()
    cent = kmeans_centroids(
        corpus, k=k, iters=iters, vec_col=vec_col, id_col=id_col,
        round_cos=round_cos, round_mean=round_mean,
    ).select("centroid_id", F.col("centroid").alias("cv"))
    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("__nv", norm(F.col("v")))  # once per row, not per centroid
    assigned = (
        base.crossJoin(F.broadcast(cent.withColumn("__nc", norm(F.col("cv")))))
        .withColumn(
            "cos",
            F.round(
                dot(F.col("v"), F.col("cv")) / (F.col("__nv") * F.col("__nc")),
                round_cos,
            ),
        )
        .groupBy(id_col, "v")
        .agg(
            F.max_by(
                "centroid_id", F.struct("cos", (-F.col("centroid_id")).alias("t"))
            ).alias("cluster_id"),
            # every row of a (id, v) group carries the same __nv — carry
            # it through so the pair join below reuses it
            F.first("__nv").alias("__nrm"),
        )
    )
    # within-cluster pair expansion via the SALTED sub-block self-join
    # (the x06 machinery — embedding_neardup_pairs): cluster_id has only
    # k distinct values, so a plain repartition on it funnels the n²
    # expansion through k tasks (measured 522 s at sf1 for k=4); salting
    # splits each cluster into n_salts hash groups joined via a
    # broadcast (ga ≤ gb) combo list with an AQE-exempt repartition on
    # (cluster, gb). Each unordered pair appears exactly once; the
    # REMOVED member of a pair is the larger id (keep-lowest-id,
    # chain-free), so direction is recovered with greatest().
    spark = assigned.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    g = 8
    combos = F.broadcast(
        spark.createDataFrame(
            [(ga, gb) for ga in range(g) for gb in range(ga, g)],
            "ga int, gb int",
        )
    )
    salted = assigned.withColumn(
        "__g", F.pmod(F.xxhash64(F.col(id_col)), F.lit(g)).cast("int")
    )
    # per-vector norm ONCE (map-side): cosine() recomputes both norms
    # per PAIR — 2/3 of the pairwise fold work; precomputing them and
    # scoring dot/(na·nb) is bit-identical (same fold order, sqrt of
    # the same sum, same multiply) and measured 2.4× on a 16M-pair
    # microbench. (A literal 64-term unrolled dot was tried and is
    # SLOWER than the HOF fold — Spark 4 evaluates array lambdas
    # efficiently; the flat expression tree doesn't win.) __nrm is
    # carried from the assignment groupBy above — zero extra folds here.
    a = salted.select(
        F.col(id_col).alias("__wit"), F.col("v").alias("va"), "cluster_id",
        F.col("__g").alias("ga"), F.col("__nrm").alias("__na"),
    ).join(combos, "ga")
    b = salted.select(
        F.col(id_col).alias("__cand"), F.col("v").alias("vb"), "cluster_id",
        F.col("__g").alias("gb"), F.col("__nrm").alias("__nb"),
    )
    pair_score = dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    # shuffle_hash hint: BOTH sides grow with the corpus, so the
    # session's 64m auto-broadcast threshold must not pick one as a
    # build side (measured: the broadcast plan GC-thrashed the local
    # 8g heap, 15 s → 121 s; at cluster scale it would be the
    # forced-broadcast-of-an-SF-growing-side anti-pattern outright)
    removed = (
        a.repartition(nparts, "cluster_id", "gb")
        .join(
            b.repartition(nparts, "cluster_id", "gb").hint("shuffle_hash"),
            ["cluster_id", "gb"],
        )
        .where((F.col("ga") < F.col("gb")) | (F.col("__wit") < F.col("__cand")))
        .where(F.round(pair_score, round_cos) >= threshold)
        .select(F.greatest("__wit", "__cand").alias(id_col))
        .distinct()
        .withColumn("removed", F.lit(True))
    )
    return (
        assigned.join(removed, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(F.col("removed"), F.lit(False)).alias("removed"),
        )
    )


def sq8_stats(corpus: DataFrame, dim: int, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, scale) for int8 scalar quantization, computed
    in ONE distributed pass: ``2*dim`` map-side-combined aggregates, a
    single reduced row to the driver (bounded by dim, never by corpus
    size). ``scale = (max-min)/255``; a constant dimension gets scale 0
    and quantizes to code -128."""
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.col(vec_col)[i].cast("double")).alias(f"__mn{i}"))
        aggs.append(F.max(F.col(vec_col)[i].cast("double")).alias(f"__mx{i}"))
    row = corpus.agg(*aggs).collect()[0]
    if row[f"__mn0"] is None:
        # empty corpus: min/max aggregates are NULL — fail loudly
        # instead of a cryptic NoneType comparison downstream
        raise ValueError("sq8_stats: empty corpus — nothing to quantize")
    mins = [row[f"__mn{i}"] for i in range(dim)]
    scales = [
        (row[f"__mx{i}"] - row[f"__mn{i}"]) / 255.0 if row[f"__mx{i}"] > row[f"__mn{i}"] else 0.0
        for i in range(dim)
    ]
    return mins, scales


def _sq8_frame(spark, mins: list, scales: list):
    """(min, scale) model as a 1-row DataFrame for broadcast — same
    rationale as :func:`_books_frame`: the model rides as DATA, so the
    expression tree stays constant-sized however big dim grows."""
    return spark.createDataFrame(
        [([float(x) for x in mins], [float(x) for x in scales])],
        "__mns array<double>, __scs array<double>",
    )


def sq8_codes(
    corpus: DataFrame,
    mins: list,
    scales: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quantize ``vec_col`` to an ``array<tinyint>`` code column (4 B →
    1 B per dimension — the memory-bound-ANN compression step). No
    shuffle: the (min, scale) model broadcasts as a 1-row array frame
    and the per-dim quantize evaluates through ``transform`` — a
    constant-sized expression tree at any dim. A constant dimension
    (scale 0) codes to -128."""
    dim = len(mins)
    v = F.col(vec_col).cast("array<double>")
    code = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda j: F.when(
            F.element_at(F.col("__scs"), j) == 0.0, F.lit(-128.0)
        ).otherwise(
            F.least(
                F.lit(255.0),
                F.greatest(
                    F.lit(0.0),
                    F.round(
                        (F.element_at(v, j) - F.element_at(F.col("__mns"), j))
                        / F.element_at(F.col("__scs"), j)
                    ),
                ),
            )
            - F.lit(128.0)
        ),
    )
    return (
        corpus.crossJoin(F.broadcast(_sq8_frame(corpus.sparkSession, mins, scales)))
        .select(F.col(id_col), code.cast("array<tinyint>").alias("codes"))
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Int8 scalar-quantized MIPS top-k (SQ8 + asymmetric distance):
    the corpus is stored as 1-byte-per-dim codes, queries stay full
    precision, and the score dequantizes on the fly —
    ``sum_i qv_i * (min_i + (code_i+128)*scale_i)``. The 100 TB path:
    codes are 4× smaller than float32 (16× vs float64), scan-bound ANN
    becomes memory-bandwidth-bound at the reduced width, and the
    (min, scale) model is driver-bounded by dim. Exactness is traded
    for width — pair with :func:`brute_force_topk` for recall evals
    (pytest pins recall@k ≥ 0.9 on the test corpus).

    The model broadcasts as data and the dequantized dot product folds
    over ``sequence(1, dim)`` — a constant-sized expression tree. The
    fold sums left-to-right (the order DuckDB's list_sum uses), so the
    rounded score is oracle-stable."""
    mins, scales = sq8_stats(corpus, dim, vec_col)
    codes = rebalance(sq8_codes(corpus, mins, scales, vec_col, id_col))
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
    ).crossJoin(F.broadcast(_sq8_frame(corpus.sparkSession, mins, scales)))
    score = F.aggregate(
        F.sequence(F.lit(1), F.lit(dim)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(F.col("__qv"), j)
        * (
            F.element_at(F.col("__mns"), j)
            + (F.element_at(F.col("codes"), j).cast("double") + F.lit(128.0))
            * F.element_at(F.col("__scs"), j)
        ),
    )
    scored = codes.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(score, 4).alias("qdot"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("qdot").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, "qdot", "rnk")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dist: int = 6,
    round_mean: int = 6,
    iters: int = 1,
    base: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector splits into
    ``m`` subspaces of ``dim/m`` dims; each subspace gets ``ksub``
    centroids — init from the hash-uniform seed sample (:func:
    `kmeans_centroids`'s md5-rank init) plus ``iters`` Lloyd
    refinements (default 1 — the configuration the x60 oracle replays).

    Distribution shape: the refinement's assignment is a pure map over
    the corpus (the codebook tensor broadcasts as a 1-row frame and
    encodes through :func:`_with_codes`); the recompute explodes per
    SUBSPACE (m rows/vector carrying a dsub-array — not per element,
    which is dsub× more rows for the same bytes) and runs dsub mean
    aggregates per (sub, code) group — map-side combined, shuffle
    O(partitions × m × ksub × dsub), independent of corpus size, the
    plan a 100 TB PQ build needs. Returns driver-side codebooks
    (``m × ksub × dim/m`` floats — model-sized, never corpus-sized).
    ``round_dist``/``round_mean`` make the trajectory replayable by an
    external SQL oracle (same rationale as kmeans_centroids)."""
    dsub = dim // m
    # ``base``: caller-prepared (id_col, "v") relation, already spread
    # and persisted (r12): pq_topk trains AND encodes from ONE
    # materialization of the projected corpus instead of two
    # independent scans — the caller owns the cache lifecycle then.
    owns_base = base is None
    if owns_base:
        base = rebalance(
            corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        ).persist()
    seeds = (
        base.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h")
        .limit(ksub)
        .collect()
    )
    seeds = sorted(seeds, key=lambda r: r["__h"])
    if len(seeds) < ksub:
        # fewer training rows than centroids: the codebooks would come
        # out short and books[s][c] would IndexError at encode time
        if owns_base:
            base.unpersist()
        raise ValueError(
            f"pq_train: corpus has {len(seeds)} rows, need >= ksub={ksub} "
            "to seed the codebooks"
        )
    books = [
        [list(r["v"][s * dsub : (s + 1) * dsub]) for r in seeds] for s in range(m)
    ]
    for _ in range(max(iters, 1)):
        stats = (
            _with_codes(base, books, "v", round_dist)
            .select(F.posexplode("pq_codes").alias("s", "c"), F.col("v"))
            .select(
                "s",
                "c",
                F.slice("v", F.col("s") * F.lit(dsub) + F.lit(1), F.lit(dsub)).alias("sub"),
            )
            .groupBy("s", "c")
            .agg(
                *[
                    F.round(F.avg(F.col("sub")[i]), round_mean).alias(f"m{i}")
                    for i in range(dsub)
                ]
            )
            .collect()
        )
        got = {(r["s"], r["c"], i): r[f"m{i}"] for r in stats for i in range(dsub)}
        books = [
            [
                [
                    float(got[(s, c, i)])
                    if got.get((s, c, i)) is not None
                    else books[s][c][i]  # empty code keeps init
                    for i in range(dsub)
                ]
                for c in range(ksub)
            ]
            for s in range(m)
        ]
    if owns_base:
        base.unpersist()
    return books


def cluster_silhouette(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_cos: int = 4,
    round_s: int = 4,
) -> DataFrame:
    """Simplified silhouette per cluster — the clustering-quality gate a
    pipeline runs after the IVF/k-means build (does the coarse
    quantizer actually separate the corpus?). Per vector: ``a`` =
    cosine distance to its OWN (closest) centroid, ``b`` = distance to
    the best OTHER centroid, ``s = (b - a) / max(a, b)`` (0 when both
    are 0). The textbook silhouette's O(n²) pairwise distances are
    replaced by centroid distances (the standard large-scale
    simplification), so the whole metric is ONE map-side pass: the k
    centroids ride as plan literals (model-sized), every row evaluates
    k rounded cosines into a sorted k-struct array — own = [0], best
    other = [1] — and the only shuffle is the final groupBy(centroid)
    of k groups with map-side combine. Zero corpus-sized shuffles at
    any scale. Returns (centroid_id, n_members, mean_silhouette).
    """
    import math

    cents = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()  # k×dim — model-sized, never corpus
    ]
    # centroid norms as plan CONSTANTS (k folds in Python, zero per row)
    # and the row norm hoisted to one fold per row instead of k: the
    # Python left-fold + math.sqrt is IEEE-identical to the JVM
    # aggregate fold (same add order, correctly-rounded sqrt), so
    # dot/(vn·nc) rounds to the same value cosine() produced
    cnorms = {
        cid: math.sqrt(sum((x * x for x in cv), 0.0)) for cid, cv in cents
    }
    v = F.col("__v")
    ranked = F.sort_array(
        F.array(
            *[
                F.struct(
                    F.round(
                        dot(v, F.array(*[F.lit(x) for x in cv]))
                        / (F.col("__vn") * F.lit(cnorms[cid])),
                        round_cos,
                    ).alias("cos"),
                    F.lit(-cid).alias("negid"),  # ties → lowest centroid_id
                    F.lit(cid).alias("cid"),
                )
                for cid, cv in cents
            ]
        ),
        asc=False,
    )
    a = F.lit(1.0) - F.col("__r")[0]["cos"]
    b = F.lit(1.0) - F.col("__r")[1]["cos"]
    s = F.when(F.greatest(a, b) == 0, F.lit(0.0)).otherwise(
        F.round((b - a) / F.greatest(a, b), round_s)
    )
    return (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"))
        .withColumn("__vn", norm(F.col("__v")))
        .select(F.col(id_col), ranked.alias("__r"))
        .select(F.col("__r")[0]["cid"].alias("centroid_id"), s.alias("s"))
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("s"), round_s).alias("mean_silhouette"),
        )
    )


def _code_type(ksub: int) -> str:
    """Narrowest signed integer type that holds codes 0..ksub-1.

    ADVICE r7: an unconditional tinyint wraps codes > 127 negative for
    ksub > 128, so pq_topk's ``element_at(lut, code + 1)`` reads an
    end-relative (or invalid) index and the advertised ksub-256 shape
    silently disagrees across the encode paths. The byte-per-code
    compression claim holds exactly where it is true (ksub ≤ 128 —
    every registry/bench shape); bigger codebooks pay 2 B/code."""
    if ksub <= 128:
        return "tinyint"
    if ksub <= 32768:
        return "smallint"
    return "int"


def _books_frame(spark, books):
    """The codebook tensor as a 1-row DataFrame (``__books``:
    array<array<array<double>>>) for broadcast — codebooks ride as DATA,
    so the expression tree stays constant-sized however big m·ksub·dsub
    grows (one scalar expression per product term stops compiling
    whole-stage codegen already at dim 64 / ksub 16 — VERDICT r7)."""
    return spark.createDataFrame([(books,)], "__books array<array<array<double>>>")


def _centroid_dists(vcol, bookscol, s, dsub: int, round_dist: int, reduce):
    """``reduce`` applied to subspace ``s``'s rounded squared distances
    (one per centroid) from the slice of ``vcol``: slice the subvector,
    zip_with/aggregate the ``pow(x-b, 2)`` terms left to right, round.
    One fixed expression regardless of ksub/dsub; ``s`` is a Column
    (lambda-bound or literal).

    The slice is BOUND as a lambda variable (``transform(array(sub),
    …)[1]``) rather than referenced inside the per-centroid lambda:
    HOF lambdas inline their argument expressions, so an inline ``sub``
    re-evaluates Slice — a fresh array allocation — once per CENTROID
    (ksub× per subspace per row; jstack showed Slice.nullSafeEval
    dominating the 2M×256-d probe). Bound once, the per-centroid loop
    only reads the variable."""
    sub = F.slice(vcol, s * F.lit(dsub) + F.lit(1), F.lit(dsub))

    def _bound(subv):
        return reduce(
            F.transform(
                F.element_at(bookscol, s + F.lit(1)),
                lambda cb: F.round(
                    F.aggregate(
                        F.zip_with(cb, subv, lambda b, x: F.pow(x - b, F.lit(2.0))),
                        F.lit(0.0),
                        lambda acc, t: acc + t,
                    ),
                    round_dist,
                ),
            )
        )

    return F.element_at(F.transform(F.array(sub), _bound), 1)


def _with_codes(frame: DataFrame, books, vec_col: str, round_dist: int = 6) -> DataFrame:
    """``frame`` plus a ``pq_codes`` column: per subspace, the first
    index of the minimal rounded centroid distance (lowest-code
    tie-break), typed by :func:`_code_type`. The codebook tensor
    broadcasts as a 1-row frame; the map needs no shuffle."""
    m, ct, dsub = len(books), _code_type(len(books[0])), len(books[0][0])
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: _centroid_dists(
            F.col(vec_col),
            F.col("__books"),
            s,
            dsub,
            round_dist,
            lambda d: (F.array_position(d, F.array_min(d)) - 1).cast(ct),
        ),
    )
    return (
        frame.crossJoin(F.broadcast(_books_frame(frame.sparkSession, books)))
        .withColumn("pq_codes", codes)
        .drop("__books")
    )


def _with_lut(queries: DataFrame, books) -> DataFrame:
    """``queries`` (carrying ``__qv``) plus ``__lut``: per subspace, the
    query subvector's inner product with each centroid, summed left to
    right — the asymmetric-distance lookup table, built on the small
    query side so the corpus scan only does m table hits per row."""
    dsub = len(books[0][0])
    lut = F.transform(
        F.col("__books"),
        lambda book_s, s: F.transform(
            book_s,
            lambda cb: F.aggregate(
                F.zip_with(
                    cb,
                    F.slice(F.col("__qv"), s * F.lit(dsub) + F.lit(1), F.lit(dsub)),
                    lambda b, x: x * b,
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        ),
    )
    return (
        queries.crossJoin(F.broadcast(_books_frame(queries.sparkSession, books)))
        .withColumn("__lut", lut)
        .drop("__books")
    )


def _adc_score(m: int) -> Column:
    """The ADC score of a ``pq_codes`` row against a ``__lut`` row: the
    m table hits summed left to right (the order the DuckDB oracle
    replays)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("__lut"), s + F.lit(1)),
            F.col("pq_codes")[s].cast("int") + F.lit(1),
        ),
    )


def pq_codes(
    corpus: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dist: int = 6,
) -> DataFrame:
    """Encode the corpus as ``m`` 1-byte codes (dim×8 B → m B — the PQ
    compression step). Zero shuffle: codebooks broadcast as a 1-row
    nested-array frame and the argmin evaluates through
    transform/zip_with/aggregate — a constant-sized expression tree at
    any dim/ksub (:func:`_with_codes`). Codes are ``tinyint`` up to
    ksub 128, ``smallint`` beyond (ADVICE r7: an unconditional tinyint
    wrapped ksub > 128 codes negative)."""
    v = F.col(vec_col).cast("array<double>")
    return _with_codes(
        corpus.select(F.col(id_col), v.alias("__v")), books, "__v", round_dist
    ).select(id_col, "pq_codes")


def pq_codes_arrow(
    corpus: DataFrame,
    books: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dist: int = 6,
) -> DataFrame:
    """Arrow-vectorized PQ encode — the production kernel for the hot
    compression pass at high dim. Same (id, pq_codes) contract as
    :func:`pq_codes`; zero shuffle (mapInPandas, codebooks closure-
    captured as one numpy tensor per task).

    Why it exists: the HOF path evaluates interpreted per element
    (~7k rows/s at dim 256 / m 16 / ksub 64 on 32 cores — measured in
    tools/scale_probe.py), while a batched numpy argmin does the same
    arithmetic vectorized. NOT used by any registry query — the
    plan-sweep guard keeps Python eval out of those; this is the
    documented opt-in kernel for bulk encode jobs.

    Arithmetic is term-for-term identical to :func:`pq_codes`:
    (x-b)² terms (Math.pow(x, 2.0) == x·x exactly — fdlibm and the JIT
    intrinsic both special-case y==2), summed in the same left-to-right
    order (np.add.reduce is a strict sequential fold, unlike np.sum's
    pairwise blocking), then rounded to ``round_dist`` before the
    first-min argmin. The one residual difference is the rounding rule
    at EXACT half-way decimals (BigDecimal HALF_UP vs np.round) — a
    measure-zero boundary pinned byte-identical on the engine's test
    corpora by test_pipeline.py, which uses this kernel as the
    independent reference for the HOF encode."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    m, ct, dsub = len(books), _code_type(len(books[0])), len(books[0][0])
    B = np.asarray(books, dtype=np.float64)  # (m, ksub, dsub)
    np_ct = {"tinyint": np.int8, "smallint": np.int16, "int": np.int32}[ct]
    out_schema = T.StructType(
        [
            corpus.schema[id_col],
            T.StructField("pq_codes", T.ArrayType(T._parse_datatype_string(ct))),
        ]
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64, copy=False)
            sub = V.reshape(len(pdf), m, dsub)
            codes = np.empty((len(pdf), m), dtype=np_ct)
            # per-subspace loop keeps the live tensor at n·ksub·dsub
            # doubles (~80 MB at 10k-row batches) instead of m× that
            for s in range(m):
                diff = sub[:, s, None, :] - B[s][None, :, :]
                d = np.round(np.add.reduce(diff * diff, axis=2), round_dist)
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "pq_codes": list(codes)})

    return corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    ).mapInPandas(encode, schema=out_schema)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    books: list[list[list[float]]] | None = None,
    rerank: int = 0,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k (IVF-PQ's scoring half, Jégou et
    al. 2011): the corpus is stored as ``m``-byte codes, queries stay
    full-precision, and the inner product reconstructs through the
    codebook — ``score = Σ_s q_sub(s) · book[s][code_s]``, i.e. each
    (query, subspace) has a ``ksub``-entry lookup table and scoring a
    code is ``m`` table hits. At 100 TB this is the memory-bound ANN
    workhorse: 8 B/vector instead of 512 B, codebooks broadcast as
    data, the corpus is scanned once with no shuffle. Beside x04
    (exact), x05/x29 (pruning) and x56 (SQ8), this completes the
    standard quantized-ANN family.

    ``rerank=R`` is the production shape: the ADC scan only GENERATES
    candidates (top-R per query), and an exact-cosine re-rank over the
    R·|queries| survivors picks the final k — full-precision vectors
    are touched for the candidate sliver only (a broadcast-semi-join
    read, never a second corpus scan). Recall is tested against brute
    force, not assumed; bare ADC (rerank=0) ranking is what the x60
    oracle replays.

    Encode, LUT and score all go through the array-typed codebook
    (:func:`_with_codes`, :func:`_with_lut`, :func:`_adc_score`): LUTs
    live in one nested-array column and the score folds over
    ``sequence(0, m-1)`` left to right — a constant-sized expression
    tree at any m/ksub/dsub."""
    prepared = None
    if books is None:
        # ONE materialization of the projected (id, vector) corpus
        # feeds the seed fetch, the Lloyd refinement AND the encode
        # below (r12, guide §2.4): training and encoding used to run
        # two independent scans of the corpus. The cache is dropped by
        # the caller's post-run clearCache (bench) / session end — the
        # encode consumes it inside the final action, so it cannot be
        # unpersisted here.
        prepared = rebalance(
            corpus.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
            )
        ).persist()
        books = pq_train(corpus, m, ksub, dim, vec_col, id_col, base=prepared)
    # ``codes``: pre-encoded (id, pq_codes) frame — the production
    # shape at scale, where the m-byte codes are STORED (encoded once,
    # by pq_codes_arrow for high dim) and every query scans codes
    # without re-running the m·ksub·dsub encode. Omitted -> encode
    # inline (the registry/eval shape). The spread happens BEFORE the
    # encode (rebalance the narrow scan, then argmin): the old
    # rebalance(pq_codes(...)) ordering ran the CPU-heavy argmin on
    # however few splits the scan arrived with, then shuffled the
    # already-computed codes (r12 — the winnow_dup_pairs parallelism
    # class).
    if codes is None:
        src = prepared
        if src is None:
            src = rebalance(
                corpus.select(
                    F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
                )
            )
        codes = pq_codes(src, books, vec_col="v", id_col=id_col)
    # LUT per (query, subspace): ksub dot products against the codebook
    # rows, MATERIALIZED on the |queries|-row side before the broadcast
    # — the corpus-side scan then does m element_at lookups per row
    # instead of re-deriving m·ksub·dsub products per (row, query) pair
    # (the ADC scan's wall-clock at 20M rows, measured in
    # tools/scale_probe.py).
    q = _with_lut(
        queries.select(
            F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv")
        ),
        books,
    ).localCheckpoint(eager=True)  # pin the tiny LUT relation, drop lineage
    scored = codes.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(_adc_score(m), 4).alias("adc"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("adc").desc(), F.col(id_col).asc())
    if not rerank:
        return (
            scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .where(F.col("rnk") <= k)
            .select(query_id_col, id_col, "adc", "rnk")
        )
    cand = scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= rerank)
    # exact re-rank over the candidate sliver: the full-precision join
    # side is R·|queries| ids — broadcast it at the CORPUS, so the
    # 100 TB side is filtered map-side and never shuffles
    full = corpus.join(
        F.broadcast(cand.select(F.col(id_col)).distinct()), on=id_col, how="inner"
    ).select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv"))
    exact = (
        cand.select(query_id_col, id_col)
        .join(full, on=id_col)
        .join(q, on=query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__qv"), F.col("__cv")), 4).alias("cos"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("rnk", F.row_number().over(w2).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cos", "rnk")
    )


def ivfpq_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    books: list[list[list[float]]] | None = None,
    round_cos: int | None = 4,
) -> DataFrame:
    """IVF-PQ: the composed billion-scale ANN architecture (Jégou et
    al. 2011; the Faiss IVFPQ index) — the coarse quantizer prunes the
    corpus to ``nprobe`` inverted lists per query, and the pruned
    candidates score through ``m``-byte PQ codes with per-query lookup
    tables instead of full-precision vectors.

    Scale shape, composed from the proven halves (:func:`ivf_topk`,
    :func:`pq_topk`): centroid assignment AND PQ encoding happen in the
    SAME single map pass over the corpus (broadcast centroids and
    codebook tensor — no second scan, no corpus shuffle); the probe set
    and LUTs materialize on the tiny query side; the candidate join
    touches nprobe/k of the codes, each scored with m array lookups.
    At 100 TB: 8 B/vector resident instead of 512 B, and only 1/k-th
    of those bytes per query. Encode, LUT and score are
    :func:`pq_topk`'s, so candidates carry exactly :func:`pq_codes`'s
    codes."""
    from pyspark.sql import Window

    if books is None:
        books = pq_train(corpus, m, ksub, dim, vec_col, id_col)
    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent = centroids.select("centroid_id", F.col("centroid").alias("cv"))
    qs = queries.select(
        F.col(q_id_col), F.col(q_vec_col).cast("array<double>").alias("__qv")
    )

    def scored_cos(col_a, col_b):
        s = cosine(col_a, col_b)
        return F.round(s, round_cos) if round_cos is not None else s

    # ONE corpus pass: inverted-list id (argmax cosine over broadcast
    # centroids, map-side combined) + the m PQ codes from the SAME `v`.
    # Norms hoisted per side (once per row / per centroid, not per
    # pair) — bit-identical, see brute_force_topk
    assign_s = dot(F.col("v"), F.col("cv")) / (F.col("__nv") * F.col("__nc"))
    if round_cos is not None:
        assign_s = F.round(assign_s, round_cos)
    assigned = (
        base.withColumn("__nv", norm(F.col("v")))
        .crossJoin(F.broadcast(cent.withColumn("__nc", norm(F.col("cv")))))
        .withColumn("__cos", assign_s)
        .groupBy(id_col, "v")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct("__cos", (-F.col("centroid_id")).alias("t")),
            ).alias("centroid_id")
        )
    )
    coded = _with_codes(assigned, books, "v").select(id_col, "centroid_id", "pq_codes")
    # probe set: nprobe best centroids per query (tiny × tiny)
    wq = Window.partitionBy(q_id_col).orderBy(F.desc("__pcos"), F.asc("centroid_id"))
    probe = (
        qs.crossJoin(F.broadcast(cent))
        .withColumn("__pcos", scored_cos(F.col("__qv"), F.col("cv")))
        .withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= nprobe)
        .select(q_id_col, "centroid_id", "__qv")
    )
    # per-(query, subspace) LUTs on the query side (pq_topk's shape)
    probe = _with_lut(probe, books).localCheckpoint(eager=True)
    cand = coded.join(F.broadcast(probe), on="centroid_id").select(
        F.col(q_id_col), F.col(id_col), F.round(_adc_score(m), 4).alias("adc")
    )
    wr = Window.partitionBy(q_id_col).orderBy(F.desc("adc"), F.asc(id_col))
    return (
        cand.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(q_id_col, id_col, "adc", "rnk")
    )


def embedding_drift(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str = "label",
    round_mean: int = 6,
    round_out: int = 4,
) -> DataFrame:
    """Embedding-space drift monitor between two corpus snapshots (x63's
    token-distribution drift, in vector space): per group, the cosine
    between the two snapshots' mean vectors plus per-snapshot counts
    and mean norms — the check a pipeline runs when a new crawl or a
    re-embedding lands (a centroid that moved or norms that shifted
    mean the ANN index and the semantic-dedup thresholds are stale).
    Snapshots = even/odd ``id_col`` here; production passes two frames.

    Scale shape: per-dimension means reduce via posexplode →
    groupBy((group, dim)) with map-side combine — shuffle is
    O(partitions × groups × dim), corpus-independent; norms are one
    map-side fold; the cosine combines dim-bounded rows per group.
    Per-dim means round before the cross-products so the scalar
    replays across engines."""
    v = F.col(vec_col).cast("array<double>")
    base = corpus.select(
        F.col(group_col),
        v.alias("__v"),
        (F.col(id_col) % 2 == 0).alias("__old"),
    )
    m = (
        base.select(group_col, "__old", F.posexplode("__v").alias("i", "x"))
        .groupBy(group_col, "i")
        .agg(
            F.round(F.avg(F.when(F.col("__old"), F.col("x"))), round_mean).alias("me"),
            F.round(F.avg(F.when(~F.col("__old"), F.col("x"))), round_mean).alias("mo"),
        )
    )
    cosv = m.groupBy(group_col).agg(
        F.round(
            F.sum(F.col("me") * F.col("mo"))
            / (
                F.sqrt(F.sum(F.col("me") * F.col("me")))
                * F.sqrt(F.sum(F.col("mo") * F.col("mo")))
            ),
            round_out,
        ).alias("centroid_cos")
    )
    nrm = norm(F.col("__v"))
    stats = base.groupBy(group_col).agg(
        F.sum(F.col("__old").cast("int")).cast("bigint").alias("n_old"),
        F.sum((~F.col("__old")).cast("int")).cast("bigint").alias("n_new"),
        F.round(F.avg(F.when(F.col("__old"), nrm)), round_out).alias("mean_norm_old"),
        F.round(F.avg(F.when(~F.col("__old"), nrm)), round_out).alias("mean_norm_new"),
    )
    return stats.join(cosv, group_col).orderBy(group_col)


def filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    filter_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Metadata-FILTERED exact top-k by cosine: each query retrieves
    only among corpus vectors whose ``filter_col`` equals the query's —
    the production "filtered vector search" shape (retrieve within a
    tenant/language/domain). The predicate is pushed INTO the join: an
    equality filter turns x04's broadcast-nested-loop cross join into a
    hash equi-join keyed on the filter column, so each query scores
    1/#labels of the corpus instead of all of it — at 100 TB the
    filter IS the prune, before any ANN structure.

    Scale shape: corpus never shuffles for scoring when the query side
    broadcasts (small query batch); the per-query top-k window shuffles
    only (query, score) pairs. Ties break by corpus id."""
    q = queries.select(
        F.col(query_id_col),
        F.col(filter_col).alias("__qf"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", norm(F.col("__qv")))
    c = corpus.select(
        F.col(id_col),
        F.col(filter_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", norm(F.col("__cv")))  # once per row, not per match
    scored = c.join(
        F.broadcast(q), c[filter_col] == q["__qf"]
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        F.col(filter_col).cast("bigint").alias(filter_col),
        F.round(
            dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 4
        ).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(query_id_col, id_col, filter_col, "cos", "rnk")
    )


def rrf_fuse(
    branches: "list[DataFrame]",
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rnk",
) -> DataFrame:
    """Reciprocal-rank fusion of bounded retrieval lists: score(d) =
    Σ_branches 1/(c + rank_branch(d)) — the standard hybrid-retrieval
    combiner (keyword BM25 + dense ANN) that needs no score
    calibration because it consumes RANKS, not scores. Documents
    missing from a branch contribute 0 from it.

    Scale shape: every input is already a top-k list (bounded), so the
    fusion — full outer join on the id, coalesced reciprocal sum, rank
    over ≤ Σ branch sizes rows — is constant-sized no matter the
    corpus; the heavy lifting happened inside the branches, each with
    its own bounded plan (x27's posting prune, x04's broadcast scan).
    The reciprocal terms sum in fixed branch order so the oracle
    replays the identical float arithmetic."""
    scored = None
    for i, b in enumerate(branches):
        s = b.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(c) + F.col(rank_col))).alias(f"__s{i}"),
        )
        scored = s if scored is None else scored.join(s, id_col, "full")
    total = F.lit(0.0)
    for i in range(len(branches)):
        total = total + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    top = (
        scored.select(F.col(id_col), F.round(total, 6).alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def fisher_dims(
    emb: DataFrame,
    top_n: int = 10,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-dimension class separation: Fisher ratio (between-class
    variance / within-class variance) for every embedding dimension,
    top ``top_n`` — the feature-audit that tells an embedding pipeline
    WHICH dimensions actually carry the label signal (a near-zero
    ratio everywhere means the labels aren't linearly visible; a few
    dominant dims suggest the space collapsed). Both variances come
    from per-(label, dim) sufficient statistics (n, Σx, Σx²) via the
    standard decomposition, so nothing ever buffers vectors.

    Scale shape: ONE posexplode pass reduces the corpus to
    (#labels × #dims) stat rows (map-side combined); the dim-level
    combine and the ratio are over that bounded table; top-n is
    orderBy+limit → TakeOrderedAndProject."""
    lg = (
        emb.select(
            F.col(label_col),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("__p", "__x"),
        )
        .groupBy(label_col, "__p")
        .agg(
            F.count(F.lit(1)).cast("double").alias("__nl"),
            F.sum("__x").alias("__sl"),
            F.sum(F.col("__x") * F.col("__x")).alias("__ql"),
        )
    )
    dg = lg.groupBy("__p").agg(
        F.sum("__nl").alias("__n"),
        F.sum("__sl").alias("__s"),
        F.sum("__ql").alias("__q"),
        F.sum(F.col("__sl") * F.col("__sl") / F.col("__nl")).alias("__b"),
    )
    between = (F.col("__b") - F.col("__s") * F.col("__s") / F.col("__n")) / F.col(
        "__n"
    )
    within = (F.col("__q") - F.col("__b")) / F.col("__n")
    return (
        dg.select(
            (F.col("__p") + 1).cast("bigint").alias("dim"),
            F.col("__n").cast("bigint").alias("n_vecs"),
            F.round(between, 6).alias("between_var"),
            F.round(within, 6).alias("within_var"),
            F.round(between / F.nullif(within, F.lit(0.0)), 4).alias("fisher"),
        )
        .orderBy(F.desc("fisher"), F.asc("dim"))
        .limit(top_n)
    )


def embedding_health(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    near_zero_at: float = 0.01,
) -> DataFrame:
    """Per-label embedding-table health audit — the ingest gate an ANN
    pipeline runs BEFORE building any index: L2-norm spread (a
    collapsed or exploded norm distribution breaks cosine vs
    dot-product assumptions), near-zero vectors (dead encoder outputs
    that match everything under cosine), non-finite components (NaN
    poisons every distance), and dimension consistency (a mixed-dim
    table crashes a cluster-wide index build hours in).

    Per label: ``n_vecs``, ``mean_norm`` (per-vector norms integer-ized
    to basis points before summing so float summation order cannot move
    the mean), ``min_norm``/``max_norm`` (pure comparisons of 4dp
    values), ``n_near_zero`` (norm < ``near_zero_at``), ``n_nonfinite``
    (any NaN component), ``n_dims_distinct``/``dim_min`` (schema
    drift).

    Scale shape: everything per-row is a map-side array fold (JVM
    higher-order functions, no explode — the corpus never widens to
    (row x dim)); the only shuffle is the #labels-sized grouped reduce.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    # non-finite = NaN OR ±Infinity: an Inf component gives an inf norm
    # whose basis-point bigint cast would silently saturate mean_norm —
    # exactly the failure class this audit exists to catch
    bad = F.exists(v, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    # a NaN norm would poison the mean (and CAST(NaN AS BIGINT) is an
    # error on some engines): non-finite vectors carry a NULL norm and
    # are reported only through n_nonfinite
    norm = F.when(bad, F.lit(None)).otherwise(F.round(F.sqrt(sq), 4))
    base = emb.select(
        F.col(label_col),
        norm.alias("__nrm"),
        bad.cast("int").alias("__bad"),
        F.size(F.col(vec_col)).alias("__dim"),
    )
    norm_bp = F.round(F.col("__nrm") * 10000).cast("bigint")
    return (
        base.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.sum(norm_bp) / (F.count("__nrm") * 10000), 4).alias(
                "mean_norm"
            ),
            F.min("__nrm").alias("min_norm"),
            F.max("__nrm").alias("max_norm"),
            F.sum((F.col("__nrm") < near_zero_at).cast("int"))
            .cast("bigint")
            .alias("n_near_zero"),
            F.sum("__bad").cast("bigint").alias("n_nonfinite"),
            F.count_distinct("__dim").cast("bigint").alias("n_dims_distinct"),
            F.min("__dim").cast("bigint").alias("dim_min"),
        )
        .orderBy(label_col)
    )


def pq_reconstruction_error(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    round_dist: int = 6,
) -> DataFrame:
    """PQ fidelity audit: per label, the quantization error the trained
    codebooks actually leave behind — the number that answers "is
    m/ksub enough for THIS corpus" before anyone trusts x60's ADC
    ranking (the embedding-side complement of x78's minhash estimator
    check). Per-subspace error = the argmin centroid's squared distance
    = array_min over the SAME rounded distance vector pq_codes computes
    (min of rounded values == rounded value at the argmin, tie-safe).

    Per label: ``n_vecs``, ``mse_per_dim`` (mean residual power per
    dimension), ``noise_to_signal`` (residual power / vector power —
    the relative-distortion gauge). Per-vector errors and powers are
    integer-ized to micro-units before summing, so float summation
    order cannot move the outputs.

    Scale shape: codebooks are driver-bounded model data broadcast as
    a 1-row tensor frame, as in :func:`pq_codes`; the error is ONE
    map-side pass per row — no join back through codes, no shuffle but
    the #labels reduce.
    """
    books = pq_train(
        emb, m=m, ksub=ksub, dim=dim, vec_col=vec_col, id_col=id_col,
        round_dist=round_dist,
    )
    v = F.col(vec_col).cast("array<double>")
    base = emb.select(F.col(label_col), v.alias("__v")).crossJoin(
        F.broadcast(_books_frame(emb.sparkSession, books))
    )
    err_bp = sum(
        F.round(
            _centroid_dists(
                F.col("__v"), F.col("__books"), F.lit(s), dim // m, round_dist, F.array_min
            )
            * 1000000
        ).cast("bigint")
        for s in range(m)
    )
    power_bp = F.round(
        F.round(
            F.aggregate(F.col("__v"), F.lit(0.0), lambda acc, x: acc + x * x),
            round_dist,
        )
        * 1000000
    ).cast("bigint")
    rows = base.select(F.col(label_col), err_bp.alias("__e"), power_bp.alias("__p"))
    return (
        rows.groupBy(label_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(
                F.sum("__e") / (F.count(F.lit(1)) * dim * 1000000.0), 6
            ).alias("mse_per_dim"),
            F.round(F.sum("__e") / F.sum("__p"), 4).alias("noise_to_signal"),
        )
        .orderBy(label_col)
    )


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k_candidates: int = 10,
    k_select: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal-marginal-relevance diversified re-rank (Carbonell &
    Goldstein 1998), λ fixed at 0.5: from each query's exact top-
    ``k_candidates``, greedily pick ``k_select`` results maximizing
    relevance minus the worst redundancy against what's already picked
    — the RAG-serving step that stops a retriever returning three
    copies of the same paragraph.

    FULLY integer-exact selection: cosine relevance and candidate-
    pairwise similarity are 4dp basis points, the MMR objective is the
    integer 2·rel_bp − max(sim_bp) (λ=0.5 folds into the doubling, so
    no float ever decides a pick), ties break on ascending id. The
    greedy loop unrolls ``k_select`` DataFrame steps — each is an
    anti-join + per-query max over the ≤ k_candidates sliver, bounded
    at any corpus size; only the initial top-k scan touches the corpus
    (and that is x04's broadcast-query plan).

    Returns (query_id, rnk 1..k_select, vec_id, mmr) where mmr =
    objective/2 in cosine units.
    """
    cand = brute_force_topk(
        corpus, queries, k=k_candidates, vec_col=vec_col, id_col=id_col,
        query_id_col=query_id_col,
    ).select(
        query_id_col,
        F.col(id_col),
        F.round(F.col("cos") * 10000).cast("bigint").alias("__rel_bp"),
    ).localCheckpoint()
    vecs = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    )
    cv = (
        cand.join(vecs, id_col)
        .select(query_id_col, id_col, "__v")
        .withColumn("__nv", norm(F.col("__v")))  # once per candidate, not per pair
    )
    a, b = cv.alias("a"), cv.alias("b")
    sims = (
        a.join(b, query_id_col)
        .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(query_id_col),
            F.col(f"a.{id_col}").alias("__ca"),
            F.col(f"b.{id_col}").alias("__cb"),
            F.round(
                dot(F.col("a.__v"), F.col("b.__v"))
                / (F.col("a.__nv") * F.col("b.__nv")),
                4,
            ).alias("__s"),
        )
        .select(
            query_id_col, "__ca", "__cb",
            F.round(F.col("__s") * 10000).cast("bigint").alias("__sim_bp"),
        )
        .localCheckpoint()
    )

    def argmax(scored):
        # max objective, ties -> smallest id: min(struct(-obj, id))
        best = scored.groupBy(query_id_col).agg(
            F.min(
                F.struct((-F.col("__obj")).alias("no"), F.col(id_col).alias("i"))
            ).alias("__b")
        )
        return best.select(
            query_id_col,
            F.col("__b.i").alias(id_col),
            (-F.col("__b.no")).alias("__obj"),
        )

    selected = argmax(
        cand.select(query_id_col, id_col, (2 * F.col("__rel_bp")).alias("__obj"))
    ).withColumn("rnk", F.lit(1).cast("bigint"))
    picks = [selected]
    for step in range(2, k_select + 1):
        sel_ids = selected.select(query_id_col, F.col(id_col).alias("__sel"))
        # redundancy of each remaining candidate = max sim to ANY pick
        red = (
            sims.join(
                sel_ids.withColumnRenamed("__sel", "__cb"),
                [query_id_col, "__cb"],
            )
            .groupBy(query_id_col, "__ca")
            .agg(F.max("__sim_bp").alias("__red_bp"))
        )
        remaining = cand.join(
            selected.select(query_id_col, id_col), [query_id_col, id_col],
            "left_anti",
        )
        scored = remaining.join(
            red.withColumnRenamed("__ca", id_col), [query_id_col, id_col]
        ).select(
            query_id_col, id_col,
            (2 * F.col("__rel_bp") - F.col("__red_bp")).alias("__obj"),
        )
        nxt = argmax(scored).withColumn("rnk", F.lit(step).cast("bigint"))
        picks.append(nxt)
        sel_all = picks[0].select(query_id_col, id_col)
        for p in picks[1:]:
            sel_all = sel_all.union(p.select(query_id_col, id_col))
        selected = sel_all.join(
            cand.select(query_id_col, id_col), [query_id_col, id_col]
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.union(p)
    return out.select(
        query_id_col,
        "rnk",
        F.col(id_col),
        F.round(F.col("__obj") / 20000.0, 5).alias("mmr"),
    ).orderBy(query_id_col, "rnk")


def embedding_coverage(
    docs: DataFrame,
    emb: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-modal integrity audit: did the embedding job cover every
    document, and is the coverage quality-biased? Per source: document
    count, documents WITH an embedding row, missing count, coverage
    fraction, and the mean quality of covered vs missing docs — a gap
    between those two means says the embedding job is silently
    dropping a quality stratum (encoder timeouts on long/garbled docs
    is the classic failure), which poisons every downstream
    semantic-dedup/ANN decision made "corpus-wide".

    Quality means come from exact integer sums of the 4dp score
    (the x96 lesson: float sums of rounded doubles are order-dependent
    across engines). One id-keyed left join + a #sources reduce.
    """
    from otus_clickhouse_spark.pipeline.text import quality_score

    d = docs.select(
        F.col(doc_id_col),
        F.col(group_col),
        F.round(quality_score(F.col(text_col)) * 10000).cast("bigint").alias("__qbp"),
    )
    e = emb.select(F.col(vec_id_col).alias(doc_id_col), F.lit(1).alias("__has"))
    j = d.join(e, doc_id_col, "left")
    cov = F.col("__has").isNotNull().cast("int")
    n_cov = F.sum(cov)
    n_miss = F.sum(1 - cov)
    return (
        j.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            n_cov.cast("bigint").alias("n_with_embedding"),
            n_miss.cast("bigint").alias("n_missing"),
            F.round(n_cov / F.count(F.lit(1)), 4).alias("coverage_pct"),
            F.round(
                F.sum(F.col("__qbp") * cov) / (n_cov * 10000), 4
            ).alias("mean_q_covered"),
            F.when(
                n_miss > 0,
                F.round(F.sum(F.col("__qbp") * (1 - cov)) / (n_miss * 10000), 4),
            ).alias("mean_q_missing"),
        )
        .orderBy(group_col)
    )
