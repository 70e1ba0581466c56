"""Second coverage batch: quantiles, cube/grouping-sets, window frames,
aligned array unnest, sessionization, regexp, set-membership, CTEs, IVF.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from otus_clickhouse_spark.queries import query, t


@query(
    "q46_quantiles",
    oracle="""
    SELECT o_orderpriority,
           round(median(o_totalprice), 4) AS med,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def q46_quantiles(spark, sf_dir):
    """quantile/median (§2.8 parametric aggregates; lecture_06.md:57-59).

    Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    quantile_cont); CH's sampling `quantile` maps to approx_percentile
    for the at-scale variant."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("med"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
    )


@query(
    "q47_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q47_cube(spark, sf_dir):
    """CUBE — superset of the course's WITH ROLLUP (A11)."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q48_moving_avg",
    oracle="""
    SELECT event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
    FROM events WHERE event_type = 'view'
    """,
)
def q48_moving_avg(spark, sf_dir):
    """W1 general frame: N-row moving average (lecture_11.md:420-433)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return (
        t(spark, sf_dir, "events")
        .where(F.col("event_type") == "view")
        .select("event_id", F.round(F.avg("value").over(w), 4).alias("mavg"))
    )


@query(
    "q49_first_last_value",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_id) OVER w AS first_event,
           last_value(event_id)  OVER w AS last_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q49_first_last_value(spark, sf_dir):
    """first_value/last_value over the whole partition (W4 shape)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.first("event_id").over(w).alias("first_event"),
            F.last("event_id").over(w).alias("last_event"),
        )
        .distinct()
    )


@query(
    "q50_array_zip_unnest",
    oracle="""
    WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part),
    e AS (SELECT p_partkey,
                 unnest(list_transform(generate_series(1, len(words)),
                                       i -> {'pos': i, 'word': words[i]})) AS s
          FROM w)
    SELECT p_partkey, CAST(s.pos AS INT) - 1 AS pos, s.word AS word FROM e
    """,
)
def q50_array_zip_unnest(spark, sf_dir):
    """ARRAY JOIN aligned unnest (lecture_06.md:29-41) → posexplode."""
    return t(spark, sf_dir, "part").select(
        "p_partkey", F.posexplode(F.split("p_name", " ")).alias("pos", "word")
    )


@query(
    "q51_sessionization",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             -- floor(epoch) matches Spark's whole-second unix_timestamp;
             -- fractional epochs flipped boundary gaps (gap in
             -- (1800, 1801)) at sf1 row counts — r11 sf1 gate finding
             CASE WHEN floor(epoch(ts)) - floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
                       > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def q51_sessionization(spark, sf_dir):
    """Sessionization: 30-min-gap session counting — the batch analogue of
    session_window (T6), a core training-pipeline transform."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1
    ).otherwise(0)
    return (
        t(spark, sf_dir, "events")
        .withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "q52_regexp_extract",
    oracle="""
    SELECT CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS INT) AS brand_num,
           count(*) AS n
    FROM part GROUP BY 1
    """,
)
def q52_regexp_extract(spark, sf_dir):
    """match/extractAll regex family (lecture_08.md:387, lecture_18.md:213)."""
    return (
        t(spark, sf_dir, "part")
        .groupBy(F.regexp_extract("p_brand", "#(\\d+)", 1).cast("int").alias("brand_num"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q53_set_membership",
    oracle="""
    SELECT count(*) AS n FROM lineitem
    WHERE l_returnflag IN ('A', 'N') AND l_suppkey IN (1, 2, 3, 4, 5)
    """,
)
def q53_set_membership(spark, sf_dir):
    """Set engine / IN set (U3; lecture_09.md:451-496): broadcast isin."""
    li = t(spark, sf_dir, "lineitem")
    return li.where(
        F.col("l_returnflag").isin("A", "N") & F.col("l_suppkey").isin(1, 2, 3, 4, 5)
    ).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q54_cte",
    oracle="""
    WITH big AS (SELECT o_custkey, count(*) AS n FROM orders
                 WHERE o_totalprice > 200000 GROUP BY o_custkey)
    SELECT c.c_mktsegment, CAST(sum(big.n) AS BIGINT) AS big_orders
    FROM big JOIN customer c ON c.c_custkey = big.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q54_cte(spark, sf_dir):
    """CTE (D6; lecture_27.md:231-244) via spark.sql over registered frames."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return spark.sql(
        """
        WITH big AS (SELECT o_custkey, count(*) AS n FROM {o}
                     WHERE o_totalprice > 200000 GROUP BY o_custkey)
        SELECT c.c_mktsegment, CAST(sum(big.n) AS BIGINT) AS big_orders
        FROM big JOIN {c} c ON c.c_custkey = big.o_custkey
        GROUP BY c.c_mktsegment
        """,
        o=o,
        c=c,
    )


@query(
    "q55_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY ALL
    """,
)
def q55_group_by_all(spark, sf_dir):
    """GROUP BY ALL (A10; hw11.md:45-54)."""
    o = t(spark, sf_dir, "orders")
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
        "round(avg(o_totalprice), 4) AS avg_price FROM {o} GROUP BY ALL",
        o=o,
    )


@query(
    "x11_ivf_assign",
    oracle="""
    WITH cent AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                  FROM embeddings WHERE vec_id < 4),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    scored AS (
      SELECT e.vec_id, cent.centroid_id,
             round(list_cosine_similarity(e.v, cent.cv), 4) AS cos
      FROM e CROSS JOIN cent
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid_id) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT centroid_id, count(*) AS n FROM assign GROUP BY centroid_id
    """,
)
def x11_ivf_assign(spark, sf_dir):
    """IVF building block: assign every vector to its nearest centroid
    (broadcast centroids, map-side argmax — zero corpus shuffle). The
    coarse-quantizer step of an IVF ANN index at 100 TB."""
    from otus_clickhouse_spark.pipeline.similarity import dot, norm

    emb = t(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").cast("array<double>").alias("cv")
    ).withColumn("__nc", norm(F.col("cv")))
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v")).withColumn(
        "__nv", norm(F.col("v"))  # once per row, not per centroid
    )
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        F.round(
            dot(F.col("v"), F.col("cv")) / (F.col("__nv") * F.col("__nc")), 4
        ).alias("cos"),
    )
    assign = scored.groupBy("vec_id").agg(
        F.max_by("centroid_id", F.struct(F.col("cos"), (-F.col("centroid_id")).alias("nc"))).alias(
            "centroid_id"
        )
    )
    return assign.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q56_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q56_grouping_sets(spark, sf_dir):
    """GROUPING SETS — completes the A11 family (rollup q17, cube q47)."""
    o = t(spark, sf_dir, "orders")
    return spark.sql(
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n FROM {o} "
        "GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())",
        o=o,
    )


@query(
    "q57_range_frame",
    oracle="""
    SELECT o_orderkey,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT) AS orders_30d
    FROM orders
    """,
)
def q57_range_frame(spark, sf_dir):
    """W1 RANGE frame: value-based window (orders within the trailing 30
    days per customer) — rangeBetween on epoch seconds."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(-2592000, 0)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey", F.count(F.lit(1)).over(w).cast("bigint").alias("orders_30d")
    )


@query(
    "q58_topk_heavy_hitters",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag, l_suppkey, count(*) AS c
      FROM lineitem GROUP BY l_returnflag, l_suppkey
    ),
    ranked AS (
      SELECT l_returnflag, l_suppkey, c,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY c DESC, l_suppkey) AS rn
      FROM counts
    )
    SELECT l_returnflag,
           array_to_string(list(l_suppkey ORDER BY rn), ',') AS top_suppkeys
    FROM ranked WHERE rn <= 3 GROUP BY l_returnflag
    """,
)
def q58_topk_heavy_hitters(spark, sf_dir):
    """ClickHouse topK(3)(col) analogue: most frequent values per group
    (exact — two-phase count + per-group top-n; CH's topK is
    approximate Filtered Space-Saving, exact is a superset here).
    The ranked list is emitted comma-joined so hash-based result
    canonicalizers can handle the column."""
    from pyspark.sql import Window

    counts = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("c"), F.asc("l_suppkey"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .groupBy("l_returnflag")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "l_suppkey"))),
                    lambda s: s["l_suppkey"].cast("string"),
                ),
                ",",
            ).alias("top_suppkeys")
        )
    )


@query(
    "q59_uniq_state_merge",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
    FROM events GROUP BY event_type
    """,
)
def q59_uniq_state_merge(spark, sf_dir):
    """uniqExactState → persisted state column → uniqExactMerge on read
    (AggregateFunction surface, operators.state; lecture_07.md:495-546).
    r11 sf1 gate: the HLL form (uniqState/uniqMerge, still exercised by
    the pytest A7 suite and available for the bounded-memory 100 TB
    trade) drifts past sparse mode (~15k distincts → 15043), so the
    ORACLE-CHECKED demonstration uses the exact mergeable state — the
    sorted distinct value set, CH uniqExactState's contract — which is
    bit-exact at every SF."""
    from otus_clickhouse_spark.operators.state import aggregating_target, uniq_exact_merge

    ev = t(spark, sf_dir, "events")
    # simulate two insert blocks → two state rows per key, merged on read
    b1 = aggregating_target(
        ev.where(F.col("event_id") % 2 == 0), ["event_type"], {"st": "user_id"},
        exact=True,
    )
    b2 = aggregating_target(
        ev.where(F.col("event_id") % 2 == 1), ["event_type"], {"st": "user_id"},
        exact=True,
    )
    target = b1.unionByName(b2)
    return target.groupBy("event_type").agg(
        uniq_exact_merge("st").cast("bigint").alias("uniq_users")
    )


@query(
    "q60_lightweight_delete",
    oracle="""
    SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem WHERE NOT (l_quantity < 5) GROUP BY l_returnflag
    """,
)
def q60_lightweight_delete(spark, sf_dir):
    """Lightweight DELETE (M2; lecture_16.md:176-202): _row_exists mask
    written by the mutation, filtered at read — no part rewrite."""
    from otus_clickhouse_spark.plans.mutations import lightweight_delete, read_with_mask

    li = t(spark, sf_dir, "lineitem")
    masked = lightweight_delete(li, F.col("l_quantity") < 5)
    return (
        read_with_mask(masked)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "q61_uniq_array",
    oracle="""
    WITH g AS (
      SELECT o_custkey, list(DISTINCT o_orderpriority) AS prios
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(len(prios) AS INT) AS n_prios, count(*) AS n_customers
    FROM g GROUP BY 1
    """,
)
def q61_uniq_array(spark, sf_dir):
    """uniqArray/groupUniqArray (A9; hw14.md:54-60): distinct elements
    collected per group, then histogram of distinct-counts."""
    g = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.array_distinct(F.collect_list("o_orderpriority")).alias("prios"))
    )
    return g.groupBy(F.size("prios").alias("n_prios")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def _mini_engine(spark, sf_dir, tables):
    """Engine with only the named tables registered (cheap per-query)."""
    import os

    from otus_clickhouse_spark.engine import Engine, TableDef

    eng = Engine(spark)
    for name in tables:
        eng.register_table(TableDef(name=name, path=os.path.join(sf_dir, f"{name}.parquet")))
    return eng


@query(
    "q62_array_join_sql",
    oracle="""
    SELECT tok, count(*) AS n FROM (
      SELECT unnest(string_split(p_name, ' ')) AS tok FROM part
    ) GROUP BY tok ORDER BY n DESC, tok LIMIT 20
    """,
)
def q62_array_join_sql(spark, sf_dir):
    """ARRAY JOIN clause through the SQL dialect (§2.8;
    lectures/lecture_06.md:29-41): translated to LATERAL VIEW explode,
    so the unnest runs JVM-side inside whole-stage codegen."""
    eng = _mini_engine(spark, sf_dir, ["part"])
    return eng.sql(
        "SELECT tok, count() AS n FROM "
        "(SELECT splitByChar(' ', p_name) AS toks FROM part) "
        "ARRAY JOIN toks AS tok "
        "GROUP BY tok ORDER BY n DESC, tok LIMIT 20"
    )


@query(
    "q63_dictget_sql",
    oracle="""
    SELECT n.n_name AS n_name, count(*) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q63_dictget_sql(spark, sf_dir):
    """dictGet in raw SQL (J13; lecture_11.md:20-40): the dialect
    rewrites it to a correlated scalar subquery over the dict view,
    which Catalyst plans as a broadcast left join — no per-row UDF."""
    eng = _mini_engine(spark, sf_dir, ["customer", "nation"])
    eng.create_dictionary(
        "nations", eng.table("nation").select("n_nationkey", "n_name"), "n_nationkey"
    )
    return eng.sql(
        "SELECT dictGet('nations', 'n_name', c_nationkey) AS n_name, "
        "count() AS n_customers FROM customer GROUP BY n_name"
    )


@query(
    "q64_with_fill_sql",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS INT) AS q, count(*) AS n
      FROM lineitem WHERE CAST(l_quantity AS INT) IN (1, 2, 3, 7, 8)
      GROUP BY 1
    )
    SELECT s.q AS q, g.n AS n
    FROM (SELECT unnest(generate_series(1, 8)) AS q) s
    LEFT JOIN g USING (q)
    ORDER BY q
    """,
)
def q64_with_fill_sql(spark, sf_dir):
    """ORDER BY … WITH FILL through the SQL dialect (W5;
    lecture_20.md:29-33): gaps 4-6 are densified by the broadcast
    spine join, missing counts stay NULL like the reference."""
    eng = _mini_engine(spark, sf_dir, ["lineitem"])
    return eng.sql(
        "SELECT CAST(l_quantity AS INT) AS q, count() AS n FROM lineitem "
        "WHERE CAST(l_quantity AS INT) IN (1, 2, 3, 7, 8) "
        "GROUP BY q ORDER BY q WITH FILL STEP 1"
    )


@query(
    "q65_graphite_rollup",
    oracle="""
    WITH cfg AS (
      SELECT *,
             CASE WHEN event_type LIKE 'click%' THEN 0
                  WHEN event_type LIKE 'purchase%' OR event_type LIKE 'signup%' THEN 1
                  ELSE 2 END AS pat,
             CASE WHEN epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(ts) >= 1209600
                  THEN 86400 ELSE 3600 END AS prec
      FROM events
    )
    SELECT event_type AS path,
           CAST(floor(epoch(ts) / prec) * prec AS BIGINT) AS time_s,
           round(CASE WHEN pat = 0 THEN sum(value)
                      WHEN pat = 1 THEN max(value)
                      ELSE avg(value) END, 4) AS value
    FROM cfg
    GROUP BY event_type, pat, 2
    """,
)
def q65_graphite_rollup(spark, sf_dir):
    """GraphiteMergeTree rollup (§1.4; lectures/lecture_07.md:793-817):
    age-based precision re-bucketing with per-pattern aggregation.
    Rows older than 14 days (vs a fixed 'now') collapse to 1-day
    buckets, recent rows to 1-hour; click* paths sum, purchase/signup
    max, everything else avg. One combiner-friendly shuffle."""
    from otus_clickhouse_spark.operators.graphite import (
        GraphitePattern,
        Retention,
        graphite_rollup,
    )

    ev = t(spark, sf_dir, "events")
    patterns = [
        GraphitePattern("^click", "sum", [Retention(0, 3600), Retention(1209600, 86400)]),
        GraphitePattern("^(purchase|signup)", "max", [Retention(0, 3600), Retention(1209600, 86400)]),
        GraphitePattern(None, "avg", [Retention(0, 3600), Retention(1209600, 86400)]),
    ]
    out = graphite_rollup(
        ev,
        patterns,
        "2024-02-01 00:00:00",
        path_col="event_type",
        time_col="ts",
        value_col="value",
        ts_col=None,
    )
    return out.select(
        F.col("event_type").alias("path"),
        F.unix_timestamp("ts").cast("bigint").alias("time_s"),
        F.round("value", 4).alias("value"),
    )


@query(
    "q66_limit_by",
    oracle="""
    SELECT event_type, user_id, total FROM (
      SELECT event_type, user_id, round(sum(value), 4) AS total,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY round(sum(value), 4) DESC, user_id) rn
      FROM events GROUP BY event_type, user_id
    ) WHERE rn <= 2
    """,
)
def q66_limit_by(spark, sf_dir):
    """LIMIT n BY cols (ClickHouse per-group top-n clause): routed in
    Engine.sql to one window shuffle partitioned by the BY keys —
    TakeOrdered-per-group, no global sort of the full aggregate."""
    eng = _mini_engine(spark, sf_dir, ["events"])
    return eng.sql(
        "SELECT event_type, user_id, round(sum(value), 4) AS total "
        "FROM events GROUP BY event_type, user_id "
        "ORDER BY total DESC, user_id LIMIT 2 BY event_type"
    )


@query(
    "q67_with_totals",
    oracle="""
    SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY GROUPING SETS ((o_orderstatus), ())
    """,
)
def q67_with_totals(spark, sf_dir):
    """GROUP BY … WITH TOTALS (ClickHouse totals row): translated to
    GROUPING SETS ((keys), ()) — one aggregation pass computes both
    levels; the totals row is the NULL-keyed grouping-sets row."""
    eng = _mini_engine(spark, sf_dir, ["orders"])
    return eng.sql(
        "SELECT o_orderstatus, count() AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders GROUP BY o_orderstatus WITH TOTALS"
    )


@query(
    "q68_scalar_functions",
    oracle="""
    SELECT year(o_orderdate) AS yr,
           month(o_orderdate) AS mo,
           count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price,
           CAST(max(date_diff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00')) AS BIGINT) AS max_age_d
    FROM orders
    WHERE isodow(o_orderdate) <= 5
    GROUP BY 1, 2
    """,
)
def q68_scalar_functions(spark, sf_dir):
    """Extended scalar-function surface in the CH dialect (§2.8):
    toYear/toMonth/toDayOfWeek (ISO Monday=1) and boundary-crossing
    dateDiff, all inlined by the translator into Catalyst expressions —
    zero UDF overhead, full codegen."""
    eng = _mini_engine(spark, sf_dir, ["orders"])
    return eng.sql(
        "SELECT toYear(o_orderdate) AS yr, toMonth(o_orderdate) AS mo, "
        "count() AS n, round(avg(o_totalprice), 4) AS avg_price, "
        "max(dateDiff('day', o_orderdate, TIMESTAMP '1998-12-31 00:00:00')) AS max_age_d "
        "FROM orders WHERE toDayOfWeek(o_orderdate) <= 5 "
        "GROUP BY yr, mo"
    )


@query(
    "q69_state_merge_sql",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users,
           round(avg(value), 2) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def q69_state_merge_sql(spark, sf_dir):
    """-State/-Merge combinators in raw SQL (A7; lecture_07.md:495-546,
    lecture_13.md:57-94): two per-block partial-state subqueries (the
    AggregatingMergeTree insert pattern) merged on read. uniqExactState
    → the exact mergeable value-set state (r11 sf1 gate: the HLL
    uniqState estimate drifts past sparse mode, so the oracle-checked
    form uses the exact state; uniqState/uniqMerge remain the
    bounded-memory spelling); avgState → sum/count struct, so the
    merged average is exact regardless of block split. All JVM-side."""
    eng = _mini_engine(spark, sf_dir, ["events"])
    block = (
        "SELECT event_type, uniqExactState(user_id) AS u, avgState(value) AS a "
        "FROM events WHERE event_id % 2 = {r} GROUP BY event_type"
    )
    return eng.sql(
        "SELECT event_type, CAST(uniqExactMerge(u) AS BIGINT) AS uniq_users, "
        "round(avgMerge(a), 2) AS avg_value "
        f"FROM ({block.format(r=0)} UNION ALL {block.format(r=1)}) "
        "GROUP BY event_type"
    )


@query(
    "q70_any_join_sql",
    oracle="""
    SELECT o.o_orderkey, c.c_name AS c_name
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 300000
    """,
)
def q70_any_join_sql(spark, sf_dir):
    """ANY LEFT JOIN in raw SQL (J6; lecture_10.md:12-13): the dialect
    dedups the right side per key before joining, so there is no
    fan-out. customer is already key-unique, which keeps the oracle
    deterministic while exercising the routing + dedup plan."""
    eng = _mini_engine(spark, sf_dir, ["orders", "customer"])
    return eng.sql(
        "SELECT o_orderkey, c_name FROM orders "
        "ANY LEFT JOIN customer ON orders.o_custkey = customer.c_custkey "
        "WHERE o_totalprice > 300000"
    )


@query(
    "q71_paste_join_sql",
    oracle="""
    SELECT a.number, b.dbl FROM
      (SELECT range AS number FROM range(8)) a POSITIONAL JOIN
      (SELECT (7 - range) * 2 AS dbl FROM range(8)) b
    """,
)
def q71_paste_join_sql(spark, sf_dir):
    """PASTE JOIN in raw SQL (J8; lecture_10.md:15) — positional zip of
    two ordered result sets (DuckDB's POSITIONAL JOIN is the oracle)."""
    eng = _mini_engine(spark, sf_dir, [])
    return eng.sql(
        "SELECT number, dbl FROM "
        "(SELECT number FROM numbers(8) ORDER BY number) PASTE JOIN "
        "(SELECT number * 2 AS dbl FROM numbers(8) ORDER BY dbl DESC)"
    )


@query(
    "q72_fill_interpolate_sql",
    oracle="""
    WITH g AS (
      SELECT CAST(l_quantity AS INT) AS q, CAST(count(*) AS BIGINT) AS n
      FROM lineitem WHERE CAST(l_quantity AS INT) IN (1, 2, 3, 7)
      GROUP BY 1
    )
    SELECT s.q AS q,
           coalesce(g.n, last_value(g.n IGNORE NULLS) OVER
             (ORDER BY s.q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS n
    FROM (SELECT unnest(generate_series(1, 7)) AS q) s
    LEFT JOIN g USING (q)
    ORDER BY q
    """,
)
def q72_fill_interpolate_sql(spark, sf_dir):
    """WITH FILL … INTERPOLATE in raw SQL (W5 + ClickHouse INTERPOLATE):
    gap rows carry the previous bucket's count forward."""
    eng = _mini_engine(spark, sf_dir, ["lineitem"])
    return eng.sql(
        "SELECT toInt32(l_quantity) AS q, count() AS n FROM lineitem "
        "WHERE toInt32(l_quantity) IN (1, 2, 3, 7) "
        "GROUP BY q ORDER BY q WITH FILL FROM 1 TO 8 INTERPOLATE (n)"
    )


@query(
    "q73_asof_sql",
    oracle="""
    SELECT p.event_id, epoch_us(c.ts) AS click_us
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q73_asof_sql(spark, sf_dir):
    """ASOF JOIN in raw SQL (J7; lecture_10.md:14), checked against
    DuckDB's native ASOF JOIN. The dialect lowers it to the union+window
    single-shuffle plan of operators/asof.py."""
    from otus_clickhouse_spark.engine import TableDef

    eng = _mini_engine(spark, sf_dir, ["events"])
    ev = eng.table("events")
    ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("purchases_sql")
    ev.where(F.col("event_type") == "click").select("user_id", "ts").createOrReplaceTempView(
        "clicks_sql"
    )
    eng.tables["purchases_sql"] = TableDef(name="purchases_sql")
    eng.tables["clicks_sql"] = TableDef(name="clicks_sql")
    return eng.sql(
        "SELECT event_id, unix_micros(CAST(clicks_sql.ts AS TIMESTAMP_LTZ)) AS click_us "
        "FROM purchases_sql ASOF JOIN clicks_sql "
        "ON purchases_sql.user_id = clicks_sql.user_id "
        "AND purchases_sql.ts >= clicks_sql.ts"
    )


@query(
    "q74_projection_autoselect",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q74_projection_autoselect(spark, sf_dir):
    """Projection auto-selection (D10; lecture_13.md:243-314): the query
    names the base table but is silently served from the pre-aggregated
    projection — the oracle aggregates the raw table, so a hash match
    proves the rewrite is answer-preserving. At scale this is the
    reads-10-rows-instead-of-10B path (hw08.md:206-233)."""
    eng = _mini_engine(spark, sf_dir, ["lineitem"])
    eng.add_projection(
        "li_proj", "lineitem", ["l_returnflag", "l_linestatus"],
        {"sq": ("sum", "l_quantity"), "n": ("count", "*")},
    )
    out = eng.sql(
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )
    assert eng.projections.serve_hits >= 1, "projection was not selected"
    return out.select(
        "l_returnflag", "l_linestatus", F.round("sum_qty", 2).alias("sum_qty"), "n"
    )


@query(
    "q87_stat_moments",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             avg(l_quantity) AS m1, avg(l_quantity*l_quantity) AS m2,
             avg(l_quantity*l_quantity*l_quantity) AS m3,
             avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4,
             corr(l_quantity, l_extendedprice) AS c,
             covar_pop(l_quantity, l_extendedprice) AS cv
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           round(c, 6) AS corr_qp,
           round(cv, 2) AS covar_qp,
           round((m3 - 3*m1*m2 + 2*m1*m1*m1)
                 / pow(m2 - m1*m1, 1.5), 6) AS skew_q,
           round((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1)
                 / pow(m2 - m1*m1, 2), 6) AS kurt_q
    FROM m
    """,
)
def q87_stat_moments(spark, sf_dir):
    """Statistical-moments aggregate family through the ClickHouse SQL
    front end: corr / covarPop (name aliases), skewPop (alias to
    Spark's population skewness) and kurtPop (structural rewrite —
    CH returns raw m4/m2², Spark returns excess, so the dialect emits
    kurtosis(x)+3). Oracle recomputes skew/kurt from raw moments so
    both engines' one-pass implementations are checked against closed
    form. All two-phase HashAggregate, one shuffle of per-group
    moment partials."""
    eng = _mini_engine(spark, sf_dir, ["lineitem"])
    return eng.sql(
        "SELECT l_returnflag, "
        "round(corr(l_quantity, l_extendedprice), 6) AS corr_qp, "
        "round(covarPop(l_quantity, l_extendedprice), 2) AS covar_qp, "
        "round(skewPop(l_quantity), 6) AS skew_q, "
        "round(kurtPop(l_quantity), 6) AS kurt_q "
        "FROM lineitem GROUP BY l_returnflag"
    )


@query(
    "q88_window_suite",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag,
             CAST(ntile(4) OVER win AS BIGINT) AS tile,
             percent_rank() OVER win AS pr,
             cume_dist() OVER win AS cd,
             first_value(l_orderkey) OVER win AS fv
      FROM lineitem
      WINDOW win AS (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber))
    SELECT flag, tile, count(*) AS n,
           round(min(pr), 6) AS min_pr, round(max(pr), 6) AS max_pr,
           round(max(cd), 6) AS max_cd,
           CAST(min(fv) AS BIGINT) AS first_key
    FROM w GROUP BY flag, tile
    """,
)
def q88_window_suite(spark, sf_dir):
    """Ranking-window breadth through the SQL front end (W-family):
    ntile quartiles, percent_rank, cume_dist, first_value over a
    totally-ordered partition (tie-broken to determinism), aggregated
    to per-(flag, tile) stats. One shuffle on the partition key; the
    ranking functions are single-pass within each sorted partition."""
    eng = _mini_engine(spark, sf_dir, ["lineitem"])
    return eng.sql(
        "WITH w AS ("
        " SELECT l_returnflag AS flag,"
        "        CAST(ntile(4) OVER win AS BIGINT) AS tile,"
        "        percent_rank() OVER win AS pr,"
        "        cume_dist() OVER win AS cd,"
        "        first_value(l_orderkey) OVER win AS fv"
        " FROM lineitem"
        " WINDOW win AS (PARTITION BY l_returnflag"
        "                ORDER BY l_extendedprice, l_orderkey, l_linenumber))"
        " SELECT flag, tile, count(*) AS n,"
        "        round(min(pr), 6) AS min_pr, round(max(pr), 6) AS max_pr,"
        "        round(max(cd), 6) AS max_cd,"
        "        CAST(min(fv) AS BIGINT) AS first_key"
        " FROM w GROUP BY flag, tile"
    )


@query(
    "q89_datetime_string_breadth",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('month', o_orderdate, TIMESTAMP '1998-01-01') AS BIGINT)
             AS months_crossed,
           CAST((year(TIMESTAMP '1998-01-01') - year(o_orderdate)) * 12
                + (1 - month(o_orderdate))
                - CASE WHEN 1 < day(o_orderdate) THEN 1 ELSE 0 END AS BIGINT)
             AS months_full,
           string_split(o_orderpriority, '-')[1] AS prio_code,
           round(2 * 6372797.560856 * asin(sqrt(
             pow(sin(radians(((o_orderkey % 180) - 90) - 10.0) / 2), 2)
             + cos(radians(10.0)) * cos(radians((o_orderkey % 180) - 90))
             * pow(sin(radians(((o_orderkey % 360) - 180) - 20.0) / 2), 2))) / 1000, 1)
             AS dist_km
    FROM orders WHERE o_orderkey <= 40 ORDER BY o_orderkey
    """,
)
def q89_datetime_string_breadth(spark, sf_dir):
    """§2.8 breadth through the SQL front end, driver-value-checked:
    dateDiff (boundary-crossing months) vs age (full elapsed months —
    note the two columns genuinely differ for mid-month dates),
    splitByString, and greatCircleDistance (haversine; coordinates
    synthesized from the key). DuckDB replays each with its own
    primitives (date_diff counts crossings like CH; full months via the
    explicit year/month/day formula; the same sphere formula inline)."""
    eng = _mini_engine(spark, sf_dir, ["orders"])
    # CH lat synthesized in [-90, 90), lon in [-180, 180)
    return eng.sql(
        "SELECT o_orderkey,"
        "       dateDiff('month', o_orderdate, toDateTime('1998-01-01 00:00:00'))"
        "         AS months_crossed,"
        "       age('month', o_orderdate, toDateTime('1998-01-01 00:00:00'))"
        "         AS months_full,"
        "       splitByString('-', o_orderpriority)[1] AS prio_code,"
        "       round(greatCircleDistance("
        "         20.0, 10.0,"
        "         CAST((o_orderkey % 360) - 180 AS DOUBLE),"
        "         CAST((o_orderkey % 180) - 90 AS DOUBLE)) / 1000, 1) AS dist_km"
        " FROM orders WHERE o_orderkey <= 40 ORDER BY o_orderkey"
    )


@query(
    "q90_bits_readable",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS band,
           CAST(o_orderkey | 16 AS BIGINT) AS bor,
           CAST(xor(o_orderkey, 5) AS BIGINT) AS bxor,
           CAST(o_orderkey << 3 AS BIGINT) AS shl,
           CAST((o_orderkey >> 2) & 1 AS BIGINT) AS bt,
           CASE
             WHEN o_totalprice * 1000 >= 1073741824.0
               THEN concat(printf('%.2f', o_totalprice * 1000 / 1073741824.0), ' GiB')
             WHEN o_totalprice * 1000 >= 1048576.0
               THEN concat(printf('%.2f', o_totalprice * 1000 / 1048576.0), ' MiB')
             WHEN o_totalprice * 1000 >= 1024.0
               THEN concat(printf('%.2f', o_totalprice * 1000 / 1024.0), ' KiB')
             ELSE concat(printf('%.2f', o_totalprice * 1000), ' B')
           END AS size_h,
           CASE
             WHEN abs(o_totalprice) >= 1e6
               THEN concat(printf('%.2f', o_totalprice / 1e6), ' million')
             WHEN abs(o_totalprice) >= 1e3
               THEN concat(printf('%.2f', o_totalprice / 1e3), ' thousand')
             ELSE printf('%.2f', o_totalprice)
           END AS qty_h,
           concat_ws(', ',
             CASE WHEN o_orderkey % 200000 >= 86400 THEN
               concat(CAST(o_orderkey % 200000 // 86400 AS VARCHAR), ' days') END,
             CASE WHEN o_orderkey % 200000 % 86400 >= 3600 THEN
               concat(CAST(o_orderkey % 200000 % 86400 // 3600 AS VARCHAR), ' hours') END,
             CASE WHEN o_orderkey % 200000 % 3600 >= 60 THEN
               concat(CAST(o_orderkey % 200000 % 3600 // 60 AS VARCHAR), ' minutes') END,
             CASE WHEN o_orderkey % 200000 % 60 > 0 OR o_orderkey % 200000 = 0 THEN
               concat(CAST(o_orderkey % 200000 % 60 AS VARCHAR), ' seconds') END
           ) AS dur_h
    FROM orders WHERE o_orderkey <= 128 ORDER BY o_orderkey
    """,
)
def q90_bits_readable(spark, sf_dir):
    """§2.8 bit arithmetic + formatReadable* family through the SQL
    front end (lecture_20.md monitoring queries use both): bitAnd/Or/
    Xor/ShiftLeft/Test and formatReadableSize/Quantity/TimeDelta.
    DuckDB replays each with its own operators (&, |, xor(), <<, >>,
    printf) against the same unit thresholds. Values only exercise the
    no-thousands-separator range of format_number, where the two
    engines' numeric formatting agrees."""
    eng = _mini_engine(spark, sf_dir, ["orders"])
    return eng.sql(
        "SELECT o_orderkey,"
        "       bitAnd(o_orderkey, 255) AS band,"
        "       bitOr(o_orderkey, 16) AS bor,"
        "       bitXor(o_orderkey, 5) AS bxor,"
        "       bitShiftLeft(o_orderkey, 3) AS shl,"
        "       CAST(bitTest(o_orderkey, 2) AS BIGINT) AS bt,"
        "       formatReadableSize(o_totalprice * 1000) AS size_h,"
        "       formatReadableQuantity(o_totalprice) AS qty_h,"
        "       formatReadableTimeDelta(o_orderkey % 200000) AS dur_h"
        " FROM orders WHERE o_orderkey <= 128 ORDER BY o_orderkey"
    )


@query(
    "q91_date_names",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 1440) * INTERVAL 1 MINUTE AS ts
      FROM orders WHERE o_orderkey <= 100
    )
    SELECT o_orderkey,
           monthname(ts) AS mon_name,
           dayname(ts) AS day_name,
           CAST(year(ts) AS VARCHAR) AS y_name,
           CAST(last_day(CAST(ts AS DATE)) AS VARCHAR) AS month_end,
           make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT)
                          * 1800 * 1000000) AS slot
    FROM o ORDER BY o_orderkey
    """,
)
def q91_date_names(spark, sf_dir):
    """§2.8 date-naming/bucketing breadth through the SQL front end:
    dateName (month/weekday/year parts), toLastDayOfMonth, timeSlot
    (30-minute buckets). The probe timestamp varies by key so slots and
    names change across rows; DuckDB replays with monthname/dayname/
    last_day/epoch arithmetic."""
    eng = _mini_engine(spark, sf_dir, ["orders"])
    return eng.sql(
        "SELECT o_orderkey,"
        "       dateName('month', ts) AS mon_name,"
        "       dateName('weekday', ts) AS day_name,"
        "       dateName('year', ts) AS y_name,"
        "       toString(toLastDayOfMonth(ts)) AS month_end,"
        "       timeSlot(ts) AS slot"
        " FROM (SELECT o_orderkey,"
        "              toDateTime(o_orderdate) + INTERVAL (o_orderkey % 1440) MINUTE AS ts"
        "       FROM orders WHERE o_orderkey <= 100) o"
        " ORDER BY o_orderkey"
    )


@query(
    "q92_time_buckets",
    oracle="""
    WITH o AS (
      SELECT CAST(o_orderdate AS TIMESTAMP)
               + (o_orderkey % 86400) * INTERVAL 1 SECOND AS ts
      FROM orders WHERE o_orderkey <= 5000
    ),
    w AS (
      SELECT ts,
             make_date(CAST(year(ts) AS INT), 1, 1)
               + ((7 - dayofweek(make_date(CAST(year(ts) AS INT), 1, 1))) % 7)
                 * INTERVAL 1 DAY AS first_sun
      FROM o
    )
    SELECT CAST(CASE WHEN CAST(ts AS DATE) < first_sun THEN 0
                ELSE date_diff('day', first_sun, CAST(ts AS DATE)) // 7 + 1
                END AS BIGINT) AS wk,
           count(*) AS n,
           CAST(count(DISTINCT CAST(floor(epoch(ts) / 300) AS BIGINT)) AS BIGINT) AS n_buckets
    FROM w GROUP BY 1 ORDER BY wk
    """,
)
def q92_time_buckets(spark, sf_dir):
    """Time-bucketing breadth, driver-value-checked: toWeek (CH/MySQL
    mode 0 — Sunday-start, week 0 before the year's first Sunday) as
    the group key, uniqExact over toStartOfFiveMinutes buckets inside
    each week. DuckDB replays the week-0 boundary arithmetic with its
    own dayofweek convention (Sunday=0 vs Spark's 1) and epoch//300
    bucketing — the same monitoring-rollup shape as lecture_20's
    dashboards, value-matched across engines."""
    eng = _mini_engine(spark, sf_dir, ["orders"])
    return eng.sql(
        "SELECT toWeek(ts) AS wk,"
        "       count() AS n,"
        "       CAST(uniqExact(toStartOfFiveMinutes(ts)) AS BIGINT) AS n_buckets"
        " FROM (SELECT toDateTime(o_orderdate)"
        "              + INTERVAL (o_orderkey % 86400) SECOND AS ts"
        "       FROM orders WHERE o_orderkey <= 5000) o"
        " GROUP BY toWeek(ts) ORDER BY wk"
    )


@query(
    "q93_dictionary_ddl_metadata",
    oracle="""
    SELECT 'nations_meta_dict' AS name, 'LOADED' AS status,
           (SELECT count(*) FROM nation) AS element_count,
           'nation' AS source, 1 AS show_create_ok,
           (SELECT count(*) FROM nation) AS dict_rows
    """,
)
def q93_dictionary_ddl_metadata(spark, sf_dir):
    """D15 dictionary-DDL surface, driver-value-checked
    (lecture_11.md:281-392): CREATE DICTIONARY via the SQL router, then
    the metadata it must expose — a LOADED system.dictionaries row with
    the source table's cardinality, SHOW CREATE DICTIONARY echoing the
    DDL, and the dictionary readable as a plain table. All scalars, so
    the DuckDB oracle replays the expected row from the nation table."""
    from pyspark.sql import functions as F

    eng = _mini_engine(spark, sf_dir, ["nation"])
    eng.execute(
        "CREATE DICTIONARY nations_meta_dict (n_nationkey UInt32, n_name String) "
        "PRIMARY KEY n_nationkey "
        "SOURCE(CLICKHOUSE(TABLE 'nation')) LIFETIME(MIN 0 MAX 300) LAYOUT(FLAT)"
    )
    shown = eng.execute("SHOW CREATE DICTIONARY nations_meta_dict")[0]
    meta = eng.sql(
        "SELECT name, status, element_count, source FROM system.dictionaries "
        "WHERE name = 'nations_meta_dict'"
    )
    as_table = eng.sql("SELECT count() AS dict_rows FROM nations_meta_dict")
    return (
        meta.withColumn(
            "show_create_ok",
            F.lit(int(shown.lower().startswith("create dictionary nations_meta_dict"))),
        )
        .crossJoin(as_table)
    )


@query(
    "q94_replication_storage_metadata",
    oracle="""
    SELECT * FROM (VALUES
      ('macro', 'replica', 'replica_1'),
      ('macro', 'shard', '01'),
      ('policy', 'default', 'default'),
      ('policy', 's3_main', 's3'),
      ('replica', 'rep_meta', '/clickhouse/tables/01/rep_meta|replica_1')
    ) AS t(kind, name, value) ORDER BY kind, name
    """,
)
def q94_replication_storage_metadata(spark, sf_dir):
    """D16 replication/storage metadata, driver-value-checked
    (hw09.md:10-20, hw13.md:15-27): a ReplicatedMergeTree declaration
    surfaces in system.replicas with its {shard}/{replica}
    macro-substituted ZooKeeper path; system.macros carries the config
    substitution set; system.storage_policies lists volumes→disks. The
    three surfaces are unioned into (kind, name, value) scalars so the
    oracle replays the exact expected rows."""
    eng = _mini_engine(spark, sf_dir, [])
    eng.execute(
        "CREATE TABLE rep_meta (id UInt64) ENGINE = "
        "ReplicatedMergeTree('/clickhouse/tables/{shard}/rep_meta', '{replica}') "
        "ORDER BY id"
    )
    eng.add_storage_policy("s3_main", "s3", ["s3"])
    return eng.sql(
        "SELECT 'replica' AS kind, table AS name,"
        "       concat(zookeeper_path, '|', replica_name) AS value"
        " FROM system.replicas"
        " UNION ALL"
        " SELECT 'macro' AS kind, macro AS name, substitution AS value"
        " FROM system.macros"
        " UNION ALL"
        " SELECT 'policy' AS kind, policy_name AS name,"
        "        arrayStringConcat(disks, ',') AS value"
        " FROM system.storage_policies"
        " ORDER BY kind, name"
    )


@query(
    "q95_database_namespace",
    oracle="""
    SELECT 5 AS n_dbs, 1 AS has_hw, 5 AS qualified_count,
           1 AS literal_ok, 1 AS unknown_db_errors, 1 AS dropped
    """,
)
def q95_database_namespace(spark, sf_dir):
    """D1 database namespaces, driver-value-checked (hw03.md:7-33
    ``create database homework`` + fully-qualified DDL/DML): CREATE
    DATABASE registers a namespace over the flat catalog, qualified
    CREATE/INSERT/SELECT resolve through it, string literals carrying a
    ``db.table`` spelling stay untouched, an UNKNOWN database errors
    instead of silently hitting the flat table, and DROP DATABASE
    retires the name. n_dbs counts default + hwq95 + system + CH's two
    built-in INFORMATION_SCHEMA spellings (hw19.md:88-95 golden). All
    scalars; the oracle replays the expected row."""
    from pyspark.sql import functions as F

    eng = _mini_engine(spark, sf_dir, [])
    eng.execute("CREATE DATABASE hwq95")
    eng.execute("USE hwq95")
    eng.execute("CREATE TABLE hwq95.t95 (id UInt32, s String) ENGINE = Memory")
    eng.execute("INSERT INTO hwq95.t95 SELECT number, 'hwq95.t95' FROM numbers(5)")
    n_dbs = eng.sql("SELECT count() AS n FROM system.databases").collect()[0].n
    has_hw = eng.sql(
        "SELECT count() AS n FROM system.databases WHERE name = 'hwq95'"
    ).collect()[0].n
    qualified = eng.execute("SELECT count() AS n FROM hwq95.t95")[0].n
    literal_ok = eng.execute(
        "SELECT count() AS n FROM hwq95.t95 WHERE s = 'hwq95.t95'"
    )[0].n == 5
    try:
        eng.execute("ALTER TABLE nodb95.t95 DELETE WHERE id = 0")
        unknown_errors = False
    except Exception:
        unknown_errors = True
    eng.execute("DROP TABLE hwq95.t95")
    eng.execute("DROP DATABASE hwq95")
    dropped = "hwq95" not in eng._databases
    return spark.range(1).select(
        F.lit(int(n_dbs)).alias("n_dbs"),
        F.lit(int(has_hw)).alias("has_hw"),
        F.lit(int(qualified)).alias("qualified_count"),
        F.lit(int(literal_ok)).alias("literal_ok"),
        F.lit(int(unknown_errors)).alias("unknown_db_errors"),
        F.lit(int(dropped)).alias("dropped"),
    )


@query(
    "q96_query_log_observability",
    oracle="""
    SELECT 2 AS n_finished, 1 AS n_failed, 2 AS n_touched_nation,
           1 AS dashboards_has_queries, 1 AS trace_log_schema_ok
    """,
)
def q96_query_log_observability(spark, sf_dir):
    """D8 observability surfaces, driver-value-checked (hw14.md:26-74,
    lecture_20.md:296-478): system.query_log records type/event_date/
    touched-tables for finished AND failed queries; system.dashboards
    serves (dashboard, title, query) rows; system.trace_log exposes the
    profiler-stream schema. All scalars replayed by the oracle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from otus_clickhouse_spark.system_tables import CATALOG

    eng = _mini_engine(spark, sf_dir, ["nation"])
    eng.run("SELECT count(*) AS n FROM nation")
    eng.run("SELECT max(n_nationkey) AS m FROM nation")
    try:
        eng.run("SELECT broken syntax here FROM nation")
    except Exception:
        pass
    ql = eng.sql(
        "SELECT "
        "  CAST(sum(CASE WHEN type = 'QueryFinish' THEN 1 ELSE 0 END) AS INT) AS n_finished, "
        "  CAST(sum(CASE WHEN type = 'ExceptionWhileProcessing' THEN 1 ELSE 0 END) AS INT) AS n_failed, "
        "  CAST(sum(CASE WHEN array_contains(tables, 'nation') "
        "                 AND type = 'QueryFinish' THEN 1 ELSE 0 END) AS INT) AS n_touched_nation "
        "FROM system.query_log WHERE event_date >= toDate(now() - 86400)"
    )
    dash = eng.sql(
        "SELECT CAST(count() > 0 AS INT) AS dashboards_has_queries FROM system.dashboards"
    )
    trace = StructType.fromDDL(CATALOG["trace_log"].schema)
    schema_ok = int(trace.names == ["event_time", "event_date", "trace_type", "query_id", "size"])
    return ql.crossJoin(dash).withColumn("trace_log_schema_ok", F.lit(schema_ok))


@query(
    "q97_kafka_pipeline",
    oracle="""
    SELECT 5 AS n_raw, 5 AS n_parsed, 210 AS sum_sensor, 22.0 AS avg_temp,
           5 AS n_out, 1 AS offsets_ok, 1 AS incremental_ok
    """,
)
def q97_kafka_pipeline(spark, sf_dir):
    """S13/S14 Kafka-engine pipeline, driver-value-checked (hw17.md;
    clusters/ch_and_kafka/db/init.sql:11-79): Kafka source table →
    MV lands raw messages + the stream's virtual columns → MV parses
    JSONExtract fields into a typed table → MV produces JSONEachRow to
    an outbound Kafka queue. The broker is the file-topic stand-in
    (offset-tracked consumer groups; real-broker path is env-gated) —
    the MV transforms are plain DataFrame plans, so on a cluster the
    same SELECTs run inside readStream micro-batches. All scalars; the
    oracle replays the expected row."""
    import json
    import shutil

    from pyspark.sql import functions as F

    eng = _mini_engine(spark, sf_dir, [])
    for t in ("q97_sensor_in", "q97_sensor_out"):
        shutil.rmtree(f"spark-warehouse/_kafka/{t}", ignore_errors=True)
    eng.execute_script(
        """
        create database if not exists q97s; create database if not exists q97p;
        CREATE TABLE q97s.src (`message` String) ENGINE = Kafka
        SETTINGS kafka_broker_list = 'b:9092', kafka_topic_list = 'q97_sensor_in',
                 kafka_format = 'JSONAsString', kafka_group_name = 'q97_grp';
        CREATE TABLE q97s.raw (message String, _topic LowCardinality(String),
            _offset UInt64, _timestamp_ms DateTime64, _partition UInt8)
            engine = MergeTree ORDER BY _offset;
        CREATE MATERIALIZED VIEW q97s.raw_mv TO q97s.raw AS
        SELECT message, _topic, _offset, _timestamp_ms, _partition FROM q97s.src;
        CREATE TABLE q97p.sensor (sensor_id UInt32, temperature Float) engine = MergeTree ORDER BY sensor_id;
        CREATE MATERIALIZED VIEW q97p.parse_mv TO q97p.sensor AS
        SELECT JSONExtractInt(message, 'sensor_id') AS sensor_id,
               JSONExtractFloat(message, 'temperature') AS temperature
        FROM q97s.raw;
        CREATE TABLE q97p.queue (sensor_id UInt32, temperature Float)
            ENGINE = Kafka('b:9092', 'q97_sensor_out', 'q97_out', 'JSONEachRow');
        CREATE MATERIALIZED VIEW q97p.out_mv TO q97p.queue AS
        SELECT sensor_id, temperature FROM q97p.sensor;
        """
    )
    eng.kafka_produce(
        "q97_sensor_in",
        [json.dumps({"sensor_id": 40 + i, "temperature": 20.0 + i}) for i in range(4)],
    )
    first = eng.kafka_poll("q97s.src")
    offsets_first = sorted(r._offset for r in first.select("_offset").collect())
    # incremental tick: one more message, offsets continue, no re-delivery
    eng.kafka_produce("q97_sensor_in", [json.dumps({"sensor_id": 44, "temperature": 24.0})])
    second = eng.kafka_poll("q97s.src")
    incremental_ok = int(
        offsets_first == [0, 1, 2, 3]
        and [r._offset for r in second.select("_offset").collect()] == [4]
    )
    n_raw = eng.sql("SELECT count() AS n FROM q97s.raw").collect()[0].n
    agg = eng.sql(
        "SELECT count() AS n, sum(sensor_id) AS s, round(avg(temperature), 1) AS a "
        "FROM q97p.sensor"
    ).collect()[0]
    out_msgs = [json.loads(m) for m in eng._kafka_topic(eng.tables["q97p__queue"]).messages()]
    n_out = len(out_msgs)
    for t in ("q97_sensor_in", "q97_sensor_out"):
        shutil.rmtree(f"spark-warehouse/_kafka/{t}", ignore_errors=True)
    eng.execute("DROP DATABASE q97s")
    eng.execute("DROP DATABASE q97p")
    return spark.range(1).select(
        F.lit(int(n_raw)).alias("n_raw"),
        F.lit(int(agg.n)).alias("n_parsed"),
        F.lit(int(agg.s)).alias("sum_sensor"),
        F.lit(float(agg.a)).alias("avg_temp"),
        F.lit(int(n_out)).alias("n_out"),
        F.lit(int(offsets_first == [0, 1, 2, 3])).alias("offsets_ok"),
        F.lit(int(incremental_ok)).alias("incremental_ok"),
    )


@query(
    "q98_namespace_collision",
    oracle="""
    SELECT 3 AS a_rows, 5 AS b_rows, 1 AS distinct_tables,
           1 AS show_isolated, 1 AS current_db_resolution, 1 AS cascade_ok
    """,
)
def q98_namespace_collision(spark, sf_dir):
    """D1 same-named tables in different databases stay DISTINCT
    (clusters/ch_and_kafka/db/init.sql declares streams.sensor_data AND
    parsed.sensor_data): qualified reads see their own rows, SHOW
    TABLES FROM lists per-database, system.tables reports the owning
    database, USE resolves unqualified names in the current database,
    and DROP DATABASE cascades over its own tables only. All scalars;
    the oracle replays the expected row."""
    from pyspark.sql import functions as F

    eng = _mini_engine(spark, sf_dir, [])
    eng.execute("CREATE DATABASE q98a")
    eng.execute("CREATE DATABASE q98b")
    eng.execute("CREATE TABLE q98a.sensor (id UInt32) ENGINE = Memory")
    eng.execute("CREATE TABLE q98b.sensor (id UInt32) ENGINE = Memory")
    eng.execute("INSERT INTO q98a.sensor SELECT number FROM numbers(3)")
    eng.execute("INSERT INTO q98b.sensor SELECT number FROM numbers(5)")
    a_rows = eng.execute("SELECT count() AS n FROM q98a.sensor")[0].n
    b_rows = eng.execute("SELECT count() AS n FROM q98b.sensor")[0].n
    show_isolated = int(
        eng.execute("SHOW TABLES FROM q98a") == ["sensor"]
        and eng.execute("SHOW TABLES FROM q98b") == ["sensor"]
    )
    dbs = {
        r.database
        for r in eng.sql(
            "SELECT database FROM system.tables WHERE name = 'sensor'"
        ).collect()
    }
    distinct_tables = int(dbs == {"q98a", "q98b"})
    eng.execute("USE q98b")
    current_db_resolution = int(
        eng.execute("SELECT count() AS n FROM sensor")[0].n == 5
    )
    eng.execute("USE default")
    eng.execute("DROP DATABASE q98a")
    cascade_ok = int(
        "q98a__sensor" not in eng.tables and "q98b__sensor" in eng.tables
    )
    eng.execute("DROP DATABASE q98b")
    return spark.range(1).select(
        F.lit(int(a_rows)).alias("a_rows"),
        F.lit(int(b_rows)).alias("b_rows"),
        F.lit(distinct_tables).alias("distinct_tables"),
        F.lit(show_isolated).alias("show_isolated"),
        F.lit(current_db_resolution).alias("current_db_resolution"),
        F.lit(cascade_ok).alias("cascade_ok"),
    )
