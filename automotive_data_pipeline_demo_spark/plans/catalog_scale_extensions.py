"""Training-data extensions: embedding ANN, dedup, sampling, sketches at scale.

Split out of ``plans/catalog.py`` purely mechanically (same specs, same
registration order — the hub imports the family modules in the original
section sequence, and each module registers its specs in original order).
Shared helpers and the spec registry live on the hub.
"""

from automotive_data_pipeline_demo_spark.plans.catalog import *  # noqa: F401,F403
from automotive_data_pipeline_demo_spark.plans.catalog import (  # noqa: F401
    _cents,
    _dec_sum,
    _register,
    _t,
)
from automotive_data_pipeline_demo_spark.plans.catalog_text_extensions import (  # noqa: F401
    _COS_SQL,
)
from automotive_data_pipeline_demo_spark.plans.catalog_sources import (  # noqa: F401
    _scratch,
)


# --------------------------------------------------------------------------
# Training-data extensions: embedding near-dup + IVF ANN
# --------------------------------------------------------------------------

def q_x_dedup_embed(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label.

    Pair enumeration stays WITHIN the block key (here the label column; at
    scale an IVF cell or LSH bucket) — never an unblocked cross product.
    The blocked Arrow scorer shuffles once on the key and scores each
    block with vectorized numpy, bit-identical to the equi-self-join
    formulation (strategy="join") the oracle mirrors. The synthetic
    embeddings are not clustered tightly, so the threshold is 0.30 (top
    ~1% of within-block pairs) to keep the check non-vacuous.
    """
    emb = _t(spark, sf, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.30, block_col="label")


_register(QuerySpec(
    name="x_dedup_embed",
    survey="north-star: embedding-cosine near-dup",
    build=q_x_dedup_embed,
    oracle=f"""
        SELECT a_id, b_id, score FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 4) AS score
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE score >= 0.30
    """,
    tags=("dedup", "embedding"),
))


def q_x_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate clusters: connected components (min-label propagation) over
    the embedding near-dup pair graph. The oracle re-derives the same
    components with a recursive CTE (transitive min-reachability), so the
    iterative Spark algorithm is checked end-to-end against declarative SQL.
    """
    emb = _t(spark, sf, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.30, block_col="label")
    return connected_components(pairs)


_register(QuerySpec(
    name="x_dedup_clusters",
    survey="north-star: duplicate clustering (connected components)",
    build=q_x_dedup_clusters,
    oracle=f"""
        WITH RECURSIVE pairs AS (
          SELECT a_id, b_id FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 4) AS score
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id)
          WHERE score >= 0.30
        ), edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id, a_id FROM pairs
        ), reach(id, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
        )
        SELECT id, MIN(lab) AS component FROM reach GROUP BY id
    """,
    tags=("dedup", "clustering"),
))


def q_j5_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """J5 generalized: as-of join — each event matched to the user's latest
    order at or before the event time (union + one-window implementation;
    no range-join pair blowup). Aggregated per event_type so the result is
    compact; the oracle re-derives the same match with a windowed
    formulation.
    """
    e = _t(spark, sf, "events")
    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate"),
        F.col("o_orderkey"),
        F.col("o_totalprice"),
    )
    joined = asof_join(
        e.select("event_id", "user_id", "ts", "event_type"),
        o,
        on=["user_id"],
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_totalprice", "o_orderkey"],
        tiebreak="o_orderkey",
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("matched_o_orderkey").alias("n_matched"),
        _dec_sum("matched_o_totalprice", "sum_matched_price"),
        F.max("matched_o_orderdate").alias("latest_matched_order"),
    )


_register(QuerySpec(
    name="j5_asof_join",
    survey="J5 (generalized): as-of / point-in-time join",
    build=q_j5_asof_join,
    oracle="""
        WITH best AS (
          SELECT e.event_id, e.event_type, o.o_totalprice, o.o_orderkey,
                 o.o_orderdate,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_orderdate DESC,
                                             o.o_orderkey DESC) AS rn
          FROM events e JOIN orders o
            ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        ), m AS (
          SELECT * FROM best WHERE rn = 1
        )
        SELECT e.event_type,
               COUNT(*) AS n_events,
               COUNT(m.o_orderkey) AS n_matched,
               CAST(SUM(CAST(m.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_matched_price,
               MAX(m.o_orderdate) AS latest_matched_order
        FROM events e LEFT JOIN m ON e.event_id = m.event_id
        GROUP BY e.event_type
    """,
    tags=("join", "asof"),
))


def q_j5_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join with a staleness bound (pandas merge_asof tolerance):
    each purchase event takes the user's latest PRIOR view event, but only
    if it happened within the last hour — older views are treated as no
    match, the attribution-window semantics of the reference's 24h
    contact+time fallback (J5). The bound is a row-local predicate on the
    already-found match, so the one-window as-of plan is unchanged.
    """
    e = _t(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
        "value",
    )
    joined = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        right_cols=["value", "view_id"],
        tiebreak="view_id",
        tolerance="1 hour",
    )
    return joined.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("matched_view_ts").alias("n_matched_1h"),
        _dec_sum("matched_value", "sum_matched_value"),
    )


_register(QuerySpec(
    name="j5_asof_tolerance",
    survey="J5 (generalized): as-of join with staleness tolerance",
    build=q_j5_asof_tolerance,
    oracle="""
        WITH p AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, ts AS vts, event_id AS vid, value FROM events
          WHERE event_type = 'view'
        ), best AS (
          SELECT p.event_id, p.ts AS pts, v.vts, v.value,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                                    ORDER BY v.vts DESC, v.vid DESC) AS rn
          FROM p JOIN v ON p.user_id = v.user_id AND v.vts <= p.ts
        ), m AS (
          SELECT event_id,
                 CASE WHEN vts >= pts - INTERVAL 1 HOUR THEN vts END AS mts,
                 CASE WHEN vts >= pts - INTERVAL 1 HOUR THEN value END AS mval
          FROM best WHERE rn = 1
        )
        SELECT CAST(p.ts AS DATE) AS day,
               COUNT(*) AS n_purchases,
               COUNT(m.mts) AS n_matched_1h,
               CAST(SUM(CAST(m.mval AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_matched_value
        FROM p LEFT JOIN m USING (event_id)
        GROUP BY 1
    """,
    tags=("join", "asof", "tolerance"),
))


def q_j5_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join (binned, no cross product): for each event, the other
    events of the same user in the following hour — the follow-up-activity
    correlation behind ST5's session gap. Aggregated per event_type pair.
    """
    e = _t(spark, sf, "events").select("event_id", "user_id", "ts", "event_type")
    followed = range_join(
        e,
        e.select(
            F.col("event_id").alias("event_id2"),
            "user_id",
            F.col("ts").alias("ts2"),
            F.col("event_type").alias("event_type2"),
        ),
        on=["user_id"],
        left_ts="ts",
        right_ts="ts2",
        lower_s=1,
        upper_s=3600,
    )
    return followed.groupBy("event_type", F.col("r_event_type2").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_followups")
    )


_register(QuerySpec(
    name="j5_range_join",
    survey="J5 (generalized): interval/range join (binned)",
    build=q_j5_range_join,
    oracle="""
        SELECT a.event_type, b.event_type AS next_type,
               COUNT(*) AS n_followups
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts + INTERVAL 1 SECOND
         AND b.ts <= a.ts + INTERVAL 3600 SECOND
        GROUP BY 1, 2
    """,
    tags=("join", "range"),
))


def q_w_extended(spark: SparkSession, sf: str) -> DataFrame:
    """Window surface beyond the reference's ROW_NUMBER-only usage (SURVEY
    §2.5): rank, dense_rank, lag/lead, and a running-sum frame
    (rowsBetween unbounded->current) — all free in Spark, exposed so a
    reference user gains them without custom SQL.
    """
    o = _t(spark, sf, "orders")
    w_order = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    w_price = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    running = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w_price).alias("price_rank"),
        F.dense_rank().over(w_price).alias("price_dense_rank"),
        F.lag(F.to_date("o_orderdate"), 1).over(w_order).alias("prev_order_date"),
        F.lead(F.to_date("o_orderdate"), 1).over(w_order).alias("next_order_date"),
        (F.sum(_cents("o_totalprice")).over(running).cast("double") / 100.0)
        .alias("running_spend"),
    )


_register(QuerySpec(
    name="w_extended",
    survey="extension: rank/dense_rank/lag/lead/frames (beyond reference W1-W4)",
    build=q_w_extended,
    oracle="""
        SELECT o_orderkey, o_custkey,
               RANK() OVER w_price AS price_rank,
               DENSE_RANK() OVER w_price AS price_dense_rank,
               LAG(CAST(o_orderdate AS DATE), 1) OVER w_order AS prev_order_date,
               LEAD(CAST(o_orderdate AS DATE), 1) OVER w_order AS next_order_date,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS running_spend
        FROM orders
        WINDOW
          w_price AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC),
          w_order AS (PARTITION BY o_custkey
                      ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC)
    """,
    tags=("window",),
))


def q_w_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history built from a change stream:
    each customer's orders become versioned rows with [valid_from,
    valid_to) intervals via LEAD over the per-key timeline; the open
    interval (valid_to IS NULL) marks the current version. The reference
    only keeps latest-wins state (SCD1 MERGE, glue job DELETE+INSERT);
    type-2 is the companion shape for as-of auditability — one shuffle on
    the dimension key, same budget as W1.
    """
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("valid_from"),
        F.lead(F.to_date("o_orderdate"), 1).over(w).alias("valid_to"),
    ).withColumn(
        "is_current", F.col("valid_to").isNull().cast("int")
    )


_register(QuerySpec(
    name="w_scd2_history",
    survey="extension: SCD type-2 validity intervals (beyond reference SCD1 MERGE)",
    build=q_w_scd2_history,
    oracle="""
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS DATE) AS valid_from,
               LEAD(CAST(o_orderdate AS DATE), 1) OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
               ) AS valid_to,
               CAST(CASE WHEN LEAD(CAST(o_orderdate AS DATE), 1) OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC
               ) IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        FROM orders
    """,
    tags=("window", "scd2"),
))


def q_u_scd2_merge(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 MERGE-apply: a change batch lands on a versioned
    dimension — changed keys close their current row and open a new one,
    unchanged updates are no-ops (idempotent re-delivery), brand-new keys
    insert open rows, history rows pass through untouched. Completes the
    type-2 story: w_scd2_history BUILDS intervals from history,
    scd2_merge MAINTAINS them incrementally (the reference stops at SCD1
    DELETE+INSERT, glue_vehicle_sales_etl.py:289-392).

    Fixture-derived deterministic cases: every customer is current with
    its mktsegment; keys %3==0 carry a closed 'OLD' history row; the
    batch updates keys %5==0 (of which %10==0 keep their segment — no-op)
    and inserts %100==0 under shifted NEW keys.
    """
    c = _t(spark, sf, "customer")
    d95, d94, eff = "1995-01-01", "1994-01-01", "1995-06-01"
    cur = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(d95).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(1).cast("int").alias("is_current"),
    )
    hist = c.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.lit("OLD").alias("segment"),
        F.lit(d94).cast("date").alias("valid_from"),
        F.lit(d95).cast("date").alias("valid_to"),
        F.lit(0).cast("int").alias("is_current"),
    )
    target = hist.unionByName(cur)
    updates = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.when(F.col("c_custkey") % 10 == 0, F.col("c_mktsegment"))
            .otherwise(F.lit("MOVED"))
            .alias("segment"),
            F.lit(eff).cast("date").alias("effective_at"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("custkey"),
                F.lit("NEWKEY").alias("segment"),
                F.lit(eff).cast("date").alias("effective_at"),
            )
        )
    )
    return scd2_merge(target, updates, keys=["custkey"], tracked=["segment"])


_register(QuerySpec(
    name="u_scd2_merge",
    survey="S5/J7 type-2 companion: SCD2 MERGE-apply (close + open + insert)",
    build=q_u_scd2_merge,
    oracle="""
        WITH cur AS (
          SELECT c_custkey AS custkey, c_mktsegment AS segment,
                 DATE '1995-01-01' AS valid_from,
                 CAST(NULL AS DATE) AS valid_to, 1 AS is_current
          FROM customer
        ), hist AS (
          SELECT c_custkey AS custkey, 'OLD' AS segment,
                 DATE '1994-01-01' AS valid_from,
                 DATE '1995-01-01' AS valid_to, 0 AS is_current
          FROM customer WHERE c_custkey % 3 = 0
        ), upd AS (
          SELECT c_custkey AS custkey,
                 CASE WHEN c_custkey % 10 = 0 THEN c_mktsegment
                      ELSE 'MOVED' END AS segment,
                 DATE '1995-06-01' AS eff
          FROM customer WHERE c_custkey % 5 = 0
          UNION ALL
          SELECT c_custkey + 1000000, 'NEWKEY', DATE '1995-06-01'
          FROM customer WHERE c_custkey % 100 = 0
        ), j AS (
          SELECT COALESCE(c.custkey, u.custkey) AS custkey,
                 c.segment AS c_seg, c.valid_from AS c_vf,
                 u.segment AS u_seg, u.eff,
                 c.custkey IS NOT NULL AS has_c,
                 u.custkey IS NOT NULL AS has_u
          FROM cur c FULL OUTER JOIN upd u ON c.custkey = u.custkey
        )
        SELECT custkey, segment, valid_from, valid_to,
               CAST(is_current AS INT) AS is_current
        FROM (
          SELECT custkey, segment, valid_from, valid_to, is_current FROM hist
          UNION ALL
          SELECT custkey, c_seg, c_vf, CAST(NULL AS DATE), 1
          FROM j WHERE has_c AND (NOT has_u OR c_seg IS NOT DISTINCT FROM u_seg)
          UNION ALL
          SELECT custkey, c_seg, c_vf, eff, 0
          FROM j WHERE has_c AND has_u AND c_seg IS DISTINCT FROM u_seg
          UNION ALL
          SELECT custkey, u_seg, eff, CAST(NULL AS DATE), 1
          FROM j WHERE has_u AND (NOT has_c OR c_seg IS DISTINCT FROM u_seg)
        )
    """,
    tags=("merge", "scd2", "upsert"),
))


def q_a_approx(spark: SparkSession, sf: str) -> DataFrame:
    """A6 at 100 TB: sketch-based aggregates. Exact COUNT(DISTINCT) is the
    oracle-checked default (j6_a8_attribution); at scale the HLL/quantile
    sketches trade bounded error for one-pass mergeability.

    Sketch values are engine-specific, so the query emits the exact
    aggregates plus in-query error-bound FLAGS: |HLL − exact|/exact ≤ 0.1
    (5× the declared rsd=0.02) and approx-median within the exact p45–p55
    band. The DuckDB oracle asserts the flags are 1 — the driver hash goes
    red the moment a sketch drifts out of tolerance, making accuracy a hard
    driver-checked property instead of a pytest-only one.
    """
    li = _t(spark, sf, "lineitem")
    # Two aggregates joined at group grain, NOT one: mixing a DISTINCT
    # aggregate with plain ones makes the planner Expand-duplicate every
    # input row (one copy per aggregate family), which doubled 60M rows
    # through two exchanges and ran 152 s at sf1. Split, each side plans
    # its own partial-aggregated single pass (4.5 s + 5 s), and the join
    # is three rows per side.
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("hll_orders"),
        F.percentile_approx("l_quantity", 0.5, 1000).alias("apx_median"),
        F.expr("percentile(l_quantity, 0.45)").alias("p45"),
        F.expr("percentile(l_quantity, 0.55)").alias("p55"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    agg = exact.join(F.broadcast(sketches), "l_returnflag")
    return agg.select(
        "l_returnflag",
        "exact_orders",
        "n_rows",
        F.when(
            F.abs(F.col("hll_orders") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= 0.1,
            1,
        ).otherwise(0).cast("int").alias("hll_ok"),
        F.when(
            F.col("apx_median").cast("double").between(
                F.col("p45"), F.col("p55")
            ),
            1,
        ).otherwise(0).cast("int").alias("median_ok"),
    )


_register(QuerySpec(
    name="a_approx",
    survey="A6 (scale variant): HLL approx_count_distinct + approx percentile",
    build=q_a_approx,
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS exact_orders,
               COUNT(*) AS n_rows,
               CAST(1 AS INT) AS hll_ok,
               CAST(1 AS INT) AS median_ok
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "sketch"),
))


def q_x_multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal frame-sampling PLAN (metadata-only, no decode): synthesize
    per-media durations deterministically from events, explode the sampled
    frame offsets (every 500 ms), and count planned frames. The explode is a
    JVM sequence — the decode pass later touches only sampled frames.
    """
    e = _t(spark, sf, "events")
    media = e.select(
        F.col("event_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        F.lit(None).cast("binary").alias("payload"),
        F.lit("video/mp4").alias("mime"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("event_id") % 7) * 1000 + 500).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = frame_sample_plan(media, every_ms=500)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ms").cast("long").alias("last_frame_ms"),
    )


_register(QuerySpec(
    name="x_multimodal_frames",
    survey="north-star: multimodal frame-sample planning",
    build=q_x_multimodal_frames,
    oracle="""
        WITH media AS (
          SELECT event_id AS media_id,
                 CAST((event_id % 7) * 1000 + 500 AS INT) AS duration_ms
          FROM events
        )
        SELECT m.media_id,
               COUNT(*) AS n_frames,
               CAST(MAX(f.frame_ms) AS BIGINT) AS last_frame_ms
        FROM media m,
             LATERAL (SELECT unnest(generate_series(0,
                        greatest(m.duration_ms - 1, 0), 500)) AS frame_ms) f
        GROUP BY m.media_id
    """,
    tags=("multimodal", "frames"),
))


def q_a_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (crosstab) aggregate: order counts per status spread across
    priority columns — groupBy().pivot() with explicit values so the output
    schema is static (required both for oracle hashing and for sane plans
    at scale: dynamic pivot needs an extra distinct-values job).
    """
    o = _t(spark, sf, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    pivoted = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("o_orderstatus")]
    for p in prios:
        alias = "n_" + p.split("-")[0]
        cols.append(F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(alias))
    return pivoted.select(*cols)


_register(QuerySpec(
    name="a_pivot",
    survey="extension: pivot/crosstab aggregate",
    build=q_a_pivot,
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_1,
               COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_2,
               COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_3,
               COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_4,
               COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_5
        FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "pivot"),
))


def q_a_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """UNPIVOT/melt — the inverse of a_pivot: a wide per-segment metrics
    frame melts to long (segment, metric, value) form, the shape metric
    stores and chart layers consume. Spark's native ``unpivot`` expands
    rows inside the same stage (no shuffle beyond the feeding aggregate);
    all measures cast to double first — unpivot requires one value type,
    and every measure here is exact in double (counts < 2^53, money via
    integer-cents sum).
    """
    c = _t(spark, sf, "customer")
    wide = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("double").alias("n_customers"),
        _dec_sum("c_acctbal", "total_acctbal"),
        F.min(_cents("c_acctbal")).cast("double").alias("min_acctbal_cents"),
        F.max(_cents("c_acctbal")).cast("double").alias("max_acctbal_cents"),
    )
    return wide.unpivot(
        ids=["c_mktsegment"],
        values=["n_customers", "total_acctbal", "min_acctbal_cents", "max_acctbal_cents"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_register(QuerySpec(
    name="a_unpivot",
    survey="extension: UNPIVOT/melt (wide metrics -> long form)",
    build=q_a_unpivot,
    oracle="""
        WITH wide AS (
          SELECT c_mktsegment,
                 CAST(COUNT(*) AS DOUBLE) AS n_customers,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
                 CAST(MIN(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   AS min_acctbal_cents,
                 CAST(MAX(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                   AS max_acctbal_cents
          FROM customer GROUP BY 1
        )
        SELECT c_mktsegment, metric, value
        FROM wide
        UNPIVOT (value FOR metric IN (n_customers, total_acctbal,
                                      min_acctbal_cents, max_acctbal_cents))
    """,
    tags=("agg", "unpivot"),
))


def q_a_time_bucket(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style time_bucket rollup: events floored to 6-hour buckets
    (arbitrary width — not limited to calendar units), per-type counts and
    value sums. Spark has no time_bucket builtin; the floor-division on
    unix micros is codegen'd and matches DuckDB's time_bucket exactly.
    """
    e = _t(spark, sf, "events")
    width_us = 6 * 3600 * 1_000_000
    bucket = F.timestamp_micros(
        (F.floor(F.unix_micros("ts") / width_us) * width_us).cast("long")
    )
    return (
        e.groupBy(bucket.alias("bucket_6h"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value", "sum_value"),
        )
    )


_register(QuerySpec(
    name="a_time_bucket",
    survey="extension: hypertable time_bucket rollup",
    build=q_a_time_bucket,
    oracle="""
        SELECT time_bucket(INTERVAL 6 HOUR, ts) AS bucket_6h, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    tags=("agg", "time_bucket"),
))


def q_w_gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar gap-fill + forward-fill: per-nation daily order revenue over
    a fixed quarter, with missing days materialized from a generated date
    spine, the last known revenue carried forward (LOCF), and a
    days-since-last-sale staleness counter — the time-series resample the
    reference's daily match_analytics rollup implies but Redshift cannot
    express without a calendar table
    (identity-resolution/database-schema.sql:196-229).

    Scale shape: the only full-size work is the orders scan with the date
    predicate pushed to parquet and ONE partial-aggregated exchange down to
    (nation, day) grain; the spine is generated (25 nations x 90 days, no
    stored calendar), the left join broadcasts the tiny daily aggregate,
    and the LOCF window partitions by nation — calendar-grain rows only,
    never documents. Revenue is exact (integer-cents sum, one end
    division), so forward-filled values are bit-identical cross-engine.
    """
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    start, end = "1995-01-01", "1995-03-31"
    daily = (
        orders.filter(F.to_date("o_orderdate").between(start, end))
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name", F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum("o_totalprice", "rev"),
        )
    )
    spine = nation.select(
        "n_name",
        F.explode(
            F.sequence(F.lit(start).cast("date"), F.lit(end).cast("date"))
        ).alias("day"),
    )
    joined = spine.join(F.broadcast(daily), ["n_name", "day"], "left")
    w = (
        Window.partitionBy("n_name")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_sale_day = F.last(
        F.when(F.col("n").isNotNull(), F.col("day")), ignorenulls=True
    ).over(w)
    return joined.select(
        "n_name",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(F.col("rev"), F.lit(0.0)).alias("day_revenue"),
        F.coalesce(
            F.last("rev", ignorenulls=True).over(w), F.lit(0.0)
        ).alias("filled_revenue"),
        F.datediff(F.col("day"), last_sale_day).cast("long").alias("days_since_sale"),
    )


_register(QuerySpec(
    name="w_gap_fill",
    survey="extension: calendar gap-fill + LOCF forward fill (time-series resample)",
    build=q_w_gap_fill,
    oracle="""
        WITH spine AS (
          SELECT n_name, CAST(gs AS DATE) AS day
          FROM nation, generate_series(DATE '1995-01-01', DATE '1995-03-31',
                                       INTERVAL 1 DAY) AS t(gs)
        ), daily AS (
          SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          WHERE CAST(o.o_orderdate AS DATE)
                BETWEEN DATE '1995-01-01' AND DATE '1995-03-31'
          GROUP BY 1, 2
        ), j AS (
          SELECT s.n_name, s.day, d.n, d.rev
          FROM spine s LEFT JOIN daily d USING (n_name, day)
        )
        SELECT n_name, day,
               CAST(COALESCE(n, 0) AS BIGINT) AS n_orders,
               COALESCE(rev, 0.0) AS day_revenue,
               COALESCE(last_value(rev IGNORE NULLS)
                          OVER (PARTITION BY n_name ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        0.0) AS filled_revenue,
               CAST(date_diff('day',
                    last_value(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
                      OVER (PARTITION BY n_name ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    day) AS BIGINT) AS days_since_sale
        FROM j
    """,
    tags=("window", "timeseries", "gapfill"),
))


def q_st5_capped_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization under an inactivity gap AND a hard duration cap
    (GA-style "sessions end after N hours regardless") — a running reset
    no fixed window frame expresses, folded per user in one JVM aggregate
    (see sessionize_capped). The oracle replays the fold as a recursive
    CTE stepping each user's event sequence, so the driver checks the
    stateful recurrence itself, not just summary shapes.
    """
    e = _t(spark, sf, "events")
    return sessionize_capped(e, gap_minutes=1440, cap_minutes=2880)


_register(QuerySpec(
    name="st5_capped_sessions",
    survey="ST5 extension: duration-capped sessionization (running reset)",
    build=q_st5_capped_sessions,
    oracle="""
        WITH RECURSIVE e AS (
          SELECT user_id, ts, event_id,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ), s AS (
          SELECT user_id, rn, ts, ts AS sess_start,
                 CAST(1 AS BIGINT) AS n_sessions,
                 CAST(0 AS BIGINT) AS n_cap_splits
          FROM e WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.rn, e.ts,
                 CASE WHEN e.ts > s.ts + INTERVAL 1440 MINUTE
                        OR e.ts > s.sess_start + INTERVAL 2880 MINUTE
                      THEN e.ts ELSE s.sess_start END,
                 s.n_sessions
                   + CASE WHEN e.ts > s.ts + INTERVAL 1440 MINUTE
                            OR e.ts > s.sess_start + INTERVAL 2880 MINUTE
                          THEN 1 ELSE 0 END,
                 s.n_cap_splits
                   + CASE WHEN NOT (e.ts > s.ts + INTERVAL 1440 MINUTE)
                           AND e.ts > s.sess_start + INTERVAL 2880 MINUTE
                          THEN 1 ELSE 0 END
          FROM e JOIN s ON e.user_id = s.user_id AND e.rn = s.rn + 1
        )
        SELECT user_id,
               CAST(MAX(rn) AS BIGINT) AS n_events,
               MAX(n_sessions) AS n_sessions,
               MAX(n_cap_splits) AS n_cap_splits
        FROM s GROUP BY user_id
    """,
    tags=("streaming", "session", "stateful"),
))


def q_x_text_quantile_norm(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source score calibration: each document's quality score is
    replaced by its WITHIN-SOURCE percentile rank, making scores
    comparable across domains whose raw distributions differ (the
    quantile-normalization step before a corpus-wide quality threshold —
    a per-domain cutoff in disguise, cf. the DCLM top-fraction rule in
    x_sample_top_frac). Percentiles are integer permille,
    ((rank-1)*1000) div (n-1), computed from a total-ordered rank — no
    float division, no rounding boundary, engine-exact.

    Scale shape: one exchange on source for the rank window. A single
    giant source would skew that partition; the fix at 100 TB is
    two-pass rank (per-source counts broadcast + range-partitioned local
    rank + offset, the o_global_sequence recipe applied per group).
    """
    docs = _t(spark, sf, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        (quality_score("text") * 4).cast("long").alias("q4"),
    )
    w_rank = Window.partitionBy("source").orderBy("q4", "doc_id")
    w_all = Window.partitionBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        .select(
            "doc_id",
            "source",
            "q4",
            F.expr(
                "(cast((__rn - 1) as bigint) * 1000)"
                " div greatest(cast((__n - 1) as bigint), 1)"
            ).alias("pct_permille"),
        )
    )


_register(QuerySpec(
    name="x_text_quantile_norm",
    survey="north-star: cross-source quantile normalization (score calibration)",
    build=q_x_text_quantile_norm,
    oracle="""
        WITH q AS (
          SELECT doc_id, source,
                 CAST(
                   (CASE WHEN len(list_filter(string_split_regex(lower(text),
                          '[^a-z0-9]+'), x -> x <> '')) >= 20
                         THEN 1 ELSE 0 END) +
                   (CASE WHEN length(regexp_replace(text, '[\\sA-Za-z0-9]', '', 'g'))
                          / greatest(length(text), 1) < 0.2
                         THEN 1 ELSE 0 END) +
                   (CASE WHEN len(list_filter(
                           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       x -> x <> ''),
                           x -> list_contains(['the','and','of','to','a','in',
                                               'is','it','that','for'], x)))
                          / greatest(len(list_filter(string_split_regex(lower(text),
                              '[^a-z0-9]+'), x -> x <> '')), 1) >= 0.05
                         THEN 1 ELSE 0 END) +
                   (CASE WHEN CAST(len(list_distinct(list_filter(
                              string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> ''))) AS DOUBLE)
                          / greatest(len(list_filter(string_split_regex(lower(text),
                              '[^a-z0-9]+'), x -> x <> '')), 1) >= 0.3
                         THEN 1 ELSE 0 END) AS BIGINT) AS q4
          FROM documents
        ), ranked AS (
          SELECT doc_id, source, q4,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY q4, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM q
        )
        SELECT doc_id, source, q4,
               CAST((rn - 1) * 1000 // greatest(n - 1, 1) AS BIGINT)
                 AS pct_permille
        FROM ranked
    """,
    tags=("text", "calibration", "quality"),
))


def q_a_hll_mergeable(spark: SparkSession, sf: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the pre-aggregation pattern
    exact COUNT(DISTINCT) cannot do: per-day HLL sketches (datasketches,
    F.hll_sketch_agg) roll up to a monthly total via hll_union_agg
    WITHOUT touching raw events again. At 100 TB this is the difference
    between storing per-partition sketch bytes and re-scanning history
    every time a coarser grain is asked for (the reference's
    match_analytics daily/hourly dual-grain cache, database-schema.sql:
    196-229, materializes both grains precisely because its COUNT
    (DISTINCT) cannot merge).

    Sketch estimates are not engine-portable, so the a_approx discipline
    applies: the query emits the EXACT count plus an in-query flag that
    the sketch estimate (daily, and the unioned month) lands within 5% —
    the oracle recomputes the exact side and asserts every flag is 1.
    """
    e = _t(spark, sf, "events")
    daily = e.groupBy(F.to_date("ts").alias("scope_date")).agg(
        F.hll_sketch_agg(F.col("user_id")).alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    ok = (
        F.abs(
            F.hll_sketch_estimate("sk").cast("double") - F.col("n_exact")
        )
        / F.col("n_exact")
        <= 0.05
    )
    per_day = daily.select(
        F.col("scope_date").cast("string").alias("scope"),
        F.col("n_exact").cast("long").alias("n_exact"),
        ok.cast("int").alias("sketch_ok"),
    )
    merged = daily.agg(
        F.hll_union_agg("sk").alias("sk_all"),
        F.sum(F.lit(0)).alias("__z"),
    )
    exact_all = e.agg(F.countDistinct("user_id").alias("n_all"))
    all_row = merged.crossJoin(F.broadcast(exact_all)).select(
        F.lit("ALL").alias("scope"),
        F.col("n_all").cast("long").alias("n_exact"),
        (
            F.abs(F.hll_sketch_estimate("sk_all").cast("double") - F.col("n_all"))
            / F.col("n_all")
            <= 0.05
        ).cast("int").alias("sketch_ok"),
    )
    return per_day.unionByName(all_row)


_register(QuerySpec(
    name="a_hll_mergeable",
    survey="A6 at scale: mergeable HLL sketch rollup (union re-aggregation)",
    build=q_a_hll_mergeable,
    oracle="""
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
               CAST(1 AS INT) AS sketch_ok
        FROM events GROUP BY 1
        UNION ALL
        SELECT 'ALL', CAST(COUNT(DISTINCT user_id) AS BIGINT), CAST(1 AS INT)
        FROM events
    """,
    tags=("agg", "sketch", "mergeable"),
))


_CMS_D = 4       # hash rows
_CMS_W = 1024    # buckets per row


def _cms_bucket(r: int, term):
    """Row-``r`` count-min bucket: md5 is the engine-shared hash (the same
    parity trick as the LSH hyperplanes), 8 hex chars -> long -> mod w."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(str(r)), term)), 1, 8),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )


def q_a_cms_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min-sketch heavy hitters: token frequencies estimated from a
    d=4 x w=1024 counter grid built per SOURCE and merged by counter
    addition — the mergeable-sketch story for frequency (the companion
    to a_hll_mergeable's cardinality): at 100 TB each ingest shard keeps
    a fixed 4 KB grid, merge is elementwise +, and no shard ever holds
    the unbounded exact (term, count) table.

    Plan shape: the sketch build explodes each token row into d (row,
    bucket) pairs whose groupBy partial-combines down to <= d*w rows per
    partition BEFORE the exchange — the shuffle carries the sketch, not
    the token stream. Estimates for the exact top-k terms (the exact
    side exists only as the verification harness; production reads the
    sketch alone) come from a broadcast join of the tiny merged grid;
    estimate = min over the d rows. CMS never underestimates
    (over_estimate is a hard invariant); within_eps checks the standard
    eN/w additive bound. The oracle replays the identical construction,
    so every counter, estimate, and flag is bit-exact across engines.
    """
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "source", F.explode(tokenize(F.col("text"))).alias("term")
    )
    n_total = toks.count()  # N for the additive error bound

    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    topk = exact.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(20)

    # per-source sketch -> merged sketch (elementwise counter addition)
    per_source = (
        toks.select(
            "source",
            F.posexplode(
                F.array(*[_cms_bucket(r, F.col("term")) for r in range(_CMS_D)])
            ).alias("r", "bucket"),
        )
        .groupBy("source", "r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = per_source.groupBy("r", "bucket").agg(F.sum("c").alias("c"))

    probes = topk.select(
        "term",
        "exact_cnt",
        F.posexplode(
            F.array(*[_cms_bucket(r, F.col("term")) for r in range(_CMS_D)])
        ).alias("r", "bucket"),
    )
    est = (
        probes.join(F.broadcast(merged), ["r", "bucket"])
        .groupBy("term")
        .agg(
            F.first("exact_cnt").alias("exact_cnt"),
            F.min("c").alias("cms_estimate"),
        )
    )
    bound = (F.lit(math.e) * F.lit(float(n_total)) / F.lit(float(_CMS_W)))
    return est.select(
        "term",
        "exact_cnt",
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("exact_cnt")).alias("over_estimate"),
        ((F.col("cms_estimate") - F.col("exact_cnt")).cast("double") <= bound)
        .alias("within_eps"),
    )


_register(QuerySpec(
    name="a_cms_heavy_hitters",
    survey="A6/skew at scale: mergeable count-min frequency sketch",
    build=q_a_cms_heavy_hitters,
    oracle=f"""
        WITH toks AS (
          SELECT source, unnest(list_filter(
                   string_split_regex(lower(text), '[^a-zA-Z0-9]+'),
                   x -> x <> '')) AS term
          FROM documents
        ), n AS (SELECT COUNT(*) AS n_total FROM toks),
        exact AS (
          SELECT term, COUNT(*) AS exact_cnt FROM toks GROUP BY term
        ), topk AS (
          SELECT term, exact_cnt FROM exact
          ORDER BY exact_cnt DESC, term LIMIT 20
        ), rs AS (SELECT r FROM (VALUES (0),(1),(2),(3)) t(r)),
        per_source AS (
          SELECT source, r,
                 CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || term), 1, 8)
                      AS BIGINT) % {_CMS_W} AS bucket,
                 COUNT(*) AS c
          FROM toks, rs GROUP BY 1, 2, 3
        ), merged AS (
          SELECT r, bucket, SUM(c) AS c FROM per_source GROUP BY 1, 2
        ), probes AS (
          SELECT t.term, t.exact_cnt, rs.r,
                 CAST('0x' || substr(md5(CAST(rs.r AS VARCHAR) || '|' || t.term), 1, 8)
                      AS BIGINT) % {_CMS_W} AS bucket
          FROM topk t, rs
        )
        SELECT p.term,
               CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
               CAST(MIN(m.c) AS BIGINT) AS cms_estimate,
               MIN(m.c) >= p.exact_cnt AS over_estimate,
               CAST(MIN(m.c) - p.exact_cnt AS DOUBLE)
                 <= 2.718281828459045 * (SELECT n_total FROM n) / {_CMS_W}
                 AS within_eps
        FROM probes p JOIN merged m ON m.r = p.r AND m.bucket = p.bucket
        GROUP BY p.term, p.exact_cnt
    """,
    tags=("agg", "sketch", "mergeable", "heavy-hitters"),
))


_HIST_W = 1024  # fixed histogram bins


def q_a_hist_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable fixed-bin histogram quantiles + exact in-bin selection —
    the quantile member of the mergeable-sketch trio (a_hll_mergeable =
    cardinality, a_cms_heavy_hitters = frequency): each shard keeps a
    fixed 1024-counter histogram over integer cents, merge is counter
    addition, and a p-quantile estimate falls out of the merged
    cumulative — with a HARD containment invariant (the exact value
    provably lies inside the selected bin).

    The exact side demonstrates distributed exact selection: the
    histogram narrows the k-th smallest to ONE bin, so the full sort
    collapses to ranking only that bin's rows (~N/1024) — the two-pass
    quantile algorithm, not a global single-partition sort. All bin
    math is integer (floor-div against the closed [lo, hi] range), so
    every boundary is bit-exact across engines.
    """
    o = _t(spark, sf, "orders")
    base = o.select(
        _cents("o_totalprice").alias("__c"),
        F.col("o_orderpriority").alias("shard"),
    )
    lo, hi, n_total = base.agg(
        F.min("__c"), F.max("__c"), F.count(F.lit(1))
    ).first()
    rng = hi - lo + 1
    bin_expr = F.expr(
        f"least(((__c - {lo}) * {_HIST_W}) div {rng}, {_HIST_W - 1})"
    ).alias("bin")

    per_shard = (
        base.select("shard", bin_expr)
        .groupBy("shard", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    merged = per_shard.groupBy("bin").agg(F.sum("c").alias("cnt"))
    # 1024-row reduced-grain frame: the cumulative runs on the sketch,
    # never on the data (whitelisted in the single-partition plan guard)
    hist = merged.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    )

    qs = spark.createDataFrame(
        [(p, (p * n_total + 99) // 100) for p in (50, 90, 99)],
        "p int, k long",
    )
    tgt = (
        qs.join(F.broadcast(hist), F.col("cum") >= F.col("k"))
        .groupBy("p", "k")
        .agg(F.min("bin").alias("bin"))
        .join(F.broadcast(hist), "bin")
        .select("p", "k", "bin", (F.col("cum") - F.col("cnt")).alias("cum_before"))
    )
    # exact in-bin selection: only target-bin rows rank (broadcast the
    # 3-row target frame onto the binned fact side, window per quantile)
    in_bin = base.select("__c", bin_expr).join(F.broadcast(tgt), "bin")
    ranked = in_bin.withColumn(
        "rn", F.row_number().over(Window.partitionBy("p").orderBy("__c"))
    ).filter(F.col("rn") == F.col("k") - F.col("cum_before"))
    return ranked.select(
        F.col("p").alias("percent"),
        F.lit(n_total).cast("long").alias("n"),
        (F.lit(lo) + F.expr(f"(bin * {rng}) div {_HIST_W}")).cast("long").alias("est_lo_cents"),
        (F.lit(lo) + F.expr(f"((bin + 1) * {rng}) div {_HIST_W}") - 1).cast("long").alias("est_hi_cents"),
        F.col("__c").cast("long").alias("exact_cents"),
        ((F.col("__c") >= F.lit(lo) + F.expr(f"(bin * {rng}) div {_HIST_W}"))
         & (F.col("__c") <= F.lit(lo) + F.expr(f"((bin + 1) * {rng}) div {_HIST_W}") - 1)
         ).alias("within_bin"),
    )


_register(QuerySpec(
    name="a_hist_quantiles",
    survey="A9 at scale: mergeable histogram quantile sketch + exact two-pass selection",
    build=q_a_hist_quantiles,
    oracle=f"""
        WITH base AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                 o_orderpriority AS shard
          FROM orders
        ), b AS (
          SELECT MIN(c) AS lo, MAX(c) AS hi, COUNT(*) AS n,
                 MAX(c) - MIN(c) + 1 AS rng
          FROM base
        ), binned AS (
          SELECT shard, c,
                 least(((c - (SELECT lo FROM b)) * {_HIST_W})
                         // (SELECT rng FROM b), {_HIST_W - 1}) AS bin
          FROM base
        ), per_shard AS (
          SELECT shard, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2
        ), merged AS (
          SELECT bin, SUM(c) AS cnt FROM per_shard GROUP BY 1
        ), hist AS (
          SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM merged
        ), qs AS (
          SELECT p, (p * (SELECT n FROM b) + 99) // 100 AS k
          FROM (VALUES (50), (90), (99)) t(p)
        ), tgt AS (
          SELECT q.p, q.k, MIN(h.bin) AS bin
          FROM qs q JOIN hist h ON h.cum >= q.k
          GROUP BY 1, 2
        ), tgt2 AS (
          SELECT t.p, t.k, t.bin, h.cum - h.cnt AS cum_before
          FROM tgt t JOIN hist h ON h.bin = t.bin
        ), ranked AS (
          SELECT t.p, t.k, t.bin, t.cum_before, bb.c,
                 ROW_NUMBER() OVER (PARTITION BY t.p ORDER BY bb.c) AS rn
          FROM tgt2 t JOIN binned bb ON bb.bin = t.bin
        )
        SELECT CAST(p AS INT) AS percent,
               CAST((SELECT n FROM b) AS BIGINT) AS n,
               CAST((SELECT lo FROM b) + (bin * (SELECT rng FROM b)) // {_HIST_W}
                    AS BIGINT) AS est_lo_cents,
               CAST((SELECT lo FROM b) + ((bin + 1) * (SELECT rng FROM b)) // {_HIST_W} - 1
                    AS BIGINT) AS est_hi_cents,
               CAST(c AS BIGINT) AS exact_cents,
               c >= (SELECT lo FROM b) + (bin * (SELECT rng FROM b)) // {_HIST_W}
                 AND c <= (SELECT lo FROM b) + ((bin + 1) * (SELECT rng FROM b)) // {_HIST_W} - 1
                 AS within_bin
        FROM ranked WHERE rn = k - cum_before
    """,
    tags=("agg", "sketch", "mergeable", "quantile"),
))


def q_p_rate_limit(spark: SparkSession, sf: str) -> DataFrame:
    """Rate-limit audit — the batch twin of the reference's express-rate-
    limit middleware (100 requests / 15-min fixed window per IP,
    identity-resolution/api-server.js:60-68): events bucket into fixed
    15-minute windows per user; windows over the limit report how many
    events a live limiter would have rejected. Fixture traffic is sparse,
    so the demo limit is 3/window (the operator is limit-parametric); the
    aggregation is one partial-combined exchange on (user, window), the
    same shape at any limit.
    """
    e = _t(spark, sf, "events")
    width_us = 15 * 60 * 1_000_000
    limit = 3
    bucket = F.timestamp_micros(
        (F.floor(F.unix_micros("ts") / width_us) * width_us).cast("long")
    )
    return (
        e.groupBy("user_id", bucket.alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_events") > limit)
        .select(
            "user_id",
            "window_start",
            "n_events",
            (F.col("n_events") - limit).cast("long").alias("n_rejected"),
        )
    )


_register(QuerySpec(
    name="p_rate_limit",
    survey="S10 hardening: rate-limit audit (api-server.js:60-68 batch twin)",
    build=q_p_rate_limit,
    oracle="""
        SELECT user_id, time_bucket(INTERVAL 15 MINUTE, ts) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) - 3 AS BIGINT) AS n_rejected
        FROM events
        GROUP BY 1, 2
        HAVING COUNT(*) > 3
    """,
    tags=("filter", "rate-limit", "audit"),
))


def q_a_funnel_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered conversion funnel (signup -> view -> purchase, strictly in
    event-time order per user) — the CDP behavioral query the reference's
    marketing views feed. One shuffle: events collect per user
    (sort_array inside the agg), then a zero-shuffle integer fold walks
    the sequence advancing a stage counter only when the NEXT stage's
    event appears; a final single-row aggregate counts users per depth.
    All-integer state, so bit-exact cross-engine.
    """
    e = _t(spark, sf, "events")
    code = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    per_user = (
        e.select("user_id", F.struct("ts", code.alias("code")).alias("s"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("seq"))
        .select(
            "user_id",
            F.aggregate(
                F.col("seq"),
                F.lit(0),
                lambda acc, x: F.when(
                    x["code"] == acc + 1, acc + 1
                ).otherwise(acc),
            ).alias("depth"),
        )
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum((F.col("depth") >= 1).cast("long")).alias("n_signup"),
        F.sum((F.col("depth") >= 2).cast("long")).alias("n_signup_view"),
        F.sum((F.col("depth") >= 3).cast("long")).alias("n_full_funnel"),
    )


_register(QuerySpec(
    name="a_funnel_ordered",
    survey="extension: ordered conversion funnel (behavioral analytics)",
    build=q_a_funnel_ordered,
    oracle="""
        WITH seq AS (
          SELECT user_id,
                 list(CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
                      WHEN 'purchase' THEN 3 ELSE 0 END
                      ORDER BY ts, CASE event_type WHEN 'signup' THEN 1
                      WHEN 'view' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END
                     ) AS codes
          FROM events GROUP BY user_id
        ), depth AS (
          SELECT user_id,
                 list_reduce(list_prepend(0, codes),
                   (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1
                               ELSE acc END) AS d
          FROM seq
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN d >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_signup,
               CAST(SUM(CASE WHEN d >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_signup_view,
               CAST(SUM(CASE WHEN d >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_full_funnel
        FROM depth
    """,
    tags=("agg", "funnel", "behavioral"),
))


def q_a_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Event-transition matrix (first-order Markov view of the event
    stream): for each (prev_type, next_type) consecutive pair per user,
    the transition count and conditional probability. Same one-exchange
    shape as the funnel: events collect per user sorted by (ts, event_id)
    — the unique id is the tiebreaker that keeps tied timestamps
    deterministic across engines — consecutive pairs come from a
    zero-shuffle zip_with of the sequence against its own tail, and the
    probability normalizes over a ~|event_types|-row aggregate.
    """
    e = _t(spark, sf, "events")
    per_user = (
        e.select(
            "user_id",
            F.struct(
                "ts",
                F.col("event_id").alias("eid"),
                F.col("event_type").alias("et"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("seq"))
    )
    pairs = per_user.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("seq"), 1, F.size("seq") - 1),
                F.slice(F.col("seq"), 2, F.size("seq") - 1),
                lambda a, b: F.struct(
                    a["et"].alias("prev_type"), b["et"].alias("next_type")
                ),
            )
        ).alias("p")
    ).select("p.prev_type", "p.next_type")
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    w = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w), 4
        ).alias("p_transition"),
    )


_register(QuerySpec(
    name="a_event_transitions",
    survey="beyond-reference: behavioral transition matrix (Markov)",
    build=q_a_event_transitions,
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type AS et,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nxt
          FROM events
        ), c AS (
          SELECT et AS prev_type, nxt AS next_type,
                 CAST(COUNT(*) AS BIGINT) AS n_transitions
          FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
        )
        SELECT prev_type, next_type, n_transitions,
               ROUND(n_transitions / SUM(n_transitions)
                       OVER (PARTITION BY prev_type), 4) AS p_transition
        FROM c
    """,
    tags=("agg", "behavioral", "markov"),
))


def q_a_attribution_decay(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch time-decay attribution (the CDP companion to J6/A8's
    last-touch funnel): every purchase distributes credit across the
    user's preceding touches in a 30-day lookback, weighted 2^(-age_days).
    Weights are INTEGER 2^(30 - age) (scaled by 2^30), so per-type weight
    sums are exact and the only float op is one final division rounded to
    4 dp — bit-stable across engines, unlike summing decayed floats whose
    addition order differs. Plan: one equi-join on user_id (the range
    predicate filters the per-user fan-out, never a cartesian), one
    (purchase, touch_type) aggregate, and a tiny per-purchase total via a
    second aggregation joined back.
    """
    e = _t(spark, sf, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    touches = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    pairs = (
        purchases.join(touches, "user_id")
        .filter(
            (F.col("t_ts") < F.col("p_ts"))
            & (F.datediff(F.to_date("p_ts"), F.to_date("t_ts")) <= 30)
        )
        .select(
            "purchase_id",
            "touch_type",
            F.expr(
                "shiftleft(cast(1 as bigint),"
                " 30 - datediff(to_date(p_ts), to_date(t_ts)))"
            ).alias("w"),
        )
    )
    by_type = pairs.groupBy("purchase_id", "touch_type").agg(
        F.sum("w").alias("w_sum"), F.count(F.lit(1)).alias("n_touches")
    )
    totals = by_type.groupBy("purchase_id").agg(
        F.sum("w_sum").alias("w_total")
    )
    return by_type.join(totals, "purchase_id").select(
        "purchase_id",
        "touch_type",
        "n_touches",
        "w_sum",
        F.round(F.col("w_sum") / F.col("w_total"), 4).alias("credit_share"),
    )


_register(QuerySpec(
    name="a_attribution_decay",
    survey="beyond-reference: multi-touch time-decay attribution (J6/A8 companion)",
    build=q_a_attribution_decay,
    oracle="""
        WITH pairs AS (
          SELECT p.event_id AS purchase_id, t.event_type AS touch_type,
                 (CAST(1 AS BIGINT) <<
                  (30 - date_diff('day', CAST(t.ts AS DATE),
                                  CAST(p.ts AS DATE)))) AS w
          FROM events p JOIN events t USING (user_id)
          WHERE p.event_type = 'purchase'
            AND t.event_type <> 'purchase'
            AND t.ts < p.ts
            AND date_diff('day', CAST(t.ts AS DATE), CAST(p.ts AS DATE)) <= 30
        ), by_type AS (
          SELECT purchase_id, touch_type,
                 CAST(SUM(w) AS BIGINT) AS w_sum,
                 CAST(COUNT(*) AS BIGINT) AS n_touches
          FROM pairs GROUP BY 1, 2
        ), totals AS (
          SELECT purchase_id, SUM(w_sum) AS w_total FROM by_type GROUP BY 1
        )
        SELECT b.purchase_id, b.touch_type, b.n_touches, b.w_sum,
               ROUND(b.w_sum / t.w_total, 4) AS credit_share
        FROM by_type b JOIN totals t USING (purchase_id)
    """,
    tags=("agg", "attribution", "behavioral"),
))


def q_a_ltv_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """Customer LTV decile segmentation (the marketing decile report the
    reference's segments gesture at): customers ranked by lifetime spend
    into NTILE(10) with a deterministic (spend desc, custkey asc) total
    order, then per-decile counts and exact-cents totals. The NTILE
    window is a single total order — but over the CUSTOMER-GRAIN
    aggregate, orders of magnitude under the fact corpus (one long + one
    key per customer crosses the exchange). At extreme customer
    cardinality (1e9+), swap the NTILE for decile THRESHOLDS from one
    percentile aggregate and assign by comparison — same report, no total
    order, at the cost of value-tie boundary splits differing from
    NTILE's equal-count contract.
    """
    o = _t(spark, sf, "orders")
    ltv = o.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("__cents")
    )
    w = Window.orderBy(F.col("__cents").desc(), F.col("o_custkey").asc())
    dec = ltv.withColumn("decile", F.ntile(10).over(w))
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.sum("__cents").cast("double") / 100.0).alias("total_ltv"),
        (F.min("__cents").cast("double") / 100.0).alias("min_ltv"),
    )


_register(QuerySpec(
    name="a_ltv_deciles",
    survey="beyond-reference: LTV decile segmentation (NTILE)",
    build=q_a_ltv_deciles,
    oracle="""
        WITH ltv AS (
          SELECT o_custkey,
                 SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY 1
        ), dec AS (
          SELECT o_custkey, cents,
                 NTILE(10) OVER (ORDER BY cents DESC, o_custkey ASC) AS decile
          FROM ltv
        )
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS DOUBLE) / 100.0 AS total_ltv,
               CAST(MIN(cents) AS DOUBLE) / 100.0 AS min_ltv
        FROM dec GROUP BY decile
    """,
    tags=("agg", "window", "segmentation"),
))


def q_a_metric_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Metric anomaly flags over the daily order count: a day is anomalous
    when it sits more than 3 trailing-window standard deviations from the
    trailing 7-day mean. The z-test is INTEGER algebra end to end —
    (7x - s)^2 > 9 * (7*ss - s^2) with s/ss the trailing sum and
    sum-of-squares — so the flag is bit-exact in any engine; no float
    mean/stddev ever materializes. One aggregate to the daily grain, then
    one calendar-grain window (single partition by design: the frame is
    over ~dates, not rows).
    """
    o = _t(spark, sf, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    x = F.col("n_orders")
    s = F.sum("n_orders").over(w)
    ss = F.sum(x * x).over(w)
    k = F.count(F.lit(1)).over(w)
    lhs = (F.lit(7) * x - s) * (F.lit(7) * x - s)
    rhs = F.lit(9) * (F.lit(7) * ss - s * s)
    return (
        daily.select(
            "day",
            "n_orders",
            k.alias("__k"),
            s.alias("trailing_sum"),
            (lhs > rhs).cast("int").alias("is_anomaly"),
        )
        .filter(F.col("__k") == 7)
        .drop("__k")
    )


_register(QuerySpec(
    name="a_metric_anomaly",
    survey="beyond-reference: trailing-window metric anomaly flags (exact integer z-test)",
    build=q_a_metric_anomaly,
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY 1
        ), win AS (
          SELECT day, n_orders,
                 SUM(n_orders) OVER w AS s,
                 SUM(n_orders * n_orders) OVER w AS ss,
                 COUNT(*) OVER w AS k
          FROM daily
          WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT day, n_orders, CAST(s AS BIGINT) AS trailing_sum,
               CAST((7 * n_orders - s) * (7 * n_orders - s)
                    > 9 * (7 * ss - s * s) AS INT) AS is_anomaly
        FROM win WHERE k = 7
    """,
    tags=("agg", "anomaly", "window"),
))


def q_a_retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-signup week, counted
    distinct in each subsequent activity week. First-touch is one
    partial-aggregated groupBy on user; the activity join reuses that
    partitioning; the final (cohort, week-offset) rollup is an exact
    COUNT(DISTINCT) over a bounded key space. Week offsets are integer
    day-diffs floor-divided by 7 — exact cross-engine.
    """
    e = _t(spark, sf, "events")
    first = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    act = (
        e.join(first, "user_id")
        .select(
            "user_id",
            F.to_date(F.date_trunc("week", F.col("t0"))).alias("cohort_week"),
            F.floor(
                F.datediff(F.to_date("ts"), F.to_date("t0")) / 7
            ).cast("int").alias("week_offset"),
        )
        .filter(F.col("week_offset") >= 0)
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_active_users")
    )


_register(QuerySpec(
    name="a_retention_cohorts",
    survey="extension: weekly retention cohort analysis",
    build=q_a_retention_cohorts,
    oracle="""
        WITH first AS (
          SELECT user_id, MIN(ts) AS t0 FROM events
          WHERE event_type = 'signup' GROUP BY user_id
        ), act AS (
          SELECT e.user_id,
                 CAST(date_trunc('week', f.t0) AS DATE) AS cohort_week,
                 CAST(date_diff('day', CAST(f.t0 AS DATE), CAST(e.ts AS DATE))
                      // 7 AS INT) AS week_offset
          FROM events e JOIN first f USING (user_id)
        )
        SELECT cohort_week, week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users
        FROM act WHERE week_offset >= 0
        GROUP BY 1, 2
    """,
    tags=("agg", "retention", "behavioral"),
))


def q_x_text_postings(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build: sorted posting list + document frequency per
    term, for terms with df in [2, 400]. The df filter runs BEFORE list
    collection — document frequencies aggregate first (partial-combined
    longs), stopword-grade terms are dropped, and only surviving terms
    collect postings. Both aggregations and the join hash-partition on
    term, so the whole build is one exchange of (term, id) pairs; no
    unbounded collect_list for hot terms ever materializes. Postings are
    rendered to a comma-joined string (catalog determinism rule: array
    outputs are strings with an explicit element order).
    """
    docs = _t(spark, sf, "documents")
    terms = docs.select(
        F.col("doc_id").cast("long").alias("id"),
        F.explode(F.array_distinct(tokenize("text"))).alias("term"),
    )
    kept = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= 400))
    )
    return (
        terms.join(kept, "term")
        .groupBy("term", "df")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings")
        )
    )


_register(QuerySpec(
    name="x_text_postings",
    survey="north-star: inverted-index posting lists (df-bounded)",
    build=q_x_text_postings,
    oracle="""
        WITH t AS (
          SELECT DISTINCT CAST(doc_id AS BIGINT) AS id, tok AS term
          FROM documents,
               UNNEST(list_filter(string_split_regex(lower(text),
                      '[^a-z0-9]+'), x -> x <> '')) AS u(tok)
        ), kept AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df
          FROM t GROUP BY term
          HAVING COUNT(*) BETWEEN 2 AND 400
        )
        SELECT t.term, kept.df,
               array_to_string(list(t.id ORDER BY t.id), ',') AS postings
        FROM t JOIN kept USING (term)
        GROUP BY t.term, kept.df
    """,
    tags=("text", "index"),
))


def q_x_corpus_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card length histogram: doc counts per (lang, 100-char bin).
    Pure integer floor-division binning fused into the scan; one bounded
    aggregation (langs × bins keys).
    """
    docs = _t(spark, sf, "documents")
    return docs.groupBy(
        "lang",
        (F.floor(F.col("n_chars") / 100) * 100).cast("long").alias("len_bin"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))


_register(QuerySpec(
    name="x_corpus_histogram",
    survey="north-star: dataset-card length histogram",
    build=q_x_corpus_histogram,
    oracle="""
        SELECT lang, CAST(n_chars // 100 * 100 AS BIGINT) AS len_bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    """,
    tags=("text", "stats", "histogram"),
))


def q_x_corpus_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card length quantiles: exact p50/p90/p99 doc length per
    language, rank-selected (value at ``rn == ceil(q * n)``) rather than
    interpolated — pure integer/ordering logic, so both engines agree
    bit-for-bit (float interpolation orders differ across engines).
    Plan: one hash exchange on lang for the window; the conditional
    aggregate reuses that partitioning (no second exchange). At 100 TB a
    per-lang total sort is the exact-answer cost — swap the window for
    ``approx_percentile`` (t-digest, partial-aggregated, no sort) when
    rank-exact quantiles are not required; this entry is the exact,
    oracle-checkable variant.
    """
    docs = _t(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    ranked = docs.select(
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )

    def _pick(q: float) -> "F.Column":
        return F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * q), F.col("n_chars"))
        )

    return ranked.groupBy("lang").agg(
        _pick(0.5).alias("p50_chars"),
        _pick(0.9).alias("p90_chars"),
        _pick(0.99).alias("p99_chars"),
        F.max("n").alias("n_docs"),
    )


_register(QuerySpec(
    name="x_corpus_quantiles",
    survey="north-star: dataset-card length quantiles (rank-exact)",
    build=q_x_corpus_quantiles,
    oracle="""
        WITH ranked AS (
          SELECT lang, CAST(n_chars AS BIGINT) AS n_chars,
                 ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY lang) AS n
          FROM documents
        )
        SELECT lang,
               MAX(CASE WHEN rn = CEIL(n * 0.5)  THEN n_chars END) AS p50_chars,
               MAX(CASE WHEN rn = CEIL(n * 0.9)  THEN n_chars END) AS p90_chars,
               MAX(CASE WHEN rn = CEIL(n * 0.99) THEN n_chars END) AS p99_chars,
               CAST(MAX(n) AS BIGINT) AS n_docs
        FROM ranked GROUP BY lang
    """,
    tags=("text", "stats", "quantiles"),
))


def q_x_text_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: 64-token windows every 48 tokens (16-token
    overlap). Zero shuffles — all array expressions fused into the scan,
    chunks emitted as digests not text.
    """
    docs = _t(spark, sf, "documents")
    out = chunk_tokens(docs, "doc_id", "text", chunk_size=64, stride=48)
    return out.select(
        F.col("id").alias("doc_id"), "chunk_idx", "n_tokens", "chunk_hash"
    )


_register(QuerySpec(
    name="x_text_chunking",
    survey="north-star: context-window chunking with overlap",
    build=q_x_text_chunking,
    oracle="""
        WITH tk AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        )
        SELECT doc_id,
               CAST(u.s // 48 AS BIGINT) AS chunk_idx,
               CAST(len(toks[u.s + 1 : u.s + 64]) AS BIGINT) AS n_tokens,
               md5(array_to_string(toks[u.s + 1 : u.s + 64], ' ')) AS chunk_hash
        FROM tk, UNNEST(range(0, len(toks), 48)) AS u(s)
    """,
    tags=("text", "chunking"),
))


def q_scale_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-safe two-stage aggregation: hot group keys fan out over a
    deterministic hash salt, partials re-aggregate by key. Result must be
    exactly the plain GROUP BY (sums are algebraic) — which is what the
    oracle checks.
    """
    li = _t(spark, sf, "lineitem").withColumn(
        "l_quantity", _cents("l_quantity")  # exact integer cents, see _dec_sum
    )
    out = salted_groupby_sum(li, ["l_returnflag"], ["l_quantity"], n_salts=16)
    return out.select(
        "l_returnflag",
        (F.col("sum_l_quantity").cast("double") / 100.0).alias("sum_qty"),
    )


_register(QuerySpec(
    name="scale_salted_agg",
    survey="scale: deterministic skew salting",
    build=q_scale_salted_agg,
    oracle="""
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("scale", "skew"),
))


def q_scale_skew_report(spark: SparkSession, sf: str) -> DataFrame:
    """Key-skew diagnosis over lineitem's supplier key: the top-20
    heaviest keys with exact counts and corpus share — the report that
    decides when a join/agg key needs the salting path
    (scale_salted_agg / salted_join). One exchange of (key, count)
    partials; top-k via TakeOrderedAndProject; total via a one-row
    broadcast.
    """
    li = _t(spark, sf, "lineitem")
    return skew_report(li, ("l_suppkey",), top_k=20)


_register(QuerySpec(
    name="scale_skew_report",
    survey="beyond-reference: join-key skew diagnosis (salting decision input)",
    build=q_scale_skew_report,
    oracle="""
        WITH counts AS (
          SELECT CAST(l_suppkey AS VARCHAR) AS key,
                 CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM lineitem GROUP BY 1
        ), tot AS (
          SELECT SUM(n_rows) AS t FROM counts
        )
        SELECT key, n_rows,
               ROUND(n_rows / (SELECT t FROM tot), 6) AS share
        FROM counts ORDER BY n_rows DESC, key ASC LIMIT 20
    """,
    tags=("scale", "skew", "diagnosis"),
))


def q_scale_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed co-located join — Spark's answer to the reference's
    DISTSTYLE/SORTKEY physical layout (sql/redshift_table_schemas.sql:
    114-115, 314-325): pay the shuffle ONCE at write time, then every join
    and aggregation on the bucket key runs with zero exchanges.

    Orders and customers are bucket-written on custkey, sort-merge-joined
    (broadcast pinned off — at 100 TB neither side broadcasts), and
    aggregated per custkey. The zero-exchange property is DRIVER-CHECKED,
    not just pytest-asserted: the physical plan's Exchange count rides in
    the output as ``plan_exchanges`` and the oracle asserts it is 0.
    """
    tag = os.path.basename(sf.rstrip("/")).replace(".", "_")
    o = _t(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    t_o, t_c = f"bkt_orders_{tag}", f"bkt_customer_{tag}"
    write_bucketed(o, t_o, ["custkey"], n_buckets=8, sort_cols=["custkey"],
                   path=_scratch(sf, t_o))
    write_bucketed(c, t_c, ["custkey"], n_buckets=8, sort_cols=["custkey"],
                   path=_scratch(sf, t_c))
    joined = bucketed_join(spark, t_o, t_c, ["custkey"], force_sort_merge=True)
    agg = joined.groupBy("custkey").agg(
        F.max("c_mktsegment").alias("mktsegment"),
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum("o_totalprice", "sum_price"),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    return agg.withColumn(
        "plan_exchanges", F.lit(plan.count("Exchange")).cast("int")
    )


_register(QuerySpec(
    name="scale_bucketed_join",
    survey="scale: bucketed co-located join (DISTSTYLE/SORTKEY parity)",
    build=q_scale_bucketed_join,
    oracle="""
        SELECT o.o_custkey AS custkey,
               MAX(c.c_mktsegment) AS mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price,
               CAST(0 AS INT) AS plan_exchanges
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey
    """,
    tags=("scale", "bucketing"),
))


def q_scale_bloom_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast hash-bucket prefilter semi join (the runtime-filter /
    bloom-join pattern, one hash function): the key side collapses to
    DISTINCT xxhash64(key)%2^20 buckets — bounded at ~8 MB no matter how
    many keys — which broadcast-filters the fact scan so only bucket-hit
    rows (true matches + occupancy-rate false positives) reach the exact
    semi join's shuffle. Reference parity: the processed-leads NOT IN guard
    (lead-processor/index.js:208-214) whose naive plan shuffles the whole
    fact table at 100 TB.

    The result is exactly the plain semi join (the oracle), and the
    prefilter shape is DRIVER-CHECKED: plan_prefilter_bcast rides in the
    output as 1 only if the plan broadcast-joins without a cartesian.
    """
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    keys = _t(spark, sf, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000)
    )
    out = hash_prefilter_join(
        li, keys, "l_orderkey", "o_orderkey", how="left_semi", n_buckets=1 << 20
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    ok = "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    return out.withColumn("plan_prefilter_bcast", F.lit(1 if ok else 0).cast("int"))


_register(QuerySpec(
    name="scale_bloom_prune",
    survey="scale: broadcast hash-bucket prefilter (runtime-filter/bloom join)",
    build=q_scale_bloom_prune,
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST(1 AS INT) AS plan_prefilter_bcast
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
    """,
    tags=("scale", "bloom", "semi-join"),
))


def q_scale_dpp_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact lake is hive-partitioned
    by order month; the query joins it to a stored month-dimension filtered
    on an ATTRIBUTE (quarter), so the surviving partition values are only
    knowable at runtime — a literal month list would constant-fold into
    static pruning and prove nothing. Spark inserts a
    dynamicpruningexpression subquery on the fact scan that reuses the
    dimension's broadcast to skip non-matching partitions before reading
    them — the mechanism that turns a 100 TB star-join scan into reading
    only the quarter actually joined. The plan shape is DRIVER-CHECKED:
    plan_dpp rides in the output as 1 only when the executed plan contains
    the runtime pruning subquery.
    """
    lake = _scratch(sf, "orders_dpp_lake")
    dim_path = _scratch(sf, "month_dim")
    orders = _t(spark, sf, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    orders.select("o_orderkey", "o_totalprice", month).write.mode(
        "overwrite"
    ).partitionBy("order_month").parquet(lake)
    (
        orders.select(month)
        .distinct()
        .withColumn(
            "quarter",
            F.concat(
                F.substring("order_month", 1, 4),
                F.lit("Q"),
                F.expr("(cast(substring(order_month, 6, 2) as int) + 2) div 3"),
            ),
        )
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    fact = read_lake(spark, lake)
    dim = spark.read.parquet(dim_path).filter(F.col("quarter") == "1995Q1")
    out = (
        fact.join(F.broadcast(dim), "order_month")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum("o_totalprice", "revenue"),
        )
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    ok = "dynamicpruning" in plan.lower()
    return out.withColumn("plan_dpp", F.lit(1 if ok else 0).cast("int"))


_register(QuerySpec(
    name="scale_dpp_prune",
    survey="scale: dynamic partition pruning on a star join",
    build=q_scale_dpp_prune,
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
               CAST(1 AS INT) AS plan_dpp
        FROM orders
        WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-01', '1995-02', '1995-03')
        GROUP BY 1
    """,
    tags=("scale", "dpp", "pruning"),
))


def q_scale_sorted_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Range-sorted lake layout (Redshift compound-SORTKEY parity,
    sql/redshift_table_schemas.sql:314-325): orders written
    repartitionByRange+sortWithinPartitions on o_orderdate, then scanned
    with a one-year range predicate. Because each file/row-group covers a
    disjoint date range, the pushed-down predicate skips most of the table
    at the scan — the 100 TB win this layout exists for.

    Both properties are DRIVER-CHECKED: the rows equal filtering the
    original table (the oracle), and plan_pushdown rides as 1 only if the
    range predicate reached the parquet scan (PushedFilters non-empty).
    """
    out_path = _scratch(sf, "orders_sorted")
    orders = _t(spark, sf, "orders")
    write_range_sorted(orders, out_path, ["o_orderdate"], n_files=8)
    lo = F.lit("1995-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-01-01 00:00:00").cast("timestamp")
    scan = spark.read.parquet(out_path).filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    sel = scan.select("o_orderkey", "o_custkey", "o_totalprice")
    plan = sel._jdf.queryExecution().executedPlan().toString()
    pushed = "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    return sel.withColumn("plan_pushdown", F.lit(1 if pushed else 0).cast("int"))


_register(QuerySpec(
    name="scale_sorted_layout",
    survey="scale: range-sorted lake layout (compound SORTKEY parity)",
    build=q_scale_sorted_layout,
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(1 AS INT) AS plan_pushdown
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1996-01-01'
    """,
    tags=("scale", "layout", "pushdown"),
))


def q_x_text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 TF-IDF terms per document — raw tf, unsmoothed ln(N/df) idf,
    three-shuffle shape (tf groupBy, df window over term, top-k window
    over id).
    """
    docs = _t(spark, sf, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=5)


_register(QuerySpec(
    name="x_text_tfidf",
    survey="north-star: TF-IDF term scoring",
    bench=True,
    build=q_x_text_tfidf,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), scored AS (
          SELECT id, term,
                 ROUND(tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                               / COUNT(*) OVER (PARTITION BY term)), 4) AS tfidf
          FROM tf
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                       ORDER BY tfidf DESC, term ASC) AS rn
          FROM scored
        )
        SELECT id, term, tfidf FROM ranked WHERE rn <= 5
    """,
    tags=("text", "tfidf"),
))


def q_x_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style duplicate-trigram repetition signal per document —
    the standard pretraining filter for boilerplate/spam (fraction of
    n-grams that repeat an earlier one). Zero shuffles: n-grams are built
    with JVM higher-order functions inside the scan stage; rep_ratio is
    one IEEE division of exact ints, so it hashes identically in DuckDB.
    """
    docs = _t(spark, sf, "documents")
    n_grams, n_distinct, ratio = ngram_repetition(F.col("text"), n=3)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_grams.cast("int").alias("n_grams"),
        n_distinct.cast("int").alias("n_distinct"),
        ratio.alias("rep_ratio"),
    )


_register(QuerySpec(
    name="x_text_repetition",
    survey="north-star: text quality scoring (duplicate n-gram repetition)",
    build=q_x_text_repetition,
    oracle="""
        WITH t AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
          FROM documents
        ), g AS (
          SELECT doc_id, len(toks) - 2 AS cnt,
                 CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(1, len(toks) - 2),
                                  i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END AS grams
          FROM t
        )
        SELECT doc_id,
               CAST(CASE WHEN cnt > 0 THEN cnt ELSE 0 END AS INT) AS n_grams,
               CAST(CASE WHEN cnt > 0 THEN len(list_distinct(grams))
                    ELSE 0 END AS INT) AS n_distinct,
               CASE WHEN cnt > 0 THEN
                 CAST(cnt - len(list_distinct(grams)) AS DOUBLE) / cnt
               ELSE 0.0 END AS rep_ratio
        FROM g
    """,
    tags=("text", "quality", "repetition"),
))


def q_x_text_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document unigram Shannon entropy plus token/type counts — a
    repetition/boilerplate quality signal, computed row-locally (zero
    shuffles; the fold order is pinned by sorting the distinct terms).
    """
    docs = _t(spark, sf, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_types"),
        F.round(unigram_entropy("text"), 4).alias("entropy_bits"),
    )


_register(QuerySpec(
    name="x_text_entropy",
    survey="north-star: text quality scoring (entropy)",
    build=q_x_text_entropy,
    oracle="""
        WITH t AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> x <> '') AS toks
          FROM documents
        ), c AS (
          SELECT doc_id, len(toks) AS n,
                 list_transform(list_sort(list_distinct(toks)),
                                tt -> len(list_filter(toks, x -> x = tt))) AS counts
          FROM t
        )
        SELECT doc_id,
               CAST(n AS INT) AS n_tokens,
               CAST(len(counts) AS INT) AS n_types,
               CASE WHEN n = 0 THEN 0.0 ELSE ROUND(
                 list_reduce(
                   list_prepend(0.0,
                     list_transform(counts,
                       cc -> -(cc / CAST(n AS DOUBLE))
                             * log2(cc / CAST(n AS DOUBLE)))),
                   (a, b) -> a + b), 4) END AS entropy_bits
        FROM c
    """,
    tags=("text", "quality"),
))


def q_x_sample_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5 hash bucket —
    content-addressed (re-runs and appends never reassign existing docs),
    zero-shuffle (one projected expression fused into the scan).
    """
    docs = _t(spark, sf, "documents")
    return hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "split")


_register(QuerySpec(
    name="x_sample_split",
    survey="north-star: deterministic train/val/test splitting",
    build=q_x_sample_split,
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CASE
                 WHEN b < 8000 THEN 'train'
                 WHEN b < 9000 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM (
          SELECT doc_id,
                 CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
                                     1, 8) AS BIGINT) % 10000 AS b
          FROM documents
        )
    """,
    tags=("sampling",),
))


def q_x_sample_group_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: the unit of assignment is the
    GROUP (source), not the document — near-duplicate documents from one
    crawl/site/user otherwise straddle train and test and the eval leaks
    (the standard ML-ops failure that per-row splitting cannot prevent).
    Same zero-shuffle content-addressed hash as x_sample_split, keyed on
    the group column; every doc of a group lands in the same split by
    construction, asserted in pytest and visible in the output grain.
    """
    docs = _t(spark, sf, "documents")
    return hash_split(
        docs, "source", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "source", "split")


_register(QuerySpec(
    name="x_sample_group_split",
    survey="north-star: leakage-safe group-granular splitting",
    build=q_x_sample_group_split,
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
               CASE
                 WHEN b < 8000 THEN 'train'
                 WHEN b < 9000 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM (
          SELECT doc_id, source,
                 CAST('0x' || substr(md5('split|' || source), 1, 8)
                      AS BIGINT) % 10000 AS b
          FROM documents
        )
    """,
    tags=("sampling", "leakage"),
))


def q_x_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sample over documents: keep 50% of 'en',
    20% of every other language — a single hash-bucket filter pushed to the
    scan, zero shuffles.
    """
    docs = _t(spark, sf, "documents")
    return stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5}, default_fraction=0.2
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


_register(QuerySpec(
    name="x_sample_stratified",
    survey="north-star: stratified corpus sampling",
    build=q_x_sample_stratified,
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
        FROM (
          SELECT doc_id, lang,
                 CAST('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)),
                                     1, 8) AS BIGINT) % 10000 AS b
          FROM documents
        )
        WHERE b < (CASE WHEN lang = 'en' THEN 5000 ELSE 2000 END)
    """,
    tags=("sampling",),
))


def q_x_sample_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing resample: rebalance the corpus to a prescribed language
    recipe (en 40% / zh 20% / es 20% / fr 20%; de dropped). The scarcest
    group binds the budget; thresholds are exact arbitrary-precision ints
    from one tiny group-count aggregate, then a single pushed-down CASE
    filter — the corpus never shuffles (see mixture_resample).
    """
    docs = _t(spark, sf, "documents")
    out = mixture_resample(
        docs, "doc_id", "lang",
        {"en": 400_000, "zh": 200_000, "es": 200_000, "fr": 200_000},
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


_register(QuerySpec(
    name="x_sample_mixture",
    survey="north-star: mixture-weighted corpus rebalancing (data mixing)",
    build=q_x_sample_mixture,
    oracle="""
        WITH counts AS (
          SELECT lang AS g, COUNT(*) AS n FROM documents
          WHERE lang IN ('en','zh','es','fr') GROUP BY 1
        ), w AS (
          SELECT * FROM (VALUES ('en', 400000), ('zh', 200000),
                                ('es', 200000), ('fr', 200000)) AS t(g, wppm)
        ), j AS (
          SELECT w.g, w.wppm, c.n FROM w JOIN counts c USING (g)
        ), b AS (
          SELECT MIN(n * 1000000 // wppm) AS budget FROM j
        ), cuts AS (
          SELECT g, (SELECT budget FROM b) * wppm * 10000
                    // (1000000 * n) AS cut
          FROM j
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        FROM documents d JOIN cuts ON d.lang = cuts.g
        WHERE (CAST('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) % 10000) < cuts.cut
    """,
    tags=("sampling", "mixing"),
))


def q_x_sample_temperature(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled language rebalance (mT5/XLM-R rule): target share
    p_lang ∝ n_lang^0.5, recipe derived from the corpus itself via exact
    integer largest-remainder allocation, then the mixture_resample
    hash-threshold filter. alpha=0.5 keeps the weight derivation
    bit-portable (sqrt is correctly-rounded IEEE in every engine).
    """
    docs = _t(spark, sf, "documents")
    out = temperature_mixture(docs, "doc_id", "lang", alpha=0.5)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "lang")


_register(QuerySpec(
    name="x_sample_temperature",
    survey="north-star: temperature-scaled mixture sampling (p ∝ n^alpha)",
    build=q_x_sample_temperature,
    oracle="""
        WITH counts AS (
          SELECT lang AS g, CAST(COUNT(*) AS BIGINT) AS n
          FROM documents WHERE lang IS NOT NULL GROUP BY 1
        ), s AS (
          SELECT g, n, CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS sc
          FROM counts
        ), tot AS (
          SELECT SUM(sc) AS t FROM s
        ), base AS (
          SELECT g, n, sc,
                 sc * 1000000 // (SELECT t FROM tot) AS b,
                 sc * 1000000 % (SELECT t FROM tot) AS r
          FROM s
        ), alloc AS (
          SELECT g, n,
                 b + CASE WHEN ROW_NUMBER() OVER (ORDER BY r DESC, g ASC)
                          <= 1000000 - (SELECT SUM(b) FROM base)
                     THEN 1 ELSE 0 END AS wppm
          FROM base
        ), bdg AS (
          SELECT MIN(n * 1000000 // wppm) AS budget FROM alloc
        ), cuts AS (
          SELECT g, (SELECT budget FROM bdg) * wppm * 10000
                    // (1000000 * n) AS cut
          FROM alloc
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.lang
        FROM documents d JOIN cuts ON d.lang = cuts.g
        WHERE (CAST('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
                                   1, 8) AS BIGINT) % 10000) < cuts.cut
    """,
    tags=("sampling", "mixing", "temperature"),
))


def q_x_sample_top_frac(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain quality selection: keep the top quarter of documents per
    source by length. Exact-percentile threshold join (broadcast, corpus
    side never shuffles) — not a per-domain window rank.
    """
    docs = _t(spark, sf, "documents")
    kept = top_fraction_per_group(docs, "source", "n_chars", 0.25)
    return kept.select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "n_chars"
    )


_register(QuerySpec(
    name="x_sample_top_frac",
    survey="north-star: per-domain top-fraction quality selection",
    build=q_x_sample_top_frac,
    oracle="""
        WITH thr AS (
          SELECT source, quantile_cont(n_chars, 0.75) AS t
          FROM documents GROUP BY source
        )
        SELECT CAST(d.doc_id AS BIGINT) AS doc_id, d.source, d.n_chars
        FROM documents d JOIN thr USING (source)
        WHERE d.n_chars >= thr.t
    """,
    tags=("sampling", "curation"),
))


_Q4_SQL = """CAST(
  (CASE WHEN len(list_filter(string_split_regex(lower(text),
         '[^a-z0-9]+'), x -> x <> '')) >= 20
        THEN 1 ELSE 0 END) +
  (CASE WHEN length(regexp_replace(text, '[\\sA-Za-z0-9]', '', 'g'))
         / greatest(length(text), 1) < 0.2
        THEN 1 ELSE 0 END) +
  (CASE WHEN len(list_filter(
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                      x -> x <> ''),
          x -> list_contains(['the','and','of','to','a','in',
                              'is','it','that','for'], x)))
         / greatest(len(list_filter(string_split_regex(lower(text),
             '[^a-z0-9]+'), x -> x <> '')), 1) >= 0.05
        THEN 1 ELSE 0 END) +
  (CASE WHEN CAST(len(list_distinct(list_filter(
             string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> ''))) AS DOUBLE)
         / greatest(len(list_filter(string_split_regex(lower(text),
             '[^a-z0-9]+'), x -> x <> '')), 1) >= 0.3
        THEN 1 ELSE 0 END) AS BIGINT)"""


def q_x_curation_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation funnel over the corpus slice (doc_id >= 100):
    quality gate -> exact dedup (min-id keep) -> benchmark decontamination
    (8-gram collision vs the fixed-size held-out slice, doc_id < 100 — an
    eval set must not grow with the corpus or its broadcast gram set
    stops being broadcastable). Emits one row per stage with the
    surviving doc count — the dataset-card audit trail every curation
    run ships with.

    Each stage reuses the engine's first-class operator shape: the quality
    gate is a scan-stage expression, dedup is one digest-keyed aggregate,
    decontamination broadcasts the benchmark gram set. Counts are
    all-integer, so the funnel is exactly reproducible cross-engine.
    """
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") >= 100)
    bench = docs.filter(F.col("doc_id") < 100)
    base = corpus.select(
        F.col("doc_id").cast("long").alias("id"),
        "text",
        F.md5("text").alias("h"),
        (quality_score("text") * 4).cast("long").alias("q4"),
    )
    # Stage membership as FLAGS folded by one aggregate, not one union'd
    # count() per stage: the union form re-derived the quality/dedup
    # chain once per stage (4 corpus scans, 25 s at sf1); here the corpus
    # is scanned twice (flag frame + contamination gram input) and every
    # stage count is a conditional sum over the same rows (~10 s).
    s2 = base.filter(F.col("q4") >= 3)
    keep = (
        s2.groupBy("h")
        .agg(F.min("id").alias("id"))
        .withColumn("__keep", F.lit(1))
    )
    s3 = s2.join(keep, ["h", "id"], "semi")
    hits = (
        ngram_contamination(
            s3.select(F.col("id").alias("doc_id"), "text"),
            bench, "doc_id", "text", n=8,
        )
        .select("id")
        .distinct()
        .withColumn("__cont", F.lit(1))
    )
    flags = (
        base.join(keep.select("h", "id", "__keep"), ["h", "id"], "left")
        .join(hits, "id", "left")
        .select(
            (F.col("q4") >= 3).alias("__q"),
            F.col("__keep").isNotNull().alias("__k"),
            F.col("__cont").isNull().alias("__c"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(F.col("__q").cast("long")).alias("n2"),
        F.sum((F.col("__q") & F.col("__k")).cast("long")).alias("n3"),
        F.sum(
            (F.col("__q") & F.col("__k") & F.col("__c")).cast("long")
        ).alias("n4"),
    )
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("stage_no"),
                        F.lit(label).alias("stage"),
                        F.col(f"n{i}").alias("n_docs"),
                    )
                    for i, label in [
                        (1, "total"),
                        (2, "quality_ok"),
                        (3, "exact_deduped"),
                        (4, "decontaminated"),
                    ]
                ]
            )
        ).alias("__s")
    ).select("__s.*")


_register(QuerySpec(
    name="x_curation_funnel",
    survey="north-star: end-to-end curation funnel (quality -> dedup -> decontamination)",
    build=q_x_curation_funnel,
    oracle=f"""
        WITH corpus AS (
          SELECT CAST(doc_id AS BIGINT) AS id, text, md5(text) AS h,
                 {_Q4_SQL} AS q4
          FROM documents WHERE doc_id >= 100
        ), s2 AS (
          SELECT * FROM corpus WHERE q4 >= 3
        ), s3 AS (
          SELECT s2.id, s2.text FROM s2
          JOIN (SELECT h, MIN(id) AS id FROM s2 GROUP BY h) k
            ON s2.h = k.h AND s2.id = k.id
        ), tk AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), grams AS (
          SELECT DISTINCT id, array_to_string(toks[i : i + 7], ' ') AS g
          FROM tk, UNNEST(range(1, greatest(len(toks) - 7, 1) + 1)) AS u(i)
        ), bench_g AS (
          SELECT DISTINCT g FROM grams WHERE id < 100
        ), contaminated AS (
          SELECT DISTINCT grams.id FROM grams
          JOIN (SELECT id FROM s3) s USING (id)
          JOIN bench_g USING (g)
        ), s4 AS (
          SELECT id FROM s3
          WHERE id NOT IN (SELECT id FROM contaminated)
        )
        SELECT 1 AS stage_no, 'total' AS stage, COUNT(*) AS n_docs FROM corpus
        UNION ALL
        SELECT 2, 'quality_ok', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'exact_deduped', COUNT(*) FROM s3
        UNION ALL
        SELECT 4, 'decontaminated', COUNT(*) FROM s4
    """,
    tags=("text", "pipeline", "curation"),
))


def q_x_text_ccnet_bands(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet perplexity banding: per-language head/middle/tail terciles of
    LM bits/token (rank-based, id tie-broken — engine-exact). The quality
    gate keeps 'middle'; bands also drive curriculum mixing. exact=False
    (percentile_approx cuts, no per-lang sort) is the 100 TB path,
    pytest-covered.
    """
    docs = _t(spark, sf, "documents")
    return ccnet_bands(docs, "doc_id", "text", "lang", exact=True).select(
        F.col("id").alias("doc_id"), "lang", "bits_per_token", "band"
    )


_register(QuerySpec(
    name="x_text_ccnet_bands",
    survey="north-star: CCNet perplexity banding (quality gate / curriculum)",
    build=q_x_text_ccnet_bands,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), vocab AS (
          SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
        ), weighted AS (
          SELECT term,
                 CAST(round(-log2(cnt / CAST((SELECT SUM(cnt) FROM vocab)
                                             AS DOUBLE)) * 1000000)
                      AS BIGINT) AS w_micro
          FROM vocab
        ), scored AS (
          SELECT tf.id,
                 ((CAST(SUM(tf.tf * w.w_micro) AS BIGINT) * 2
                   + CAST(SUM(tf.tf) AS BIGINT) * 100)
                  // (CAST(SUM(tf.tf) AS BIGINT) * 200)) / 10000.0
                   AS bits_per_token
          FROM tf JOIN weighted w USING (term)
          GROUP BY tf.id
        ), banded AS (
          SELECT s.id AS doc_id, d.lang, s.bits_per_token,
                 NTILE(3) OVER (PARTITION BY d.lang
                                ORDER BY s.bits_per_token, s.id) AS b
          FROM scored s JOIN documents d ON s.id = CAST(d.doc_id AS BIGINT)
        )
        SELECT doc_id, lang, bits_per_token,
               CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                      ELSE 'tail' END AS band
        FROM banded
    """,
    tags=("text", "quality", "ccnet"),
))


def q_x_text_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality score: bits/token under the corpus unigram
    LM, broadcast-vocab join, integer-micro-bit weights for an
    order-independent (engine-deterministic) aggregate.
    """
    docs = _t(spark, sf, "documents")
    return lm_cross_entropy(docs, "doc_id", "text")


_register(QuerySpec(
    name="x_text_lm_score",
    survey="north-star: LM-based quality filtering (unigram cross-entropy)",
    build=q_x_text_lm_score,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS term
          FROM documents
        ), tf AS (
          SELECT id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), vocab AS (
          SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
        ), weighted AS (
          SELECT term,
                 CAST(round(-log2(cnt / CAST((SELECT SUM(cnt) FROM vocab)
                                             AS DOUBLE)) * 1000000)
                      AS BIGINT) AS w_micro
          FROM vocab
        )
        SELECT tf.id,
               CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
               -- integer-space half-up 4dp rounding: (2S + 100n) // (200n)
               -- (double round() straddles exact boundaries like 4.89955)
               ((CAST(SUM(tf.tf * w.w_micro) AS BIGINT) * 2
                 + CAST(SUM(tf.tf) AS BIGINT) * 100)
                // (CAST(SUM(tf.tf) AS BIGINT) * 200)) / 10000.0
                 AS bits_per_token
        FROM tf JOIN weighted w USING (term)
        GROUP BY tf.id
    """,
    tags=("text", "quality", "lm"),
))


def q_x_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language dataset-card rollup: doc/source counts, token and char
    totals, mean quality. Two exchanges — the unavoidable pair for an exact
    COUNT(DISTINCT) alongside plain aggregates (partial agg keyed by
    (lang, source), final by lang); every input is a row-local expression
    fused into the scan stage, so both exchanges carry only aggregated
    rows, never documents. At 100 TB swap in approx_count_distinct to drop
    back to one exchange.

    Averages are exact-integer-sum / count divisions (quality quantized to
    quarter units first): float AVG is partial-agg-fold-order dependent and
    diverges between engines at the last rounded digit, while one double
    division of exact integers is bit-identical everywhere.
    """
    docs = _t(spark, sf, "documents")
    return (
        docs.select(
            "lang",
            "source",
            token_count_ws("text").cast("long").alias("n_tok"),
            F.length("text").cast("long").alias("n_chars"),
            # quality_score is a sum of 0.25 indicators: *4 is an exact int
            (quality_score("text") * 4).cast("long").alias("q4"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_tok").cast("double") / F.count(F.lit(1)))
            .alias("avg_tokens"),
            (F.sum("q4").cast("double") / (F.count(F.lit(1)) * 4))
            .alias("avg_quality"),
        )
    )


_register(QuerySpec(
    name="x_corpus_stats",
    survey="north-star: dataset-card corpus statistics",
    build=q_x_corpus_stats,
    oracle="""
        WITH t AS (
          SELECT lang, source,
                 CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_tok,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(
                   (CASE WHEN len(list_filter(string_split_regex(lower(text),
                          '[^a-z0-9]+'), x -> x <> '')) >= 20
                         THEN 1 ELSE 0 END) +
                   (CASE WHEN length(regexp_replace(text, '[\\sA-Za-z0-9]', '', 'g'))
                          / greatest(length(text), 1) < 0.2
                         THEN 1 ELSE 0 END) +
                   (CASE WHEN len(list_filter(
                           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       x -> x <> ''),
                           x -> list_contains(['the','and','of','to','a','in',
                                               'is','it','that','for'], x)))
                          / greatest(len(list_filter(string_split_regex(lower(text),
                              '[^a-z0-9]+'), x -> x <> '')), 1) >= 0.05
                         THEN 1 ELSE 0 END) +
                   (CASE WHEN CAST(len(list_distinct(list_filter(
                              string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> ''))) AS DOUBLE)
                          / greatest(len(list_filter(string_split_regex(lower(text),
                              '[^a-z0-9]+'), x -> x <> '')), 1) >= 0.3
                         THEN 1 ELSE 0 END) AS BIGINT) AS q4
          FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT source) AS n_sources,
               -- DuckDB SUM(BIGINT) yields HUGEINT, which pandas renders as
               -- float64 ("19525.0" vs "19525") — cast back to BIGINT so the
               -- value hash matches Spark's long
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS avg_tokens,
               CAST(SUM(q4) AS DOUBLE) / (COUNT(*) * 4) AS avg_quality
        FROM t GROUP BY lang
    """,
    tags=("text", "stats"),
))


def q_x_sample_uniform_k(spark: SparkSession, sf: str) -> DataFrame:
    """Exactly-100 deterministic uniform sample: order by md5(salt|id), take
    k. Plans as TakeOrderedAndProject (per-partition top-k heaps, k-row
    driver merge) — no global sort, no full shuffle.
    """
    docs = _t(spark, sf, "documents")
    return uniform_sample_k(docs, "doc_id", 100).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )


_register(QuerySpec(
    name="x_sample_uniform_k",
    survey="north-star: fixed-size uniform sampling / deterministic corpus shuffle",
    build=q_x_sample_uniform_k,
    oracle="""
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
        FROM documents
        ORDER BY md5('uk|' || CAST(doc_id AS VARCHAR)) ASC
        LIMIT 100
    """,
    tags=("sampling",),
))


def q_x_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget sequence packing (context-window assembly): contiguous
    offset packing within (lang, shard) windows, budget 256 whitespace
    tokens, 4 shards. One shuffle — the hash exchange feeding the window;
    shard = id % n bounds every sort partition.
    """
    docs = _t(spark, sf, "documents")
    return pack_sequences(
        docs, "doc_id", "lang", token_count_ws("text"), budget=256, n_shards=4
    )


_register(QuerySpec(
    name="x_pack_sequences",
    survey="north-star: sequence packing for training batches",
    build=q_x_pack_sequences,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS id, lang,
                 CAST(CAST(doc_id AS BIGINT) % 4 AS INT) AS shard,
                 CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_tokens
          FROM documents
        )
        SELECT id, lang, shard, n_tokens,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang, shard
                                               ORDER BY id) - n_tokens)
                          / 256.0) AS BIGINT) AS seq_bin
        FROM toks
    """,
    tags=("sampling", "packing"),
))


def q_x_pack_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Shard delivery manifest over the packed sequences: per
    (lang, shard, seq_bin) doc count, token total, and an md5 digest of
    the sorted member ids — the artifact a training job verifies before
    consuming an export. Composed directly over pack_sequences, the
    manifest groupBy reuses the packing window's exchange.
    """
    docs = _t(spark, sf, "documents")
    packed = pack_sequences(
        docs, "doc_id", "lang", token_count_ws("text"), budget=256, n_shards=4
    )
    return shard_manifest(packed, "lang").select(
        "lang", "shard", "seq_bin",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("total_tokens"),
        "id_digest",
    )


_register(QuerySpec(
    name="x_pack_manifest",
    survey="north-star: shard manifest (verifiable training-data delivery)",
    build=q_x_pack_manifest,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS id, lang,
                 CAST(CAST(doc_id AS BIGINT) % 4 AS INT) AS shard,
                 CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_tokens
          FROM documents
        ), packed AS (
          SELECT id, lang, shard, n_tokens,
                 CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang, shard
                                                 ORDER BY id) - n_tokens)
                            / 256.0) AS BIGINT) AS seq_bin
          FROM toks
        )
        SELECT lang, shard, seq_bin,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY id)) AS id_digest
        FROM packed
        GROUP BY 1, 2, 3
    """,
    tags=("sampling", "packing", "manifest"),
))


def q_x_text_rollhash(spark: SparkSession, sf: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document (polynomial content
    hash, the chunk-dedup primitive) — a pure JVM fold, no UDF; the oracle
    re-computes the identical fold with DuckDB list_reduce.
    """
    docs = _t(spark, sf, "documents")
    return docs.select("doc_id", rolling_fingerprint("text").alias("rollhash"))


_register(QuerySpec(
    name="x_text_rollhash",
    survey="north-star: rolling-hash document fingerprinting",
    build=q_x_text_rollhash,
    oracle="""
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                     list_filter(
                       string_split_regex(regexp_replace(text, '[^ -~]', '', 'g'), ''),
                       ch -> ch <> ''),
                     ch -> CAST(ascii(ch) AS BIGINT))),
                 (acc, x) -> (acc * 31 + x) % 1000000007) AS rollhash
        FROM documents
    """,
    tags=("text", "fingerprint"),
))


def q_x_dedup_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed near-dup pipeline (LSH candidates -> Jaccard verify ->
    cluster -> drop losers) over documents. The oracle re-derives the whole
    chain declaratively: shingle -> salted-min-hash bands -> bucket join ->
    Jaccard over candidates -> recursive-CTE connected components ->
    anti-join of cluster losers. Pipeline idempotence is asserted in tests.
    """
    docs = _t(spark, sf, "documents")
    return near_dup_dedup(
        docs, "doc_id", "text", threshold=0.8, max_doc_freq=None,
        max_bucket_size=None,
    ).select(
        "doc_id", "lang", "source", "n_chars"
    )


_register(QuerySpec(
    name="x_dedup_pipeline",
    survey="north-star: end-to-end near-dup dedup pipeline",
    bench=True,
    build=q_x_dedup_pipeline,
    oracle="""
        WITH RECURSIVE tk AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), shingles AS (
          SELECT DISTINCT id, sh FROM (
            SELECT id, array_to_string(toks[i : i + 2], ' ') AS sh
            FROM tk, UNNEST(range(1, greatest(len(toks) - 2, 1) + 1)) AS u(i)
          )
        ), salted AS (
          SELECT id, hash_idx, md5(CAST(hash_idx AS VARCHAR) || '|' || sh) AS h
          FROM shingles, UNNEST(range(0, 8)) AS s(hash_idx)
        ), sigs AS (
          SELECT id, hash_idx, MIN(h) AS min_hash FROM salted GROUP BY 1, 2
        ), bands AS (
          SELECT id, CAST(hash_idx // 2 AS INT) AS band,
                 string_agg(CAST(hash_idx AS VARCHAR) || ':' || min_hash, '_'
                            ORDER BY hash_idx) AS band_key
          FROM sigs GROUP BY 1, 2
        ), cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
        ), sizes AS (
          SELECT id, COUNT(*) AS n FROM shingles GROUP BY 1
        ), inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cand c
          JOIN shingles sa ON sa.id = c.id_a
          JOIN shingles sb ON sb.id = c.id_b AND sb.sh = sa.sh
          GROUP BY 1, 2
        ), verified AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN sizes za ON za.id = i.id_a
          JOIN sizes zb ON zb.id = i.id_b
          WHERE ROUND(i.n_common / (za.n + zb.n - i.n_common), 4) >= 0.8
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b, id_a FROM verified
        ), reach(id, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
        ), losers AS (
          SELECT id FROM (SELECT id, MIN(lab) AS component FROM reach GROUP BY id)
          WHERE id <> component
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d LEFT JOIN losers l ON CAST(d.doc_id AS BIGINT) = l.id
        WHERE l.id IS NULL
    """,
    tags=("dedup", "pipeline"),
))


def q_x_dedup_cluster_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-card duplication profile: near-dup cluster-size histogram
    (cluster_size, n_clusters, n_docs) over the same verified-pair graph
    as x_dedup_pipeline, with size 1 = unclustered docs. The numbers a
    curation report quotes before committing to the drop.
    """
    docs = _t(spark, sf, "documents")
    return dedup_cluster_stats(
        docs, "doc_id", "text", threshold=0.8, max_doc_freq=None,
        max_bucket_size=None,
    )


_register(QuerySpec(
    name="x_dedup_cluster_stats",
    survey="north-star: dedup dataset card (cluster-size histogram)",
    build=q_x_dedup_cluster_stats,
    oracle="""
        WITH RECURSIVE tk AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), shingles AS (
          SELECT DISTINCT id, sh FROM (
            SELECT id, array_to_string(toks[i : i + 2], ' ') AS sh
            FROM tk, UNNEST(range(1, greatest(len(toks) - 2, 1) + 1)) AS u(i)
          )
        ), salted AS (
          SELECT id, hash_idx, md5(CAST(hash_idx AS VARCHAR) || '|' || sh) AS h
          FROM shingles, UNNEST(range(0, 8)) AS s(hash_idx)
        ), sigs AS (
          SELECT id, hash_idx, MIN(h) AS min_hash FROM salted GROUP BY 1, 2
        ), bands AS (
          SELECT id, CAST(hash_idx // 2 AS INT) AS band,
                 string_agg(CAST(hash_idx AS VARCHAR) || ':' || min_hash, '_'
                            ORDER BY hash_idx) AS band_key
          FROM sigs GROUP BY 1, 2
        ), cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
        ), sizes AS (
          SELECT id, COUNT(*) AS n FROM shingles GROUP BY 1
        ), inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cand c
          JOIN shingles sa ON sa.id = c.id_a
          JOIN shingles sb ON sb.id = c.id_b AND sb.sh = sa.sh
          GROUP BY 1, 2
        ), verified AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN sizes za ON za.id = i.id_a
          JOIN sizes zb ON zb.id = i.id_b
          WHERE ROUND(i.n_common / (za.n + zb.n - i.n_common), 4) >= 0.8
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b, id_a FROM verified
        ), reach(id, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
        ), comp AS (
          SELECT id, MIN(lab) AS component FROM reach GROUP BY id
        ), cl AS (
          SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1
        ), hist AS (
          SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
                 CAST(COUNT(*) AS BIGINT) AS n_clusters
          FROM cl GROUP BY 1
        ), allrows AS (
          SELECT cluster_size, n_clusters FROM hist
          UNION ALL
          SELECT CAST(1 AS BIGINT),
                 (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM comp)
          WHERE (SELECT COUNT(*) FROM documents) > (SELECT COUNT(*) FROM comp)
        )
        SELECT cluster_size, n_clusters,
               cluster_size * n_clusters AS n_docs
        FROM allrows
    """,
    tags=("dedup", "stats", "dataset-card"),
))


def q_x_text_dup_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-internal duplicated-8-gram fraction per document — the
    scalable stand-in for exact-substring dedup (Lee et al. 2022). Shuffles
    carry 32-char gram digests, never text; one agg keyed by digest, one
    digest-co-partitioned flag join, one final per-doc exchange.
    """
    docs = _t(spark, sf, "documents")
    out = duplicated_ngram_fraction(docs, "doc_id", "text", n=8)
    return out.select(
        F.col("id").alias("doc_id"), "n_grams", "n_dup_grams", "dup_fraction"
    )


_register(QuerySpec(
    name="x_text_dup_ngrams",
    survey="north-star: corpus-internal duplicated n-gram signal",
    build=q_x_text_dup_ngrams,
    oracle="""
        WITH tk AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), grams AS (
          SELECT DISTINCT id, array_to_string(toks[i : i + 7], ' ') AS g
          FROM tk, UNNEST(range(1, greatest(len(toks) - 7, 1) + 1)) AS u(i)
        ), freq AS (
          SELECT g, COUNT(*) AS doc_freq FROM grams GROUP BY g
        )
        SELECT grams.id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN freq.doc_freq >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_grams,
               CAST(SUM(CASE WHEN freq.doc_freq >= 2 THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*) AS dup_fraction
        FROM grams JOIN freq USING (g)
        GROUP BY 1
    """,
    tags=("text", "dedup"),
))


def q_x_text_scrub_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring REMOVAL (Lee et al. 2022 / RefinedWeb): tokens
    covered by an 8-gram occurring >= 2 times anywhere in the corpus are
    dropped and each doc is reassembled in order. Gram occurrence count is
    one window over the gram-digest exchange; hot span starts fold to one
    int array per doc and join back at DOC grain; an Arrow-batched
    vectorized scrubber (difference-array coverage + pyarrow binary_join
    reassembly) emits the cleaned corpus — no token-grain shuffle.
    """
    docs = _t(spark, sf, "documents")
    out = scrub_shared_spans(docs, "doc_id", "text", n=8, min_count=2)
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "n_removed", "cleaned_text"
    )


_register(QuerySpec(
    name="x_text_scrub_spans",
    survey="north-star: cross-document duplicated-substring removal",
    build=q_x_text_scrub_spans,
    oracle="""
        WITH tk AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), g AS (
          SELECT id, j AS start,
                 md5(array_to_string(toks[j : j + 7], ' ')) AS gh
          FROM tk, UNNEST(range(1, greatest(len(toks) - 7, 0) + 1)) AS u(j)
        ), hot AS (
          SELECT id, start FROM (
            SELECT id, start, COUNT(*) OVER (PARTITION BY gh) AS cnt FROM g
          ) WHERE cnt >= 2
        ), covered AS (
          SELECT DISTINCT id, p AS pos
          FROM hot, UNNEST(range(start, start + 8)) AS v(p)
        ), tok_rows AS (
          SELECT id, j AS pos, toks[j] AS tok
          FROM tk, UNNEST(range(1, len(toks) + 1)) AS u(j)
        ), kept AS (
          SELECT tr.id, tr.pos, tr.tok
          FROM tok_rows tr LEFT JOIN covered c
            ON tr.id = c.id AND tr.pos = c.pos
          WHERE c.pos IS NULL
        ), reb AS (
          SELECT id, COUNT(*) AS n_kept,
                 string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
          FROM kept GROUP BY id
        )
        SELECT tk.id AS doc_id,
               CAST(len(tk.toks) AS BIGINT) AS n_tokens,
               CAST(len(tk.toks) - COALESCE(reb.n_kept, 0) AS BIGINT)
                 AS n_removed,
               COALESCE(reb.cleaned_text, '') AS cleaned_text
        FROM tk LEFT JOIN reb ON tk.id = reb.id
    """,
    tags=("text", "dedup", "scrub"),
))


def q_x_dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup dedup with quality-aware representative selection: the same
    LSH->Jaccard->cluster chain as x_dedup_pipeline, but each cluster keeps
    its LONGEST member (n_chars desc, id asc tiebreak) instead of the
    smallest id — the production keep rule when near-dups differ by
    truncation or boilerplate stripping.
    """
    docs = _t(spark, sf, "documents")
    # uncapped -> the collapsed-cohort graph (component-identical to the
    # per-id verified pairs; dedup_corpus_best only consumes components)
    edges = collapsed_pair_graph(docs, "doc_id", "text", threshold=0.8)
    kept = dedup_corpus_best(docs, edges, "doc_id", "n_chars")
    return kept.select("doc_id", "lang", "source", "n_chars")


_register(QuerySpec(
    name="x_dedup_keep_best",
    survey="north-star: near-dup dedup, quality-argmax representative",
    build=q_x_dedup_keep_best,
    oracle="""
        WITH RECURSIVE tk AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), shingles AS (
          SELECT DISTINCT id, sh FROM (
            SELECT id, array_to_string(toks[i : i + 2], ' ') AS sh
            FROM tk, UNNEST(range(1, greatest(len(toks) - 2, 1) + 1)) AS u(i)
          )
        ), salted AS (
          SELECT id, hash_idx, md5(CAST(hash_idx AS VARCHAR) || '|' || sh) AS h
          FROM shingles, UNNEST(range(0, 8)) AS s(hash_idx)
        ), sigs AS (
          SELECT id, hash_idx, MIN(h) AS min_hash FROM salted GROUP BY 1, 2
        ), bands AS (
          SELECT id, CAST(hash_idx // 2 AS INT) AS band,
                 string_agg(CAST(hash_idx AS VARCHAR) || ':' || min_hash, '_'
                            ORDER BY hash_idx) AS band_key
          FROM sigs GROUP BY 1, 2
        ), cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
        ), sizes AS (
          SELECT id, COUNT(*) AS n FROM shingles GROUP BY 1
        ), inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cand c
          JOIN shingles sa ON sa.id = c.id_a
          JOIN shingles sb ON sb.id = c.id_b AND sb.sh = sa.sh
          GROUP BY 1, 2
        ), verified AS (
          SELECT i.id_a, i.id_b
          FROM inter i
          JOIN sizes za ON za.id = i.id_a
          JOIN sizes zb ON zb.id = i.id_b
          WHERE ROUND(i.n_common / (za.n + zb.n - i.n_common), 4) >= 0.8
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM verified
          UNION
          SELECT id_b, id_a FROM verified
        ), reach(id, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
        ), comps AS (
          SELECT id, MIN(lab) AS component FROM reach GROUP BY id
        ), losers AS (
          SELECT id FROM (
            SELECT c.id,
                   ROW_NUMBER() OVER (
                     PARTITION BY c.component
                     ORDER BY d.n_chars DESC, c.id ASC) AS rn
            FROM comps c JOIN documents d ON CAST(d.doc_id AS BIGINT) = c.id)
          WHERE rn > 1
        )
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d LEFT JOIN losers l ON CAST(d.doc_id AS BIGINT) = l.id
        WHERE l.id IS NULL
    """,
    tags=("dedup", "pipeline"),
))


def q_x_sim_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN against a STORED cell-assigned corpus — the production
    search posture (r11 promotion of ``ivf_topk_stored`` into the
    oracle'd catalog): the corpus is assigned ONCE to fixed coarse
    centroids, written ``partitionBy(centroid_id)`` (the artifact the
    ingest/refresh machinery maintains at 100 TB), and queries then
    probe their 2 nearest cells WITHOUT ever re-assigning the corpus —
    the probed cell ids land as a static ``IN`` PartitionFilter on the
    store's scan, so a query batch reads ~nprobe/n_cells of the corpus
    from disk (plan-pinned in tests). Deterministic (centroids are the first 8
    vectors, no trained state), and output-identical to the
    re-assign-per-query ``ivf_topk`` formulation the oracle replays —
    the stored round-trip changes WHERE the assignment lives, not what
    it is.
    """
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        ivf_assign,
        ivf_topk_stored,
    )

    emb = _t(spark, sf, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    store = _scratch(sf, "ivf_corpus_cells")
    ivf_assign(emb, centroids, nprobe=1).select(
        "vec_id", "embedding", "centroid_id"
    ).write.mode("overwrite").partitionBy("centroid_id").parquet(store)
    stored = spark.read.parquet(store)
    return ivf_topk_stored(stored, queries_df, centroids, k=10, nprobe=2)


_register(QuerySpec(
    name="x_sim_ivf",
    survey="north-star: ANN IVF, stored partition-pruned corpus search",
    build=q_x_sim_ivf,
    oracle=f"""
        WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS cvec
          FROM embeddings WHERE vec_id < 8
        ), corpus_assign AS (
          SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                     {_COS_SQL.format(a="e.embedding", b="c.cvec")} DESC,
                     c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN cent c)
          WHERE rn = 1
        ), probes AS (
          SELECT query_id, embedding, centroid_id FROM (
            SELECT q.vec_id AS query_id, q.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                     {_COS_SQL.format(a="q.embedding", b="c.cvec")} DESC,
                     c.centroid_id ASC) AS rn
            FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 5)
          WHERE rn <= 2
        ), scored AS (
          SELECT p.query_id, a.vec_id,
                 ROUND({_COS_SQL.format(a="a.embedding", b="p.embedding")}, 4) AS score
          FROM corpus_assign a JOIN probes p USING (centroid_id)
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, vec_id ASC) AS rn
          FROM scored
        )
        SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10
    """,
    tags=("similarity", "ivf"),
))


def q_x_sim_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """One Lloyd k-means iteration over the embedding corpus (SemDeDup-style
    semantic clustering): assign to 8 self-seeded cells, recompute centroids,
    re-assign. Per iteration: zero-shuffle literal-centroid assignment + one
    bounded (cells × dims) aggregation — no N×k join.

    Exactness contract (see kmeans_lloyd): micro-unit integer vectors,
    integer centroid sums, score = double(dot)/sqrt(double(norm)) — every
    comparison runs on bit-identical values in Spark and DuckDB, so the
    int-only output hashes exactly.
    """
    emb = _t(spark, sf, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    out = kmeans_lloyd(emb, seeds, n_iter=1)
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("centroid_id").cast("int").alias("centroid_id"),
    )


_register(QuerySpec(
    name="x_sim_kmeans",
    survey="north-star: k-means corpus clustering (SemDeDup cell step)",
    build=q_x_sim_kmeans,
    oracle="""
        WITH m AS (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
          FROM embeddings
        ), c0 AS (
          SELECT vec_id AS cid, mv AS cv FROM m WHERE vec_id < 8
        ), s0 AS (
          SELECT m.vec_id, c0.cid,
                 CAST(list_aggregate(list_transform(list_zip(m.mv, c0.cv),
                       p -> p[1] * p[2]), 'sum') AS DOUBLE)
                   / sqrt(CAST(list_aggregate(list_transform(c0.cv,
                       x -> CAST(x AS HUGEINT) * x), 'sum') AS DOUBLE)) AS score
          FROM m CROSS JOIN c0
        ), a0 AS (
          SELECT vec_id, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY score DESC, cid ASC) AS rn FROM s0)
          WHERE rn = 1
        ), sums AS (
          SELECT a0.cid, p.pos, SUM(m.mv[p.pos]) AS s
          FROM a0 JOIN m USING (vec_id),
               UNNEST(generate_series(1, len(m.mv))) AS p(pos)
          GROUP BY a0.cid, p.pos
        ), c1 AS (
          SELECT cid, list(CAST(s AS BIGINT) ORDER BY pos) AS cv
          FROM sums GROUP BY cid
        ), s1 AS (
          SELECT m.vec_id, c1.cid,
                 CAST(list_aggregate(list_transform(list_zip(m.mv, c1.cv),
                       p -> p[1] * p[2]), 'sum') AS DOUBLE)
                   / sqrt(CAST(list_aggregate(list_transform(c1.cv,
                       x -> CAST(x AS HUGEINT) * x), 'sum') AS DOUBLE)) AS score
          FROM m CROSS JOIN c1
        )
        SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(cid AS INT) AS centroid_id
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY score DESC, cid ASC) AS rn FROM s1)
        WHERE rn = 1
    """,
    tags=("similarity", "kmeans", "clustering"),
))


def q_x_dedup_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end to end: k-means the embedding
    corpus into cells, enumerate cosine near-dup pairs WITHIN each cell
    only, cluster the pair graph, keep one representative per cluster.
    The cell step is what makes semantic dedup scale — pairs enumerate
    WITHIN a learned cell only (one shuffle on cell id into the blocked
    Arrow scorer), never a cross product; the kmeans pass itself is
    zero-shuffle assignment + one bounded aggregation per iteration.

    Cell rule: k = ceil(N / 128) (floor 8) — a FIXED target cell size, so
    total in-cell pair work is LINEAR in the corpus (~64 pair scores per
    doc). The earlier k = sqrt(N) rule balanced assignment against
    pairing at ~N^1.5 each — the flat-kmeans optimum, and exactly the
    9.4x sf1->sf10 ratio the scaling sweep caught. With k now linear in
    N, assignment rides the two-level ROUTED scorer (route_probe=2,
    k1 = ceil(sqrt(k)) representative centroids; see
    similarity._assign_numpy_routed): O(N·sqrt(k)) per pass instead of
    O(N·k), deterministic and replayed level-by-level by the oracle.
    Routing is approximate ONLY across cell boundaries — a near-dup PAIR
    routes on nearly identical scores and lands in one cell together
    (pinned by the planted-pair recall test), which is the recall that
    matters for dedup.
    """
    emb = _t(spark, sf, "embeddings")
    k = max(8, math.ceil(emb.count() / 128))
    seeds = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    # r14: the final assignment pass CARRIES the embedding (keep_cols)
    # instead of being joined back to emb by vec_id — the join-back
    # planned as a corpus-scale broadcast of the assignment side
    # (guide §8). Row-wise identical frame for the pair scorer.
    cells = kmeans_lloyd(
        emb, seeds, n_iter=1, route_probe=2, keep_cols=("embedding",)
    )
    # collapse="star": an identical-vector FLOOD (boilerplate corpus)
    # collapses to one rep before pair scoring — f copies cost f star
    # edges instead of f²/2 in-cell cosines, and the components the keep
    # rule consumes are provably unchanged (r11; kill-/component-parity
    # pinned in tests, plus the 400-copy flood oracle-parity test). The
    # rep/star branches share the (cell, identity) window exchange via
    # ReuseExchange, so the assigned corpus is still computed once per
    # job. The fixed-cell rule (k = n/128) bounds expected cell size by
    # construction; the only unbounded-cell mechanism is the identity
    # flood, which the collapse removes before pairing.
    pairs = embedding_near_dup_pairs(
        cells, threshold=0.30, block_col="centroid_id", collapse="star",
    )
    kept = dedup_corpus(emb, pairs, "vec_id")
    return kept.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("label").cast("int").alias("label"),
    )


def _assign_score_sql(mv: str, cv: str) -> str:
    """Exact-integer assignment score — double(dot)/sqrt(double(norm)) —
    the DuckDB replay of similarity._assign_exact's scoring rule (HUGEINT
    products so centroid-sum x centroid-sum dots can't overflow)."""
    return (
        f"CAST(list_aggregate(list_transform(list_zip({mv}, {cv}),"
        f" p -> CAST(p[1] AS HUGEINT) * p[2]), 'sum') AS DOUBLE)"
        f" / sqrt(CAST(list_aggregate(list_transform({cv},"
        f" x -> CAST(x AS HUGEINT) * x), 'sum') AS DOUBLE))"
    )


def _routed_assign_sql(tag: str, cents: str, probe: int = 2, m: str = "m") -> str:
    """CTE block replaying one two-level ROUTED assignment pass
    (similarity._assign_numpy_routed) over centroid table ``cents``
    (cid, cv) for the point set ``m`` (a CTE with vec_id, mv — defaults
    to the full micro-unit corpus; pass a restricted CTE to assign only
    a slice, e.g. the stored corpus of the incremental entry): reps =
    the k1 smallest cids, fine->rep map with self-override, per-point
    top-``probe`` reps, argmax over the probed cells' centroids. Emits
    CTEs r{tag}, rm{tag}, pr{tag}, a{tag}; a{tag} is (vec_id, cid).
    Ties everywhere (score DESC, cid ASC) — the numpy path's
    stable-argsort / min-cid rule. Requires a ``kk1`` CTE with the
    routing width: the builder's default is ceil(sqrt(#ACTUAL
    centroids)) (``_route_plan`` over the collected dict), so kk1 must
    count the centroid table itself — a formula over the nominal k
    diverges when the corpus is smaller than the k floor (n < 8)."""
    return f"""r{tag} AS MATERIALIZED (
          SELECT cid, cv FROM {cents}
          QUALIFY ROW_NUMBER() OVER (ORDER BY cid) <= (SELECT k1 FROM kk1)
        ), rm{tag} AS MATERIALIZED (
          SELECT fcid, CASE WHEN fcid IN (SELECT cid FROM r{tag})
                            THEN fcid ELSE brcid END AS rcid
          FROM (
            SELECT f.cid AS fcid, r.cid AS brcid,
                   ROW_NUMBER() OVER (PARTITION BY f.cid ORDER BY
                     {_assign_score_sql("f.cv", "r.cv")} DESC, r.cid ASC) AS rn
            FROM {cents} f CROSS JOIN r{tag} r)
          WHERE rn = 1
        ), pr{tag} AS MATERIALIZED (
          SELECT vec_id, rcid FROM (
            SELECT m.vec_id, r.cid AS rcid,
                   ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
                     {_assign_score_sql("m.mv", "r.cv")} DESC, r.cid ASC) AS rn
            FROM {m} AS m CROSS JOIN r{tag} r)
          WHERE rn <= {probe}
        ), a{tag} AS MATERIALIZED (
          SELECT vec_id, cid FROM (
            SELECT m.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY m.vec_id ORDER BY
                     {_assign_score_sql("m.mv", "c.cv")} DESC, c.cid ASC) AS rn
            FROM {m} AS m JOIN pr{tag} USING (vec_id)
                   JOIN rm{tag} ON rm{tag}.rcid = pr{tag}.rcid
                   JOIN {cents} c ON c.cid = rm{tag}.fcid)
          WHERE rn = 1
        )"""


_register(QuerySpec(
    name="x_dedup_semdedup",
    survey="north-star: SemDeDup semantic dedup (kmeans cells -> in-cell near-dup -> drop)",
    bench=True,
    build=q_x_dedup_semdedup,
    oracle=f"""
        WITH RECURSIVE m AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
          FROM embeddings
        ), kk AS MATERIALIZED (
          SELECT greatest(8, CAST(ceil(COUNT(*) / 128.0) AS BIGINT)) AS k
          FROM embeddings
        ), c0 AS MATERIALIZED (
          SELECT vec_id AS cid, mv AS cv FROM m
          WHERE vec_id < (SELECT k FROM kk)
        ), kk1 AS MATERIALIZED (
          -- routing width from the ACTUAL seed-table cardinality
          -- (min(k, n) on dense ids), matching _route_plan's
          -- len(cents)-based default at every scale incl. n < 8
          SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k1 FROM c0
        ), {_routed_assign_sql("0", "c0")}, sums AS (
          SELECT a0.cid, p.pos, SUM(m.mv[p.pos]) AS s
          FROM a0 JOIN m USING (vec_id),
               UNNEST(generate_series(1, len(m.mv))) AS p(pos)
          GROUP BY a0.cid, p.pos
        ), newc AS (
          SELECT cid, list(CAST(s AS BIGINT) ORDER BY pos) AS cv
          FROM sums GROUP BY cid
        ), c1 AS MATERIALIZED (
          SELECT c0.cid, COALESCE(n.cv, c0.cv) AS cv
          FROM c0 LEFT JOIN newc n USING (cid)
        ), {_routed_assign_sql("1", "c1")}, pairs AS MATERIALIZED (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM (
            SELECT ea.vec_id, ea.embedding, aa.cid
            FROM embeddings ea JOIN a1 aa USING (vec_id)) a
          JOIN (
            SELECT eb.vec_id, eb.embedding, ab.cid
            FROM embeddings eb JOIN a1 ab USING (vec_id)) b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 4)
                >= 0.30
        ), edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION
          SELECT b_id, a_id FROM pairs
        ), reach(id, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
        ), losers AS (
          SELECT id FROM (SELECT id, MIN(lab) AS component FROM reach GROUP BY id)
          WHERE id <> component
        )
        SELECT CAST(e.vec_id AS BIGINT) AS vec_id, CAST(e.label AS INT) AS label
        FROM embeddings e LEFT JOIN losers l ON e.vec_id = l.id
        WHERE l.id IS NULL
    """,
    tags=("dedup", "similarity", "pipeline"),
))




def q_x_dedup_flood_collapse(spark: SparkSession, sf: str) -> DataFrame:
    """Flood-shaped near-dup pairs — the bench entry that exercises the
    ``collapse="auto"`` FLOOD branch of ``embedding_near_dup_pairs``
    (VERDICT r14 item 4: the exact-expansion path had no measurable
    bench presence, so its shared-window persist could neither win nor
    regress visibly).

    Construction (pure expressions over the stored embeddings — no
    side data): vectors block into runs of 96 consecutive ids
    (``cell = vec_id div 96``); within each cell, the 3/4 of rows with
    ``vec_id % 4 != 0`` collapse onto one content-free canonical vector
    (every element = cell + 1 — constant within the cell, distinct
    across cells), modeling the boilerplate-embedding flood SURVEY §7.4
    describes; the remaining 1/4 keep their stored embedding. The
    largest identity group per cell is therefore ~72 >= collapse_min
    (64) at every benched SF, so the measured gate fires, pairs are
    scored at rep grain, and the exact expansion fans them back out —
    output pair-for-pair identical to the direct plan, which is exactly
    what the declarative oracle computes.

    Scale shape: one stats pass (map-combined, gate), one hash(cell)
    exchange into the identity window (persisted once — r15 shares the
    windowed frame across the 5 expansion readers), rep-grain blocked
    scoring, then broadcast-bounded expansion joins; the f²/2 flood
    cosines are never computed.
    """
    emb = _t(spark, sf, "embeddings")
    cell = F.expr("vec_id div 96").cast("int")
    canon = F.transform(
        F.col("embedding"),
        lambda _: (cell.cast("double") + F.lit(1.0)).cast("float"),
    )
    flooded = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        cell.alias("cell"),
        F.when((F.col("vec_id") % 4) != 0, canon)
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    return embedding_near_dup_pairs(flooded, threshold=0.30, block_col="cell")


_register(QuerySpec(
    name="x_dedup_flood_collapse",
    survey="north-star: identity-flood guard (measured collapse gate + exact expansion)",
    bench=True,
    build=q_x_dedup_flood_collapse,
    oracle=f"""
        WITH f AS MATERIALIZED (
          SELECT CAST(vec_id AS BIGINT) AS vec_id,
                 CAST(vec_id // 96 AS INT) AS cell,
                 CASE WHEN vec_id % 4 <> 0
                      THEN list_transform(embedding,
                          x -> CAST(CAST(vec_id // 96 AS DOUBLE) + 1.0
                                    AS FLOAT))
                      ELSE embedding END AS embedding
          FROM embeddings
        )
        SELECT a_id, b_id, score FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 4) AS score
          FROM f a JOIN f b
            ON a.cell = b.cell AND a.vec_id < b.vec_id)
        WHERE score >= 0.30
    """,
    tags=("dedup", "embedding", "flood"),
))
