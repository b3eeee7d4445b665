"""Plan-shape regression guards. Value tests can't catch a silent
CartesianProduct or a doubled shuffle — these assert the physical plans the
scale design depends on (the identity-fallback cartesian was exactly this
class of bug)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.plans.catalog import CATALOG

_SPECS = {s.name: s for s in CATALOG}


@pytest.fixture(autouse=True)
def _fresh_cache(spark):
    # Hermetic plans: a cached subtree left by an earlier test (builders
    # persist shared intermediates and CacheManager keys on the canonical
    # plan) substitutes InMemoryTableScan nodes whose fill plan renders
    # with fresh plan_ids per consumer, defeating the dedup in _shuffles.
    spark.catalog.clearCache()
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def catalog_plans(spark, sf_dir) -> dict[str, str]:
    """Executed plan of every catalog entry, built once for the
    catalog-wide plan sweeps (each build runs the entry's eager work)."""
    spark.catalog.clearCache()
    return {spec.name: _plan(spec.build(spark, sf_dir)) for spec in CATALOG}


def _shuffles(plan: str) -> int:
    # Count DISTINCT exchanges: a persisted subtree's cache-fill exchange is
    # rendered once per InMemoryTableScan consumer but executes once — the
    # plan string repeats the same [plan_id=N] line (seen with the cached
    # MinHash band index, 3 rendered vs 2 physical).
    import re

    ids = re.findall(
        r"Exchange (?:hash|range)partitioning.*?\[plan_id=(\d+)\]", plan
    )
    unmarked = len(
        [
            m
            for m in re.finditer(r"Exchange (?:hash|range)partitioning", plan)
        ]
    ) - len(ids)
    return len(set(ids)) + unmarked


@pytest.mark.parametrize(
    "name,max_shuffles",
    [
        ("flagship_segments", 1),
        ("a3_ordered_distinct", 1),
        # 2 = the shared agg/window repartition (reused by the join's
        # primary side) + the profile side's join exchange; the old budget
        # of 1 relied on a toy-scale broadcast that misrepresents 100 TB
        ("j2_w4_primary_priority", 2),
        ("x_sim_ivf", 1),
        # 4 STATIC = assignment join by id + the losers distinct + the
        # r11 flood-collapse identity window's hash(cell) exchange
        # RENDERED TWICE (rep branch + star branch, distinct plan_ids
        # pre-AQE; physically the second render is a ReusedExchange —
        # pinned by test_star_collapse_reuses_identity_exchange). The
        # blocked scorer adds NO exchange of its own: the window
        # partitions by the cell alone (identity groups fold over the
        # __vkey peer range-frame), so groupBy(cell).applyInPandas
        # consumes the window's partitioning and sort directly.
        # Executed count: 3 — same wire crossings as before the guard.
        ("x_dedup_semdedup_inc", 4),
        # 7 = ONE corpus-grain exchange (the (origin, cell) occupancy fold
        # off the zero-shuffle assignment) + 6 on post-aggregate frames of
        # <= 2 x k rows (the drift comparison grid); embeddings never
        # cross the wire
        ("x_dedup_semdedup_drift", 7),
        ("x_dedup_simhash", 1),
        # 3 = minhash groupBy(id) + bucket groupBy(band,key) + pair
        # distinct. The old self-join shape counted 2 but exchanged the
        # whole band index twice (or persisted it); the bucket-expansion
        # shape moves fewer bytes per pair produced.
        ("x_dedup_minhash", 3),
        ("j3_validation_join", 3),
        ("x_text_repetition", 0),
        ("x_text_chunking", 0),
        ("x_sample_mixture", 0),
        # 2 = one (doc, eval-item) pair aggregate per mode (exact 8-gram,
        # fuzzy 4-gram); the fuzzy Jaccard denominator rides the exploded
        # rows as one long and folds in the same aggregate — never a
        # doc-grain size join; the union adds none
        ("x_text_contamination", 2),
        # 8 = two independent 4-exchange mode subtrees (exact + capped)
        # under one union; the union itself must add none
        ("x_dedup_jaccard_capped", 8),
        # 3 = the vocabulary-grain df groupBy + the top-k window's id
        # exchange + the r14 scale-gated fan_out REPARTITION_BY_NUM ahead
        # of the tokenize/tf fold (keyed by id; a no-op once the scan is
        # already parallel — interleaved A/B: 1.27 -> 1.09 s at sf0.1,
        # tie at sf1). tf itself still folds row-locally (it's a
        # per-document quantity — no (id, term) exchange over raw token
        # rows); unlike minhash's, this repartition feeds a term-grain
        # aggregate so it cannot collapse into a downstream exchange.
        ("x_text_tfidf", 3),
        ("x_text_entropy", 0),
        ("x_sample_split", 0),
        ("x_sample_stratified", 0),
        ("x_sample_uniform_k", 0),
        ("x_corpus_stats", 2),
        ("x_text_lm_score", 3),
        ("x_pack_sequences", 1),
        # 3 = the simhash vote groupBy(id) + the band-bucket groupBy +
        # the pair distinct (same budget shape as x_dedup_minhash); pair
        # expansion and the Hamming verify are JVM-side in the bucket
        # projection, never a join
        ("x_dedup_simhash_pairs", 3),
        # temperature recipe = two tiny count aggregates at plan-build
        # time; the corpus itself passes through one pushed-down filter
        ("x_sample_temperature", 1),
        # 3 = per-user collect + pair-count groupBy + the tiny
        # per-prev-type normalization window
        ("a_event_transitions", 3),
        # 2 = token-count groupBy(term) + TakeOrderedAndProject's
        # single-row vocab agg; scoring is a narrow broadcast fold,
        # no doc-id exchange
        ("x_text_vocab", 2),
        # 3 = line-digest df groupBy + the position-sorted reassembly
        # groupBy(id) + the id-grain left join back to per-doc totals;
        # the boilerplate filter itself is a broadcast anti-join (no
        # corpus re-shuffle)
        ("x_text_line_dedup", 3),
        # the Gopher gate is a pure narrow projection
        ("x_text_gopher_rules", 0),
        # one exchange per grain family (rollup/gsets/cube); the lattice
        # expansion is the map-side Expand, never an extra shuffle
        ("a_multi_grain", 3),
    ],
)
def test_shuffle_budget(spark, sf_dir, name, max_shuffles):
    plan = _plan(_SPECS[name].build(spark, sf_dir))
    assert _shuffles(plan) <= max_shuffles, plan


def test_multi_grain_expands_map_side(spark, sf_dir):
    """The merged multi-grain entry keeps each family's documented scale
    shape: three Expand operators (grain duplication BEFORE the exchange,
    where the partial aggregate still combines map-side), one per
    ROLLUP / GROUPING SETS / CUBE branch."""
    plan = _plan(_SPECS["a_multi_grain"].build(spark, sf_dir))
    assert plan.count("Expand") >= 3, plan
    assert "partial_count" in plan or "partial" in plan, plan


def test_no_cartesian_anywhere(catalog_plans):
    """No catalog plan may contain a cartesian product; nested-loop joins
    only where designed (brute-force ANN broadcasts the tiny query side)."""
    # exact-scoring baselines: corpus never shuffles, the tiny query side
    # broadcasts (quantized shares brute-force's plan, only the stored
    # representation differs); x_text_vocab broadcasts a ONE-ROW vocabulary
    # array to every doc (scalar-dimension crossJoin — the alternative is
    # re-shuffling the whole token stream by doc id)
    allowed_bnlj = {
        "x_sim_bruteforce",
        "x_sim_quantized",
        "x_sim_rerank",
        "x_text_vocab",
        # one-row broadcast map / total (scalar-dimension crossJoins)
        "x_text_token_ids",
        "scale_skew_report",
        "a_hll_mergeable",  # one-row union sketch x one-row exact total
        # 3 quantile probes x the 1024-row merged histogram (cum >= k is
        # inherently non-equi; both sides are sketch-grain, never data)
        "a_hist_quantiles",
        "x_text_bm25",  # ONE-ROW corpus stats (N/avgdl/df) x every doc
        # sources x corpus-bins comparison grid: a broadcast product of two
        # POST-AGGREGATE frames, both orders of magnitude under the corpus
        "x_corpus_drift",
        "x_dedup_semdedup_drift",  # same grid shape at (origin x cell) grain
    }
    for name, plan in catalog_plans.items():
        assert "CartesianProduct" not in plan, name
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_identity_fallback_not_cartesian(spark):
    from automotive_data_pipeline_demo_spark.streaming.identity import (
        resolve_identities_batch,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        v = spark.createDataFrame(
            [(1, "s1", "a@b.co", "555", datetime(2025, 1, 1, 10))],
            "visitor_id long, session_id string, email string, phone string,"
            " first_seen timestamp",
        )
        l = spark.createDataFrame(
            [(10, None, "a@b.co", None, datetime(2025, 1, 1, 11))],
            "lead_id long, session_id string, email string, phone string,"
            " lead_submitted_at timestamp",
        )
        plan = _plan(resolve_identities_batch(v, l))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_scan_pruning_reaches_parquet(spark, sf_dir):
    """p2's filter+projection must reach the scan: pruned ReadSchema and
    pushed filters, not a read-everything-then-filter plan."""
    plan = _plan(_SPECS["p2_quality_filter"].build(spark, sf_dir))
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters: [" in scan
    assert "IsNotNull" in scan.split("PushedFilters:")[1][:200]
    read_schema = scan.split("ReadSchema:")[1][:400]
    assert "l_comment" not in read_schema  # untouched wide column pruned


def test_view_dag_no_cartesian(spark, tmp_path):
    """The six-view DAG (EP2) must plan without cartesian products even when
    broadcast is unavailable, and within per-view shuffle budgets (one
    exchange per key change)."""
    from automotive_data_pipeline_demo_spark.plans.views import build_view_dag
    from tests.fixtures import write_fixtures

    paths = write_fixtures(str(tmp_path))
    cm = spark.read.parquet(paths["customer_master"])
    vs = spark.read.parquet(paths["vehicle_sales"])
    budgets = {
        "customer_profiles": 1,
        "customer_vehicle_history": 2,
        "customer_segments": 4,
        "dealership_customer_profiles": 3,
        "validated_vehicle_sales": 4,
        "data_privacy_status": 1,
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df in build_view_dag(cm, vs, "2025-06-01").items():
            plan = _plan(df)
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert _shuffles(plan) <= budgets[name], (name, _shuffles(plan))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_single_partition_only_on_calendar_grain(catalog_plans):
    """Exchange SinglePartition collapses all data onto one task — a scale
    killer unless what crosses it is bounded by something other than corpus
    size. Two bounded shapes are allowed:

    - a global aggregate whose exchange child is a PARTIAL HashAggregate
      (one pre-aggregated row per upstream partition crosses — the
      canonical count/sum-everything shape, e.g. funnel stage totals);
    - entries on the reduced-grain allow-list, where the frame upstream
      of the exchange is one row per calendar unit (st8's day-grain
      rolling window) or one row per aggregated entity key whose
      cardinality is orders of magnitude under the fact corpus
      (a_ltv_deciles ranks the customer-grain LTV table — NTILE needs a
      total order; at extreme customer cardinality the entry's docstring
      prescribes threshold assignment instead).
    """
    allowed = {
        "st8_rolling_window",
        "a_metric_anomaly",  # trailing window over the day-grain rollup
        "a_ltv_deciles",
        # cumulative over the merged 1024-bin histogram: the exchange
        # carries the fixed-size sketch, never data rows
        "a_hist_quantiles",
    }
    for name, plan in catalog_plans.items():
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            child = lines[i + 1] if i + 1 < len(lines) else ""
            fed_by_partial = "partial_" in child and "HashAggregate" in child
            assert fed_by_partial or name in allowed, (
                f"{name}: SinglePartition not fed by a partial "
                f"aggregate\n{ln}\n{child}"
            )


def test_star_collapse_reuses_identity_exchange(spark, sf_dir):
    """The r11 flood-collapse plan contract (no-new_col form): star
    mode's rep-enumeration and star-edge branches both read the (block,
    vector-identity) window output, and Spark must serve the second read
    from a ReusedExchange of the first — NOT recompute the input corpus.
    The collapsed path projects both branches to one minimal identical
    column set exactly so the exchange subtrees canonicalize equal (a
    single stray payload column forks the scan: observed pre-fix,
    'label' riding only into the scorer branch). Executed (AQE-final)
    plan, not the static render. The new_col form CANNOT share this way
    (its branches prune different window columns) and uses a persist
    instead — see
    test_star_collapse_shares_marked_cache_incremental below."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.withColumn("cell", (F.col("vec_id") % 5).cast("int"))
    pairs = embedding_near_dup_pairs(
        df, threshold=0.3, block_col="cell", collapse="star"
    )
    pairs.write.format("noop").mode("overwrite").save()
    pairs.collect()
    plan = _plan(pairs)
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan, plan
    # the reused node is the identity window's (cell, __vkey) exchange
    reused = [ln for ln in plan.splitlines() if "ReusedExchange" in ln]
    assert any("__vkey" in ln for ln in reused), plan


def test_star_collapse_shares_marked_cache_incremental(spark, sf_dir):
    """Star mode WITH new_col lazily persists the windowed frame — the
    branches' pruned window subtrees differ (__repnew vs __nb/__rep),
    ReuseExchange cannot fire, and unpinned the whole
    scan -> assignment -> exchange -> window chain executed once per
    branch. Contract: both union branches read InMemoryTableScan,
    the single hash(block) exchange + window live INSIDE the cached
    relation, and the blocked scorer consumes the cache's partitioning
    without a new exchange. The evaluation-count bound is pinned by
    test_star_collapse_single_evaluation_incremental's accumulator."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = emb.withColumn("cell", (F.col("vec_id") % 5).cast("int")).withColumn(
        "is_new", F.col("vec_id") >= 1000
    )
    pairs = embedding_near_dup_pairs(
        df, threshold=0.3, block_col="cell", new_col="is_new",
        collapse="star",
    )
    pairs.write.format("noop").mode("overwrite").save()
    pairs.collect()
    plan = _plan(pairs)
    assert "isFinalPlan=true" in plan
    # both union branches are served from the cache
    assert plan.count("InMemoryTableScan") >= 2, plan
    # the scorer branch reads the cache directly — no fresh exchange
    # between the cache scan and FlatMapGroupsInPandas (the cached
    # partitioning is hash(block), which groupBy(block) consumes)
    scorer_at = plan.index("FlatMapGroupsInPandas")
    cache_at = plan.index("InMemoryTableScan")
    assert scorer_at < cache_at, plan
    assert "Exchange" not in plan[scorer_at:cache_at], plan
    release_caches(pairs)


# r15 (VERDICT r14 item 5): plan pins for the fan_out parallelism
# floor. Only tfidf's extra exchange was plan-pinned in r14; the rest of
# the family relied on builder A/Bs alone, so a later round could
# silently lose the floor (or keep paying it after it stops winning).
# At bench scale every source table is one small parquet file, the
# scan-parallelism gate sees 1 < defaultParallelism, and the keyed
# repartition MUST appear (REPARTITION_BY_NUM shuffle origin); the
# no-op side of the gate is pinned by test_fan_out_gate_scale_adaptive.
_FLOOR_PINNED = [
    "x_dedup_minhash",        # shingle+hash fold (dedup_text.shingle_arrays)
    "x_text_dup_ngrams",      # n-gram extraction regex
    "x_text_contamination",   # gram pass
    "x_dedup_jaccard_capped", # tokenize pass (same helper as minhash)
    "x_sim_bruteforce",       # per-row cosine fold vs the query side
    "x_text_tfidf",           # tokenize/tf fold (r14 pin, kept)
]


@pytest.mark.parametrize("name", _FLOOR_PINNED)
def test_fan_out_floor_present_at_bench_scale(spark, sf_dir, name):
    plan = _plan(_SPECS[name].build(spark, sf_dir))
    assert "REPARTITION_BY_NUM" in plan, plan


def test_fan_out_floor_in_pipeline_operators(spark, sf_dir):
    """x_dedup_pipeline / x_dedup_simhash_dedup run their iterative
    stage eagerly at build time, so the returned frame is only the
    residual final join — their fan_out sites must be pinned on the
    library operators the builders execute (the shingle pass feeding
    MinHash candidates; the simhash fingerprint fold)."""
    from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
        shingle_arrays,
        simhash,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert "REPARTITION_BY_NUM" in _plan(
        shingle_arrays(docs, "doc_id", "text", 3)
    )
    assert "REPARTITION_BY_NUM" in _plan(
        simhash(docs, "doc_id", "text", 32)
    )


def test_fan_out_gate_scale_adaptive(spark):
    """The floor is a GATE, not a constant: a frame already at (or
    above) the target parallelism passes through untouched — at 100 TB
    the scan has thousands of splits and fan_out must add NO exchange —
    while an under-parallel frame gains the keyed repartition."""
    from automotive_data_pipeline_demo_spark.functions.parallelism import (
        fan_out,
    )

    # at least as many partitions as the default target on any box
    wide = spark.range(
        0, 1000, 1, max(64, spark.sparkContext.defaultParallelism)
    )
    assert fan_out(wide, key="id") is wide

    narrow = spark.range(0, 1000, 1, 1)  # single-split scan shape
    out = fan_out(narrow, key="id")
    assert out is not narrow
    plan = _plan(out)
    assert "REPARTITION_BY_NUM" in plan, plan
    # keyed: hash partitioning on the key, not round-robin (no
    # sort-before-repartition)
    assert "hashpartitioning(id" in plan, plan


def test_flood_collapse_shares_windowed_frame(spark):
    """r15 (VERDICT r14 item 4): when the auto gate's flood branch
    fires, the call continues into the exact expansion and FIVE
    expansion readers (reps, mem x2, ga, gb) consume the windowed
    frame. Pre-r15 only the keyed INPUT was cached — each reader re-ran
    sort+window over it. New contract: the windowed frame itself is
    persisted and eager-filled, every reader is an InMemoryTableScan,
    and the keyed pin is released once the fill completes (exactly ONE
    held cache — cache pressure must not double)."""
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        embedding_near_dup_pairs,
    )
    from automotive_data_pipeline_demo_spark.functions.caching import (
        release_caches,
    )

    flood = [(i, 0, [1.0, 2.0, 3.0]) for i in range(70)]  # >= collapse_min
    spread = [(100 + i, i % 2, [1.0, float(i), 3.0]) for i in range(20)]
    base = spark.createDataFrame(
        flood + spread, "vec_id long, cell int, embedding array<double>"
    )
    pairs = embedding_near_dup_pairs(base, threshold=0.3, block_col="cell")
    held = getattr(pairs, "_graft_persisted", [])
    assert len(held) == 1 and held[0].is_cached
    pairs.write.format("noop").mode("overwrite").save()
    pairs.collect()
    plan = _plan(pairs)
    assert "isFinalPlan=true" in plan
    assert plan.count("InMemoryTableScan") >= 4, plan
    release_caches(pairs)
    assert not held[0].is_cached
