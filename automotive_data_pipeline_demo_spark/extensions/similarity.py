"""Approximate-nearest-neighbor search over an embedding column.

Brute-force cosine top-k is the exact baseline: one broadcast of the query
vectors, a narrow map over the corpus (dot products via JVM higher-order
functions — no Python in the hot path), then per-query top-k via window.

The scale path is sign-LSH bucketing: project every vector onto ``n_planes``
deterministic pseudo-random hyperplanes, bucket by the sign bit-string, and
only score query-corpus pairs sharing a bucket. At 100 TB the bucket join
replaces the corpus broadcast/cross-product; recall is tunable via number of
planes and probing (``multi_probe`` flips low-confidence bits per query).
Hyperplanes derive from md5 of (plane, dim) so every run/engine agrees
without shipping a random state.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.functions.caching import (
    eager_fill,
    register_caches,
)
from automotive_data_pipeline_demo_spark.functions.parallelism import fan_out

_log = logging.getLogger(__name__)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (JVM-side fold)."""
    a = F.transform(a, lambda x: x.cast("double"))
    b = F.transform(b, lambda x: x.cast("double"))
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` has (query_id_col, vec_col). The query side is broadcast
    (queries are few; corpus is the 100 TB side), the score is a narrow
    projection, and top-k per query is a window over per-query partitions.
    Output: (query_id, vec_id, score) — score rounded to 4 dp, ties broken
    by vec_id for determinism.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    # fan_out: the per-row cosine fold against every query is the
    # dominant narrow stage; parallelism floor on a one-split scan,
    # no-op at scale (r14)
    scored = fan_out(
        corpus.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec")
        ),
        key="vec_id",
    ).crossJoin(q).select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity_col(F.col("c_vec"), F.col("q_vec")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _plane_component(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5)."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", plane.cast("string"), dim.cast("string"))), 1, 8),
        16,
        10,
    ).cast("double")
    return h / F.lit(4294967296.0) - 0.5


def sign_lsh_bucket(vec: Column, n_planes: int = 8) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane, packed into a string."""
    v = F.transform(vec, lambda x: x.cast("double"))

    def plane_fn(p: int):
        # one-arg closure (a two-arg lambda would be read as (element, index))
        def comp(d: Column) -> Column:
            return _plane_component(F.lit(p), d)

        return comp

    bits = []
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                v,
                F.transform(F.sequence(F.lit(0), F.size(v) - 1), plane_fn(p)),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _flip_bit(bucket: Column, pos: int) -> Column:
    """Bucket string with the bit at ``pos`` flipped (multi-probe neighbor)."""
    flipped = F.when(F.substring(bucket, pos + 1, 1) == "1", "0").otherwise("1")
    return F.concat(
        F.substring(bucket, 1, pos), flipped, F.substring(bucket, pos + 2, 32767)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: score only pairs sharing a sign-LSH bucket.

    Same output shape as :func:`brute_force_topk`; recall < 1.0 by design.
    The equi-join on bucket replaces the cross product — at scale this is
    the difference between a broadcast-everything scan and a co-partitioned
    join on a 2^n_planes-way key.

    ``multi_probe`` > 0 additionally probes, per query, every bucket at
    Hamming distance 1 over the first ``multi_probe`` planes (vectors near a
    hyperplane land on either side — flipping low-confidence bits recovers
    them). Probing multiplies only the broadcast QUERY side by
    (1 + multi_probe); the corpus is still hashed once. Recall rises
    monotonically with multi_probe at proportional scoring cost.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        sign_lsh_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    base_bucket = sign_lsh_bucket(F.col(vec_col), n_planes)
    probe_buckets = F.array_distinct(
        F.array(
            base_bucket,
            *[_flip_bit(base_bucket, p) for p in range(min(multi_probe, n_planes))],
        )
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probe_buckets).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity_col(F.col("c_vec"), F.col("q_vec")), 4).alias("score"),
    )
    if multi_probe > 0:
        # a pair can co-occur in several probed buckets; dedup before
        # ranking (extra shuffle only on the probing path)
        scored = scored.dropDuplicates(["query_id", "vec_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "c_vec",
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids (cosine).

    The centroid table is collected to the driver and inlined as array
    literals (coarse quantizers are tiny — hundreds to thousands of cells
    even for billion-vector corpora), so assignment is a pure narrow map
    over the corpus: per row, score every centroid in one codegen'd
    expression, sort the (sim, centroid) structs, take the top ``nprobe``.
    NO shuffle, NO window, NO join — the corpus is touched exactly once.
    Ties break on centroid id asc for determinism. Output: (id_col,
    vec_col, centroid_id, rank) with rank in [1, nprobe].
    """
    cents = [
        (int(r["__cid"]), [float(x) for x in r["__cvec"]])
        for r in centroids.select(
            F.col(centroid_id_col).alias("__cid"),
            F.col(centroid_vec_col).alias("__cvec"),
        ).collect()
    ]
    sims = F.array(
        *[
            F.struct(
                cosine_similarity_col(F.col(vec_col), F.lit(cvec)).alias("sim"),
                # negative id: sort desc then gives centroid-id-ASC tiebreak
                F.lit(-cid).alias("ncid"),
            )
            for cid, cvec in cents
        ]
    )
    top = F.slice(F.sort_array(sims, asc=False), 1, nprobe)
    return (
        vectors.select(F.col(id_col), F.col(vec_col), F.posexplode(top))
        .select(
            id_col,
            vec_col,
            (-F.col("col.ncid")).alias("centroid_id"),
            (F.col("pos") + 1).alias("rank"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their nearest-centroid cell;
    each query probes its ``nprobe`` nearest cells and scores only those.

    Fully deterministic given a fixed centroid table (no trained state), so
    it is oracle-checkable. At 100 TB the corpus assignment is a broadcast
    map + one shuffle on centroid_id; the probe join touches
    nprobe/n_cells of the data instead of all of it. Output matches
    :func:`brute_force_topk`: (query_id, vec_id, score).
    """
    cells = ivf_assign(
        corpus, centroids, nprobe=1, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("c_vec"), "centroid_id")
    probes = ivf_assign(
        queries, centroids, nprobe=nprobe, id_col=query_id_col, vec_col=vec_col
    ).select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("q_vec"), "centroid_id")
    scored = cells.join(F.broadcast(probes), "centroid_id").select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity_col(F.col("c_vec"), F.col("q_vec")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_topk_stored(
    corpus_cells: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "c_vec",
) -> DataFrame:
    """ANN search against a STORED cell-assigned corpus — the search half
    of the stored-centroid index posture. ``corpus_cells`` is the
    ``(id, vector, centroid_id)`` artifact the ingest/refresh machinery
    already maintains (``streaming_semdedup_ingest`` / ``refresh_centroids``
    corpus store, or any ``assign_to_stored_centroids`` output): the
    corpus is NEVER re-assigned at query time — only the (small) query
    side scores the centroid table, via :func:`ivf_assign`.

    Unprobed cells are pruned before the search: the distinct probed
    cell ids are collected (at most the centroid table's size, which
    :func:`ivf_assign` already collects and inlines) and pushed as a
    static ``IN`` filter ahead of the join, so a corpus store written
    ``partitionBy(centroid_id)`` prunes unread cells at the SCAN —
    queries read ~nprobe/n_cells of the corpus from disk, not all of it
    (pinned by a PartitionFilters plan test). The probe side then
    broadcasts into the surviving cells. Both collects run eagerly at
    plan-construction time: a caller handing in an expensive derived
    ``queries`` frame should persist it first.

    Query-side probing scores float cosine against ``centroid_vec_col``
    (pass ``c_sum`` for ``kmeans_centroids`` artifacts — cosine is
    scale-invariant, so unnormalized integer sums work as-is); the rule
    differs from the corpus's exact-integer assignment only in float
    rounding at cell BOUNDARIES, which is probe-recall slack, not a
    correctness surface — scores returned to the caller are computed
    exactly like :func:`ivf_topk`'s (round 4 dp, vec-id tiebreak).

    Output matches :func:`brute_force_topk` / :func:`ivf_topk`:
    (query_id, vec_id, score).
    """
    probes = ivf_assign(
        queries,
        centroids,
        nprobe=nprobe,
        id_col=query_id_col,
        vec_col=vec_col,
        centroid_id_col=centroid_id_col,
        centroid_vec_col=centroid_vec_col,
    ).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        "centroid_id",
    )
    probed = [
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    ]
    pruned = corpus_cells.filter(F.col(centroid_id_col).isin(probed)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(centroid_id_col).alias("centroid_id"),
    )
    scored = pruned.join(F.broadcast(probes), "centroid_id").select(
        "query_id",
        "vec_id",
        F.round(
            cosine_similarity_col(F.col("c_vec"), F.col("q_vec")), 4
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "auto",
    chunk_pairs: int = 1_000_000,
    new_col: str | None = None,
    collapse: str = "auto",
    collapse_min: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a_id < b_id, score >= threshold).

    With ``block_col`` pair generation is confined to the block (IVF cell,
    LSH bucket, shard …) — the only way pair enumeration survives at
    100 TB. Without it, a full self cross-pairing (exact, small corpora
    only). Score rounded to 4 dp, deterministic order columns.

    ``strategy`` picks the in-block scorer:

    - ``"join"`` — equi self-join on the block key; the per-pair cosine is
      a JVM higher-order-function fold. Streams pairs with no per-task
      memory floor, so it handles UNBOUNDED block sizes, but the fold is
      interpreted (boxed per element) and dominates at millions of pairs.
    - ``"blocked"`` — one shuffle on the block key, then an Arrow-batched
      ``applyInPandas`` scores each block with vectorized numpy: vectors
      land dim-major so each dimension's gather reads an L1-resident
      slice, and pair index space is chunked (``chunk_pairs``) so task
      memory stays O(block + chunk) however quadratic the pair count.
      Requires each block's VECTORS to fit one task (the production caps —
      ``max_bucket_size`` / IVF cell sizing — guarantee that; for
      unbounded blocks use ``"join"``). ~5x faster at sf1 cell sizes.
    - ``"auto"`` — ``"blocked"`` when ``block_col`` is given, ``"join"``
      otherwise.

    Both strategies are BIT-IDENTICAL on fixed-dims corpora (pinned by
    tests): the numpy path folds dot and norm in the same element order
    as the JVM fold (float->double casts are exact, per-dim adds are the
    same IEEE doubles in the same order), rounding/thresholding happens
    JVM-side on the raw score in both cases, and the numpy prefilter
    keeps a >5e-5 slack below the threshold so half-up rounding can never
    disagree with the final Spark filter. Degenerate rows match too:
    NULL ids/blocks/vectors drop, cross-length (ragged) pairs drop (the
    JVM zip_with pads with NULL and the fold nulls out), and zero-norm
    NaN scores are kept by both (Spark orders NaN above all doubles).
    The one divergence is element-level NULLs inside a vector (Arrow
    surfaces them as NaN, so ``blocked`` scores the pair NaN-kept where
    ``join`` drops it) — not a shape real embedding corpora produce.

    ``new_col`` (boolean column) switches on INCREMENTAL mode: only pairs
    touching at least one NEW row are enumerated — stored×stored pairs
    are never generated or scored, because the full run that built the
    stored index already handled them. This is the batch-vs-corpus shape
    of the stored-centroid posture (``assign_to_stored_centroids``): per
    block the work is old×new + new×new, so a daily batch pays
    O(|batch| · |cell|), never O(|cell|²) over the accumulated corpus.
    Output contract is unchanged (a_id < b_id, same scores on the pairs
    both modes emit; both strategies honor it identically).

    Rows whose ``block_col`` is NULL are dropped up front in every mode
    and strategy: a NULL block means "assigned to no block".

    ``collapse`` is the FLOOD guard, wired in by default so the 100 TB
    cost bound holds for callers who don't know it exists (SURVEY §7.4:
    a boilerplate flood of f identical vectors otherwise pays f²/2
    in-cell pair scores that no cell rule can shrink). It applies only
    when ``block_col`` is given. Vectors are grouped per block by raw
    double-sequence identity (:func:`_vector_identity_key`), and one
    representative per group (the smallest id) is paired.

    - ``collapse="auto"`` (default) — ONE measured stats pass decides,
      the way line-dedup's ``broadcast_hot="auto"`` measures before
      choosing: if the largest identity group has >= ``collapse_min``
      members, pairs are scored at REP grain and then expanded EXACTLY
      back to the full pair set, so the output is pair-for-pair
      identical to the direct plan while the flood's scoring cost drops
      from f²/2 cosines to f²/2 cheap join rows. Otherwise the direct
      single-pass plan runs. The gate decision is logged at INFO on this
      module's logger. The call is SINGLE-EVALUATION: the keyed input
      projection is persisted, the gate job fills the cache, and
      whichever branch wins reads it, so an expensive upstream frame (a
      join over a fresh assignment) is never computed twice. The persist
      is tagged on the returned frame (``register_caches``); long-lived
      sessions should ``release_caches(result)`` after the terminal
      action, while bench/tests already clearCache between queries.
    - ``collapse="star"`` — unconditional collapse for DEDUP consumers:
      emits rep-grain pairs plus one (rep, member) star edge per
      non-rep member at score 1.0 (zero- and inf-norm groups get no
      edges: the blocked scorer scores their pairs NULL, see
      :func:`_identical_pair_score`). The pair SET differs from the
      direct plan, but its connected components are identical (a group
      is a clique at cosine 1; a star spans it), and under the greedy
      smaller-id / accepted-corpus kill rules of the incremental entries
      every batch vector receives a killing edge iff it does in the
      direct plan: with ``new_col`` the rep is the smallest-id STORED
      member, rep-grain pairs enumerate with the group-all-new flag, and
      star edges are emitted only for NEW members, so every pair still
      touches >= 1 new row. Used by the SemDeDup family and
      ``streaming_semdedup_ingest``. Measured (sf0.1 corpus + a planted
      10,000-copy flood, one cell): direct enumeration 77.6 s / 5.0e7
      emitted pairs; star 2.4 s / 1.1e4 edges, identical keep set.
    - ``collapse="off"`` — no stats pass and no collapse: the direct
      plan, the reference the collapsed modes are tested against.
    """
    if strategy not in ("auto", "join", "blocked"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if collapse not in ("off", "auto", "star"):
        raise ValueError(f"unknown collapse: {collapse!r}")
    if strategy == "auto":
        strategy = "blocked" if block_col else "join"
    if block_col is not None:
        # NULL block = assigned to no block: pairs with nothing, in every
        # mode and strategy (see the docstring's NULL-block contract)
        df = df.filter(F.col(block_col).isNotNull())
    if block_col is None or collapse == "off":
        return _enumerate_pairs(
            df, threshold, block_col, id_col, vec_col, strategy, chunk_pairs,
            new_col,
        )
    return _near_dup_pairs_collapsed(
        df, threshold, block_col, id_col, vec_col, strategy, chunk_pairs,
        new_col, collapse, collapse_min,
    )


def _enumerate_pairs(
    df: DataFrame,
    threshold: float,
    block_col: str | None,
    id_col: str,
    vec_col: str,
    strategy: str,
    chunk_pairs: int,
    new_col: str | None,
) -> DataFrame:
    """Strategy dispatch for the raw pair enumeration (no flood
    machinery) — the collapsed path re-enters here at rep grain."""
    if strategy == "blocked":
        if not block_col:
            raise ValueError("strategy='blocked' requires block_col")
        return _near_dup_pairs_blocked(
            df, threshold, block_col, id_col, vec_col, chunk_pairs, new_col
        )
    # norms AND the double-cast arrays are precomputed ONCE per vector in
    # the projection: a vector in p pairs would otherwise pay the full
    # |v|-element norm fold p times inside the per-pair cosine (~27x at
    # sf1 cell sizes), and the float->double cast transform per pair was
    # ~2x the whole pair stage (sf1: 3.4 s -> 1.9 s). The cosine is the
    # same IEEE expression — dot/(norm_a*norm_b) over identical doubles —
    # so scores are bit-identical to the fused form.
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    a = df.select(
        F.col(id_col).alias("a_id"), v.alias("a_vec"),
        norm.alias("__na"),
        *([F.col(block_col)] if block_col else []),
        *([F.col(new_col).alias("__anew")] if new_col else []),
    )
    b = df.select(
        F.col(id_col).alias("b_id"), v.alias("b_vec"),
        norm.alias("__nb"),
        *([F.col(block_col)] if block_col else []),
        *([F.col(new_col)] if new_col else []),
    )
    if new_col:
        # b side = new rows only; an old×new pair appears exactly once
        # (a=old), a new×new pair twice — the a_id<b_id guard on new a
        # rows dedupes it. Output normalizes to (lo, hi).
        b = b.filter(F.col(new_col)).drop(new_col)
        a = a.withColumn("__anew", F.coalesce(F.col("__anew"), F.lit(False)))
    joined = a.join(b, on=block_col) if block_col else a.crossJoin(b)
    if new_col:
        joined = joined.filter(
            (F.col("a_id") != F.col("b_id"))
            & (~F.col("__anew") | (F.col("a_id") < F.col("b_id")))
        )
    else:
        joined = joined.filter(F.col("a_id") < F.col("b_id"))
    dot = F.aggregate(
        F.zip_with(F.col("a_vec"), F.col("b_vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        joined.select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            F.round(dot / (F.col("__na") * F.col("__nb")), 4).alias("score"),
        )
        .filter(F.col("score") >= F.lit(threshold))
    )


def _identical_pair_score(vec_col: str) -> Column:
    """The exact value the BLOCKED scorer's ``round(score, 4)`` produces
    on a pair of IDENTICAL double vectors: the raw ratio is
    s/(sqrt(s)·sqrt(s)) with s the shared norm fold, within 1 ulp-squared
    of 1.0, so the 4-dp round is exactly 1.0 whenever the norm is
    finite-positive. A zero norm scores 0/0 = NaN and an overflowed (inf)
    norm inf/inf = NaN — and a worker-side NaN crosses the Arrow boundary
    as NULL (pandas' missing sentinel), so the blocked plan DROPS those
    pairs at the threshold filter; NULL here reproduces that. (The join
    strategy's degenerate shapes differ — it keeps inf-norm NaN — the
    same documented degenerate-divergence class as element-NULL vectors;
    NaN-ELEMENT vectors never reach here at all, the identity key routes
    them to per-row groups.)"""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(
        (norm > F.lit(0.0)) & (norm < F.lit(float("inf"))), F.lit(1.0)
    ).otherwise(F.lit(None).cast("double"))


def _near_dup_pairs_collapsed(
    df: DataFrame,
    threshold: float,
    block_col: str,
    id_col: str,
    vec_col: str,
    strategy: str,
    chunk_pairs: int,
    new_col: str | None,
    collapse: str,
    collapse_min: int,
) -> DataFrame:
    """Flood-guarded pair enumeration (see :func:`embedding_near_dup_pairs`
    for the mode contract and the exactness arguments). Plan shape: ONE
    hash(block) exchange feeds the identity window (groups fold over the
    __vkey peer range-frame), the blocked scorer consumes that
    partitioning without re-exchanging, and the star/member branches read
    the same exchange via ReusedExchange — the input is computed once per
    job however many branches read it."""
    base = df.filter(F.col(id_col).isNotNull() & F.col(block_col).isNotNull())
    # Minimal IDENTICAL projection for every consumer branch: the window's
    # exchange subtree must canonicalize equal across the rep-enumeration
    # and star/member branches for ReuseExchange to fire — one stray
    # payload column that only the scorer branch carries (and the others
    # prune) forks the scan and the input computes once per branch
    # (observed: 'label' riding into FlatMapGroupsInPandas).
    cols = [
        F.col(id_col),
        F.col(vec_col),
        F.col(block_col),
        _vector_identity_key(id_col, vec_col).alias("__vkey"),
    ]
    if new_col is not None:
        cols.append(
            F.coalesce(F.col(new_col).cast("boolean"), F.lit(False))
            .alias("__nb")
        )
    keyed = base.select(*cols)
    if collapse == "auto":
        # ONE measured stats pass: the largest identity group. The keyed
        # frame is PERSISTED for the gate's duration and every downstream
        # branch reads the cache, so the input (often an expensive
        # upstream join/assignment) is evaluated exactly once per call —
        # the gate job fills the cache, the caller's action reads it.
        # The persist is tagged onto the returned frame via
        # register_caches: bench/tests clearCache between queries, and a
        # long-lived session calls release_caches(result) after its
        # terminal action.
        keyed = keyed.persist()
        gm = (
            keyed.groupBy(block_col, "__vkey")
            .agg(F.count(F.lit(1)).alias("__gn"))
            .agg(F.max("__gn").alias("gm"))
            .first()["gm"]
        ) or 0
        do_collapse = gm >= collapse_min
        _log.info(
            "embedding_near_dup_pairs collapse=auto gate: max_group=%d "
            "-> collapse=%s", gm, do_collapse,
        )
        if not do_collapse:
            # the untouched single-pass plan, re-rooted on the cached
            # keyed frame: __vkey dropped (the enumerators don't read it
            # and the blocked scorer would ship it through Arrow), the new
            # flag renamed — _enumerate_pairs' join strategy aliases its
            # b-side norm "__nb"
            flat = keyed.drop("__vkey").withColumnRenamed("__nb", "__isnew")
            return register_caches(
                _enumerate_pairs(
                    flat, threshold, block_col, id_col, vec_col, strategy,
                    chunk_pairs, "__isnew" if new_col is not None else None,
                ),
                keyed,
            )
    star = collapse == "star"

    # Partition the identity window by the BLOCK alone and fold per-group
    # aggregates over the __vkey PEER frame (RANGE CURRENT ROW..CURRENT
    # ROW = all rows tied on the order key): the exchange is then
    # hash(block), which the blocked scorer's groupBy(block) downstream
    # satisfies WITHOUT a second exchange (and its sort is a prefix of
    # the window's) — the corpus crosses the wire once, exactly like the
    # pre-collapse plan, instead of once for a (block, vkey) window and
    # again for the scorer. Plan-pinned by the single-exchange test.
    w = (
        Window.partitionBy(block_col)
        .orderBy("__vkey")
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    if new_col is not None:
        has_old = F.max(F.when(~F.col("__nb"), 1).otherwise(0)).over(w) == 1
        if star:
            # rep prefers the smallest-id STORED member: a mixed group's
            # rep must carry new=False so its star edges kill the group's
            # batch members against the accepted corpus, and rep-grain
            # pairs must enumerate all-new groups as new
            rep_id = F.coalesce(
                F.min(F.when(~F.col("__nb"), F.col(id_col))).over(w),
                F.min(id_col).over(w),
            )
            rep_new = ~has_old
        else:
            rep_id = F.min(id_col).over(w)
            rep_new = (
                F.max(F.when(F.col("__nb"), 1).otherwise(0)).over(w) == 1
            )
        marked = keyed.withColumn("__rep", rep_id).withColumn(
            "__repnew", rep_new
        )
    else:
        marked = keyed.withColumn("__rep", F.min(id_col).over(w))

    if collapse == "auto" or new_col is not None:
        # The rep-pair and star/member branches are SEPARATE consumers of
        # `marked`. With new_col set their pruned window subtrees differ
        # (the rep branch keeps __repnew, the member branch keeps
        # __nb/__rep), so the exchange subtrees no longer canonicalize
        # equal and ReuseExchange does NOT fire — the whole scan →
        # assignment → hash(block) exchange → window chain executed once
        # per branch (sf10p profile: two 38-48 s assignment-scale jobs).
        # Persisting the windowed frame computes it once. The persist is
        # lazy: racing first consumers may duplicate at most one window
        # fill, which is bounded by the unpinned recompute. An eager fill
        # serializes a count() and a corpus-scale cache write of a frame
        # carrying the embedding vectors, and measured worst at both
        # scales (cold min-of-2 on x_dedup_semdedup_inc, 4 interleaved
        # sessions: sf0.1 fill 2.78 / lazy 2.56 / off 2.59 s; sf10p fill
        # sessions 22.3 / 10.4 / 10.4 vs lazy 8.7 / 7.5 s). Cache
        # partitioning is hash(block), so the blocked scorer still
        # consumes it without a new exchange.
        # WITHOUT new_col the branches DO canonicalize equal and
        # ReuseExchange already shares everything below the exchange —
        # there the persist only replaces a cheap window recompute with
        # a corpus-scale cache write (measured LOSS: 18.53 s vs 16.57 s
        # at sf10p), so star mode relies on ReuseExchange there.
        #
        # When the auto gate fires, the exact expansion below also shares
        # the windowed frame. There ReuseExchange shares only the exchange
        # below the window: unpinned, each of the FIVE expansion readers
        # (reps, mem x2, ga, gb) re-runs sort+window over the keyed cache.
        marked = marked.persist()
        if collapse == "auto":
            # The gate's stats pass already warmed the keyed cache, so
            # this fill is one cheap window-over-cache pass, and the
            # eager fill is what legalizes releasing the keyed pin — the
            # marked cache strictly contains it, so holding both would
            # double cache pressure. Cold A/B at sf10p on
            # x_dedup_flood_collapse: fill 3.60 / lazy 3.72 / off 3.94 s.
            eager_fill(marked)
            keyed.unpersist()

    reps = marked.filter(F.col(id_col) == F.col("__rep"))
    rep_pairs = _enumerate_pairs(
        reps, threshold, block_col, id_col, vec_col, strategy, chunk_pairs,
        "__repnew" if new_col is not None else None,
    )
    eq_score = _identical_pair_score(vec_col)

    if star:
        if new_col is not None:
            # only NEW members: a mixed group (stored rep + stored
            # members + new members) must not emit stored-stored star
            # edges — the incremental contract is "every pair touches
            # >= 1 new row", and each new member keeps its rep edge so
            # kill parity is unchanged. (__repnew — the all-new-group
            # flag — implies every member is new, so filtering on __nb
            # alone already keeps every all-new group's members.)
            src = marked.filter(F.col("__nb"))
        else:
            src = marked
        edges = (
            src.filter(F.col(id_col) != F.col("__rep"))
            .select(
                F.least(F.col(id_col), F.col("__rep")).alias("a_id"),
                F.greatest(F.col(id_col), F.col("__rep")).alias("b_id"),
                eq_score.alias("score"),
            )
            .filter(F.col("score") >= F.lit(threshold))
        )
        # holds the marked cache when new_col persisted it
        # (register_caches skips unpersisted frames)
        return register_caches(rep_pairs.unionByName(edges), marked)

    # exact expansion: rep pairs fan back out to member pairs (scores are
    # bit-identical — members ARE the rep vector), plus the in-group
    # cliques the direct plan would have scored at cosine 1
    mem = marked.select(
        F.col("__rep").alias("__r"),
        F.col(id_col).alias("__m"),
        *([F.col("__nb").alias("__mn")] if new_col is not None else []),
    )
    crossx = rep_pairs.join(
        mem.select(
            F.col("__r").alias("__ra"), F.col("__m").alias("__ma"),
            *([F.col("__mn").alias("__na")] if new_col is not None else []),
        ),
        F.col("a_id") == F.col("__ra"),
    ).join(
        mem.select(
            F.col("__r").alias("__rb"), F.col("__m").alias("__mb"),
            *([F.col("__mn").alias("__nb2")] if new_col is not None else []),
        ),
        F.col("b_id") == F.col("__rb"),
    )
    if new_col is not None:
        crossx = crossx.filter(F.col("__na") | F.col("__nb2"))
    crossx = crossx.select(
        F.least(F.col("__ma"), F.col("__mb")).alias("a_id"),
        F.greatest(F.col("__ma"), F.col("__mb")).alias("b_id"),
        F.col("score"),
    )
    ga = marked.select(
        F.col(block_col).alias("__ba"), F.col("__vkey").alias("__ka"),
        F.col(id_col).alias("__ia"),
        *([F.col("__nb").alias("__nka")] if new_col is not None else []),
        eq_score.alias("__sa"),
    )
    gb = marked.select(
        F.col(block_col).alias("__bb"), F.col("__vkey").alias("__kb"),
        F.col(id_col).alias("__ib"),
        *([F.col("__nb").alias("__nkb")] if new_col is not None else []),
    )
    cliq = ga.join(
        gb,
        (F.col("__ba") == F.col("__bb"))
        & (F.col("__ka") == F.col("__kb"))
        & (F.col("__ia") < F.col("__ib")),
    )
    if new_col is not None:
        cliq = cliq.filter(F.col("__nka") | F.col("__nkb"))
    cliq = cliq.select(
        F.col("__ia").alias("a_id"),
        F.col("__ib").alias("b_id"),
        F.col("__sa").alias("score"),
    ).filter(F.col("score") >= F.lit(threshold))
    return register_caches(crossx.unionByName(cliq), marked)


def _near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float,
    block_col: str,
    id_col: str,
    vec_col: str,
    chunk_pairs: int,
    new_col: str | None = None,
) -> DataFrame:
    """Arrow-batched in-block pair scorer (see embedding_near_dup_pairs).
    With ``new_col``, pair index space per block is old×new + triu(new) —
    stored×stored pairs never enter the chunked scoring loop."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_field = dict(zip(df.schema.names, df.schema.fields))[id_col]
    schema = StructType([
        StructField("a_id", id_field.dataType),
        StructField("b_id", id_field.dataType),
        StructField("score_raw", DoubleType()),
    ])
    # Rounding happens JVM-side, so the numpy prefilter only needs to be
    # SOUND: round-half-up can lift a raw score by at most 5e-5, so any
    # pair whose rounded score clears `threshold` has raw > threshold-5e-5;
    # a 1e-4 slack keeps every such pair (plus a thin band the exact JVM
    # round+filter then discards). NaN must pass the prefilter because the
    # JVM filter keeps it (Spark NaN ordering).
    slack = threshold - 1e-4

    def score_block(key, pdf):  # pragma: no cover - executed on workers
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({
            "a_id": pdf[id_col].iloc[:0],
            "b_id": pdf[id_col].iloc[:0],
            "score_raw": pd.Series(dtype="float64"),
        })
        pdf = pdf[pdf[vec_col].notna() & pdf[id_col].notna()]
        if len(pdf) < 2:
            return empty
        out = []
        # Same-length groups only: the JVM fold nulls out cross-length
        # pairs (zip_with pads with NULL), so they never reach the output.
        for _length, grp in pdf.groupby(pdf[vec_col].map(len)):
            n = len(grp)
            if n < 2:
                continue
            ids = grp[id_col].to_numpy()
            # dim-major layout: MT[d] is one contiguous n-vector per
            # dimension, so the pair gathers below read an L1-resident
            # slice instead of striding a row-major (n x d) matrix.
            mt = np.empty((_length, n), dtype=np.float64)
            for r, vec in enumerate(grp[vec_col]):
                mt[:, r] = vec
            norm = np.zeros(n)
            for d in range(_length):
                x = mt[d]
                norm = norm + x * x  # same fold order as the JVM norm
            norm = np.sqrt(norm)
            if new_col is not None:
                isnew = (
                    grp[new_col].fillna(False).to_numpy(dtype=bool)
                )
                wi = np.flatnonzero(isnew)
                oi = np.flatnonzero(~isnew)
                if len(wi) == 0:
                    continue

                def idx_chunks(wi=wi, oi=oi):
                    # old×new pairs generate LAZILY, oi in slices: a
                    # materialized |old|·|new| index grows with the
                    # accumulated corpus — the bounded incremental
                    # posture needs peak index memory O(chunk_pairs)
                    # (floor: one old row × the batch when |new| >
                    # chunk_pairs — batch-side, bounded by definition)
                    step = max(1, chunk_pairs // len(wi))
                    for s in range(0, len(oi), step):
                        o = oi[s:s + step]
                        yield np.repeat(o, len(wi)), np.tile(wi, len(o))
                    ta, tb = np.triu_indices(len(wi), k=1)  # new×new: batch²
                    for s in range(0, len(ta), chunk_pairs):
                        yield wi[ta[s:s + chunk_pairs]], wi[tb[s:s + chunk_pairs]]
            else:
                def idx_chunks():
                    ai, bi = np.triu_indices(n, k=1)
                    for s in range(0, len(ai), chunk_pairs):
                        yield ai[s:s + chunk_pairs], bi[s:s + chunk_pairs]
            for a, b in idx_chunks():
                dot = np.zeros(len(a))
                for d in range(_length):
                    x = mt[d]
                    dot = dot + x[a] * x[b]  # ordered fold, per-dim gather
                score = dot / (norm[a] * norm[b])
                keep = (score >= slack) | np.isnan(score)
                if not keep.any():
                    continue
                aid = ids[a[keep]]
                bid = ids[b[keep]]
                lo = np.minimum(aid, bid)
                hi = np.maximum(aid, bid)
                ne = lo < hi  # duplicate ids never self-pair (join parity)
                out.append(pd.DataFrame({
                    "a_id": lo[ne],
                    "b_id": hi[ne],
                    "score_raw": score[keep][ne],
                }))
        if not out:
            return empty
        return pd.concat(out, ignore_index=True)

    raw = (
        df.filter(F.col(block_col).isNotNull())
        .groupBy(block_col)
        .applyInPandas(score_block, schema=schema)
    )
    return (
        raw.select(
            "a_id", "b_id", F.round(F.col("score_raw"), 4).alias("score")
        )
        .filter(F.col("score") >= F.lit(threshold))
    )


def kmeans_lloyd(
    vectors: DataFrame,
    seeds: DataFrame,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "c_vec",
    scale: int = 1_000_000,
    inline_max_k: int = 8,
    route_probe: int | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Lloyd's k-means over an embedding corpus (cosine assignment) —
    the clustering step of SemDeDup-style semantic dedup and of
    diversity-balanced corpus curation.

    Per iteration: a ZERO-SHUFFLE assignment, then ONE shuffle to sum
    member vectors per cell; the tiny (cells × dims) partial-sum table is
    collected back to the driver. At 100 TB each iteration is one pass
    over the corpus plus one bounded aggregation — no N×k join ever
    materializes. Empty cells keep their previous centroid.

    Assignment picks its formulation by k: up to ``inline_max_k``
    centroids are inlined as driver literals and scored per row inside
    whole-stage codegen (the ivf_assign pattern); above that Janino
    compile time for the k x dims expression tree dominates the job
    (k=22/d=64 measured 3.4 s inline vs 0.7 s numpy on 500 rows — the
    compile, not the data), so assignment switches to an
    Arrow-batched ``mapInPandas`` scoring each batch with one integer
    numpy matmul — still zero-shuffle, and bit-identical to the inline
    path (same exact-integer dots, same IEEE double division, same
    min-cid tiebreak; equivalence is pinned by a test). SemDeDup-scale
    cell counts (k ~ sqrt(N), thousands of cells) live on this path.

    All arithmetic that feeds a comparison is EXACT so results are
    bit-identical across engines (the property the driver oracle hashes):
    vectors are projected to integer micro-units (``round(x*scale)`` as
    long), centroids are kept as unnormalized integer member-vector sums
    (the mean's count divisor cancels under cosine), and the per-centroid
    score is ``double(dot)/sqrt(double(sum·sum))`` — IEEE ops on identical
    exact integers in any engine. Long dot products bound the corpus:
    per-cell member sums must stay under ~2^62/(scale·dims), fine through
    billions of rows at 64 dims. Ties break on centroid id ascending.

    ``route_probe`` switches EVERY assignment pass — training sums and
    the returned final assignment — to the two-level routed scorer
    (:func:`_assign_numpy_routed`): O(n·sqrt(k)) per pass instead of
    O(n·k), the posture that keeps the linear-pairing cell rule
    k = n/cell_target from turning assignment into the quadratic term.
    Routed assignment is approximate but deterministic; with
    k1 = ceil(sqrt(k)) representatives, ``route_probe >= k1`` reproduces
    the flat result bit-for-bit.

    Returns the final assignment: (id_col, centroid_id[, keep_cols...]).
    ``keep_cols`` ride through the FINAL assignment pass only (training
    passes stay minimal-width) — same passthrough contract as
    :func:`assign_to_stored_centroids`, removing the consumer's
    join-back of the assignment to the source frame.
    """
    cents, corpus, id_type = _kmeans_train(
        vectors, seeds, n_iter, id_col, vec_col, centroid_id_col,
        centroid_vec_col, scale, inline_max_k, route_probe,
    )
    if keep_cols:
        dims = len(next(iter(cents.values())))
        corpus = _micro_units(vectors, id_col, vec_col, scale, dims, keep_cols)
    return _assign_exact(
        corpus, cents, id_col, id_type, inline_max_k, route_probe, keep_cols,
    ).select(F.col(id_col), "centroid_id", *keep_cols)


def kmeans_centroids(
    vectors: DataFrame,
    seeds: DataFrame,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "c_vec",
    scale: int = 1_000_000,
    inline_max_k: int = 8,
    route_probe: int | None = None,
) -> DataFrame:
    """Train k-means (same exact-integer contract as :func:`kmeans_lloyd`)
    and return the CENTROIDS — ``(centroid_id, c_sum: array<long>)``, the
    unnormalized integer member-vector sums — instead of the assignment.

    This is the persistable artifact of the stored-centroid incremental
    posture: write it once after a full-corpus clustering run, then route
    every incoming batch through :func:`assign_to_stored_centroids`
    without touching the stored corpus again (the embedding-side mirror
    of the stored minhash band index / line-df index patterns). Because
    the sums are exact integers, a centroid round-trips through parquet
    bit-identically and assignments stay oracle-reproducible.

    ``route_probe``: train with the routed assignment passes of
    :func:`kmeans_lloyd` (same semantics).
    """
    cents, _corpus, _ = _kmeans_train(
        vectors, seeds, n_iter, id_col, vec_col, centroid_id_col,
        centroid_vec_col, scale, inline_max_k, route_probe,
    )
    return vectors.sparkSession.createDataFrame(
        [(int(cid), [int(x) for x in cv]) for cid, cv in sorted(cents.items())],
        schema="centroid_id long, c_sum array<long>",
    )


def assign_to_stored_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_sum_col: str = "c_sum",
    scale: int = 1_000_000,
    inline_max_k: int = 8,
    route_probe: int | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign vectors to STORED centroids (``kmeans_centroids`` output,
    read back from wherever it was persisted) — the incremental posture:
    no retraining, no pass over the stored corpus, ZERO shuffles (the
    k × dims centroid table collects to the driver and assignment is a
    narrow map, inline-codegen for small k, Arrow/numpy above
    ``inline_max_k`` — the identical bit-exact scoring of
    :func:`kmeans_lloyd`, so a batch lands in the same cell the full run
    would have put it in).

    ``route_probe``: assign through the two-level routed
    scorer instead of the flat scan (:func:`_assign_numpy_routed`) —
    O(batch·sqrt(k)) instead of O(batch·k), the daily-ingest cost model
    once the stored index carries SemDeDup-scale cell counts
    (k = corpus/cell_target). Deterministic; ``route_probe >= k1``
    reproduces the flat assignment bit-for-bit.

    Returns (id_col, centroid_id[, keep_cols...]). ``keep_cols`` ride
    through the zero-shuffle assignment unchanged (r14): a consumer that
    needs the assignment AND the payload column (the near-dup scorer
    needs the raw vector per row) reads both off ONE narrow pass instead
    of joining the (id, centroid_id) result back to the source by id —
    at corpus scale that join is either a full payload exchange or a
    mis-sized corpus-scale broadcast (guide §8).
    """
    rows = centroids.select(
        F.col(centroid_id_col).alias("cid"), F.col(centroid_sum_col).alias("cv")
    ).collect()
    if not rows:
        raise ValueError("assign_to_stored_centroids requires >= 1 centroid")
    if len({int(r["cid"]) for r in rows}) != len(rows):
        raise ValueError("stored centroid ids must be unique")
    cents = {int(r["cid"]): [int(x) for x in r["cv"]] for r in rows}
    dims = len(next(iter(cents.values())))
    corpus = _micro_units(vectors, id_col, vec_col, scale, dims, keep_cols)
    id_type = dict(zip(vectors.schema.names, vectors.schema.fields))[
        id_col
    ].dataType.simpleString()
    return _assign_exact(
        corpus, cents, id_col, id_type, inline_max_k, route_probe, keep_cols,
    ).select(F.col(id_col), "centroid_id", *keep_cols)


def _micro_units(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    scale: int,
    dims: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, __mv) projection in integer micro-units. NULL or
    wrong-dimension vectors are EXCLUDED, not crashed on: cosine against a
    d-dim centroid is undefined for them, and a ragged batch breaks the
    numpy path's rectangular matmul (poison-corpus audit).

    ``keep_cols`` ride through unchanged (r14): the assignment is a
    zero-shuffle narrow map, so carrying the payload column (normally the
    raw vector) through it lets a consumer use the assignment WITHOUT
    joining it back to the source frame by id — the join is a full
    corpus-scale exchange (or a corpus-scale broadcast when the planner
    mis-sizes the assignment side) that the passthrough removes outright
    (guide §8: move heavy bytes once, never to re-attach a decision)."""
    mv = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    # NO fan_out here (r14, examined and REJECTED): a gated repartition
    # ahead of the assignment matmul was A/B'd at sf0.1/sf1 and LOST on
    # every semdedup entry (sf1 min-of-4: semdedup 2.04->2.65 s, inc
    # 2.72->3.59 s, drift 1.90->2.82 s) — the numpy matmul per row is
    # cheap enough that the added exchange of (id, __mv[, vec]) never
    # pays, and k-means training re-pays it once per pass. The dedup_text
    # fan_out sites win because their narrow stage is a regex pass ~10x
    # heavier per row.
    return vectors.select(
        F.col(id_col), mv.alias("__mv"), *[F.col(c) for c in keep_cols]
    ).filter(F.col("__mv").isNotNull() & (F.size("__mv") == dims))


def _kmeans_train(
    vectors: DataFrame,
    seeds: DataFrame,
    n_iter: int,
    id_col: str,
    vec_col: str,
    centroid_id_col: str,
    centroid_vec_col: str,
    scale: int,
    inline_max_k: int,
    route_probe: int | None = None,
) -> tuple[dict[int, list[int]], DataFrame, str]:
    """Shared Lloyd training loop: returns (centroid sums, micro-unit
    corpus frame, id type) after ``n_iter`` iterations."""
    def _half_away(v: float) -> int:
        # match Spark/DuckDB ROUND (half away from zero); python round() is
        # banker's and would diverge on exact .5 products
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    seed_rows = seeds.select(
        F.col(centroid_id_col).alias("cid"), F.col(centroid_vec_col).alias("cv")
    ).collect()
    if not seed_rows:
        raise ValueError("kmeans_lloyd requires at least one seed centroid")
    if len({int(r["cid"]) for r in seed_rows}) != len(seed_rows):
        raise ValueError("kmeans_lloyd seed centroid ids must be unique")
    cents: dict[int, list[int]] = {
        int(r["cid"]): [_half_away(float(x) * scale) for x in r["cv"]]
        for r in seed_rows
    }

    # dimension comes from the seeds, which are always well-formed
    seed_dims = len(next(iter(cents.values())))
    corpus = _micro_units(vectors, id_col, vec_col, scale, seed_dims)

    id_type = dict(zip(vectors.schema.names, vectors.schema.fields))[
        id_col
    ].dataType.simpleString()

    for _ in range(n_iter):
        sums = (
            _assign_exact(
                corpus, cents, id_col, id_type, inline_max_k, route_probe,
            )
            .select("centroid_id", F.posexplode("__mv").alias("pos", "v"))
            .groupBy("centroid_id", "pos")
            .agg(F.sum("v").alias("s"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in sums:
            by_cid.setdefault(int(r["centroid_id"]), {})[int(r["pos"])] = int(r["s"])
        dims = len(next(iter(cents.values())))
        cents = {
            cid: (
                [by_cid[cid][p] for p in range(dims)] if cid in by_cid else svec
            )
            for cid, svec in cents.items()
        }
    return cents, corpus, id_type


def _route_plan(
    cents: dict[int, list[int]],
) -> tuple[list[int], dict[int, list[int]]]:
    """Driver-side coarse routing plan over the (small) centroid table:
    pick k1 = ceil(sqrt(k)) representatives — the count that balances the
    rep-scan and probed-block terms of the routed assignment — as the k1
    smallest centroid ids (deterministic, engine-free), then map every
    fine centroid to one rep with the SAME exact-integer scoring rule
    assignment uses (``double(dot)/sqrt(double(norm_rep))``, ties rep-id
    ascending). A rep always maps to itself, so every rep's member list
    is non-empty and a probed rep always contributes at least one
    candidate cell.

    All dots/norms here are arbitrary-precision python ints (k × k1 work
    on the driver — centroids are already a driver dict), so there is no
    overflow bound on this step; an oracle replays it with HUGEINT.
    Returns (reps ascending, {rep -> member fine cids ascending}).
    """
    cids = sorted(cents)
    reps = cids[:math.ceil(math.sqrt(len(cids)))]
    rep_set = set(reps)
    rep_norm = {r: math.sqrt(float(sum(v * v for v in cents[r]))) for r in reps}
    members: dict[int, list[int]] = {r: [] for r in reps}
    for cid in cids:
        if cid in rep_set:
            members[cid].append(cid)
            continue
        best_s, best_r = None, None
        fv = cents[cid]
        for r in reps:
            dot = sum(a * b for a, b in zip(fv, cents[r]))
            s = float(dot) / rep_norm[r]
            if best_s is None or s > best_s:
                best_s, best_r = s, r
        members[best_r].append(cid)
    return reps, members


def _assign_numpy_routed(
    corpus: DataFrame,
    cents: dict[int, list[int]],
    id_col: str,
    id_type: str,
    route_probe: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Two-level routed nearest-centroid assignment — the IVF-quantized
    scale path of :func:`kmeans_lloyd` / :func:`assign_to_stored_centroids`.

    Flat assignment scores every row against all k centroids: O(n·k·d).
    With the linear-pairing cell rule k = n/cell_target that becomes the
    new quadratic term, so past small k the row is ROUTED instead: score
    the k1 ≈ sqrt(k) representative centroids, keep the top ``route_probe``
    by (score desc, rep id asc), then run the exact scoring rule over only
    the fine centroids whose rep was probed — O(n·(k1 + probe·k/k1)·d),
    ~O(n·sqrt(k)) work per corpus pass. This is APPROXIMATE (a near-best
    cell behind an unprobed rep is missed) but fully deterministic and
    engine-replayable: probing ``route_probe >= k1`` degenerates to
    the flat assignment bit-for-bit (pinned by test), and the winner under
    any probe is max-(score, -cid) over the probed candidate set using the
    identical exact-integer arithmetic of the flat paths.

    Still zero-shuffle: the routing plan (reps + per-rep fine blocks)
    rides the closure like the flat numpy path's centroid matrix, and each
    Arrow batch does one small rep matmul plus per-probed-block matmuls.

    Measured pair-recall cost (planted near-dup pairs at fixed cosine
    against the sf0.1 corpus, n=2600, k=21, k1=5, d=64; co-location rate
    routed-vs-flat): at cos >= 0.99 routing is BETTER than flat (0.95 vs
    0.87 at probe=2 — a near-identical pair routes on near-identical
    scores and shares one candidate set, while flat argmax can split it
    at a cell boundary); in the 0.90-0.95 band probe=2 gives up ~0.1
    (0.75 vs 0.86 at 0.95, 0.66 vs 0.76 at 0.90; probe=4 buys back
    ~3-5 points); at cos <= 0.8 both sit at the cell-geometry floor
    (~0.45) and routing is immaterial. Note the flat baseline itself is
    well below 1.0 — the cell-boundary recall cost is intrinsic to
    in-cell pairing, not to routing. Pinned by
    test_routed_pair_recall_tracks_flat.
    """
    import numpy as np
    import pandas as pd

    reps, members = _route_plan(cents)
    probe = max(1, min(route_probe, len(reps)))
    rmat = np.array([cents[r] for r in reps], dtype=np.int64)  # k1 × d
    rnorms = np.array(
        [math.sqrt(float(sum(v * v for v in cents[r]))) for r in reps],
        dtype=np.float64,
    )
    # per-rep fine blocks; member cids ascending, so argmax's first-max
    # within a block IS the block's min cid — the global tiebreak then
    # resolves across blocks below
    blocks = []
    for ri, r in enumerate(reps):
        mcids = members[r]
        cmat = np.array([cents[c] for c in mcids], dtype=np.int64)
        norms = np.array(
            [math.sqrt(float(sum(v * v for v in cents[c]))) for c in mcids],
            dtype=np.float64,
        )
        blocks.append((ri, np.array(mcids, dtype=np.int64), cmat, norms))

    def assign_batches(batches):
        for pdf in batches:
            mv = np.array(pdf["__mv"].tolist(), dtype=np.int64)  # b × d
            if len(mv) == 0:
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "centroid_id": [],
                        "__mv": pdf["__mv"],
                        **{c: pdf[c] for c in keep_cols},
                    }
                )
                continue
            # route: top-probe reps by (score desc, rep id asc) — stable
            # argsort on the negated scores keeps ascending-id order on
            # ties because rep columns are already id-ascending
            rs = (mv @ rmat.T).astype(np.float64) / rnorms[None, :]
            probed = np.argsort(-rs, axis=1, kind="stable")[:, :probe]
            best_s = np.full(len(mv), -np.inf, dtype=np.float64)
            best_c = np.full(len(mv), -1, dtype=np.int64)
            for ri, mcids, cmat, norms in blocks:
                mask = (probed == ri).any(axis=1)
                if not mask.any():
                    continue
                sub = (mv[mask] @ cmat.T).astype(np.float64) / norms[None, :]
                bi = sub.argmax(axis=1)
                bs = sub[np.arange(len(sub)), bi]
                bc = mcids[bi]
                cur_s, cur_c = best_s[mask], best_c[mask]
                upd = (bs > cur_s) | ((bs == cur_s) & (bc < cur_c))
                rows = np.where(mask)[0][upd]
                best_s[rows] = bs[upd]
                best_c[rows] = bc[upd]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "centroid_id": best_c,
                    "__mv": pdf["__mv"],
                    **{c: pdf[c] for c in keep_cols},
                }
            )

    return corpus.mapInPandas(
        assign_batches,
        schema=f"{id_col} {id_type}, centroid_id long, __mv array<long>"
        + _keep_schema(corpus, keep_cols),
    )


def _assign_exact(
    corpus: DataFrame,
    cents: dict[int, list[int]],
    id_col: str,
    id_type: str,
    inline_max_k: int,
    route_probe: int | None = None,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Zero-shuffle exact-integer nearest-centroid assignment:
    (id, centroid_id, __mv[, keep_cols...]). Inline codegen up to
    ``inline_max_k`` centroids, Arrow-batched numpy matmul above
    (bit-identical; see kmeans_lloyd docstring). ``keep_cols`` must
    already be present on ``corpus`` (see :func:`_micro_units`) and ride
    through every path untouched — pure passthrough, no arithmetic, so
    values round-trip bit-identically."""

    def _assign_inline() -> DataFrame:
        structs = []
        for cid, svec in sorted(cents.items()):
            norm = float(sum(v * v for v in svec))  # exact python int -> double
            dot = F.aggregate(
                F.zip_with(F.col("__mv"), F.lit(svec), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            score = dot.cast("double") / F.sqrt(F.lit(norm))
            # negative id: struct sort desc then yields centroid-id-ASC tiebreak
            structs.append(F.struct(score.alias("sim"), F.lit(-cid).alias("ncid")))
        best = F.sort_array(F.array(*structs), asc=False)[0]
        # carry __mv through the assignment projection: the member-sum step
        # reads it directly off the same scan instead of shuffle-joining the
        # assignment back to the corpus by id. centroid_id is LONG to match
        # the numpy path's declared schema: the two paths must be
        # interchangeable file-by-file in an append-mode corpus store — a
        # refresh crossing inline_max_k would otherwise flip the parquet
        # physical type mid-directory and flake the vectorized reader
        return corpus.select(
            F.col(id_col),
            (-best["ncid"]).cast("long").alias("centroid_id"),
            F.col("__mv"),
            *[F.col(c) for c in keep_cols],
        )

    def _assign_numpy() -> DataFrame:
        import numpy as np
        import pandas as pd

        cids = sorted(cents)  # ascending: argmax's first-max IS the min cid
        cmat = np.array([cents[c] for c in cids], dtype=np.int64)  # k × d
        # norms via python ints (arbitrary precision) then one float
        # conversion — identical to the inline path's F.lit(norm)
        norms = np.array(
            [math.sqrt(float(sum(v * v for v in cents[c]))) for c in cids],
            dtype=np.float64,
        )
        cid_arr = np.array(cids, dtype=np.int64)

        def assign_batches(batches):
            for pdf in batches:
                mv = np.array(pdf["__mv"].tolist(), dtype=np.int64)  # b × d
                if len(mv) == 0:
                    yield pd.DataFrame(
                        {
                            id_col: pdf[id_col],
                            "centroid_id": [],
                            "__mv": pdf["__mv"],
                            **{c: pdf[c] for c in keep_cols},
                        }
                    )
                    continue
                # int64 matmul: exact under the same 2^63 bound as the
                # inline path's long accumulation
                scores = (mv @ cmat.T).astype(np.float64) / norms[None, :]
                best = scores.argmax(axis=1)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col],
                        "centroid_id": cid_arr[best],
                        "__mv": pdf["__mv"],
                        **{c: pdf[c] for c in keep_cols},
                    }
                )

        return corpus.mapInPandas(
            assign_batches,
            schema=f"{id_col} {id_type}, centroid_id long, __mv array<long>"
            + _keep_schema(corpus, keep_cols),
        )

    if route_probe is not None:
        return _assign_numpy_routed(
            corpus, cents, id_col, id_type, route_probe, keep_cols
        )
    return _assign_inline() if len(cents) <= inline_max_k else _assign_numpy()


def _keep_schema(corpus: DataFrame, keep_cols: tuple[str, ...]) -> str:
    """DDL suffix for passthrough columns, typed from the input frame so
    the Arrow round-trip declares exactly the source type (no casts)."""
    fields = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}
    return "".join(f", {c} {fields[c]}" for c in keep_cols)


def _vector_identity_key(id_col: str, vec_col: str) -> Column:
    """Grouping key under which two vectors are interchangeable for the
    raw-cosine pair scorers: md5 over the raw double sequence (Spark's
    shortest-round-trip string repr is injective on doubles).

    Any vector that cannot score — whole-column NULL, or containing a NULL
    or NaN ELEMENT — gets a per-row key so it never collapses. The element
    check matters: ``concat_ws`` silently skips NULL elements, so without
    it ``[1.0, NULL, 2.0]`` and ``[1.0, 2.0]`` would share a key, and a
    NaN element would alias whatever the cast maps it to.
    """
    v = F.col(vec_col)
    bad = v.isNull() | F.exists(
        v, lambda x: x.isNull() | F.isnan(x.cast("double"))
    )
    proj = F.transform(v, lambda x: x.cast("double").cast("string"))
    return F.when(~bad, F.md5(F.concat_ws(",", proj))).otherwise(
        F.concat(F.lit("__row__"), F.col(id_col).cast("string"))
    )


def centroid_assignment_drift(
    corpus_assign: DataFrame,
    batch_assign: DataFrame,
    centroid_id_col: str = "centroid_id",
    quant: float = 1e9,
) -> DataFrame:
    """Cell-occupancy drift between the stored corpus and an incoming
    batch — the staleness signal of the stored-centroid index
    (:func:`kmeans_centroids` / :func:`assign_to_stored_centroids`).

    The frozen cells were trained on a past corpus; they stay valid only
    while new data keeps landing in roughly the corpus's cell-occupancy
    distribution. This report answers "WHEN have the cells outgrown the
    data": tag each assignment frame with its origin and reuse
    ``source_drift_report``'s quantized TVD/chi-square fold over the cell
    id (bin width 1 — cells are already categorical). Output is one row
    per origin, ``(source, n_docs, tvd, chi2)`` with ``source`` in
    {'corpus', 'batch'}: each origin's occupancy is compared against the
    POOLED distribution, so the 'corpus' row is the near-zero reference
    (it dominates the pool) and the 'batch' row is the drift signal —
    alert/refresh (``streaming.dedup.refresh_centroids``) when its tvd
    crosses the operator's threshold. In-distribution batches score near
    the corpus row; a shifted batch (new domain, new embedding model,
    upstream drift) concentrates in few cells and scores high.

    Scale shape: inherited from ``source_drift_report`` — both inputs
    fold to (origin, cell) grain in ONE exchange (map-side combine), and
    everything after is arithmetic on two post-aggregate frames of at
    most 2 x k rows. The assignment frames are (id, centroid_id)
    projections; embeddings never enter.
    """
    from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
        source_drift_report,
    )

    tagged = corpus_assign.select(
        F.lit("corpus").alias("__origin"), F.col(centroid_id_col)
    ).unionByName(
        batch_assign.select(
            F.lit("batch").alias("__origin"), F.col(centroid_id_col)
        )
    )
    return source_drift_report(
        tagged, "__origin", centroid_id_col, bin_width=1, quant=quant
    )


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1 << 20,
) -> DataFrame:
    """Per-dimension QA statistics for an embedding column.

    Returns (dim, n, mean, mean_sq, min_v, max_v) — the table-health check
    run before any ANN/dedup pass: a dead dimension (zero variance), a
    clipped dimension (hard min/max walls), or a scale-outlier dimension
    all show up here before they silently poison cosine scores.

    Scale shape: posexplode emits (dim, value) pairs, but the groupBy(dim)
    partial aggregate folds them to one row PER DIMENSION PER PARTITION
    map-side, so the single exchange carries ~dims x partitions rows, not
    N x dims. No UDF, no driver collect.

    Determinism: float sums are partial-fold-order dependent, so values
    are quantized to ``1/scale`` units by ``floor`` first (exact: the
    float32 value widens to double losslessly and ``scale`` is a power of
    two, so ``v*scale`` and ``v*v*scale`` are exact IEEE products below
    2^53) and summed as exact longs; mean/mean_sq are each ONE double
    division at the end. min/max of floats are order-free already.

    Saturation: quantized units clamp to ±2^40 per element so a single
    pathological value (e.g. 1e30 — whose square would silently WRAP the
    long sum into garbage, even negative mean_sq) saturates the mean
    stats instead; the exact ``min_v``/``max_v`` columns carry the true
    extremes, which is where outlier detection reads anyway. The clamp
    keeps the sum exact through ~2^22 rows per dimension at full
    saturation and is a no-op for |v| < 2^20 (any normalized embedding).
    """
    q = F.lit(float(scale))
    cap = F.lit(float(1 << 40))
    v = F.col("v").cast("double")

    def quant(x):
        return (
            F.least(F.greatest(F.floor(x * q), -cap), cap).cast("long")
        )

    exploded = df.select(F.posexplode(F.col(vec_col)).alias("dim", "v"))
    return (
        exploded.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(quant(v)).alias("__sq"),
            F.sum(quant(v * v)).alias("__sq2"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            "n",
            (F.col("__sq").cast("double") / (q * F.col("n"))).alias("mean"),
            (F.col("__sq2").cast("double") / (q * F.col("n"))).alias(
                "mean_sq"
            ),
            "min_v",
            "max_v",
        )
    )
