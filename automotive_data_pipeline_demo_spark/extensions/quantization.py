"""Int8 scalar quantization for embedding columns + quantized ANN top-k.

The 100 TB ANN stack stores the corpus ONCE, quantized: per-vector symmetric
int8 (Guo et al. / faiss ``SQ8``) cuts the stored + shuffled bytes 4x vs
float32 and keeps the dot product in integer SIMD. This module provides the
quantizer as a pure JVM-side column transform (no Python in the hot path)
and a quantized brute-force top-k whose scores are cosine over the int8
codes — integer sums folded JVM-side, one sqrt/division at the end, so the
DuckDB oracle reproduces them bit-for-bit.

Determinism contract (plans/catalog.py module docstring): quantization is
``round(x * 127 / max|x|)`` computed in IEEE double with identical operation
order in both engines; both Spark and DuckDB round() are HALF_UP away from
zero. Zero vectors quantize to NULL codes (guarded identically on both
sides) rather than dividing by zero.

Scale shape: quantize is a narrow map (zero shuffle, stays in whole-stage
codegen); the top-k is the same broadcast-queries + window pattern as
``similarity.brute_force_topk`` — the corpus side never shuffles. IVF/LSH
bucketing composes orthogonally (quantize the bucketed corpus the same way).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
    bind_once,
)


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 codes: round(x * 127 / max|x|) as long.

    Returns NULL (not a zero array) for all-zero vectors — callers must
    treat NULL codes as "no similarity defined", which mirrors cosine being
    undefined on the zero vector.

    The max|x| scale is LET-BOUND (``bind_once``): captured as a bare
    tree inside the per-element lambda it would re-run the O(d) array_max
    once per element — O(d^2) per vector, measured 6x on the quantized
    scan at sf1.
    """
    v = F.transform(vec, lambda x: x.cast("double"))

    def over(scale: Column) -> Column:
        safe = F.when(scale != 0.0, scale)  # NULL when all zeros
        return F.transform(
            v, lambda x: F.round(x * 127.0 / safe).cast("long")
        )

    return bind_once(F.array_max(F.transform(v, F.abs)), over)


def _idot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _inorm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Top-k per query by cosine over int8 codes (4x smaller corpus).

    Same plan as the exact baseline (broadcast queries, narrow score map,
    per-query window) — only the stored representation changes. Recall vs
    the float baseline is asserted in tests; at 100 TB the quantized corpus
    is what you keep in the lake, with optional float re-ranking of the
    top candidates.

    Output: (query_id, vec_id, score_q) with score_q rounded to 4 dp and
    vec_id as the deterministic tiebreaker.
    """
    # norms ride in the per-side projections so the post-join score
    # references each code array once (for the dot product); inlined
    # whole-cosine references re-ran the quantizer per reference per pair
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            quantize_int8(F.col(vec_col)).alias("q_qv"),
        ).select(
            "query_id", "q_qv", _inorm2(F.col("q_qv")).alias("q_n2")
        )
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("vec_id"),
            quantize_int8(F.col(vec_col)).alias("c_qv"),
        )
        .select("vec_id", "c_qv", _inorm2(F.col("c_qv")).alias("c_n2"))
        .crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            F.round(
                _idot(F.col("c_qv"), F.col("q_qv")).cast("double")
                / (
                    F.sqrt(F.col("c_n2").cast("double"))
                    * F.sqrt(F.col("q_n2").cast("double"))
                ),
                4,
            ).alias("score_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def quantized_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    prefetch: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval: int8 scan -> exact float re-rank (the
    production SQ8 pattern). Stage 1 scores the 4x-smaller quantized
    corpus and keeps ``prefetch`` candidates per query; stage 2 re-scores
    ONLY those candidates against the full-precision vectors and returns
    the exact top-``k``. At 100 TB the full-precision table is touched for
    |queries| x prefetch rows instead of the whole corpus — the recall
    loss of quantization is confined to candidates ranked below
    ``prefetch``.

    Output matches brute_force_topk: (query_id, vec_id, score), score =
    exact cosine rounded to 4 dp, vec_id tiebreak.
    """
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        cosine_similarity_col,
    )

    cand = quantized_topk(
        corpus, queries, k=prefetch, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    ).select("query_id", "vec_id")
    exact = (
        cand.join(
            corpus.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__c_vec")
            ),
            "vec_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(vec_col).alias("__q_vec"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity_col(F.col("__c_vec"), F.col("__q_vec")), 4
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        exact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
