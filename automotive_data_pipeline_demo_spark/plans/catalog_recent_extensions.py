"""Later-round extensions: inbox, SCD2, drift, sketches, curation e2e.

Split out of ``plans/catalog.py`` purely mechanically (same specs, same
registration order — the hub imports the family modules in the original
section sequence, and each module registers its specs in original order).
Shared helpers and the spec registry live on the hub.
"""

import hashlib

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
    _ship_package,
)
from automotive_data_pipeline_demo_spark.plans.catalog_scale_extensions import (  # noqa: F401
    _Q4_SQL,
    _routed_assign_sql,
)
from automotive_data_pipeline_demo_spark.functions.caching import (  # noqa: F401
    eager_fill,
    register_caches,
)
from automotive_data_pipeline_demo_spark.functions.parallelism import (  # noqa: F401,E402
    fan_out,
)

# --------------------------------------------------------------------------
# Round-4 extensions: quantized ANN, model-based quality gate, Z-order layout,
# encrypted vendor inbox (S3/S4 in-engine analog)
# --------------------------------------------------------------------------

def q_s3_encrypted_inbox(spark: SparkSession, sf: str) -> DataFrame:
    """S3+S4 in-engine analog (scripts/s3_upload_automation.py:83-174):
    per-table vendor inbox of encrypted CSV exports; the source lists the
    inbox (metadata only), picks the LATEST export per table by mtime
    (reference :115-117), decrypts DISTRIBUTED (binaryFile + mapInPandas
    with a pluggable cipher — gnupg is out-of-container, the test cipher
    drives the identical path), and parses CSV JVM-side via from_csv with
    permissive casts. The fixture plants two generations per table with
    pinned mtimes; only generation 2 may surface — which is exactly what
    the oracle asserts over the source parquet.

    The fixture itself is planted DISTRIBUTED: the inbox contract is one
    encrypted CSV file per (table, generation) export, so each export is
    formatted, encrypted, and written inside ONE ``applyInPandas`` task
    for its (table, gen) group — the driver collects only the 4-row write
    manifest. (Through r6 this materialized the full customer table on
    the driver via ``toPandas`` — sf-proportional driver memory and the
    entry's 7.95 s cold outlier at sf1.) On a shared-filesystem cluster
    the same group task writes to the mounted inbox; local[n] writes to
    the per-process scratch lake.
    """
    root = _scratch(sf, "vendor_inbox")
    _ship_package(spark)
    key = 0x5A

    planted = (
        _t(spark, sf, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .withColumn(
            "table",
            F.when(F.col("c_custkey") % 2 == 0, F.lit("cust_even")).otherwise(
                F.lit("cust_odd")
            ),
        )
        .withColumn("gen", F.explode(F.array(F.lit(1), F.lit(2))))
    )

    def write_export(pdf):
        import os as _os

        import pandas as _pd

        table, gen = str(pdf["table"].iloc[0]), int(pdf["gen"].iloc[0])
        mtime = 1_000_000_000 if gen == 1 else 1_100_000_000
        d = f"{root}/{table}"
        _os.makedirs(d, exist_ok=True)

        # NULL-safe CSV fields: a NULL key/name/balance (NaN through the
        # Arrow->pandas transfer) exports as an EMPTY field, which
        # from_csv's permissive cast reads back as NULL — the row
        # round-trips instead of crashing the export task (pre-r6 the
        # driver path silently dropped NULL-key rows via a NaN%2 filter).
        def _f(v):
            if v is None or (isinstance(v, float) and v != v):
                return ""
            return str(int(v)) if isinstance(v, float) else str(v)

        lines = ["c_custkey,c_name,c_acctbal,load_gen"] + [
            f"{_f(k)},{_f(n)},{'' if a is None or a != a else repr(float(a))},{gen}"
            for k, n, a in zip(pdf.c_custkey, pdf.c_name, pdf.c_acctbal)
        ]
        p = f"{d}/export_gen{gen}.csv.gpg"
        with open(p, "wb") as fh:
            fh.write(bytes(b ^ key for b in "\n".join(lines).encode("utf-8")))
        _os.utime(p, (mtime, mtime))
        return _pd.DataFrame({"table": [table], "gen": [gen], "n": [len(pdf)]})

    # terminal action on the 4-row manifest (one row per export file);
    # bounded driver transfer regardless of sf
    manifest = planted.groupBy("table", "gen").applyInPandas(
        write_export, "table string, gen int, n long"
    ).collect()

    # Shared-filesystem guard: the group tasks wrote via executor-local
    # open(), so on a cluster WITHOUT a shared fs the driver-side listing
    # would see an empty/partial inbox and the entry would return silently
    # wrong data. Assert the listing discovers exactly the files the write
    # manifest reported, so a non-shared-fs deployment fails loudly.
    discovered = {
        (r["table"], r["path"].rsplit("/", 1)[-1])
        for r in list_inbox(spark, root).collect()
    }
    expected = {
        (r["table"], f"export_gen{r['gen']}.csv.gpg") for r in manifest
    }
    if not expected <= discovered:
        raise RuntimeError(
            "vendor-inbox fixture: executor-written exports missing from the "
            f"driver-side listing ({sorted(expected - discovered)}) — the "
            "inbox root must live on a filesystem shared between executors "
            "and driver"
        )

    out = read_latest_encrypted_inbox(
        spark,
        root,
        {
            "c_custkey": "bigint",
            "c_name": "string",
            "c_acctbal": "double",
            "load_gen": "int",
        },
        decryptor=xor_decryptor(key),
    )
    return out


_register(QuerySpec(
    name="s3_encrypted_inbox",
    survey="S3+S4: latest-file-per-table vendor inbox + distributed decrypt stage",
    build=q_s3_encrypted_inbox,
    oracle="""
        SELECT c_custkey, c_name, c_acctbal, CAST(2 AS INT) AS load_gen
        FROM customer
    """,
    tags=("source", "decrypt"),
))



def q_x_sim_quantized(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar-quantized ANN (faiss-SQ8 posture): the corpus is stored
    as per-vector symmetric int8 codes (4x smaller than float32 — the
    representation you keep at 100 TB), scored by cosine over the codes.
    Quantize is a zero-shuffle narrow map; the top-k reuses the broadcast
    -queries + window plan of the exact baseline; recall vs the float
    baseline is asserted in tests/test_extensions.py.
    """
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return quantized_topk(emb, queries_df, k=10)


_register(QuerySpec(
    name="x_sim_quantized",
    survey="north-star: ANN over int8-quantized embeddings (SQ8)",
    build=q_x_sim_quantized,
    oracle="""
        WITH sc AS (
          SELECT vec_id, embedding,
                 list_aggregate(list_transform(embedding,
                     y -> abs(CAST(y AS DOUBLE))), 'max') AS scale
          FROM embeddings
        ), qz AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                                   NULLIF(scale, 0.0)) AS BIGINT)) AS qv
          FROM sc
        ), q AS (
          SELECT vec_id AS query_id, qv AS q_qv FROM qz WHERE vec_id < 5
        ), scored AS (
          SELECT q.query_id, c.vec_id,
                 ROUND(
                   CAST(list_aggregate(list_transform(list_zip(c.qv, q.q_qv),
                          p -> p[1] * p[2]), 'sum') AS DOUBLE)
                   / (sqrt(CAST(list_aggregate(list_transform(c.qv,
                          x -> x * x), 'sum') AS DOUBLE))
                    * sqrt(CAST(list_aggregate(list_transform(q.q_qv,
                          x -> x * x), 'sum') AS DOUBLE))), 4) AS score_q
          FROM qz c CROSS JOIN q
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score_q DESC, vec_id ASC) AS rn
          FROM scored
        )
        SELECT query_id, vec_id, score_q FROM ranked WHERE rn <= 10
    """,
    tags=("similarity", "quantization"),
))


def q_x_text_quality_model(spark: SparkSession, sf: str) -> DataFrame:
    """Model-based quality gate (fastText/DCLM-classifier posture): a
    feature-hashed linear model scores every document in a ZERO-SHUFFLE
    narrow map (hash token -> bucket -> weight, fold, one division).
    Weights derive deterministically from the bucket id so the oracle
    reproduces exact scores; trained weights drop in as a plan literal.
    """
    docs = _t(spark, sf, "documents")
    out = hashed_linear_score(docs, "doc_id", "text", n_buckets=64,
                              threshold=-140.0)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        "n_tok", "raw_score", "quality_logit", "keep",
    )


_register(QuerySpec(
    name="x_text_quality_model",
    survey="north-star: model-based quality filtering (hashed linear classifier)",
    build=q_x_text_quality_model,
    oracle="""
        WITH tk AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), w AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                 CAST(COALESCE(list_aggregate(list_transform(toks,
                   t -> ((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64)
                          * 2654435761 % 1997) - 998), 'sum'), 0)
                      AS BIGINT) AS raw_score
          FROM tk
        )
        SELECT doc_id, n_tok, raw_score,
               CASE WHEN n_tok > 0
                    THEN ROUND(CAST(raw_score AS DOUBLE) / n_tok, 4) END
                 AS quality_logit,
               CAST(CASE WHEN n_tok > 0
                          AND CAST(raw_score AS DOUBLE) / n_tok >= -140.0
                         THEN 1 ELSE 0 END AS INT) AS keep
        FROM w
    """,
    tags=("text", "quality", "classifier"),
))


def q_scale_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) lake layout: orders written range-sorted on the
    interleaved bits of (o_custkey, order day), so every parquet file is a
    small rectangle in key space and predicates on EITHER column skip
    files at the scan — the multi-dimensional companion to
    scale_sorted_layout's single-key SORTKEY. The Morton code itself is
    engine-portable integer arithmetic, recomputed by the oracle, so the
    layout math (not just its effect) is driver-verified; per-file min/max
    tightness on both keys is asserted in tests/test_scale.py.
    """
    out_path = _scratch(sf, "orders_zorder")
    orders = _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("o_day"),
    )
    write_zorder(orders, out_path, ["o_custkey", "o_day"], n_files=8)
    scan = spark.read.parquet(out_path).filter(
        (F.col("o_custkey") >= 10)
        & (F.col("o_custkey") < 60)
        & (F.col("o_day") >= 1100)
        & (F.col("o_day") < 1400)
    )
    sel = scan.select(
        "o_orderkey",
        "o_custkey",
        "o_day",
        "o_totalprice",
        morton_code(F.col("o_custkey"), F.col("o_day"), bits=16).alias("z_code"),
    )
    plan = sel._jdf.queryExecution().executedPlan().toString()
    pushed = "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    return sel.withColumn("plan_pushdown", F.lit(1 if pushed else 0).cast("int"))


_register(QuerySpec(
    name="scale_zorder_layout",
    survey="scale: Z-order multi-dimensional lake layout (OPTIMIZE ZORDER parity)",
    build=q_scale_zorder_layout,
    oracle=f"""
        SELECT o_orderkey, o_custkey,
               CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate)
                    AS BIGINT) AS o_day,
               o_totalprice,
               {morton_sql("o_custkey",
                           "CAST(date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) AS BIGINT)",
                           bits=16)} AS z_code,
               CAST(1 AS INT) AS plan_pushdown
        FROM orders
        WHERE o_custkey >= 10 AND o_custkey < 60
          AND date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) >= 1100
          AND date_diff('day', TIMESTAMP '1992-01-01', o_orderdate) < 1400
    """,
    tags=("scale", "layout", "zorder"),
))


def q_x_dedup_minhash_est(spark: SparkSession, sf: str) -> DataFrame:
    """Signature-based Jaccard ESTIMATE over the LSH candidates — the
    cheap middle stage between banding and exact verification (scoring a
    pair touches 2x8 min-hashes, not two shingle sets), so pairs far
    below the dedup threshold never reach the array-intersect verify.
    """
    docs = _t(spark, sf, "documents")
    arrs = shingle_arrays(docs, "doc_id", "text", 3).persist()
    return minhash_jaccard_estimate(
        docs, "doc_id", "text", num_hashes=8, shingle_n=3,
        band_size=2, min_estimate=0.0, shingles=arrs,
    )


_register(QuerySpec(
    name="x_dedup_minhash_est",
    survey="north-star: MinHash signature Jaccard estimate (pre-verify filter)",
    build=q_x_dedup_minhash_est,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), shingles AS (
          SELECT DISTINCT id, sh FROM (
            SELECT id,
                   array_to_string(toks[i : i + 2], ' ') AS sh
            FROM toks,
                 UNNEST(range(1, greatest(len(toks) - 2, 1) + 1)) AS u(i)
          )
        ), salted AS (
          SELECT id, hash_idx,
                 md5(CAST(hash_idx AS VARCHAR) || '|' || sh) AS h
          FROM shingles, UNNEST(range(0, 8)) AS s(hash_idx)
        ), sigs AS (
          SELECT id, hash_idx, MIN(h) AS min_hash
          FROM salted GROUP BY 1, 2
        ), bands AS (
          SELECT id, CAST(hash_idx // 2 AS INT) AS band,
                 string_agg(CAST(hash_idx AS VARCHAR) || ':' || min_hash, '_'
                            ORDER BY hash_idx) AS band_key
          FROM sigs GROUP BY 1, 2
        ), cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
        )
        SELECT c.id_a, c.id_b,
               ROUND(CAST(SUM(CASE WHEN sa.min_hash = sb.min_hash
                                   THEN 1 ELSE 0 END) AS DOUBLE) / 8, 4)
                 AS est_jaccard
        FROM cand c
        JOIN sigs sa ON sa.id = c.id_a
        JOIN sigs sb ON sb.id = c.id_b AND sb.hash_idx = sa.hash_idx
        GROUP BY 1, 2
    """,
    tags=("dedup", "minhash", "estimate"),
))


def q_x_text_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-coverage analysis: top-V corpus vocabulary (frequency
    desc, term asc tiebreak — TakeOrderedAndProject, no single-partition
    exchange) broadcast-joined back for per-doc OOV rates — the
    dataset-card metric for tokenizer fit / out-of-domain detection.
    """
    docs = _t(spark, sf, "documents")
    out = vocab_oov_rate(docs, "doc_id", "text", vocab_size=32)
    return out.select(
        F.col("id").alias("doc_id"), "n_tok", "n_oov", "oov_rate"
    )


_register(QuerySpec(
    name="x_text_vocab",
    survey="north-star: corpus vocabulary build + per-doc OOV rate",
    bench=True,
    build=q_x_text_vocab,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS term
          FROM documents
        ), counts AS (
          SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
        ), vocab AS (
          SELECT term FROM counts ORDER BY cnt DESC, term ASC LIMIT 32
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov,
               ROUND(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                     / COUNT(*), 4) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.term = v.term
        GROUP BY 1
    """,
    tags=("text", "vocab"),
))


def q_x_text_token_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenization stage: every document encoded as its token-ID sequence
    against the corpus top-32 vocabulary (ids 1-based in frequency order,
    unk = 0), ids rendered comma-joined in document order. One (term,
    count) exchange builds the vocabulary; the (term -> id) map broadcasts
    as a one-row map column and the encoding is a narrow per-doc
    transform — the corpus never shuffles.
    """
    docs = _t(spark, sf, "documents")
    return tokenize_to_ids(docs, "doc_id", "text", vocab_size=32).select(
        F.col("id").alias("doc_id"), "n_tok", "ids"
    )


_register(QuerySpec(
    name="x_text_token_ids",
    survey="north-star: text -> token-id sequences (tokenizer plumbing)",
    build=q_x_text_token_ids,
    oracle="""
        WITH toks AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS term
          FROM documents
        ), counts AS (
          SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
        ), vocab AS (
          SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS tid
          FROM (SELECT * FROM counts ORDER BY cnt DESC, term ASC LIMIT 32)
        ), seq AS (
          SELECT CAST(doc_id AS BIGINT) AS id, arr[j] AS term, j
          FROM (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t <> '') AS arr
            FROM documents
          ), UNNEST(range(1, len(arr) + 1)) AS u(j)
        )
        SELECT s.id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
               string_agg(CAST(COALESCE(v.tid, 0) AS VARCHAR), ','
                          ORDER BY s.j) AS ids
        FROM seq s LEFT JOIN vocab v USING (term)
        GROUP BY s.id
    """,
    tags=("text", "tokenizer"),
))


def q_x_sim_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Two-stage ANN: int8-quantized scan keeps 50 candidates per query,
    exact float cosine re-ranks them to the final top-10 — the production
    SQ8 pattern (full-precision vectors touched for |queries| x 50 rows,
    not the corpus). The oracle replays both stages declaratively.
    """
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return quantized_rerank_topk(emb, queries_df, k=10, prefetch=50)


_register(QuerySpec(
    name="x_sim_rerank",
    survey="north-star: two-stage ANN (quantized scan + exact re-rank)",
    bench=True,
    build=q_x_sim_rerank,
    oracle=f"""
        WITH sc AS (
          SELECT vec_id, embedding,
                 list_aggregate(list_transform(embedding,
                     y -> abs(CAST(y AS DOUBLE))), 'max') AS scale
          FROM embeddings
        ), qz AS (
          SELECT vec_id, embedding,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 127.0 /
                                   NULLIF(scale, 0.0)) AS BIGINT)) AS qv
          FROM sc
        ), q AS (
          SELECT vec_id AS query_id, qv AS q_qv, embedding AS q_vec
          FROM qz WHERE vec_id < 5
        ), stage1 AS (
          SELECT q.query_id, c.vec_id, c.embedding AS c_vec, q.q_vec,
                 ROUND(
                   CAST(list_aggregate(list_transform(list_zip(c.qv, q.q_qv),
                          p -> p[1] * p[2]), 'sum') AS DOUBLE)
                   / (sqrt(CAST(list_aggregate(list_transform(c.qv,
                          x -> x * x), 'sum') AS DOUBLE))
                    * sqrt(CAST(list_aggregate(list_transform(q.q_qv,
                          x -> x * x), 'sum') AS DOUBLE))), 4) AS score_q
          FROM qz c CROSS JOIN q
        ), prefetch AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY score_q DESC, vec_id ASC) AS rn1
            FROM stage1
          ) WHERE rn1 <= 50
        ), exact AS (
          SELECT query_id, vec_id,
                 ROUND({_COS_SQL.format(a="c_vec", b="q_vec")}, 4) AS score
          FROM prefetch
        )
        SELECT query_id, vec_id, score FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY score DESC, vec_id ASC) AS rn
          FROM exact
        ) WHERE rn <= 10
    """,
    tags=("similarity", "quantization", "rerank"),
))


def q_x_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Containment (overlap-coefficient) near-dup scoring: intersection /
    min set size. Catches doc-inside-doc duplication — a page embedded in
    a larger page scores ~1.0 here but falls under a Jaccard threshold
    because the union denominator grows with the big doc. Runs with the
    default doc-frequency cap (the 100 TB fan-out bound — the uncapped
    exact baseline is x_dedup_jaccard_capped's 'exact' mode); the oracle
    recomputes the capped shingle universe, same as x_dedup_jaccard_capped.
    """
    docs = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, shingle_n=3,
        max_doc_freq=5, metric="containment",
    )


_register(QuerySpec(
    name="x_dedup_containment",
    survey="north-star: containment/overlap-coefficient near-dup (doc-inside-doc)",
    build=q_x_dedup_containment,
    oracle="""
        WITH toks AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), shingles AS (
          SELECT DISTINCT id, sh FROM (
            SELECT id, array_to_string(toks[i : i + 2], ' ') AS sh
            FROM toks,
                 UNNEST(range(1, greatest(len(toks) - 2, 1) + 1)) AS u(i)
          )
        ), capped AS (
          SELECT id, sh FROM (
            SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS dfreq
            FROM shingles
          ) WHERE dfreq <= 5
        ), sizes AS (
          SELECT id, COUNT(*) AS n_shingles FROM capped GROUP BY 1
        ), pairs AS (
          SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS n_common
          FROM capped x JOIN capped y ON x.sh = y.sh AND x.id < y.id
          GROUP BY 1, 2
        )
        SELECT p.id_a, p.id_b,
               ROUND(p.n_common / least(sa.n_shingles, sb.n_shingles), 4)
                 AS containment
        FROM pairs p
        JOIN sizes sa ON p.id_a = sa.id
        JOIN sizes sb ON p.id_b = sb.id
        WHERE p.n_common / least(sa.n_shingles, sb.n_shingles) >= 0.5
    """,
    tags=("dedup", "containment", "scale"),
))


def q_x_sample_interleave(spark: SparkSession, sf: str) -> DataFrame:
    """Sharded source-interleaved training order: positions within each
    shard cycle through sources (round r of every per-source stream before
    round r+1) instead of long same-source runs. One window per
    (shard, source) + one per shard — shards stay independent, no global
    single-partition sort.
    """
    docs = _t(spark, sf, "documents")
    return interleave_sources(docs, "doc_id", "source", n_shards=8).select(
        F.col("shard").cast("int").alias("shard"),
        "pos",
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
    )


_register(QuerySpec(
    name="x_sample_interleave",
    survey="north-star: deterministic source-interleaved training order",
    build=q_x_sample_interleave,
    oracle="""
        WITH base AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                 CAST((CAST('0x' || substr(md5('interleave|' ||
                        CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000)
                      % 8 AS INT) AS shard,
                 md5('interleave|' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY shard, source ORDER BY h, doc_id) AS rnk
          FROM base
        )
        SELECT shard,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY shard ORDER BY rnk, source, doc_id) AS INT)
                 AS pos,
               doc_id, source
        FROM ranked
    """,
    tags=("sampling", "interleave"),
))


_BM25_TERMS = ["merge", "vector", "stream"]


def q_x_text_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-20 retrieval for a fixed 3-term query. Per-term tf and doc
    length fold row-locally in the scan stage; N/avgdl/df partial-combine
    to ONE broadcast row; top-k is TakeOrderedAndProject. Nothing
    vocabulary- or corpus-sized ever shuffles.
    """
    docs = _t(spark, sf, "documents")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=20)


_register(QuerySpec(
    name="x_text_bm25",
    survey="north-star: BM25 relevance retrieval over the corpus",
    bench=True,
    build=q_x_text_bm25,
    oracle="""
        WITH base AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks
          FROM documents
        ), per AS (
          SELECT id,
                 CAST(len(toks) AS BIGINT) AS dl,
                 CAST(len(list_filter(toks, x -> x = 'merge')) AS BIGINT)
                   AS tf_0,
                 CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT)
                   AS tf_1,
                 CAST(len(list_filter(toks, x -> x = 'stream')) AS BIGINT)
                   AS tf_2
          FROM base
        ), stats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS total_dl,
                 CAST(SUM(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df_0,
                 CAST(SUM(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df_1,
                 CAST(SUM(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df_2
          FROM per
        ), scored AS (
          SELECT id AS doc_id, dl,
                 ROUND(
                   ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_0 AS DOUBLE)
                             + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5))
                     * CAST(tf_0 AS DOUBLE) * 2.2
                     / (CAST(tf_0 AS DOUBLE)
                        + 1.2 * (1.0 - 0.75 + 0.75
                                 * (CAST(dl * n_docs AS DOUBLE)
                                    / CAST(total_dl AS DOUBLE))))
                   + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_1 AS DOUBLE)
                             + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5))
                     * CAST(tf_1 AS DOUBLE) * 2.2
                     / (CAST(tf_1 AS DOUBLE)
                        + 1.2 * (1.0 - 0.75 + 0.75
                                 * (CAST(dl * n_docs AS DOUBLE)
                                    / CAST(total_dl AS DOUBLE))))
                   + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_2 AS DOUBLE)
                             + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5))
                     * CAST(tf_2 AS DOUBLE) * 2.2
                     / (CAST(tf_2 AS DOUBLE)
                        + 1.2 * (1.0 - 0.75 + 0.75
                                 * (CAST(dl * n_docs AS DOUBLE)
                                    / CAST(total_dl AS DOUBLE)))),
                   4) AS score
          FROM per, stats
        )
        SELECT doc_id, dl, score FROM scored
        WHERE score > 0
        ORDER BY score DESC, doc_id ASC
        LIMIT 20
    """,
    tags=("text", "retrieval", "bm25"),
))


def q_x_embed_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension embedding QA stats. posexplode rows partial-combine to
    dimension grain map-side, so the single exchange carries ~dims x
    partitions rows; float sums are quantized to exact longs (fold-order
    free) with one final division per stat.
    """
    emb = _t(spark, sf, "embeddings")
    return embedding_dim_stats(emb, "embedding")


_register(QuerySpec(
    name="x_embed_stats",
    survey="north-star: embedding-column QA statistics",
    build=q_x_embed_stats,
    oracle="""
        WITH ex AS (
          SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS t(i)
        )
        SELECT CAST(dim AS INT) AS dim,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(least(greatest(floor(v * 1048576.0),
                        -1099511627776.0), 1099511627776.0) AS BIGINT))
                    AS DOUBLE)
                 / (1048576.0 * COUNT(*)) AS mean,
               CAST(SUM(CAST(least(greatest(floor(v * v * 1048576.0),
                        -1099511627776.0), 1099511627776.0) AS BIGINT))
                    AS DOUBLE)
                 / (1048576.0 * COUNT(*)) AS mean_sq,
               MIN(v) AS min_v,
               MAX(v) AS max_v
        FROM ex GROUP BY 1
    """,
    tags=("similarity", "stats", "multimodal"),
))


def q_x_corpus_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source length-distribution drift vs the corpus (TVD + chi2).
    Raw rows reduce to (source, bin) grain in one exchange; the comparison
    grid is a broadcast product of two post-aggregate frames; per-bin
    contributions quantize to exact longs so the bin fold order cannot
    change the hash.
    """
    docs = _t(spark, sf, "documents")
    # source_drift_report lazily persists its (source, bin) fold. An
    # unpinned fold read 27-33% faster here at both bench scales (0.45/0.79
    # s vs 0.62/0.98 at sf0.1/sf10p) and was rejected: its executed plan
    # re-scans the corpus five times (3 ReusedExchange, 5 FileScans —
    # `git show f4e9f77:plans/r15/x_corpus_drift_off_rejected_executed.txt`),
    # which only reads cheap because the two pruned columns of a local
    # parquet file are page-cached; at 100 TB those are four extra
    # corpus-column scans.
    return source_drift_report(docs, "source", "n_chars", bin_width=100)


_register(QuerySpec(
    name="x_corpus_drift",
    survey="north-star: per-source distribution-drift monitoring",
    build=q_x_corpus_drift,
    oracle="""
        WITH b AS (
          SELECT source,
                 CAST((n_chars // 100) * 100 AS BIGINT) AS bin
          FROM documents
        ), sb AS (
          SELECT source, bin, COUNT(*) AS n_sb FROM b GROUP BY 1, 2
        ), s_tot AS (
          SELECT source, CAST(SUM(n_sb) AS BIGINT) AS n_s FROM sb GROUP BY 1
        ), c_bin AS (
          SELECT bin, CAST(SUM(n_sb) AS BIGINT) AS n_b FROM sb GROUP BY 1
        ), c_tot AS (
          SELECT CAST(SUM(n_b) AS BIGINT) AS n_c FROM c_bin
        ), grid AS (
          SELECT st.source, st.n_s,
                 CAST(COALESCE(x.n_sb, 0) AS DOUBLE)
                   / CAST(st.n_s AS DOUBLE) AS p_s,
                 CAST(cb.n_b AS DOUBLE) / CAST(ct.n_c AS DOUBLE) AS p_c
          FROM s_tot st
          CROSS JOIN c_bin cb
          CROSS JOIN c_tot ct
          LEFT JOIN sb x ON x.source IS NOT DISTINCT FROM st.source
                        AND x.bin IS NOT DISTINCT FROM cb.bin
        )
        SELECT source,
               CAST(MAX(n_s) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(floor(abs(p_s - p_c) * 1000000000.0)
                             AS BIGINT)) AS DOUBLE)
                 / 2000000000.0 AS tvd,
               CAST(SUM(CAST(floor((p_s - p_c) * (p_s - p_c) / p_c
                                   * 1000000000.0) AS BIGINT)) AS DOUBLE)
                 / 1000000000.0 AS chi2
        FROM grid GROUP BY 1
    """,
    tags=("text", "stats", "monitoring"),
))


def q_x_corpus_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot-version audit: two deterministic corpus versions derived
    from ``documents`` (v1 drops doc_id%10==0, v2 drops doc_id%10==1 and
    rewrites doc_id%7==0 texts), diffed to per-source added/removed/
    changed/unchanged counts. Digests cross the join, never documents.
    """
    docs = _t(spark, sf, "documents")
    v1 = docs.filter(F.col("doc_id") % 10 != 0)
    v2 = docs.filter(F.col("doc_id") % 10 != 1).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_snapshot_diff(v1, v2, "doc_id", "text")


_register(QuerySpec(
    name="x_corpus_diff",
    survey="north-star: dataset-version snapshot diff audit",
    bench=True,
    build=q_x_corpus_diff,
    oracle="""
        WITH v1 AS (
          SELECT CAST(doc_id AS BIGINT) AS id, source, md5(text) AS h
          FROM documents WHERE doc_id % 10 <> 0
        ), v2 AS (
          SELECT CAST(doc_id AS BIGINT) AS id, source,
                 md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
                          ELSE text END) AS h
          FROM documents WHERE doc_id % 10 <> 1
        ), j AS (
          SELECT COALESCE(v2.source, v1.source) AS source,
                 CASE WHEN v1.id IS NULL THEN 'added'
                      WHEN v2.id IS NULL THEN 'removed'
                      WHEN v1.h IS DISTINCT FROM v2.h THEN 'changed'
                      ELSE 'unchanged' END AS st
          FROM v1 FULL OUTER JOIN v2 ON v1.id = v2.id
        )
        SELECT source,
               CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_added,
               CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN st = 'changed' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_changed,
               CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unchanged
        FROM j GROUP BY 1
    """,
    tags=("text", "versioning", "audit"),
))


def _planted_gate_docs() -> list[tuple[int, str]]:
    """16 stopword-realistic documents that prove the PUBLISHED Gopher
    thresholds (Rae et al. 2021: min 50 words, >= 2 distinct probe
    stopwords) inside the benched curation DAG — the synthetic corpus has
    too little stopword variety to exercise them (zero real docs clear
    min_stop_hits=2), so the chain carries this planted cohort end to
    end. Negative ids can never collide with table doc_ids at any sf
    (including the x10 sf1 mirror's shifted ids).

    - 6 docs: 60 words, 3 distinct stopwords -> pass the published gate;
    - 5 docs: 30 words, 2 stopwords -> fail ONLY min_words=50
      (pass the corpus-tuned min_words=20);
    - 5 docs: 60 words, 1 stopword  -> fail ONLY min_stop_hits=2
      (pass the corpus-tuned min_stop_hits=1).

    All 16 pass every other published rule (plain alpha words, mean word
    length ~6, no symbols/bullets/ellipses), so the gopher_ok vs
    gopher_published stage delta is attributable to exactly the two
    published thresholds. Deterministic literals: the Spark builder and
    the DuckDB oracle consume this same list.
    """
    docs: list[tuple[int, str]] = []
    specs = [(60, ("the", "and", "of"))] * 6 + [(30, ("the", "and"))] * 5 + [
        (60, ("the",))
    ] * 5
    for i, (n_words, stops) in enumerate(specs):
        toks = list(stops) + [
            f"pg{i}w{k}" for k in range(n_words - len(stops))
        ]
        docs.append((-(i + 1), " ".join(toks)))
    return docs


_PLANTED_GATE_VALUES_SQL = ",\n              ".join(
    f"({i}, '{t}', 'xx', 'plantedgate')" for i, t in _planted_gate_docs()
)

# bump when the staged stage-1..5 chain changes (new scratch path per code
# version; _scratch is already pid-namespaced, so stale dirs cost nothing)
_CURATION_BASE_VERSION = "r14b"  # r14: keyed fan_out layout (N-file artifact)


def _curation_base(spark: SparkSession, sf: str, plant_gate: bool) -> DataFrame:
    """Stages 1-5 of the curation DAG — NFC -> line dedup -> Gopher gates
    -> leakage-safe split -> quality score — materialized ONCE per
    (process, sf) as a scratch parquet and shared VERBATIM by both
    registered twins (they differ only from the dedup stage on).

    This is the stage-store posture every production curation pipeline
    runs (CCNet/Dolma write each stage's shards; downstream configs read
    them) — recomputing identical upstream stages per dedup configuration
    is exactly what you would never do at 100 TB. All staged columns are
    strings/longs/booleans, so the parquet round-trip is bit-exact and
    oracle parity is untouched. The artifact is keyed by code version and
    pid-namespaced (see _scratch), so concurrent suites and code edits
    never read a stale stage.
    """
    # key by the ABSOLUTE sf path, not just _scratch's basename: pytest
    # fixtures reuse the basename "sf" for different tmp corpora within
    # one process, and a basename-keyed stage would silently serve the
    # previous fixture's rows
    sf_key = hashlib.md5(os.path.abspath(sf).encode()).hexdigest()[:8]
    leaf = (
        f"curation_base_{_CURATION_BASE_VERSION}_{sf_key}"
        + ("p" if plant_gate else "")
    )
    path = _scratch(sf, leaf)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs = _t(spark, sf, "documents")
        corpus = docs.filter(F.col("doc_id") >= 100)
        nfc = corpus.select(
            F.col("doc_id").cast("long").alias("id"),
            nfc_normalize_text(F.col("text")).alias("ntext"),
            "lang",
            "source",
        )
        if plant_gate:
            planted = spark.createDataFrame(
                [(i, t, "xx", "plantedgate") for i, t in _planted_gate_docs()],
                schema="id long, ntext string, lang string, source string",
            )
            nfc = nfc.unionByName(planted)
        words = F.split(F.col("ntext"), " ")
        framed = bind_once(
            words,
            lambda w: F.concat(
                F.lit("shared "),
                F.col("source"),
                F.lit(" banner line\n"),
                F.array_join(
                    F.transform(
                        F.sequence(
                            F.lit(0), F.ceil(F.size(w) / F.lit(8)).cast("int") - 1
                        ),
                        lambda i: F.array_join(F.slice(w, i * F.lit(8) + 1, 8), " "),
                    ),
                    "\n",
                ),
            ),
        )
        ld = line_dedup(
            nfc.select("id", framed.alias("ftext"), "ntext", "lang", "source"),
            "id",
            "ftext",
            delim="\n",
            min_doc_freq=4,
            carry_cols=("ntext", "lang", "source"),
        ).select(
            "id",
            F.col("cleaned_text").alias("ldtext"),
            (F.col("cleaned_text") != "").alias("__ld"),
            "ntext",
            "lang",
            "source",
        )
        # the Gopher gate as an in-line stage (keep_cols passthrough, no
        # doc-grain join back). The CHAIN gate is corpus-tuned (the
        # synthetic corpus has low stopword variety and 10-100-word
        # docs); the PUBLISHED Rae et al. thresholds (50 words / 2 stop
        # hits) are strictly tighter on the same measures, so their
        # audit flag derives from the one measurement pass — proven
        # non-vacuously by the planted cohort (_planted_gate_docs).
        gated = gopher_quality_rules(
            ld,
            "id",
            "ldtext",
            min_words=20,
            min_stop_hits=1,
            keep_cols=("ldtext", "__ld", "ntext", "lang", "source"),
        ).select(
            "id",
            "ldtext",
            "ntext",
            "lang",
            "source",
            "__ld",
            (F.col("__ld") & F.col("gopher_pass")).alias("__gok"),
            (
                F.col("__ld")
                & F.col("gopher_pass")
                & (F.col("n_words") >= 50)
                & (F.col("stop_hits") >= 2)
            ).alias("__gpub"),
        )
        (
            # fan_out before the quality_score regex AND before the write:
            # the line-dedup join upstream collapses to ~1 partition at
            # small scale, which (r14 event-log profile) made every
            # downstream read of this artifact a ONE-task scan — the
            # dedup/contamination stages of both e2e twins serialized on
            # one core. N output files give every reader scan parallelism;
            # gated, so a large staged corpus is never re-shuffled.
            fan_out(
                hash_split(
                    gated, "source", {"train": 0.8, "val": 0.1, "test": 0.1}
                ),
                key="id",
            )
            .withColumn("q4", (quality_score(F.col("ldtext")) * 4).cast("long"))
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path)


def _curation_e2e(
    spark: SparkSession,
    sf: str,
    max_doc_freq: int | None,
    max_bucket_size: int | None,
    plant_gate: bool = True,
) -> DataFrame:
    """The COMPLETE training-data curation DAG chained on one engine, one
    entry — the published CCNet / Gopher / Dolma stage order end to end:

      ingest -> NFC canonicalize -> corpus line dedup (boilerplate
      removal) -> Gopher rule gate (corpus-tuned chain gate + the
      PUBLISHED Rae et al. 50-words/2-stopwords audit row, proven by the
      planted cohort of _planted_gate_docs) -> LM-proxy quality gate ->
      near-dup dedup (MinHash-LSH bands -> Jaccard verify -> connected
      components) -> benchmark decontamination (8-gram) -> leakage-safe
      group split -> fixed-budget sequence packing

    Stages 1-5 are built and staged by :func:`_curation_base` — ONE
    scratch-parquet artifact per (process, sf), shared verbatim by both
    registered twins; this entry's own work starts at the dedup stage.

    Emits one audit row per stage (stage_no, stage, n_rows) — the
    dataset-card trail a production curation run ships. Every stage is
    the engine's first-class operator applied to the PREVIOUS stage's
    survivors: the line-deduped text feeds the Gopher and quality
    expressions, their survivors feed shingling, only near-dup winners
    are decontaminated, only clean docs are split, and only the train
    split is packed.

    Fixture framing for the line stage: the synthetic corpus carries no
    newline structure and no real site chrome, so each doc frames into
    8-word lines (the same deterministic reshaping x_text_line_dedup
    uses, mirrored exactly by the oracle) prefixed by its source's
    chrome line — whose document frequency is the source's whole doc
    count, the navigation-chrome shape the published line stage strips —
    while cohort-shared CONTENT lines (df 2-3) stay under the
    ``min_doc_freq=4`` bar and survive to the DOC-level near-dup stage,
    exactly the division of labor CCNet/Dolma describe.

    ``max_doc_freq``/``max_bucket_size`` parameterize the dedup stage:
    ``None``/``None`` is the oracle-parity mode (exact over all content,
    via the collapsed-cohort route), the production caps are the 100 TB
    posture (band buckets bounded, boilerplate shingle fan-out bounded).
    Both modes are registered; the capped twin's oracle models the caps
    declaratively (bucket-size filter on the band index, doc-frequency
    filter on the verify universe) so it stays exact at any scale.

    Scale shape: the corpus is scanned once; NFC + framing + the Gopher
    gate + split are scan-stage projections; line dedup adds one
    digest-grain exchange plus a broadcast anti-join; dedup adds the
    banded-candidate exchanges bounded exactly as x_dedup_pipeline;
    decontamination broadcasts the fixed-size benchmark gram set; the
    split is a zero-shuffle hash expression; packing's single exchange
    feeds the (lang, shard)-bounded window. Stage counts fold as
    conditional sums over one persisted flag frame — never one
    re-derived count() per stage. The distinct-hash stage and the
    distinct-sequence stage run as SEPARATE one-row aggregates unioned
    in (mixing COUNT(DISTINCT) into the plain-sum groupBy would
    Expand-duplicate every input row).
    """
    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        nfc_normalize_text(F.col("text")).alias("text"),
    )
    base = _curation_base(spark, sf, plant_gate).persist()

    qdocs = base.filter(F.col("__gok") & (F.col("q4") >= 3)).select(
        "id", "ldtext"
    )
    ndd = near_dup_dedup(
        qdocs,
        "id",
        "ldtext",
        threshold=0.8,
        max_doc_freq=max_doc_freq,
        max_bucket_size=max_bucket_size,
    )
    kept = ndd.select("id").withColumn("__s", F.lit(1)).persist()
    hits = (
        ngram_contamination(
            qdocs.join(kept.select("id"), "id", "semi").select(
                F.col("id").alias("doc_id"), F.col("ldtext").alias("text")
            ),
            bench,
            "doc_id",
            "text",
            n=8,
        )
        .select("id")
        .distinct()
        .withColumn("__c", F.lit(1))
    )
    flags = (
        base.join(kept, "id", "left")
        .join(hits, "id", "left")
        .select(
            "id",
            "lang",
            "ntext",
            "ldtext",
            F.col("__ld").alias("__l"),
            F.col("__gok").alias("__g"),
            F.col("__gpub").alias("__gp"),
            (F.col("__gok") & (F.col("q4") >= 3)).alias("__q"),
            F.col("__s").isNotNull().alias("__k"),
            (F.col("__s").isNotNull() & F.col("__c").isNull()).alias("__cl"),
            (
                F.col("__s").isNotNull()
                & F.col("__c").isNull()
                & (F.col("split") == "train")
            ).alias("__tr"),
        )
        .persist()
    )
    counts = flags.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum(F.col("__l").cast("long")).alias("n3"),
        F.sum(F.col("__g").cast("long")).alias("n4"),
        F.sum(F.col("__gp").cast("long")).alias("n5"),
        F.sum(F.col("__q").cast("long")).alias("n6"),
        F.sum(F.col("__k").cast("long")).alias("n7"),
        F.sum(F.col("__cl").cast("long")).alias("n8"),
        F.sum(F.col("__tr").cast("long")).alias("n9"),
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("stage_no"),
                        F.lit(label).alias("stage"),
                        F.col(f"n{i}").alias("n_rows"),
                    )
                    for i, label in [
                        (1, "ingested"),
                        (3, "line_deduped"),
                        (4, "gopher_ok"),
                        (5, "gopher_published"),
                        (6, "quality_ok"),
                        (7, "near_deduped"),
                        (8, "decontaminated"),
                        (9, "train_split"),
                    ]
                ]
            )
        ).alias("__s")
    ).select("__s.*")
    canon = flags.agg(
        F.count_distinct(F.md5("ntext")).alias("n_rows")
    ).select(
        F.lit(2).cast("int").alias("stage_no"),
        F.lit("canonical_distinct").alias("stage"),
        "n_rows",
    )
    packed = pack_sequences(
        flags.filter("__tr").select("id", "lang", "ldtext"),
        "id",
        "lang",
        token_count_ws(F.col("ldtext")),
        budget=256,
        n_shards=4,
    )
    n_seq = packed.agg(
        F.count_distinct(F.struct("lang", "shard", "seq_bin")).alias("n_rows")
    ).select(
        F.lit(10).cast("int").alias("stage_no"),
        F.lit("packed_sequences").alias("stage"),
        "n_rows",
    )
    # the persisted stage frames must outlive the caller's action (each
    # feeds 2+ branches of the returned union); tag them — plus the dedup
    # stage's internal holdings, adopted from ndd — so a long-lived
    # session can release_caches() after collecting the audit
    return register_caches(
        counts.unionByName(canon).unionByName(n_seq), base, kept, flags, ndd
    )


def q_x_curation_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-parity mode of the curation DAG: the dedup stage runs
    uncapped (exact over all content, collapsed-cohort route). See
    :func:`_curation_e2e`."""
    return _curation_e2e(spark, sf, max_doc_freq=None, max_bucket_size=None)


def q_x_curation_e2e_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Production mode of the curation DAG: the dedup stage runs with the
    100 TB caps (band buckets bounded at 5000 docs, boilerplate shingle
    fan-out bounded at document frequency 1000 — ``near_dup_dedup``'s
    defaults). The caps only bind on pathological cohorts, so at
    correctness scale the audit equals the parity mode's — which is
    exactly what the capped oracle (bucket-size filter on the band
    index, doc-frequency filter on the verify universe) asserts. See
    :func:`_curation_e2e`."""
    return _curation_e2e(
        spark, sf,
        max_doc_freq=DEFAULT_MAX_DOC_FREQ,
        max_bucket_size=5000,
    )


# the quality-gate SQL applied to the line-deduped column: the snippet
# references the raw column only as the bare word `text`, so a
# word-boundary substitution is exact (plain .replace would also corrupt
# `ldtext)` matches)
_Q4_LDTEXT_SQL = __import__("re").sub(r"\btext\b", "ldtext", _Q4_SQL)

_CURATION_UNCAPPED_CAND = """cand AS MATERIALIZED (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id
        ), vsh AS MATERIALIZED (
          SELECT id, sh FROM shingles
        )"""

_CURATION_CAPPED_CAND = """bsz AS MATERIALIZED (
          SELECT band, band_key, COUNT(*) AS nb FROM bands GROUP BY 1, 2
        ), cand AS MATERIALIZED (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM bands a
          JOIN bsz z ON z.band = a.band AND z.band_key = a.band_key
                    AND z.nb <= 5000
          JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                      AND a.id < b.id
        ), vsh AS MATERIALIZED (
          SELECT id, sh FROM (
            SELECT id, sh, COUNT(*) OVER (PARTITION BY sh) AS dfreq
            FROM shingles
          ) WHERE dfreq <= 1000
        )"""


def _curation_oracle(cand_cte: str) -> str:
    """The full-chain DuckDB replay of :func:`_curation_e2e`;
    ``cand_cte`` picks the parity or the capped candidate/verify
    universe. Stage CTEs are MATERIALIZED: the 9-branch audit UNION
    re-evaluates every inlined CTE per branch otherwise (measured 59 s
    -> 0.3 s at sf0.01, identical rows)."""
    return f"""
        WITH RECURSIVE raw AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 nfc_normalize(text) AS ntext, lang, source
          FROM documents WHERE doc_id >= 100
          UNION ALL
          -- the planted published-Gopher cohort (_planted_gate_docs):
          -- pure-ASCII literals, NFC-invariant by construction
          SELECT * FROM (VALUES
              {_PLANTED_GATE_VALUES_SQL}
          ) AS p(id, ntext, lang, source)
        ), fr AS (
          SELECT id, ntext, lang, source, string_split(ntext, ' ') AS w
          FROM raw
        ), framed AS (
          SELECT id, ntext, lang, source,
                 list_prepend('shared ' || source || ' banner line',
                   list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)),
                      i -> array_to_string(
                             list_slice(w, CAST(i*8+1 AS BIGINT),
                                        CAST(i*8+8 AS BIGINT)), ' ')))
                   AS lines
          FROM fr
        ), lx AS (
          SELECT id, unnest(lines) AS line FROM framed
        ), hotlines AS (
          SELECT line FROM lx WHERE line <> ''
          GROUP BY line HAVING COUNT(DISTINCT id) >= 4
        ), hotl AS (
          SELECT COALESCE(list(line), []) AS hl FROM hotlines
        ), ld AS MATERIALIZED (
          SELECT f.id, f.ntext, f.lang, f.source,
                 COALESCE(array_to_string(
                    list_filter(f.lines, x -> NOT list_contains(h.hl, x)),
                    chr(10)), '') AS ldtext
          FROM framed f CROSS JOIN hotl h
        ), gw AS (
          SELECT id, ldtext,
                 list_filter(string_split_regex(ldtext, '\\s+'),
                             x -> x <> '') AS words,
                 string_split(ldtext, chr(10)) AS glines
          FROM ld
        ), gm AS (
          SELECT id,
                 CAST(len(words) AS BIGINT) AS nw,
                 CAST(COALESCE(list_aggregate(
                        list_transform(words, x -> length(x)), 'sum'), 0)
                      AS BIGINT) AS chars,
                 CAST(len(list_filter(words,
                        x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                   AS alpha,
                 CAST(len(list_intersect(
                        list_distinct(list_transform(words, x -> lower(x))),
                        ['the','be','to','of','and','that','have','with']))
                      AS BIGINT) AS stop_hits,
                 CAST(len(glines) AS BIGINT) AS nl,
                 CAST(len(list_filter(glines,
                        x -> starts_with(x, '- ') OR starts_with(x, '* ')
                             OR starts_with(x, '•'))) AS BIGINT) AS bullets,
                 CAST(len(list_filter(glines, x -> ends_with(x, '...')))
                      AS BIGINT) AS ellipses,
                 CAST(len(regexp_extract_all(ldtext, '#'))
                      + len(regexp_extract_all(ldtext, '\\.\\.\\.'))
                      AS BIGINT) AS symbols
          FROM gw
        ), gf AS MATERIALIZED (
          SELECT id,
                 (nw BETWEEN 20 AND 100000)
                 AND COALESCE(CASE WHEN nw > 0 THEN
                       ((chars*20000 + nw) // (nw*2)) / 10000.0
                         BETWEEN 3.0 AND 10.0 END, FALSE)
                 AND COALESCE(CASE WHEN nw > 0 THEN
                       ((symbols*20000 + nw) // (nw*2)) / 10000.0 <= 0.1
                     END, FALSE)
                 AND COALESCE(CASE WHEN nw > 0 THEN
                       ((alpha*20000 + nw) // (nw*2)) / 10000.0 >= 0.8
                     END, FALSE)
                 AND (stop_hits >= 1)
                 AND (((bullets*20000 + nl) // (nl*2)) / 10000.0 <= 0.9)
                 AND (((ellipses*20000 + nl) // (nl*2)) / 10000.0 <= 0.3)
                   AS gpass,
                 -- the published Rae et al. thresholds are strictly
                 -- tighter on the same two measures
                 (nw >= 50 AND stop_hits >= 2) AS pub_extra
          FROM gm
        ), base AS MATERIALIZED (
          SELECT d.id, d.ntext, d.ldtext, d.lang, d.source,
                 (d.ldtext <> '') AS ld_ok,
                 ((d.ldtext <> '') AND g.gpass) AS gok,
                 ((d.ldtext <> '') AND g.gpass AND g.pub_extra) AS gpub,
                 {{q4}} AS q4,
                 CAST('0x' || substr(md5('split|' || d.source), 1, 8)
                      AS BIGINT) % 10000 AS b
          FROM ld d JOIN gf g USING (id)
        ), qd AS MATERIALIZED (
          SELECT id, ldtext FROM base WHERE gok AND q4 >= 3
        ), tk AS (
          SELECT id, list_filter(string_split_regex(lower(ldtext),
                                 '[^a-z0-9]+'), t -> t <> '') AS toks
          FROM qd
        ), shingles AS MATERIALIZED (
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
        ), {cand_cte}, sizes AS (
          SELECT id, COUNT(*) AS n FROM vsh GROUP BY 1
        ), inter AS (
          SELECT c.id_a, c.id_b, COUNT(*) AS n_common
          FROM cand c
          JOIN vsh sa ON sa.id = c.id_a
          JOIN vsh sb ON sb.id = c.id_b AND sb.sh = sa.sh
          GROUP BY 1, 2
        ), verified AS MATERIALIZED (
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
          SELECT id FROM (SELECT id, MIN(lab) AS component FROM reach
                          GROUP BY id)
          WHERE id <> component
        ), kept AS MATERIALIZED (
          SELECT qd.id, qd.ldtext FROM qd
          LEFT JOIN losers l ON qd.id = l.id WHERE l.id IS NULL
        ), btk AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 list_filter(string_split_regex(lower(nfc_normalize(text)),
                             '[^a-z0-9]+'), t -> t <> '') AS toks
          FROM documents WHERE doc_id < 100
        ), bgrams AS MATERIALIZED (
          SELECT DISTINCT array_to_string(toks[i : i + 7], ' ') AS g
          FROM btk, UNNEST(range(1, greatest(len(toks) - 7, 1) + 1)) AS u(i)
        ), ktk AS (
          SELECT id, list_filter(string_split_regex(lower(ldtext),
                                 '[^a-z0-9]+'), t -> t <> '') AS toks
          FROM kept
        ), kgrams AS (
          SELECT DISTINCT id, array_to_string(toks[i : i + 7], ' ') AS g
          FROM ktk, UNNEST(range(1, greatest(len(toks) - 7, 1) + 1)) AS u(i)
        ), contaminated AS (
          SELECT DISTINCT id FROM kgrams JOIN bgrams USING (g)
        ), clean AS MATERIALIZED (
          SELECT k.id FROM kept k
          LEFT JOIN contaminated c ON k.id = c.id WHERE c.id IS NULL
        ), train AS MATERIALIZED (
          SELECT b.id, b.lang, b.ldtext FROM base b
          JOIN clean USING (id) WHERE b.b < 8000
        ), ptk AS (
          SELECT id, lang, CAST(id % 4 AS INT) AS shard,
                 CAST(len(list_filter(string_split_regex(ldtext, '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_tokens
          FROM train
        ), packed AS MATERIALIZED (
          SELECT lang, shard,
                 CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang, shard
                                                 ORDER BY id) - n_tokens)
                            / 256.0) AS BIGINT) AS seq_bin
          FROM ptk
        )
        SELECT 1 AS stage_no, 'ingested' AS stage,
               COUNT(*) AS n_rows FROM base
        UNION ALL
        SELECT 2, 'canonical_distinct', COUNT(DISTINCT md5(ntext)) FROM base
        UNION ALL
        SELECT 3, 'line_deduped', COUNT(*) FROM base WHERE ld_ok
        UNION ALL
        SELECT 4, 'gopher_ok', COUNT(*) FROM base WHERE gok
        UNION ALL
        SELECT 5, 'gopher_published', COUNT(*) FROM base WHERE gpub
        UNION ALL
        SELECT 6, 'quality_ok', COUNT(*) FROM qd
        UNION ALL
        SELECT 7, 'near_deduped', COUNT(*) FROM kept
        UNION ALL
        SELECT 8, 'decontaminated', COUNT(*) FROM clean
        UNION ALL
        SELECT 9, 'train_split', COUNT(*) FROM train
        UNION ALL
        SELECT 10, 'packed_sequences',
               COUNT(DISTINCT (lang, shard, seq_bin)) FROM packed
    """.replace("{q4}", _Q4_LDTEXT_SQL)


_register(QuerySpec(
    name="x_curation_e2e",
    survey="north-star: full curation DAG (ingest->NFC->line dedup->Gopher->quality->dedup->decontaminate->split->pack)",
    build=q_x_curation_e2e,
    oracle=_curation_oracle(_CURATION_UNCAPPED_CAND),
    bench=True,
    tags=("text", "pipeline", "curation", "e2e"),
))




# --------------------------------------------------------------------------
# Round-6 extensions: corpus-level line dedup (CCNet/RefinedWeb boilerplate
# removal) and the Gopher rule-based quality gate
# --------------------------------------------------------------------------

from automotive_data_pipeline_demo_spark.extensions.dedup_text import (  # noqa: E402
    DEFAULT_MAX_DOC_FREQ,
    line_dedup,
)
from automotive_data_pipeline_demo_spark.extensions.text_analysis import (  # noqa: E402
    gopher_quality_rules,
)


def q_x_text_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level line dedup — the CCNet / RefinedWeb / Dolma
    boilerplate-removal stage, as one oracled entry. The testdata's
    documents carry no newlines, so the entry first FRAMES each document
    into 8-word lines (a deterministic arithmetic reshaping, mirrored
    exactly by the oracle — the same fixture-framing pattern the
    multimodal entries use) and then runs the REAL operator: every line
    whose exact content appears in >= 2 distinct documents is dropped and
    the survivors reassemble in original order. The planted near-dup
    cohorts make this bite: shared 8-word segments across copies are
    exactly the repeated-boilerplate shape the published pipelines strip.

    Scale shape (see ``line_dedup``): document frequency at
    ``line_digest`` (16-byte hash128) grain with map-side combine,
    broadcast anti-join back (the corpus is
    never re-shuffled to be filtered), one position-sorted groupBy(id)
    reassembly.
    """
    docs = _t(spark, sf, "documents")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    framed = bind_once(
        words,
        lambda w: F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size(w) / F.lit(8)).cast("int") - 1
                ),
                lambda i: F.array_join(F.slice(w, i * F.lit(8) + 1, 8), " "),
            ),
            "\n",
        ),
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), framed.alias("ftext")
    )
    return line_dedup(base, "doc_id", "ftext", delim="\n", min_doc_freq=2)


_register(QuerySpec(
    name="x_text_line_dedup",
    survey="north-star: corpus-level line dedup (CCNet/RefinedWeb boilerplate removal)",
    build=q_x_text_line_dedup,
    oracle="""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS w
          FROM documents
        ), framed AS (
          SELECT doc_id,
                 list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)),
                    i -> array_to_string(list_slice(w, CAST(i*8+1 AS BIGINT),
                                                    CAST(i*8+8 AS BIGINT)),
                                         ' ')) AS lines
          FROM d
        ), lx AS (
          SELECT doc_id, unnest(lines) AS line FROM framed
        ), hot AS (
          -- empty lines never go hot (engine policy since r6: blank
          -- paragraph separators survive corpus-wide dedup); inert on
          -- this fixture (framing yields no empty lines) but keeps the
          -- replay semantically exact
          SELECT line FROM lx WHERE line <> ''
          GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
        ), hotl AS (
          SELECT COALESCE(list(line), []) AS hl FROM hot
        )
        SELECT f.doc_id,
               -- duckdb's array_to_string([]) is NULL; the engine returns ''
               -- for a fully-boilerplate doc
               COALESCE(array_to_string(list_filter(f.lines,
                                            x -> NOT list_contains(h.hl, x)),
                                        chr(10)), '') AS cleaned_text,
               CAST(len(f.lines) AS BIGINT) AS n_lines,
               CAST(len(f.lines)
                    - len(list_filter(f.lines, x -> NOT list_contains(h.hl, x)))
                    AS BIGINT) AS n_removed
        FROM framed f CROSS JOIN hotl h
    """,
    tags=("text", "dedup", "lines", "boilerplate"),
))


def q_x_text_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher rule-based quality gate (Rae et al. 2021, App. A1.1)
    over the documents table: per-doc word/length/symbol/stopword/line
    statistics, a boolean per rule, and the conjunction ``gopher_pass``.
    All ratios are rounded half-up to 4 dp in INTEGER space so values and
    flags are bit-identical across engines. A pure narrow projection —
    zero shuffles; at 100 TB the gate runs inside the scan at I/O speed,
    which is why published pipelines run it before dedup/model scoring.
    """
    docs = _t(spark, sf, "documents")
    return gopher_quality_rules(docs, "doc_id", "text")


_register(QuerySpec(
    name="x_text_gopher_rules",
    survey="north-star: rule-based quality gate (Gopher rules)",
    build=q_x_text_gopher_rules,
    oracle="""
        WITH w AS (
          SELECT CAST(doc_id AS BIGINT) AS id, text,
                 list_filter(string_split_regex(text, '\\s+'),
                             x -> x <> '') AS words,
                 string_split(text, chr(10)) AS lines
          FROM documents
        ), m AS (
          SELECT id,
                 CAST(len(words) AS BIGINT) AS n_words,
                 CAST(COALESCE(list_aggregate(
                        list_transform(words, x -> length(x)), 'sum'), 0)
                      AS BIGINT) AS chars,
                 CAST(len(list_filter(words,
                        x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
                 CAST(len(list_intersect(
                        list_distinct(list_transform(words, x -> lower(x))),
                        ['the','be','to','of','and','that','have','with']))
                      AS BIGINT) AS stop_hits,
                 CAST(len(lines) AS BIGINT) AS nl,
                 CAST(len(list_filter(lines,
                        x -> starts_with(x, '- ') OR starts_with(x, '* ')
                             OR starts_with(x, '•'))) AS BIGINT) AS bullets,
                 CAST(len(list_filter(lines, x -> ends_with(x, '...')))
                      AS BIGINT) AS ellipses,
                 CAST(len(regexp_extract_all(text, '#'))
                      + len(regexp_extract_all(text, '\\.\\.\\.'))
                      AS BIGINT) AS symbols
          FROM w
        ), s AS (
          SELECT id, n_words,
                 CASE WHEN n_words > 0
                      THEN ((chars*20000 + n_words) // (n_words*2)) / 10000.0
                 END AS mean_word_len,
                 CASE WHEN n_words > 0
                      THEN ((symbols*20000 + n_words) // (n_words*2)) / 10000.0
                 END AS symbol_ratio,
                 CASE WHEN n_words > 0
                      THEN ((alpha*20000 + n_words) // (n_words*2)) / 10000.0
                 END AS alpha_frac,
                 stop_hits,
                 ((bullets*20000 + nl) // (nl*2)) / 10000.0 AS bullet_frac,
                 ((ellipses*20000 + nl) // (nl*2)) / 10000.0 AS ellipsis_frac
          FROM m
        ), f AS (
          SELECT *,
                 (n_words BETWEEN 50 AND 100000) AS ok_words,
                 COALESCE(mean_word_len BETWEEN 3.0 AND 10.0, FALSE)
                   AS ok_word_len,
                 COALESCE(symbol_ratio <= 0.1, FALSE) AS ok_symbols,
                 COALESCE(alpha_frac >= 0.8, FALSE) AS ok_alpha,
                 (stop_hits >= 2) AS ok_stopwords,
                 (bullet_frac <= 0.9 AND ellipsis_frac <= 0.3) AS ok_lines
          FROM s
        )
        SELECT *,
               (ok_words AND ok_word_len AND ok_symbols AND ok_alpha
                AND ok_stopwords AND ok_lines) AS gopher_pass
        FROM f
    """,
    tags=("text", "quality", "gopher"),
))


# r7: production-caps twin of the curation DAG (VERDICT r6 item 2) — the
# benched pipeline number must reflect the 100 TB dedup path, not only the
# oracle-parity mode
_register(QuerySpec(
    name="x_curation_e2e_capped",
    survey="north-star: full curation DAG, production-capped dedup stage (100 TB posture)",
    build=q_x_curation_e2e_capped,
    oracle=_curation_oracle(_CURATION_CAPPED_CAND),
    bench=True,
    tags=("text", "pipeline", "curation", "e2e", "scale"),
))


def q_a_multi_grain(spark: SparkSession, sf: str) -> DataFrame:
    """The complete multi-grain aggregate family in one entry — ROLLUP
    (hierarchy: per (status, priority), per status, grand total), CUBE
    (the full four-grain lattice over lineitem's (returnflag,
    linestatus)), and explicit GROUPING SETS (exactly the per-status and
    per-priority grains, WITHOUT the cross grain CUBE would also pay
    for) — each with GROUPING() flags distinguishing the grains, unioned
    under a family label. Generalizes the reference's match_analytics
    dual daily/hourly grain (database-schema.sql:196-229).

    Scale shape: each family is a single partial+final aggregation; the
    grain expansion happens map-side in the Expand operator, so each
    input row is duplicated per grain BEFORE the one exchange and the
    map-side combine still collapses to group grain — no extra shuffle
    over a plain GROUP BY, and at 100 TB GROUPING SETS' skipped cross
    grain is most of the cube's output volume. (Merged r7 from the
    formerly separate a_rollup / a_cube / a_grouping_sets entries —
    same three physical plans, one catalog slot.)
    """
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")

    def shape(grouped, k1, k2, family):
        return grouped.agg(
            F.grouping(k1).cast("int").alias("g1"),
            F.grouping(k2).cast("int").alias("g2"),
            F.count(F.lit(1)).alias("n_rows"),
            _dec_sum("o_totalprice" if family != "cube" else "l_extendedprice",
                     "sum_price"),
        ).select(
            F.lit(family).alias("family"),
            F.col(k1).alias("key1"),
            F.col(k2).alias("key2"),
            "g1", "g2", "n_rows", "sum_price",
        )

    rollup = shape(
        o.rollup("o_orderstatus", "o_orderpriority"),
        "o_orderstatus", "o_orderpriority", "rollup",
    )
    gsets = shape(
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        ),
        "o_orderstatus", "o_orderpriority", "grouping_sets",
    )
    cube = shape(
        li.cube("l_returnflag", "l_linestatus"),
        "l_returnflag", "l_linestatus", "cube",
    )
    return rollup.unionByName(gsets).unionByName(cube)


_register(QuerySpec(
    name="a_multi_grain",
    survey="A9 (generalized): multi-grain family — ROLLUP + CUBE + GROUPING SETS with GROUPING flags",
    build=q_a_multi_grain,
    oracle="""
        SELECT 'rollup' AS family, o_orderstatus AS key1,
               o_orderpriority AS key2,
               CAST(GROUPING(o_orderstatus) AS INT) AS g1,
               CAST(GROUPING(o_orderpriority) AS INT) AS g2,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        UNION ALL
        SELECT 'grouping_sets', o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT),
               CAST(GROUPING(o_orderpriority) AS INT),
               COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        UNION ALL
        SELECT 'cube', l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT),
               CAST(GROUPING(l_linestatus) AS INT),
               COUNT(*),
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup", "cube", "grouping-sets"),
))


def q_x_text_line_dedup_inc(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental corpus line dedup — the daily-ingest posture of
    ``x_text_line_dedup`` as an oracled batch entry (the batch analog of
    ``streaming/dedup.py::streaming_line_dedup_ingest``): docs >= 400
    arrive as a new batch and are cleaned against the ACCUMULATED
    line-digest document frequency of the stored corpus (doc_id < 400)
    plus the batch's own contribution — a line boilerplate across the
    whole corpus-so-far is stripped from the incoming docs, exactly the
    prefix semantics the streaming twin implements per micro-batch.

    Scale shape: the stored index is digest grain (in production it is
    the persisted artifact the stream maintains; here it derives from
    the corpus slice with one map-combined count-distinct), the batch
    adds one digest-grain aggregate, the over-threshold union folds at
    digest grain, and the batch is cleaned via ``line_dedup``'s
    ``hot_digests`` entry point — broadcast anti-join, the corpus text
    is never re-read and the batch is never re-shuffled to be filtered.
    Uses the same 8-word fixture framing as x_text_line_dedup, mirrored
    exactly by the oracle.
    """
    docs = _t(spark, sf, "documents")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    framed = bind_once(
        words,
        lambda w: F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0), F.ceil(F.size(w) / F.lit(8)).cast("int") - 1
                ),
                lambda i: F.array_join(F.slice(w, i * F.lit(8) + 1, 8), " "),
            ),
            "\n",
        ),
    )
    base = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), framed.alias("ftext")
    )
    corpus = base.filter(F.col("doc_id") < 400)
    # The framed BATCH is read three times per run — its own
    # digest-counts aggregate, line_dedup's exploded line stream, and
    # line_dedup's doc-grain rebuild join — and the framing transform
    # (split + 8-word re-slice + array_join) is the entry's dominant
    # narrow work, so each re-read re-paid it (a 3x corpus scan in the
    # profile). Persist + eager-fill computes it once (cold min-of-4 at
    # sf10p: fill 4.40 vs lazy 4.52 s); the batch is the DAILY
    # INCREMENT, bounded by posture, so caching it is the scale-safe
    # side (the corpus slice stays single-pass, uncached).
    batch = eager_fill(base.filter(F.col("doc_id") >= 400).persist())

    def digest_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(
                "doc_id",
                F.explode(F.split(F.col("ftext"), "\n")).alias("line"),
            )
            .filter(F.col("line") != "")
            .select("doc_id", line_digest("line").alias("line_h"))
            .distinct()
            .groupBy("line_h")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )

    hot = (
        digest_counts(corpus)          # the stored index, digest grain
        .unionByName(digest_counts(batch))
        .groupBy("line_h")
        .agg(F.sum("n_docs").alias("df"))
        .filter(F.col("df") >= 2)
        .select("line_h")
    )
    return register_caches(
        line_dedup(batch, "doc_id", "ftext", delim="\n", hot_digests=hot),
        batch,
    )


_register(QuerySpec(
    name="x_text_line_dedup_inc",
    survey="north-star: incremental line dedup of a new batch vs the stored line-df index",
    build=q_x_text_line_dedup_inc,
    oracle="""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS w
          FROM documents
        ), framed AS (
          SELECT doc_id,
                 list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)),
                    i -> array_to_string(list_slice(w, CAST(i*8+1 AS BIGINT),
                                                    CAST(i*8+8 AS BIGINT)),
                                         ' ')) AS lines
          FROM d
        ), lx AS (
          SELECT doc_id, unnest(lines) AS line FROM framed
        ), hot AS (
          -- document frequency over the WHOLE corpus-so-far (stored
          -- corpus + incoming batch); empty lines never go hot
          SELECT line FROM lx WHERE line <> ''
          GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2
        ), hotl AS (
          SELECT COALESCE(list(line), []) AS hl FROM hot
        )
        SELECT f.doc_id,
               COALESCE(array_to_string(list_filter(f.lines,
                                            x -> NOT list_contains(h.hl, x)),
                                        chr(10)), '') AS cleaned_text,
               CAST(len(f.lines) AS BIGINT) AS n_lines,
               CAST(len(f.lines)
                    - len(list_filter(f.lines, x -> NOT list_contains(h.hl, x)))
                    AS BIGINT) AS n_removed
        FROM framed f CROSS JOIN hotl h
        WHERE f.doc_id >= 400
    """,
    tags=("text", "dedup", "lines", "incremental"),
))


def q_x_dedup_semdedup_inc(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SemDeDup — the stored-centroid daily-ingest posture
    (the embedding-side mirror of ``x_text_line_dedup_inc`` / the stored
    minhash band index): the last 20% of vec_ids arrive as a new batch;
    the STORED corpus (first 80%) was clustered in a past full run whose
    centroids persist as exact integer sums (``kmeans_centroids`` — here
    round-tripped through scratch parquet to make the stored-artifact
    contract real). The batch is assigned to those frozen cells with zero
    retraining (``assign_to_stored_centroids``), near-dup scored
    batch-vs-cell ONLY (``embedding_near_dup_pairs(new_col=...)`` — the
    stored corpus is never re-paired against itself), and a batch vector
    is dropped iff it near-dups a smaller-id vector (stored, or an
    earlier batch arrival) — the greedy keep-first policy of an append
    stream, vs the full run's connected-components representative.

    Scale shape: centroid table is k x dims longs (driver-collected, the
    only "index" this posture reads); assignment is a zero-shuffle narrow
    map; pair space per cell is old x new + new x new, so a daily batch
    pays O(|batch| * |cell|), never O(|cell|^2) over the accumulated
    corpus; one shuffle on cell id feeds the blocked Arrow scorer.
    """
    emb = _t(spark, sf, "embeddings")
    n = emb.count()
    cutoff = n * 8 // 10
    corpus = emb.filter(F.col("vec_id") < cutoff)
    # cell count scales with the STORED corpus under the fixed-cell rule
    # (k = corpus/128, floor 8) — the ONE rule the posture carries end to
    # end since r10 (x_dedup_semdedup, refresh_centroids default, here):
    # fixed-k cells grow linearly with N and make the batch-vs-cell
    # pairing quadratic (sf1 benching caught it); linear k makes flat
    # assignment the quadratic term instead, so both the training passes
    # and the batch assignment ride the two-level ROUTED scorer (probe 2)
    k = max(8, math.ceil(cutoff / 128))
    seeds = corpus.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_vec")
    )
    # the stored artifact: trained on the CORPUS ONLY, persisted, read back
    # (exact integer sums round-trip bit-identically through parquet)
    cent_path = _scratch(sf, "semdedup_centroids")
    kmeans_centroids(
        corpus, seeds, n_iter=1, route_probe=2
    ).write.mode("overwrite").parquet(cent_path)
    cents = spark.read.parquet(cent_path)
    # r14: the assignment CARRIES the embedding through its zero-shuffle
    # map (keep_cols) instead of being joined back to emb by vec_id — the
    # join-back planned as a corpus-scale broadcast of the assignment
    # under each consumer branch (guide §8: attach decisions without
    # moving/duplicating the payload). Row-wise identical output.
    assigned = assign_to_stored_centroids(
        emb, cents, route_probe=2, keep_cols=("embedding",)
    ).withColumn("is_new", F.col("vec_id") >= cutoff)
    # collapse="star": flood guard at the pair stage (see
    # x_dedup_semdedup) — with new_col the reps prefer the smallest-id
    # STORED member, which keeps the greedy smaller-id kill rule exact
    # (batch ids are the top range here, so rep = global min either way)
    pairs = embedding_near_dup_pairs(
        assigned, threshold=0.30, block_col="centroid_id", new_col="is_new",
        collapse="star",
    )
    # pairs are (a_id < b_id) touching >= 1 new row; new ids are the top
    # range, so b is ALWAYS the batch side — losers = batch vectors that
    # near-dup any smaller-id vector
    losers = pairs.select(F.col("b_id").alias("vec_id")).distinct()
    # r14: the kept side re-assigns the BATCH SLICE only — a per-row map
    # commutes with the id filter, so assign(emb)[id>=cutoff] ==
    # assign(emb[id>=cutoff]) row for row, and the filter now pushes to
    # the parquet scan instead of running a second FULL-corpus assignment
    # pass (the r14 profile's third assignment-scale job). losers is
    # bounded by the batch (every loser is a batch id), so it broadcasts:
    # the anti-join loses its two exchanges + sorts.
    batch_assign = assign_to_stored_centroids(
        emb.filter(F.col("vec_id") >= cutoff), cents, route_probe=2
    )
    kept = batch_assign.join(F.broadcast(losers), "vec_id", "left_anti")
    # adopt the pair stage's persisted window frame (r14) so a
    # long-lived session can release_caches() after its action; bench/
    # tests clearCache between queries as before
    return register_caches(
        kept.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("centroid_id").cast("int").alias("centroid_id"),
        ),
        pairs,
    )


_register(QuerySpec(
    name="x_dedup_semdedup_inc",
    survey="north-star: incremental SemDeDup of a new batch vs stored centroids",
    build=q_x_dedup_semdedup_inc,
    oracle=f"""
        WITH m AS MATERIALIZED (
          SELECT vec_id, embedding,
                 list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
          FROM embeddings
        ), cut AS (
          SELECT COUNT(*) * 8 // 10 AS c FROM embeddings
        ), kk AS MATERIALIZED (
          -- fixed-cell rule over the STORED corpus (k = corpus/128,
          -- floor 8) — mirrors the builder and x_dedup_semdedup
          SELECT greatest(8, CAST(ceil(c / 128.0) AS BIGINT)) AS k
          FROM cut
        ), mc AS MATERIALIZED (
          -- the stored-corpus slice: training points AND the only
          -- legal seed range (batch vectors must never become seeds)
          SELECT vec_id, mv FROM m WHERE vec_id < (SELECT c FROM cut)
        ), c0 AS MATERIALIZED (
          SELECT vec_id AS cid, mv AS cv FROM mc
          WHERE vec_id < (SELECT k FROM kk)
        ), kk1 AS MATERIALIZED (
          -- routing width from the ACTUAL seed-table cardinality
          -- (min(k, corpus) on dense ids) — matches _route_plan's
          -- len(cents)-based default when the stored corpus is
          -- smaller than the k floor
          SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k1 FROM c0
        ), {_routed_assign_sql("0", "c0", m="mc")}, sums AS (
          SELECT a0.cid, p.pos, SUM(mc.mv[p.pos]) AS s
          FROM a0 JOIN mc USING (vec_id),
               UNNEST(generate_series(1, len(mc.mv))) AS p(pos)
          GROUP BY a0.cid, p.pos
        ), newc AS (
          SELECT cid, list(CAST(s AS BIGINT) ORDER BY pos) AS cv
          FROM sums GROUP BY cid
        ), c1 AS MATERIALIZED (
          -- kmeans_centroids keeps EMPTY cells (seed carryover), so the
          -- stored artifact the assignment scores against must too
          SELECT c0.cid, COALESCE(n.cv, c0.cv) AS cv
          FROM c0 LEFT JOIN newc n USING (cid)
        ), {_routed_assign_sql("1", "c1")}, losers AS (
          -- in-cell pairs touching >= 1 batch row: b (the greater id) is
          -- always the batch side because batch ids are the top range
          SELECT DISTINCT b.vec_id AS b_id FROM
            (SELECT e.vec_id, e.embedding, x.cid
             FROM embeddings e JOIN a1 x USING (vec_id)) a
          JOIN
            (SELECT e.vec_id, e.embedding, x.cid
             FROM embeddings e JOIN a1 x USING (vec_id)) b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE b.vec_id >= (SELECT c FROM cut)
            AND ROUND({_COS_SQL.format(a="a.embedding", b="b.embedding")}, 4)
                >= 0.30
        )
        SELECT CAST(a1.vec_id AS BIGINT) AS vec_id,
               CAST(a1.cid AS INT) AS centroid_id
        FROM a1
        WHERE a1.vec_id >= (SELECT c FROM cut)
          AND a1.vec_id NOT IN (SELECT b_id FROM losers)
    """,
    tags=("dedup", "similarity", "incremental"),
    # set v4 (r10): the 100 TB daily-ingest posture belongs in the
    # tracked headline number, not just the correctness window
    bench=True,
))


# --------------------------------------------------------------------------
# Round-9 extensions: centroid-index maintenance (assignment-drift signal)
# --------------------------------------------------------------------------

from automotive_data_pipeline_demo_spark.extensions.similarity import (  # noqa: E402
    centroid_assignment_drift,
)


def q_x_dedup_semdedup_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Assignment-drift report for the stored-centroid index — the
    staleness signal that tells the operator WHEN to run
    ``streaming.dedup.refresh_centroids``: the frozen cells of
    ``x_dedup_semdedup_inc`` stay valid only while incoming batches land
    in roughly the stored corpus's cell-occupancy distribution.

    Same framing as the incremental entry (stored corpus = first 80% of
    vec_ids, batch = last 20%; centroids trained on the corpus only,
    k ~ sqrt(corpus) with floor 8): both sides assign to the frozen
    cells, then ``centroid_assignment_drift`` folds the two occupancy
    distributions through ``source_drift_report``'s quantized
    TVD/chi-square. Output: one row per origin ('corpus' is the
    near-zero reference, 'batch' is the signal).

    Scale shape: one zero-shuffle assignment pass over the vectors
    (persisted — both origin slices read it), one exchange folding to
    (origin, cell) grain, then pure arithmetic on 2 x k post-aggregate
    rows (a broadcast comparison grid, the x_corpus_drift shape — never
    a data-grain join). Embeddings never cross the wire.
    """
    emb = _t(spark, sf, "embeddings")
    n = emb.count()
    cutoff = n * 8 // 10
    corpus = emb.filter(F.col("vec_id") < cutoff)
    k = max(8, int(math.floor(math.sqrt(cutoff) + 0.5)))
    seeds = corpus.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("c_vec"),
    )
    cents = kmeans_centroids(corpus, seeds, n_iter=1)
    # one assignment pass, two origin-slice consumers
    assign_all = assign_to_stored_centroids(emb, cents).persist()
    report = centroid_assignment_drift(
        assign_all.filter(F.col("vec_id") < cutoff),
        assign_all.filter(F.col("vec_id") >= cutoff),
    )
    out = report.select(
        F.col("source").alias("origin"),
        F.col("n_docs"),
        "tvd",
        "chi2",
    )
    return register_caches(out, assign_all)


_register(QuerySpec(
    name="x_dedup_semdedup_drift",
    survey="north-star: stored-centroid staleness signal (cell-occupancy drift, batch vs corpus)",
    build=q_x_dedup_semdedup_drift,
    oracle="""
        WITH m AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
          FROM embeddings
        ), cut AS (
          SELECT COUNT(*) * 8 // 10 AS c FROM embeddings
        ), c0 AS (
          SELECT vec_id AS cid, mv AS cv FROM m
          WHERE vec_id < (SELECT greatest(8,
                    CAST(floor(sqrt(c) + 0.5) AS BIGINT)) FROM cut)
            AND vec_id < (SELECT c FROM cut)
        ), s0 AS (
          SELECT m.vec_id, c0.cid,
                 CAST(list_aggregate(list_transform(list_zip(m.mv, c0.cv),
                       p -> p[1] * p[2]), 'sum') AS DOUBLE)
                   / sqrt(CAST(list_aggregate(list_transform(c0.cv,
                       x -> CAST(x AS HUGEINT) * x), 'sum') AS DOUBLE)) AS score
          FROM m CROSS JOIN c0
          WHERE m.vec_id < (SELECT c FROM cut)
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
        ), c1 AS MATERIALIZED (
          SELECT cid, list(CAST(s AS BIGINT) ORDER BY pos) AS cv
          FROM sums GROUP BY cid
        ), s1 AS (
          SELECT m.vec_id, c1.cid,
                 CAST(list_aggregate(list_transform(list_zip(m.mv, c1.cv),
                       p -> p[1] * p[2]), 'sum') AS DOUBLE)
                   / sqrt(CAST(list_aggregate(list_transform(c1.cv,
                       x -> CAST(x AS HUGEINT) * x), 'sum') AS DOUBLE)) AS score
          FROM m CROSS JOIN c1
        ), a1 AS (
          SELECT vec_id, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY score DESC, cid ASC) AS rn FROM s1)
          WHERE rn = 1
        ), occ AS MATERIALIZED (
          -- (origin, cell) occupancy counts; bin width 1 (categorical)
          SELECT CASE WHEN vec_id >= (SELECT c FROM cut)
                      THEN 'batch' ELSE 'corpus' END AS origin,
                 cid AS bin, COUNT(*) AS n_sb
          FROM a1 GROUP BY 1, 2
        ), s_tot AS (
          SELECT origin, CAST(SUM(n_sb) AS BIGINT) AS n_s
          FROM occ GROUP BY 1
        ), c_bin AS (
          SELECT bin, CAST(SUM(n_sb) AS BIGINT) AS n_b FROM occ GROUP BY 1
        ), c_tot AS (
          SELECT CAST(SUM(n_b) AS BIGINT) AS n_c FROM c_bin
        ), grid AS (
          -- full origin x bin comparison grid (zero-mass cells included),
          -- p_s / p_c as single IEEE divisions of exact counts — mirrors
          -- source_drift_report
          SELECT st.origin, st.n_s,
                 CAST(COALESCE(o.n_sb, 0) AS DOUBLE)
                   / CAST(st.n_s AS DOUBLE) AS p_s,
                 CAST(cb.n_b AS DOUBLE) / CAST(ct.n_c AS DOUBLE) AS p_c
          FROM s_tot st CROSS JOIN c_bin cb CROSS JOIN c_tot ct
          LEFT JOIN occ o ON o.origin = st.origin AND o.bin = cb.bin
        )
        SELECT origin,
               CAST(MAX(n_s) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(floor(abs(p_s - p_c) * 1000000000.0)
                             AS BIGINT)) AS DOUBLE) / 2000000000.0 AS tvd,
               CAST(SUM(CAST(floor((p_s - p_c) * (p_s - p_c) / p_c
                                   * 1000000000.0)
                             AS BIGINT)) AS DOUBLE) / 1000000000.0 AS chi2
        FROM grid GROUP BY origin
    """,
    tags=("dedup", "similarity", "incremental", "monitoring"),
    bench=True,  # set v4 (r10): the staleness signal rides with the posture
))
