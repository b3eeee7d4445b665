"""Deduplication families over a text column.

Exact (hash-groupBy), MinHash+LSH (shingle -> salted-min-hash signature ->
band bucket join), SimHash (weighted bit votes), and n-gram Jaccard.

Design for 100 TB:
- exact dedup is one partial-aggregated groupBy on a fixed-width digest, not
  on the raw text (shuffle carries 32-byte keys, not documents);
- MinHash/LSH is the scale path for near-dup: candidate generation is an
  equi-join on (band, band_signature) buckets — no O(n^2) pair space. The
  band join's hot buckets (boilerplate docs) are the skew risk; AQE skew-join
  plus an optional bucket-size cap handle it;
- n-gram Jaccard is the exact verifier, run only on LSH candidates (or, at
  small scale, on a bounded candidate space such as same-source buckets);
- hashing convention: md5 wherever the digest is REPLAYED by the DuckDB
  oracle (minhash signatures, simhash token hashes, content_hash outputs —
  the two engines must compute bit-identical values) or where a collision
  would hand one document another's output (the identical-text collapse
  keys); :func:`hash128` (two xxhash64 lanes, a 16-byte struct) for purely
  INTERNAL equality keys that never leave the plan — gram hot-count and
  overlap keys — where a collision only perturbs one span/count and the
  narrower fixed-width key halves the shuffled bytes and replaces 32-char
  string sort comparisons with two-long comparisons.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.extensions.text_analysis import (
    TOKEN_RUN,
    bind_once,
    tokenize,
)
from automotive_data_pipeline_demo_spark.functions.caching import (
    eager_fill,
    register_caches,
)
from automotive_data_pipeline_demo_spark.functions.parallelism import fan_out

# Default shingle document-frequency cap for Jaccard fan-out. A shingle in d
# docs yields d(d-1)/2 pairs, so an uncapped hot shingle is quadratic; the
# cap is the 100 TB-safe default and ``max_doc_freq=None`` is the explicit
# exact-mode opt-out (used by the oracle-pinned catalog entries).
DEFAULT_MAX_DOC_FREQ = 1000


def hash128(col: Column | str) -> Column:
    """16-byte INTERNAL equality key: ``struct(xxhash64(c), xxhash64(1, c))``.

    For keys that exist only to group/join on equality inside one plan and
    are never output or replayed by an oracle (see the module docstring's
    hashing convention). Two independent 64-bit lanes put random collisions
    at ~2^-128 per pair — the md5 ballpark — at half the wire width of a
    32-char hex string, with cheap two-long sort comparisons instead of
    string compares in exchanges and windows.

    Lane independence matters and the ARGUMENT ORDER is load-bearing: Spark
    folds multi-arg ``xxhash64`` left-to-right with the running hash as the
    next seed, so ``xxhash64(c, lit(1))`` would be ``XXH64(1, seed=h1)`` — a
    deterministic function of lane 1, collapsing the struct to 64-bit
    effective resistance (an h1 collision would be a full-struct collision;
    at ~10^9-10^10 distinct keys, i.e. the 100 TB gram grain, 64-bit
    birthday collisions become expected). ``xxhash64(F.lit(1), c)`` instead
    derives a DIFFERENT seed (``XXH64(1, seed=42)``) before hashing the
    payload, giving two independent hash functions of ``c``.

    NOT cryptographic (xxhash64 is not preimage-resistant), so never use it
    where a crafted collision could reassign one document's OUTPUT to
    another; those keys keep md5 (+ length riders).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        F.xxhash64(c).alias("h1"), F.xxhash64(F.lit(1), c).alias("h2")
    )


def line_digest(line: Column | str) -> Column:
    """THE line-grain digest of the line-dedup family — the contract key
    between :func:`line_dedup` and every hot-set producer (the
    ``hot_digests`` parameter, the incremental catalog entry, and
    ``streaming/dedup.py::streaming_line_dedup_ingest``'s persisted df
    index): any externally-built digest frame must be produced with THIS
    function or the anti-join silently matches nothing. :func:`hash128`
    under the hood — a line-digest collision drops one extra line
    corpus-wide (the gram-key blast-radius class, not the
    output-misassignment class), and the 16-byte key halves both the
    df-aggregate exchange and the broadcast hot set vs the former 32-char
    md5. Format note: the streaming index persisted BEFORE this digest
    (md5 strings) cannot be read by code after it — rebuild the index
    (the compaction helper cannot convert; original lines are gone).
    Second format note (r14): the r13 lane-2 seeding bug fix
    (``xxhash64(c, 1)`` -> ``xxhash64(1, c)``, see :func:`hash128`) changes
    every ``h2`` value, so any index persisted with the r13 digest must
    also be rebuilt — done before any production index exists in the
    broken format.
    """
    return hash128(line)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content digest.

    Returns one row per distinct content: ``keep_id`` (smallest id), ``n_dups``
    (group size), ``content_hash``. Join back on the hash to drop dups.
    """
    hashed = df.select(
        F.col(id_col).cast("long").alias("id"), F.md5(F.col(text_col)).alias("content_hash")
    )
    return hashed.groupBy("content_hash").agg(
        F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (token n-grams) as strings.

    Shingles are extracted with ONE codegen'd overlapping-lookahead regex
    over the space-joined token stream (``(?=\\b(tok( tok){n-1}\\b))``,
    capture group 1) instead of a per-shingle transform+slice+concat
    lambda chain — higher-order functions evaluate interpreted, and the
    regex pass measured 3x faster at sf1 (1.18 -> 0.39 s per corpus
    pass) with identical output: tokens are ``[a-z0-9]+`` runs by
    construction, so the join/extract round trip is exact, and a doc
    with fewer than ``n`` tokens keeps the historical one-short-shingle
    behavior via the ``when`` branch. The token array is still let-bound
    (``bind_once``): a lambda closing over the ``tokenize`` expression
    TREE re-tokenizes per reference — 18x slower at sf1.
    """

    def over(toks: Column) -> Column:
        joined = F.array_join(toks, " ")
        pat = r"(?=\b((?:%s ){%d}%s\b))" % (TOKEN_RUN, n - 1, TOKEN_RUN)
        grams = F.regexp_extract_all(joined, F.lit(pat), F.lit(1))
        return F.array_distinct(
            F.when(F.size(toks) < n, F.array(joined)).otherwise(grams)
        )

    return bind_once(tokenize(text), over)


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """(id, __sh): per-doc sorted distinct shingle array, built inside the
    scan stage (zero shuffle). Tokenize+shingle is the most expensive
    narrow stage of the dedup pipeline (~5 s/50k docs at sf1); computing
    this ONCE and persisting it lets candidate generation and Jaccard
    verification share it instead of each re-shingling the corpus.
    """
    # fan_out: the shingle regex is the most expensive narrow stage of the
    # whole dedup family; a single-split corpus scan would run it on one
    # core (r14 — measured 0.4 s single-task at sf0.1; no-op at scale)
    return fan_out(
        df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col)),
        key="id",
    ).select(
        "id",
        F.array_sort(word_shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )


def minhash_signature_columns(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """WIDE MinHash signature frame: one row per document with the
    ``num_hashes`` salted-md5 mins as columns ``__h0..__h{k-1}``.

    This is the one-exchange core every minhash consumer shares: each
    shingle row carries the k salted hashes as columns, so the shuffle
    moves the shingle rows once (with map-side partial mins), not k×
    exploded copies — at 100 TB that is a k-fold cut in shuffle bytes.
    Band keys, packed signature arrays, and the long (id, hash_idx,
    min_hash) shape are all NARROW projections of this frame — deriving
    them here (rather than re-aggregating the exploded long shape, the
    pre-r7 build_band_index shape) removes one full signature-grain
    exchange from every banding/estimate consumer.
    """
    if shingles is not None:  # a pre-built (id, __sh) table (shingle_arrays)
        shingled = shingles.select("id", F.explode("__sh").alias("shingle"))
    else:
        # fan_out before the shingle regex: see shingle_arrays
        shingled = fan_out(
            df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col)),
            key="id",
        ).select(
            "id",
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
        )
    return shingled.groupBy("id").agg(
        *[
            F.min(
                F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle")))
            ).alias(f"__h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: (id, hash_idx, min_hash) — the
    long shape, a narrow explode of :func:`minhash_signature_columns`.

    Each of the ``num_hashes`` "permutations" is a salted md5 — min over the
    shingle set approximates the Jaccard-similarity-preserving min-permutation.
    """
    mins = minhash_signature_columns(
        df, id_col, text_col, num_hashes, shingle_n, shingles=shingles
    )
    return mins.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("hash_idx"), F.col(f"__h{i}").alias("min_hash")
                    )
                    for i in range(num_hashes)
                ]
            )
        ).alias("__sig"),
    ).select("id", "__sig.hash_idx", "__sig.min_hash")


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """GPT-3-style benchmark decontamination: corpus docs sharing any EXACT
    word n-gram with an eval-set doc (train-test overlap must be removed
    before training, and near-dup thresholds are the wrong tool — a single
    verbatim quoted answer contaminates).

    Scale shape: the benchmark n-gram set is tiny by construction (eval
    sets are thousands of docs), so it broadcasts; the corpus n-gram stream
    is generated inside the scan stage and hash-joined against it — the
    corpus text is touched once and never shuffled; only the sparse
    (doc, benchmark) hits pay the one pair-aggregation exchange. Both
    sides join on the 16-byte :func:`hash128` of the gram, not the
    ~n-token gram string — internal-only key (the output is ids + a
    count), so the broadcast table shrinks ~3x and the probe compares
    two longs; a collision's blast radius is one spurious contamination
    hit (a doc flagged conservatively, never one missed).

    Returns (id, benchmark_id, n_shared) where n_shared counts distinct
    shared n-grams. Drop or audit every returned id before training.
    """
    # fan_out: the n-gram extraction regex over the corpus is the entry's
    # dominant narrow stage; parallelism floor, no-op at scale
    c = fan_out(
        corpus.select(F.col(id_col).cast("long").alias("id"), F.col(text_col)),
        key="id",
    ).select(
        "id",
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    ).select("id", hash128("g").alias("g"))
    b = benchmark.select(
        F.col(id_col).cast("long").alias("benchmark_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    ).select("benchmark_id", hash128("g").alias("g"))
    return (
        c.join(F.broadcast(b), "g")
        .groupBy("id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def fuzzy_ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    min_jaccard: float = 0.05,
    min_shared: int = 1,
) -> DataFrame:
    """Thresholded (paraphrase-level) benchmark decontamination — the
    GPT-3/PaLM appendix recipe: instead of "any shared exact n-gram"
    (:func:`ngram_contamination`, long grams, catches verbatim quotes), a
    (doc, eval-item) pair is flagged when their SHORT-gram sets overlap
    past a Jaccard threshold and/or share at least ``min_shared``
    distinct grams. Paraphrased leakage rewrites enough words that no
    long run survives verbatim, but the short-gram profile still
    overlaps heavily — exactly what this mode scores.

    Returns (id, benchmark_id, n_shared, jaccard) with jaccard rounded
    to 4 dp and thresholds applied on the ROUNDED value (cross-engine
    determinism; same discipline as the minhash verify stage).

    Scale shape: ONE exchange total, ZERO persists. The per-doc gram
    ARRAY binds once per row via :func:`bind_once` into a (size, array)
    struct — naively projecting the array and reading it from both
    ``size()`` and ``explode()`` re-runs the extraction regex per
    reference (the projection-collapse duplication trap; r9 paid a
    corpus-scale persist to dodge it, which ADVICE r9 flagged as an
    unreleasable cache footprint at 100 TB). The gram-set SIZE rides
    each exploded row as one long, so the Jaccard denominator folds
    inside the same (doc, eval-item) aggregate as the intersection count
    — no doc-grain size table is ever joined back. The benchmark side is
    fixed-size and broadcasts, so the corpus gram stream is generated
    inside the scan and hash-joined without a corpus shuffle; only the
    sparse hit pairs pay the pair aggregation.
    """
    def grams(df: DataFrame, alias: str, sz: str) -> DataFrame:
        gs = bind_once(
            word_shingles(F.col(text_col), n),
            lambda a: F.struct(F.size(a).alias("sz"), a.alias("arr")),
        )
        return df.select(
            F.col(id_col).cast("long").alias(alias), gs.alias("__gs")
        ).select(
            alias,
            F.col("__gs.sz").alias(sz),
            F.explode("__gs.arr").alias("g"),
        )

    c = grams(corpus, "id", "__sza")
    b = grams(benchmark, "benchmark_id", "__szb")
    out = (
        c.join(F.broadcast(b), "g")
        .groupBy("id", "benchmark_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            # functionally dependent on the group key; min = the value
            F.min("__sza").alias("__sza"),
            F.min("__szb").alias("__szb"),
        )
        .select(
            "id",
            "benchmark_id",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("__sza") + F.col("__szb") - F.col("n_shared")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
        .filter(
            (F.col("jaccard") >= F.lit(min_jaccard))
            & (F.col("n_shared") >= F.lit(min_shared))
        )
    )
    return out


def build_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """The persistable LSH band index: (id, band, band_key).

    This is the artifact a production pipeline stores next to the lake:
    computing it costs one pass over the text, and every FUTURE dedup of an
    incoming batch joins against it instead of re-reading / re-signing the
    corpus (see :func:`near_dup_against_index`). Band keys concatenate
    ``band_size`` consecutive min-hashes, so two docs share a band key iff
    that band of their signatures agrees exactly.

    The keys are a NARROW projection of the wide signature frame — one
    struct per band assembled row-locally and exploded, not the pre-r7
    explode-to-long + groupBy(id, band) re-aggregation, which exchanged
    the signature rows a second time (k rows per doc) in every banding
    consumer. Key strings are byte-identical to the old shape (same
    ``sort_array`` over the same "idx:hash" elements).
    """
    mins = minhash_signature_columns(
        df, id_col, text_col, num_hashes, shingle_n, shingles=shingles
    )
    by_band: dict[int, list[int]] = {}
    for i in range(num_hashes):
        by_band.setdefault(i // band_size, []).append(i)
    return mins.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.concat_ws(
                            "_",
                            F.sort_array(
                                F.array(
                                    *[
                                        F.concat_ws(
                                            ":", F.lit(str(i)), F.col(f"__h{i}")
                                        )
                                        for i in idxs
                                    ]
                                )
                            ),
                        ).alias("band_key"),
                    )
                    for b, idxs in sorted(by_band.items())
                ]
            )
        ).alias("__b"),
    ).select("id", "__b.band", "__b.band_key")


def near_dup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Incremental near-dup dedup: flag NEW docs duplicating the EXISTING
    corpus without re-signing it — the daily-ingestion posture at 100 TB.

    Only the new batch is shingled/signed; candidates come from equi-joining
    its band keys against the stored ``index`` (:func:`build_band_index`),
    and exact Jaccard verification reads corpus text ONLY for the candidate
    docs (a semi-join-pruned scan — sparse by construction). Ids must be
    disjoint between corpus and batch. Returns (new_id, dup_of, jaccard):
    the new docs to drop and which corpus doc they duplicate.
    """
    new_bands = build_band_index(
        new_docs, id_col, text_col, num_hashes, band_size, shingle_n
    )
    cand = (
        new_bands.alias("n")
        .join(
            index.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_key") == F.col("c.band_key")),
        )
        .select(F.col("c.id").alias("id_a"), F.col("n.id").alias("id_b"))
        .distinct()
    )
    corpus_cand = corpus_docs.join(
        cand.select(F.col("id_a").alias("__cid")).distinct(),
        corpus_docs[id_col].cast("long") == F.col("__cid"),
        "left_semi",
    )
    both = corpus_cand.select(id_col, text_col).unionByName(
        new_docs.select(id_col, text_col)
    )
    verified = ngram_jaccard_pairs(
        both, id_col, text_col,
        threshold=threshold, shingle_n=shingle_n, candidates=cand,
        max_doc_freq=max_doc_freq,
    )
    return verified.select(
        F.col("id_b").alias("new_id"),
        F.col("id_a").alias("dup_of"),
        "jaccard",
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_bucket_size: int | None = 5000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band bucket.

    Bands of ``band_size`` consecutive min-hashes are concatenated into a
    bucket key. Pair enumeration is ONE exchange on (band, key) into a
    per-bucket sorted id list, expanded to (a < b) pairs JVM-side — not a
    self-join, which would exchange the band index twice (or persist it)
    and re-run the shingle+minhash chain per side; measured ~40% faster
    at sf1 with a bit-identical candidate set. Returns distinct
    (id_a, id_b) with id_a < id_b.

    ``max_bucket_size`` drops buckets above the cap before expansion: a
    band bucket with d members yields d(d-1)/2 pairs AND a d-length
    driver-of-task list, so one boilerplate bucket of a million docs is
    5e11 pairs — docs agreeing only on such a band are boilerplate
    near-identical to huge cohorts and belong to upstream exact/substring
    dedup, not pairwise verification. Default ON for the naive caller;
    the oracle-pinned catalog entries pass ``None`` so their declarative
    SQL stays semantics-identical at any scale.
    """
    bands = build_band_index(
        df, id_col, text_col, num_hashes, band_size, shingle_n, shingles=shingles
    )
    grouped = bands.groupBy("band", "band_key").agg(
        F.sort_array(F.collect_list("id")).alias("__ids")
    )
    grouped = grouped.filter(F.size("__ids") >= 2)
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("__ids") <= max_bucket_size)
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice(F.col("__ids"), 1, F.size("__ids") - 1),
                    lambda x, i: F.transform(
                        F.slice(F.col("__ids"), i + 2, F.size("__ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("__p")
    )
    return pairs.select("__p.id_a", "__p.id_b").distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    metric: str = "jaccard",
    shingle_arrays_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for near-dup pairs.

    ``metric`` picks the score: ``jaccard`` (symmetric,
    intersection/union) or ``containment`` (the overlap coefficient,
    intersection/min-set-size) — containment flags doc-inside-doc
    duplication (a page embedded in a larger page) that Jaccard's union
    denominator dilutes below threshold. Output column is named after the
    metric.

    With ``candidates`` (id_a, id_b) the verification is a sparse join —
    the 100 TB path (LSH candidates in, verified pairs out). Without, the
    pair space comes from co-occurring shingles (still no full cross join:
    docs sharing zero shingles never pair), and docs with IDENTICAL
    shingle sets collapse to one representative before the quadratic
    pair work (exact-copy cohorts dominate raw web corpora; scores are
    bit-identical — see the in-branch comment).

    ``max_doc_freq`` caps the self-join fan-out: a shingle present in d
    docs yields d(d-1)/2 pairs, so one boilerplate shingle in a million
    docs is 5e11 pairs. Dropping shingles with document frequency above
    the cap bounds the worst case; Jaccard is then computed over the capped
    shingle universe (intersections AND set sizes both exclude dropped
    shingles, so the ratio stays meaningful). Pairs sharing ONLY
    ultra-common boilerplate stop pairing — which near-dup thresholds
    would reject anyway. The cap is ON by default
    (``DEFAULT_MAX_DOC_FREQ``) so a naive caller gets the 100 TB-safe
    behavior; pass ``max_doc_freq=None`` to opt out into exact mode.
    """
    # every internally-persisted frame is appended here at its persist()
    # site and handed to register_caches at the end — an explicit list, not
    # a locals()-by-name lookup, so a variable rename can't silently drop
    # the tag and leak the persist in long-lived sessions
    held: list[DataFrame] = []
    if shingle_arrays_df is not None:  # shared (id, __sh) table, see shingle_arrays
        shingle_rows = shingle_arrays_df.select(
            "id", F.explode("__sh").alias("shingle")
        )
    else:
        # fan_out before the shingle regex: see shingle_arrays
        shingle_rows = fan_out(
            df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col)),
            key="id",
        ).select(
            "id",
            F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
        )
    if candidates is None and max_doc_freq is not None:
        # ONE exchange on shingle serves two operators: the (id, shingle)
        # dedup (HashPartitioning(shingle) satisfies the distinct's
        # clustering requirement — shingle is a subset of its keys) and
        # the doc-frequency window; nothing re-shuffles until the per-id
        # set rebuild below. (The candidates path caps via a broadcast
        # anti-join instead.)
        df_w = Window.partitionBy("shingle")
        shingles = (
            shingle_rows.repartition("shingle")
            .distinct()
            .withColumn("__df", F.count(F.lit(1)).over(df_w))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    elif candidates is None:
        shingles = shingle_rows.distinct()

    if candidates is not None:
        # sparse verification path: intersect only candidate pairs. The
        # per-doc DISTINCT shingle set rides as ONE array row per doc —
        # uncapped it is built inside the scan stage (zero exchange); the
        # capped path folds the df-filtered stream back to arrays with one
        # groupBy. Candidates then join the array table twice and
        # n_common = size(array_intersect(...)) — a linear hash-set
        # intersect per pair. The previous exploded double-join
        # materialized |pair| x |shingles-per-doc| rows (16M at sf1 for
        # 315k pairs) through an extra exchange; this moves each doc's
        # array only along its candidate edges (sf1: 5.4 s -> array join
        # cost, bit-identical output). The array table is consumed by both
        # join sides: persist it.
        if max_doc_freq is not None:
            # Capped universe without touching the shingle-keyed exchange:
            # per-doc shingle rows are already distinct (word_shingles
            # dedups), so doc frequency is a plain groupBy(shingle) count
            # whose map-side partial combine shrinks the exchange to
            # VOCABULARY grain; only the shingles OVER the cap (the tiny
            # boilerplate set — at any scale a shrinking fraction of the
            # vocabulary) come back, as a broadcast anti-join against the
            # exploded rows. One full-width exchange (the groupBy(id)
            # array rebuild) instead of two plus a per-shingle sort window
            # — sf1: 10.9 s -> 6.0 s on the pipeline's verify stage,
            # bit-identical output.
            if shingle_arrays_df is None:
                # hot + the anti-join both consume the exploded rows;
                # without a caller-owned shared table, persist to avoid
                # re-shingling the corpus twice.
                shingle_rows = shingle_rows.persist()
                held.append(shingle_rows)
            hot = (
                shingle_rows.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") > max_doc_freq)
                .select("shingle")
            )
            arr = (
                shingle_rows.join(F.broadcast(hot), "shingle", "left_anti")
                .groupBy("id")
                .agg(F.sort_array(F.collect_list("shingle")).alias("__sh"))
                .withColumn("__sz", F.size("__sh"))
                .persist()
            )
            held.append(arr)
        elif shingle_arrays_df is not None:
            # caller-owned shared table (already persisted by the caller)
            arr = shingle_arrays_df.withColumn("__sz", F.size("__sh"))
        else:
            arr = df.select(
                F.col(id_col).cast("long").alias("id"),
                F.array_sort(word_shingles(F.col(text_col), shingle_n)).alias("__sh"),
            ).withColumn("__sz", F.size("__sh")).persist()
            held.append(arr)
        # The verify joins exchange the raw shingle arrays. Hashing them
        # to hash128 first halved the two exchanges' bytes but cost more
        # in per-element F.transform work than it saved (cold min-of-4 at
        # sf10p, hash128 vs text: pipeline 14.50 vs 11.36 s, curation
        # 25.87 vs 24.08 s).
        scored = (
            candidates.select("id_a", "id_b")
            .join(
                arr.select(
                    F.col("id").alias("id_a"),
                    F.col("__sh").alias("__sh_a"),
                    F.col("__sz").alias("size_a"),
                ),
                "id_a",
            )
            .join(
                arr.select(
                    F.col("id").alias("id_b"),
                    F.col("__sh").alias("__sh_b"),
                    F.col("__sz").alias("size_b"),
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("__sh_a", "__sh_b")).alias("n_common"),
                "size_a",
                "size_b",
            )
            .filter(F.col("n_common") > 0)
        )
    else:
        # Collapse IDENTICAL (capped) shingle sets before the quadratic
        # work: exact-copy cohorts dominate raw web corpora (the reason
        # exact dedup runs before near-dup at scale), and every member of
        # a cohort produces the same intersections — so the co-occurrence
        # self-join and the pair aggregate run over DISTINCT sets only,
        # and id pairs expand afterwards. In-cohort pairs score exactly
        # 1.0 (identical sets: n/(n+n-n) and n/min(n,n)); cross-cohort
        # pairs inherit the set-pair score verbatim — same integers, same
        # division, bit-identical to the per-id formulation. On a corpus
        # with NO copies this costs one extra id-grain + one set-hash
        # groupBy; on the 10-copy sf1 mirror it cuts the pair-aggregate
        # input ~100x (sf1: 17.2 s -> see SWEEP_SF1). The set hash is
        # md5 over a \\x1f join — shingles are [a-z0-9 ] runs, so the
        # separator cannot collide.
        sets = shingles.groupBy("id").agg(
            F.sort_array(F.collect_list("shingle")).alias("__sh")
        )
        groups = (
            sets.groupBy(F.md5(F.concat_ws("\x1f", "__sh")).alias("__gh"))
            .agg(
                F.collect_list("id").alias("__members"),
                F.first("__sh").alias("__sh"),
            )
            .persist()  # feeds the self-join (x2), both expansions
        )
        held.append(groups)
        rep = groups.select(
            "__gh", F.size("__sh").alias("sz"), F.explode("__sh").alias("shingle")
        )
        scored = (
            rep.alias("x")
            .join(rep.alias("y"), "shingle")
            .filter(F.col("x.__gh") < F.col("y.__gh"))
            .groupBy(F.col("x.__gh").alias("id_a"), F.col("y.__gh").alias("id_b"))
            .agg(
                F.count(F.lit(1)).alias("n_common"),
                F.first("x.sz").alias("size_a"),
                F.first("y.sz").alias("size_b"),
            )
        )
    if metric == "jaccard":
        score = F.col("n_common") / (
            F.col("size_a") + F.col("size_b") - F.col("n_common")
        )
    elif metric == "containment":
        score = F.col("n_common") / F.least(F.col("size_a"), F.col("size_b"))
    else:
        raise ValueError(f"unknown metric: {metric!r}")
    out = (
        scored.withColumn(metric, F.round(score, 4))
        .filter(F.col(metric) >= threshold)
        .select("id_a", "id_b", metric)
    )
    if candidates is None:
        # expand set pairs back to id pairs: cross-cohort pairs join the
        # member lists (set-pair side is the post-threshold survivors —
        # sparse), in-cohort pairs explode combinations JVM-side.
        cross = (
            out.join(
                groups.select(
                    F.col("__gh").alias("id_a"), F.col("__members").alias("__ma")
                ),
                "id_a",
            )
            .join(
                groups.select(
                    F.col("__gh").alias("id_b"), F.col("__members").alias("__mb")
                ),
                "id_b",
            )
            .select(F.explode("__ma").alias("__ia"), "__mb", metric)
            .select("__ia", F.explode("__mb").alias("__ib"), metric)
            .select(
                F.least("__ia", "__ib").alias("id_a"),
                F.greatest("__ia", "__ib").alias("id_b"),
                metric,
            )
        )
        within = (
            groups.filter(F.size("__members") >= 2)
            .select(F.explode("__members").alias("__ia"), "__members")
            .select("__ia", F.explode("__members").alias("__ib"))
            .filter(F.col("__ia") < F.col("__ib"))
            .select(
                F.col("__ia").alias("id_a"),
                F.col("__ib").alias("id_b"),
                F.round(F.lit(1.0), 4).alias(metric),
            )
            .filter(F.col(metric) >= threshold)
        )
        out = cross.unionByName(within)
    # the internal persists (shingle rows / array table / set groups) must
    # outlive the caller's action; tag them for release_caches — ``held``
    # collected each frame at its own persist() site above.
    return register_caches(out, *held)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash per document: majority vote over token-hash bits.

    Bit j of the fingerprint is 1 iff more tokens hash to 1 than 0 at
    position j. Token hash = first ceil(bits/4) md5 hex chars -> int (conv
    is a JVM builtin). Near-dups then cluster by Hamming distance on the
    fingerprint (compare via xor + bit_count downstream). ``bits`` up to 60
    — the fingerprint and the token hash stay positive signed longs, so
    arithmetic shifts and cross-engine '0x' casts are sign-safe (the
    classic 64-bit Manku fingerprint would put bit 63 in the sign).

    All ``bits`` majority votes run in ONE groupBy(id): each token row
    carries its bit-votes with map-side partial sums, so the shuffle moves
    token rows once — not bits× exploded copies (the same k-fold shuffle
    cut as minhash_signatures). The ``bits`` sums are built as a single
    ``array(sum(...), ...)`` SQL string and the fingerprint reassembly as
    one zip-with-masks fold: one JVM parse each, instead of 2×``bits``
    Python-side Column constructions whose py4j roundtrips cost ~1 s of
    driver time PER PLAN BUILD at 60 bits (measured — plan construction
    was a third of the whole simhash-dedup entry). Execution is identical:
    Catalyst extracts the aggregates into one codegen'd HashAggregate with
    a fixed-width 60-long buffer; the array wrap and the mask fold are
    doc-grain projections.
    """
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    nhex = (bits + 3) // 4
    # fan_out: tokenize + per-token md5 + the 60-vote partial aggregate is
    # this entry's dominant map-side work; a one-split scan serializes it
    # (r14 — measured 0.6 s single-task at sf0.1; no-op at scale)
    toks = fan_out(
        df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col)),
        key="id",
    ).select(
        "id",
        F.explode(tokenize(F.col(text_col))).alias("tok"),
    )
    hashed = toks.select(
        "id",
        F.expr(
            f"cast(conv(substring(md5(tok), 1, {nhex}), 16, 10) as bigint)"
        ).alias("h"),
    )
    votes_sql = "array(" + ", ".join(
        f"sum((shiftright(h, {j}) & 1) * 2 - 1)" for j in range(bits)
    ) + ")"
    votes = hashed.groupBy("id").agg(F.expr(votes_sql).alias("__votes"))
    masks = ", ".join(f"{1 << j}L" for j in range(bits))
    return votes.select(
        "id",
        F.expr(
            f"aggregate(zip_with(__votes, array({masks}),"
            " (v, m) -> IF(v > 0, m, 0L)), 0L, (a, x) -> a + x)"
        ).alias("simhash"),
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    max_bucket_size: int | None = 5000,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits, by pigeonhole
    banding — the scale path that completes the SimHash family (fingerprints
    alone don't dedup; all-pairs Hamming is O(n^2)).

    Pigeonhole: split the ``bits``-bit fingerprint into ``max_hamming + 1``
    disjoint bit-bands; two fingerprints within Hamming distance d <=
    max_hamming differ in at most d bands, so they agree EXACTLY on at least
    one band. Candidate generation is therefore one exchange on
    (band, band_bits) into per-bucket sorted (id, fingerprint) lists expanded
    to a < b pairs JVM-side (the minhash_candidate_pairs shape — no
    self-join, no re-hash per side), and the Hamming verify is
    ``bit_count(a ^ b)`` computed during expansion with zero extra joins,
    because each bucket element carries its fingerprint. Exact within the
    radius: unlike MinHash banding this is not probabilistic — every pair at
    distance <= max_hamming shares a band by construction.

    ``max_bucket_size`` bounds hot-bucket fan-out exactly as in
    minhash_candidate_pairs (default ON; catalog oracle entries pass None).
    Returns distinct (id_a, id_b, hamming) with id_a < id_b.

    Scale note: DOC-level banding has only 2^(bits/(d+1)) buckets per band
    (256 for 32-bit/Hamming-3), so once the corpus is much larger than the
    band space — or duplicate-heavy, where same-fingerprint cohorts share
    every band — bucket expansion goes quadratic. That regime belongs to
    ``simhash_dedup``: wider fingerprints, banding over DISTINCT
    fingerprints, and star (not clique) edges within identical-fingerprint
    groups.
    """
    n_bands = max_hamming + 1
    width = bits // n_bands  # last band absorbs the bits % n_bands remainder
    fp = fingerprints if fingerprints is not None else simhash(
        df, id_col, text_col, bits
    )
    # band extraction and the in-bucket pair expansion are single SQL
    # strings: one JVM parse each instead of dozens of py4j Column
    # constructions per plan build (same driver-time cut as simhash's
    # vote array — these entries are benched, so plan-build time counts)
    band_sql = ", ".join(
        "shiftright(simhash, {o}) & {m}L".format(
            o=j * width,
            m=(1 << (bits - j * width if j == n_bands - 1 else width)) - 1,
        )
        for j in range(n_bands)
    )
    bands = fp.select(
        "id",
        "simhash",
        F.expr(f"posexplode(array({band_sql})) as (band, band_bits)"),
    )
    grouped = bands.groupBy("band", "band_bits").agg(
        F.sort_array(F.collect_list(F.struct("id", "simhash"))).alias("__m")
    )
    grouped = grouped.filter(F.size("__m") >= 2)
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("__m") <= max_bucket_size)
    pairs = grouped.select(
        F.expr(
            "explode(flatten(transform("
            " slice(__m, 1, size(__m) - 1),"
            " (x, i) -> transform("
            "   slice(__m, i + 2, size(__m)),"
            "   y -> named_struct("
            "     'id_a', x.id, 'id_b', y.id,"
            "     'hamming', cast(bit_count(x.simhash ^ y.simhash) as int)"
            ")))))"
        ).alias("__p")
    )
    return (
        pairs.select("__p.id_a", "__p.id_b", "__p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    max_hamming: int = 3,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """SimHash dedup at corpus scale: keep one representative per
    Hamming-<=``max_hamming`` duplicate cluster (smallest id).

    Why not ``simhash_near_pairs`` + components: enumerating the pair
    CLIQUE is quadratic in duplicate-cohort size (a 10k-copy boilerplate
    cohort = 50M hamming-0 pairs that all say the same thing). Dedup only
    needs CONNECTIVITY, so this path is linear in documents:

    1. fingerprint every doc (default 60-bit — 15-bit bands give 32k
       buckets per band instead of 32-bit banding's 256);
    2. same-fingerprint cohorts contribute STAR edges (rep -> member), one
       edge per doc;
    3. banding runs over DISTINCT fingerprints only (duplicate-heavy
       corpora collapse to few), producing rep-to-rep edges within the
       Hamming radius;
    4. connected components over star + rep edges, then one anti-join
       drops cluster losers.

    Same component structure as the clique by transitivity of
    connectivity; ``max_bucket_size`` caps band fan-out at the
    distinct-fingerprint level.
    """
    fp = simhash(df, id_col, text_col, bits).persist()
    # NOTE on the lazy fill: the reps aggregate and the intra-join's fp
    # exchange materialize concurrently under AQE and can race the cache
    # fill, re-running the token+vote fold (r14 event-log profile: two
    # extra stages of 12.6 s + 7.6 s task time writing the same 135.5 KB
    # exchange at sf0.1). An eager_fill(fp) was A/B'd and REJECTED: the
    # racing folds overlap on otherwise-idle cores, so wall time was
    # unchanged-to-worse (interleaved min-of-3: lazy 2.51/2.94 s vs
    # eager 2.61/3.17 s at sf0.1/sf1) while the serialized fill delayed
    # the consumers. On a saturated cluster the trade can flip; revisit
    # with cluster measurements, not local ones.
    reps = fp.groupBy("simhash").agg(F.min("id").alias("rep"))
    intra = (
        fp.join(reps, "simhash")
        .filter(F.col("id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("id").alias("id_b"))
    )
    inter = simhash_near_pairs(
        df,
        id_col,
        text_col,
        bits=bits,
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
        fingerprints=reps.select(F.col("rep").alias("id"), "simhash"),
    ).select("id_a", "id_b")
    comps = connected_components(intra.unionByName(inter), "id_a", "id_b")
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("__loser")
    )
    return register_caches(
        df.join(
            losers, df[id_col].cast("long") == F.col("__loser"), "left_anti"
        ),
        fp,
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 25,
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """Duplicate clusters from a near-dup pair graph: (id, component) with
    component = the smallest id reachable through pairs.

    Two executions by graph size. The VERIFIED near-dup pair graph is
    orders of magnitude smaller than the corpus (percent-level dup rates;
    banding + Jaccard verification upstream), so up to ``max_driver_edges``
    edges the graph is collected and solved with union-find on the driver
    — microseconds, versus seconds of fixed per-round job overhead for a
    distributed loop (measured 4.7 s for a 25-edge graph). The result is
    identical (min-id representative) and deterministic. Past the bound —
    boilerplate megaclusters that upstream capping should have prevented —
    it falls back to the distributed loop below, which never materializes
    the graph on one machine.

    Distributed path: min-label propagation WITH pointer jumping: each round every vertex
    takes the min of its own, its neighbors', and its label's label — the
    extra label-of-label hop squares the reach per round, so convergence is
    O(log diameter) rounds instead of O(diameter) (near-dup chains of
    length 8 measured 8 -> 4 rounds). Labels are SEEDED with one neighbor
    fold (label0 = min(self, neighbors)) so the loop starts one round
    ahead, and the doubled edge frame is cached pre-partitioned on src so
    each round's join exchanges only the labels side (together: 16.7 ->
    9.0 s on a 1.8M-edge diameter-9 chain graph). Convergence is detected
    from sum(label), which strictly decreases until fixpoint; the
    per-round localCheckpoint is LAZY so the convergence aggregate is the
    single action that both materializes the new labels and reads the sum
    — one Spark job per round, not two (measured 0.73 -> 0.4 s/round of
    fixed overhead on small graphs). On a cluster, prefer a checkpoint dir
    for fault tolerance.

    Output covers every id that appears in ``pairs`` (singletons never enter
    a pair and are their own implicit component).
    """
    raw = pairs.select(
        F.col(a_col).cast("long").alias("src"), F.col(b_col).cast("long").alias("dst")
    )
    spark = pairs.sparkSession
    raw = raw.cache()  # both paths read it; neither may re-run the verify chain
    # The path decision is a count() on the cached frame: it materializes the
    # cache (which the chosen path reads anyway, so the upstream banding/
    # verify chain runs exactly once) and moves NOTHING to the driver. The
    # Arrow transfer happens only once the graph is KNOWN to fit the driver
    # bound — an over-bound corpus, the path that fires at scale, pays zero
    # wasted transfer and takes the distributed loop straight from cache.
    n_edges = raw.count()
    if n_edges <= max_driver_edges:
        pdf = raw.toPandas()
        parent: dict[int, int] = {}
        verts: set[int] = set()

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        raw.unpersist()
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            a, b = int(a), int(b)
            verts.add(a)
            verts.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        import pandas as pd

        out = pd.DataFrame(
            {"id": sorted(verts)},
        )
        out["component"] = [find(v) for v in out["id"]]
        return spark.createDataFrame(out, schema="id long, component long")

    # the doubled edge frame is re-joined on src EVERY round: caching it
    # already hash-partitioned on src means each round's join exchanges
    # only the (shrinking) labels side — one extra exchange at build buys
    # one fewer exchange per round (fresh-session min-of-3 on a 1.8M-edge
    # chain graph: 16.7 -> 12.1 s alone, 9.0 s with seeding below)
    edges = (
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition("src")
        .cache()
    )
    # seed labels with one neighbor fold, label0 = min(self, neighbors) —
    # the same aggregation the first loop round would produce, at the cost
    # of the vertex-distinct the identity seeding needed anyway. Saves one
    # full propagation round (4 -> 3 on the chain graph: 16.7 -> 9.9 s
    # alone); the loop still converges to the identical min-id fixpoint
    # because labels only ever decrease toward it.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("id"),
            F.least(F.col("__m"), F.col("src")).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    raw.unpersist()  # edges cache is materialized now; the loop reads only it
    for _ in range(max_iter):
        # neighbor hop: every vertex sees its neighbors' labels
        cand = labels.unionByName(
            edges.join(labels.withColumnRenamed("id", "src"), "src").select(
                F.col("dst").alias("id"), "label"
            )
        )
        prop = cand.groupBy("id").agg(F.min("label").alias("label"))
        # Both sides of the pointer-jump self-join below read prop; an
        # unpinned prop recomputes the neighbor-hop join + fold once per
        # side. prop is two longs per vertex, so the fill is cheap (cold
        # min-of-4 at sf10p, x_dedup_semdedup: fill 12.64 vs off 15.94 s).
        # The cache is released after the round's convergence action.
        prop = eager_fill(prop.persist())
        # pointer jump: follow label -> label(label). Every label value is
        # itself a vertex id (labels start as ids and move as mins of ids),
        # so the lookup is a self-join on the label column.
        hop = prop.select(F.col("id").alias("__lid"), F.col("label").alias("__llabel"))
        labels = (
            prop.join(hop, prop["label"] == hop["__lid"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("__llabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        prop.unpersist()
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select("id", F.col("label").alias("component"))


def dedup_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Drop all but one document per duplicate cluster (the smallest id —
    deterministic, re-runnable). Documents in no pair survive untouched.
    """
    comps = connected_components(pairs, a_col, b_col)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("__loser")
    )
    return df.join(
        losers, df[id_col].cast("long") == F.col("__loser"), "left_anti"
    )


def collapsed_pair_graph(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT-mode (uncapped) verified near-dup graph with identical
    shingle-set cohorts collapsed: band candidates and Jaccard
    verification run over ONE representative per distinct shingle set,
    then each cohort rejoins as a star of rep->member edges. Returns
    (id_a, id_b) edges whose COMPONENT structure is identical to the
    per-id uncapped chain: identical sets always co-bucket (identical
    signatures, no bucket cap) and verify at exactly 1.0, so every
    cohort is a clique in the per-id graph — the star to the cohort's
    MIN id preserves both the connectivity and the min-id
    representative. Exact-copy cohorts dominate raw web corpora, so the
    quadratic candidate/verify work shrinks by the square of the copy
    factor.

    UNCAPPED ONLY, by design: ``max_bucket_size`` deliberately counts
    raw docs (suppressing boilerplate cohorts IS its job) and
    ``max_doc_freq`` counts per-doc shingle frequency — both change
    meaning under collapse, so capped chains keep the per-id shape.
    The returned frame is a graph-equivalent edge set (in-cohort cliques
    are represented by stars), for component consumers — not the full
    verified pair list.
    """
    sets_ = shingle_arrays(df, id_col, text_col, shingle_n)
    groups = (
        sets_.groupBy(F.md5(F.concat_ws("\x1f", "__sh")).alias("__gh"))
        .agg(
            F.min("id").alias("id"),
            F.collect_list("id").alias("__members"),
            F.first("__sh").alias("__sh"),
        )
        .persist()  # holds the shingle pass; feeds bands, verify, stars
    )
    arrs = groups.select("id", "__sh")
    candidates = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, band_size, shingle_n,
        max_bucket_size=None, shingles=arrs,
    )
    verified = ngram_jaccard_pairs(
        df, id_col, text_col, threshold=threshold, shingle_n=shingle_n,
        candidates=candidates, max_doc_freq=None, shingle_arrays_df=arrs,
    )
    star = (
        groups.filter(F.size("__members") >= 2)
        .select(F.col("id").alias("id_a"), F.explode("__members").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
    )
    return register_caches(
        verified.select("id_a", "id_b").unionByName(star), groups, verified
    )


def near_dup_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """The full near-dup pipeline in one call: MinHash-LSH candidates ->
    exact Jaccard verification -> connected-components clustering -> drop
    all but the smallest id per cluster.

    This is the 100 TB shape end to end: candidate generation is a band
    bucket expansion bounded by ``max_bucket_size``, verification touches
    only candidates with shingle fan-out bounded by ``max_doc_freq``,
    clustering is driver union-find on the (small) verified-pair graph
    with a distributed fallback, and the final drop is one anti-join
    against the loser set. Both caps default ON; the oracle-pinned
    catalog entries opt out for declarative-SQL parity — and the uncapped
    mode routes through :func:`collapsed_pair_graph` (identical clusters,
    identical survivors; copy cohorts verify once).
    """
    if max_doc_freq is None and max_bucket_size is None:
        edges = collapsed_pair_graph(
            df, id_col, text_col, threshold, num_hashes, band_size, shingle_n
        )
        return register_caches(
            dedup_corpus(df, edges, id_col, a_col="id_a", b_col="id_b"),
            edges,
        )
    # tokenize+shingle once (the most expensive narrow stage), share the
    # persisted (id, __sh) table between candidate generation and verify
    arrs = shingle_arrays(df, id_col, text_col, shingle_n).persist()
    candidates = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, band_size, shingle_n,
        max_bucket_size=max_bucket_size, shingles=arrs,
    )
    verified = ngram_jaccard_pairs(
        df,
        id_col,
        text_col,
        threshold=threshold,
        shingle_n=shingle_n,
        candidates=candidates,
        max_doc_freq=max_doc_freq,
        shingle_arrays_df=arrs,
    )
    # hand the shared shingle table (and verify's internal persists) to the
    # caller via the returned frame's cache tag
    return register_caches(
        dedup_corpus(df, verified, id_col, a_col="id_a", b_col="id_b"),
        arrs,
        verified,
    )


def dedup_cluster_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    max_bucket_size: int | None = 5000,
) -> DataFrame:
    """Dataset-card duplication profile: the distribution of near-dup
    cluster sizes — (cluster_size, n_clusters, n_docs), with size 1 =
    documents in no cluster. ``SUM(n_docs)`` is the corpus;
    ``SUM((cluster_size - 1) * n_clusters)`` is what dedup would remove —
    the numbers a curation report quotes before committing to a drop.

    Same chain (and caps) as ``near_dup_dedup`` up to the component
    labels — including the uncapped collapsed-cohort route; the extra
    cost over the pipeline is two tiny aggregations on the component
    table (bounded by the duplicate count, not the corpus).
    """
    if max_doc_freq is None and max_bucket_size is None:
        verified = collapsed_pair_graph(
            df, id_col, text_col, threshold, num_hashes, band_size, shingle_n
        )
    else:
        arrs = shingle_arrays(df, id_col, text_col, shingle_n).persist()
        candidates = minhash_candidate_pairs(
            df, id_col, text_col, num_hashes, band_size, shingle_n,
            max_bucket_size=max_bucket_size, shingles=arrs,
        )
        verified = ngram_jaccard_pairs(
            df, id_col, text_col, threshold=threshold, shingle_n=shingle_n,
            candidates=candidates, max_doc_freq=max_doc_freq,
            shingle_arrays_df=arrs,
        )
    comps = connected_components(verified, "id_a", "id_b")
    clustered = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = clustered.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )
    n_total = df.count()
    n_in_clusters = comps.count()
    singletons = df.sparkSession.createDataFrame(
        [(1, n_total - n_in_clusters)], "cluster_size long, n_clusters long"
    ).filter(F.col("n_clusters") > 0)
    return register_caches(
        hist.select(
            F.col("cluster_size").cast("long"), F.col("n_clusters").cast("long")
        )
        .unionByName(singletons)
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        ),
        verified,
        *([arrs] if max_doc_freq is not None or max_bucket_size is not None
          else []),
    )


def duplicated_ngram_fraction(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Corpus-internal duplication signal (the scalable approximation of
    exact-substring dedup, Lee et al. 2022): per document, the fraction of
    its DISTINCT word n-grams that also occur in at least one OTHER
    document. High fractions mark boilerplate/templated/mirrored text that
    near-dup doc-level Jaccard misses (a page that is 60% shared template
    and 40% unique body scores ~0.6 here but well under a 0.8 doc-level
    Jaccard threshold). ``ngram_contamination`` is the cross-corpus variant
    of the same signal; this one needs no reference set.

    Scale shape: n-grams are deduped per-doc inside the scan stage
    (``array_distinct``), so the exploded stream is bounded by token count;
    every shuffle carries a 16-byte :func:`hash128` of the gram (an
    internal-only key — the oracle groups by gram text), never gram text. Doc
    frequency is a COUNT window over the digest partition — one shuffle of
    the gram stream, evaluated once (the aggregate-then-join formulation
    scans the gram expression twice and pays a second exchange; measured
    2.7x slower at sf1) — and the per-doc rollup is the single final
    exchange on id.

    Returns (id, n_grams, n_dup_grams, dup_fraction) — one row per doc,
    including zero-overlap docs.
    """
    # fan_out: the gram-extraction regex dominates the map side (r14
    # parallelism floor; no-op at scale)
    grams = fan_out(
        df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col)),
        key="id",
    ).select(
        "id",
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    ).select("id", hash128("g").alias("gh"))
    return (
        grams.withColumn(
            # grams are distinct per doc, so the partition count IS doc freq
            "doc_freq",
            F.count(F.lit(1)).over(Window.partitionBy("gh")),
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("doc_freq") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
        .select(
            "id",
            "n_grams",
            "n_dup_grams",
            (F.col("n_dup_grams").cast("double") / F.col("n_grams")).alias(
                "dup_fraction"
            ),
        )
    )


def scrub_shared_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cross-document duplicated-substring REMOVAL (the exact-substring
    dedup stage of Lee et al. 2022 / RefinedWeb / MassiveText): every token
    covered by a word n-gram occurring >= ``min_count`` times ANYWHERE in
    the corpus (across documents or repeated within one) is dropped, and
    each document's surviving tokens are reassembled in order. Where
    :func:`duplicated_ngram_fraction` only scores the duplication, this
    emits the cleaned corpus.

    Scale shape, outermost first:

    - **Identical-text collapse.** Documents group by ``(md5(text),
      length(text))`` — the length rider shrinks the md5-collision
      surface (a collision would assign one doc another's cleaned
      output) to same-length collisions, at one extra long per distinct
      text — and every downstream stage runs at DISTINCT-content grain, with the
      group's id list riding along and exploding back at the very end.
      Exact-copy cohorts dominate raw web corpora (and the ×10 sf1 bench
      mirror), and every member of a cohort has the same grams, the same
      covered spans, and the same cleaned text. Exactness is preserved
      because gram occurrence counts are MULTIPLICITY-WEIGHTED: a gram
      row from a group of m copies contributes m occurrences
      (``sum(m)`` over the digest partition ≡ the per-id row count).
    - Gram occurrence count is that one SUM window over ONE exchange of
      (gram digest) rows — no aggregate+join, no per-gram list
      materialization, so a million-occurrence boilerplate gram costs
      the same per row as a cold one.
    - Hot span starts fold to ONE int array per distinct text and join
      back to the token arrays at content grain. Texts with ZERO hot
      spans never enter the scrubber: their cleaned text is a JVM-side
      ``array_join`` on the scan side of the join (n_removed = 0), so
      the Arrow transfer and the Python pass are paid only for the
      (shrinking, at real-corpus scale) touched fraction.
    - Touched texts go through an Arrow-batched ``mapInPandas`` that
      scrubs each batch fully vectorized (difference-array coverage over
      the batch-flattened token stream, per-doc reassembly via pyarrow
      ``binary_join``).

    Output text is over normalized tokens (lowercased, punctuation-split)
    — the tokenization the gram match is defined on; every byte of the
    output is exact integer/string work, so the DuckDB oracle parity is
    untouched.

    Returns (id, n_tokens, n_removed, cleaned_text) for every input doc;
    fully-scrubbed docs survive with an empty string (filter on
    ``n_removed < n_tokens`` to drop them).
    """

    def grams_and_toks(toks: Column) -> Column:
        # Positional gram extraction via ONE codegen'd overlapping-lookahead
        # regex over the space-joined token stream (word_shingles' measured
        # 3x trick, minus its array_distinct/short-doc branches): match i
        # (0-based) IS the gram at token start i+1, and a doc with fewer
        # than n tokens yields no matches — exactly the old
        # sequence+slice+concat semantics, without the interpreted
        # per-gram slice+concat lambda work. The digest is hash128 (two
        # xxhash64 lanes, 16 bytes) instead of md5 hex (32-char string):
        # gh is an INTERNAL equality key — never output, never replayed by
        # the oracle (which groups by gram text) — so the only cost of the
        # narrower key is collision probability (~2^-128 random; a
        # collision over-scrubs one span, it cannot misassign a document's
        # cleaned text — that is __th's job, which stays md5+length).
        joined = F.array_join(toks, " ")
        pat = r"(?=\b((?:%s ){%d}%s\b))" % (TOKEN_RUN, n - 1, TOKEN_RUN)
        gstr = F.regexp_extract_all(joined, F.lit(pat), F.lit(1))
        return F.struct(
            F.transform(
                gstr,
                lambda g, i: F.struct(
                    (i + F.lit(1)).alias("start"),
                    hash128(g).alias("gh"),
                ),
            ).alias("grams"),
            toks.alias("toks"),
        )

    # identical-text collapse: NULL text coalesces to '' so all
    # empty/NULL docs share one group (tokenize treats them identically)
    groups = (
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("__text"),
        )
        # collapse key is (md5, length), not md5 alone: an md5 collision
        # would otherwise hand one document another's cleaned output.
        # Appending the byte length shrinks that (already astronomically
        # unlikely) surface to same-length collisions for one extra long
        # per distinct text — the same digest-grain convention the other
        # collapse operators document, made cheaper to trust.
        .groupBy(
            F.concat_ws(
                ":", F.md5("__text"), F.length("__text").cast("string")
            ).alias("__th")
        )
        .agg(
            F.collect_list("id").alias("__ids"),
            F.first("__text").alias("__text"),
        )
        .persist()  # feeds the gram stream AND both sides of the rebuild
    )
    base = groups.select(
        "__th",
        "__ids",
        F.size("__ids").cast("long").alias("__m"),
        bind_once(tokenize(F.col("__text")), grams_and_toks).alias("__gt"),
    ).select(
        "__th", "__ids", "__m",
        F.col("__gt.grams").alias("__grams"),
        F.col("__gt.toks").alias("__toks"),
    )
    grams = base.select(
        "__th", "__m", F.explode("__grams").alias("g")
    ).select("__th", "__m", F.col("g.start").alias("start"), F.col("g.gh").alias("gh"))

    hot_starts = (
        grams.withColumn(
            "__cnt", F.sum("__m").over(Window.partitionBy("gh"))
        )
        .filter(F.col("__cnt") >= min_count)
        .select("__th", "start")
    )
    # The untouched/touched split below consumes `joined` from TWO union
    # branches, and nothing upstream of it is cached past `groups` — so
    # without a pin the whole post-collapse chain (gram regexp pass ->
    # corpus-grain exchange -> occurrence window -> starts join) executes
    # once per branch. Persist BOTH the folded starts (small: one int
    # array per touched text) and the joined frame (token arrays at
    # distinct-content grain), eager-filled so AQE's concurrent branch
    # materialization reads cache instead of racing the fill. Cold
    # min-of-4 at sf10p: no pin 39.9 / starts only 20.1 / both 14.7 s.
    # Both frames are registered on the result for release_caches; the
    # MEMORY_AND_DISK default spills rather than recomputing the
    # regexp/window chain at scale.
    starts_per_doc = eager_fill(
        hot_starts.groupBy("__th")
        .agg(F.collect_list("start").alias("__starts"))
        .persist()
    )
    joined = eager_fill(
        base.select("__th", "__ids", "__toks")
        .join(starts_per_doc, "__th", "left")
        .persist()
    )
    untouched = joined.filter(F.col("__starts").isNull()).select(
        F.explode("__ids").alias("id"),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_removed"),
        F.array_join("__toks", " ").alias("cleaned_text"),
    )
    touched = joined.filter(F.col("__starts").isNotNull()).select(
        "__ids", "__toks", "__starts"
    )

    def scrub_batches(batches):  # pragma: no cover - executed on workers
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        for pdf in batches:
            ndocs = len(pdf)
            if ndocs == 0:
                continue
            toks = [t if t is not None else () for t in pdf["__toks"]]
            lens = np.fromiter((len(t) for t in toks), np.int64, count=ndocs)
            flat_len = int(lens.sum())
            off = np.zeros(ndocs + 1, dtype=np.int64)
            np.cumsum(lens, out=off[1:])
            # one pad slot per doc so a span's -1 marker (start-1+n, at most
            # one past the doc's last token) never bleeds into the next doc
            pstart = off[:-1] + np.arange(ndocs)
            starts_col = pdf["__starts"]
            s_lens = np.fromiter(
                (0 if s is None else len(s) for s in starts_col),
                np.int64,
                count=ndocs,
            )
            if flat_len and s_lens.sum():
                delta = np.zeros(flat_len + ndocs + 1, dtype=np.int64)
                s_flat = np.concatenate(
                    [np.asarray(s, dtype=np.int64)
                     for s in starts_col if s is not None and len(s)]
                )
                idx = np.repeat(pstart, s_lens) + (s_flat - 1)
                np.add.at(delta, idx, 1)
                np.add.at(delta, idx + n, -1)
                run = np.cumsum(delta[: flat_len + ndocs])
                real = np.ones(flat_len + ndocs, dtype=bool)
                real[off[1:] + np.arange(ndocs)] = False
                kept_mask = run[real] == 0
            else:
                kept_mask = np.ones(flat_len, dtype=bool)
            kc = np.zeros(flat_len + 1, dtype=np.int64)
            np.cumsum(kept_mask, out=kc[1:])
            kept_per_doc = kc[off[1:]] - kc[off[:-1]]
            kept_offsets = np.zeros(ndocs + 1, dtype=np.int64)
            np.cumsum(kept_per_doc, out=kept_offsets[1:])
            if flat_len:
                flat_toks = np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks]
                )
                kept_flat = flat_toks[kept_mask]
            else:
                kept_flat = np.array([], dtype=object)
            cleaned = pc.binary_join(
                pa.ListArray.from_arrays(
                    pa.array(kept_offsets, type=pa.int32()),
                    pa.array(kept_flat, type=pa.string()),
                ),
                " ",
            ).to_pandas()
            yield pd.DataFrame({
                "ids": pdf["__ids"],
                "n_tokens": lens,
                "n_removed": lens - kept_per_doc,
                "cleaned_text": cleaned,
            })

    scrubbed = touched.mapInPandas(
        scrub_batches,
        schema="ids array<long>, n_tokens long, n_removed long,"
        " cleaned_text string",
    ).select(
        F.explode("ids").alias("id"), "n_tokens", "n_removed", "cleaned_text"
    )
    return register_caches(
        untouched.unionByName(scrubbed), groups, starts_per_doc, joined
    )


def dedup_corpus_best(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score_col: str,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """``dedup_corpus`` with quality-aware representative selection: keep
    the HIGHEST-``score_col`` document per duplicate cluster (smallest id
    tiebreak) instead of the smallest id. This is the production keep rule
    — when near-dups differ (truncation, boilerplate stripping, OCR noise),
    min-id keeps an arbitrary version; score-argmax keeps the best one.
    Deterministic and idempotent: re-running on the survivor set finds no
    pairs and drops nothing.

    Scale shape: clustering runs on the (small) verified pair graph only;
    the argmax window partitions by component — cluster sizes, not corpus
    size, bound each partition — and the final drop is one anti-join
    against the loser set (broadcastable; losers < pairs).
    """
    comps = connected_components(pairs, a_col, b_col)
    scored = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(score_col).alias("__score"),
    )
    ranked = comps.join(scored, "id").withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.desc("__score"), F.asc("id")
            )
        ),
    )
    losers = ranked.filter(F.col("__rn") > 1).select(
        F.col("id").alias("__loser")
    )
    return df.join(
        losers, df[id_col].cast("long") == F.col("__loser"), "left_anti"
    )


def minhash_jaccard_estimate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    band_size: int = 2,
    min_estimate: float = 0.0,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Signature-based Jaccard ESTIMATE per candidate pair: the fraction
    of agreeing min-hash components (the classic MinHash estimator,
    E[est] = true Jaccard). At 100 TB this is the cheap middle stage
    between banding and exact verification — scoring a pair touches
    2 x num_hashes hashes instead of both shingle sets, so pairs far
    below the dedup threshold are discarded before the expensive
    array-intersect verify ever sees them.

    ``candidates`` defaults to the band-bucket pairs of the same
    signature set. Returns (id_a, id_b, est_jaccard) with
    est_jaccard = matches/num_hashes rounded to 4 dp, filtered to
    >= ``min_estimate``.
    """
    # hash_idx-ordered signature array as a NARROW projection of the wide
    # frame (pre-r7 this re-aggregated the exploded long shape — a second
    # signature-grain exchange)
    packed = minhash_signature_columns(
        df, id_col, text_col, num_hashes, shingle_n, shingles=shingles
    ).select(
        "id",
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("__sig"),
    ).persist()
    if candidates is None:
        candidates = minhash_candidate_pairs(
            df, id_col, text_col, num_hashes, band_size, shingle_n,
            shingles=shingles,
        )
    est = (
        candidates.select("id_a", "id_b")
        .join(
            packed.select(F.col("id").alias("id_a"), F.col("__sig").alias("__sa")),
            "id_a",
        )
        .join(
            packed.select(F.col("id").alias("id_b"), F.col("__sig").alias("__sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("__sa"), F.col("__sb"),
                        lambda x, y: F.when(x == y, 1).otherwise(0),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                ).cast("double")
                / F.lit(num_hashes),
                4,
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= F.lit(min_estimate))
    )
    return register_caches(est, packed)


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n",
    min_doc_freq: int = 2,
    carry_cols: tuple[str, ...] = (),
    hot_digests: DataFrame | None = None,
    broadcast_hot: bool | str = True,
    broadcast_hot_max_bytes: int = 64 << 20,
) -> DataFrame:
    """Corpus-level line dedup — the CCNet / RefinedWeb / Dolma
    boilerplate-removal stage: drop every line whose EXACT content appears
    in at least ``min_doc_freq`` DISTINCT documents (navigation chrome,
    cookie banners, repeated headers/footers), and reassemble each
    document's surviving lines in their original order.

    Returns (``id_col``, cleaned_text, n_lines, n_removed) — one row per
    input document, ``cleaned_text = ""`` when every line was boilerplate.

    ``delim`` is a Java regex for the split; the same string joins the
    survivors back (use a literal delimiter unless reassembly fidelity
    doesn't matter). Within-document repeats do NOT count toward the
    threshold (document frequency is COUNT DISTINCT id), matching the
    published pipelines: a chorus repeated inside one lyric sheet is
    content, the same line across thousands of pages is boilerplate.
    EMPTY lines are never boilerplate: the empty string appears in nearly
    every multi-line corpus (paragraph separators — ``"a\\n\\nb"``), so
    counting it would strip every blank line corpus-wide and silently
    collapse paragraph structure. The published CCNet/RefinedWeb-style
    pipelines dedup non-empty lines; empty lines pass through unchanged
    and never enter the document-frequency aggregate.

    Scale shape: lines posexplode inside the scan stage; the
    document-frequency aggregate runs at :func:`line_digest` grain (the
    shuffle carries a 16-byte digest + doc id, never line text) with map-side
    partial combine; the over-threshold digest set — the boilerplate
    fraction, a shrinking share of any real corpus — comes back as a
    BROADCAST anti-join against the exploded stream, so the corpus is
    never re-shuffled to be filtered; one groupBy(id) reassembles
    survivors via a position-sorted struct fold (deterministic order).
    The anti-join BROADCASTS the hot set by explicit hint — the
    boilerplate digest set is a shrinking fraction of any real corpus's
    line vocabulary, and the hint keeps the corpus from re-shuffling. A
    forced broadcast does not auto-degrade, so ``broadcast_hot=False``
    drops the hint and lets the anti-join plan as a shuffle join (equi
    join, so the fallback is safe — no pair blow-up anywhere). Use it on
    a pathological corpus whose hot set outgrows executor memory.
    ``broadcast_hot="auto"`` measures instead of asking the caller to
    know executor memory: the hot set is persisted and counted (digests
    are fixed-width :func:`line_digest` structs, so bytes ~ count x 32),
    the broadcast hint is
    kept only under ``broadcast_hot_max_bytes``, and the decision is
    logged. The count is one extra digest-grain aggregate — worth it for
    long-lived streaming ingest, where the accumulated cross-batch hot
    set grows without bound
    (streaming/dedup.py::streaming_line_dedup_ingest defaults to "auto").

    ``carry_cols`` ride through to the output unchanged (the doc-grain
    attributes a pipeline stage needs downstream — lang, source, raw
    text). They travel only on the scan-side projection that the rebuilt
    frame joins back to, never through the exploded line stream, so
    carrying them is free of per-line shuffle width.

    ``hot_digests`` (single-column frame of :func:`line_digest` keys)
    replaces
    the self-computed document-frequency hot set — the streaming twin
    passes the ACCUMULATED cross-batch index here
    (streaming/dedup.py::streaming_line_dedup_ingest), so a micro-batch
    is cleaned against the document frequency of the whole corpus so
    far, not just its own rows. ``min_doc_freq`` is then already baked
    into the digest set and ignored.
    """
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        # NULL text splits as the empty document (one empty line), not a
        # NULL array whose size(-1) would leak negative line counts — the
        # same policy as tokenize()
        F.split(F.coalesce(F.col(text_col), F.lit("")), delim).alias("__lines"),
        *[F.col(c) for c in carry_cols],
    )
    lines = base.select("id", F.posexplode("__lines").alias("pos", "line"))
    if hot_digests is not None:
        hot = hot_digests.select(F.col(hot_digests.columns[0]).alias("__h"))
    else:
        hot = (
            # empty lines are excluded BEFORE the frequency aggregate (see
            # docstring): blank paragraph separators must never go hot
            lines.filter(F.col("line") != "")
            .select("id", line_digest("line").alias("__h"))
            .groupBy("__h")
            .agg(F.count_distinct("id").alias("__df"))
            .filter(F.col("__df") >= min_doc_freq)
            .select("__h")
        )
    held: list[DataFrame] = []
    if broadcast_hot == "auto":
        import logging

        hot = hot.persist()
        held.append(hot)
        est_bytes = hot.count() * 32  # 16-byte line_digest + row overhead
        use_broadcast = est_bytes <= broadcast_hot_max_bytes
        logging.getLogger(__name__).info(
            "line_dedup hot-set ~%d bytes -> %s join",
            est_bytes,
            "broadcast" if use_broadcast else "shuffle",
        )
    else:
        use_broadcast = bool(broadcast_hot)
    kept = lines.withColumn("__h", line_digest("line")).join(
        F.broadcast(hot) if use_broadcast else hot, "__h", "left_anti"
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            delim,
        ).alias("__cleaned"),
        F.count(F.lit(1)).alias("__kept"),
    )
    out = (
        base.select("id", F.size("__lines").alias("__n"), *carry_cols)
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__cleaned"), F.lit("")).alias("cleaned_text"),
            F.col("__n").cast("long").alias("n_lines"),
            (F.col("__n") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            *carry_cols,
        )
    )
    return register_caches(out, *held) if held else out
