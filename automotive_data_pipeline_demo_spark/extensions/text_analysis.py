"""Text analysis operators over a `text` column (documents table).

All pure column expressions (whole-stage codegen, no UDFs):
- tokenization (regex word split, lowercased),
- language-ID heuristic (stopword-hit ratio against per-language lists),
- quality scoring (length / punctuation / stopword / repetition signals),
- token counting (whitespace + BPE-ish regex estimate),
- document fingerprinting (md5 over the sorted distinct token set).

At 100 TB these run as a single narrow projection over the scan — no
shuffle at all unless the caller aggregates afterwards.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from automotive_data_pipeline_demo_spark.functions.caching import (
    register_caches,
)
from automotive_data_pipeline_demo_spark.functions.parallelism import fan_out

import unicodedata

import pandas as pd

TOKEN_SPLIT = r"[^a-zA-Z0-9]+"  # separator form; tokens are [a-z0-9]+ runs

TOKEN_RUN = "[a-z0-9]+"


@F.pandas_udf(StringType())
def _nfc_udf(s: pd.Series) -> pd.Series:
    return s.map(
        lambda x: unicodedata.normalize("NFC", x) if x is not None else None
    )

# tiny built-in stopword lists for the language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(text: Column | str) -> Column:
    """Lowercased word tokens; empty strings from the split removed.

    NULL text tokenizes as the EMPTY document (not a NULL array): a NULL
    array turns every downstream ``F.size`` into the -1 sentinel, which
    silently leaks negative token counts into stats and corrupts corpus
    sums on dirty data. The clean test corpora have no NULLs, so oracle
    parity is unaffected.

    Implemented as ONE ``regexp_extract_all`` pass over the lowercased
    string (maximal ``[a-z0-9]+`` runs) rather than split-on-separator
    plus an empty-string filter: a higher-order ``filter`` is interpreted
    OUTSIDE whole-stage codegen, and the extract form measured 13x faster
    at sf1 (2.9 s -> 0.2 s for one tokenizer pass over 500k docs) with
    identical output — extracting token runs and splitting on separator
    runs define the same token list, NULL policy included. This is the
    hot inner loop of every text/dedup/shingle operator, so the win
    compounds across the catalog.
    """
    return F.regexp_extract_all(
        F.lower(F.coalesce(_c(text), F.lit(""))), F.lit(TOKEN_RUN), F.lit(0)
    )


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once per row and hand the VALUE to ``fn`` as a bound
    lambda variable. Inside a higher-order-function lambda, a captured
    expression TREE is re-evaluated on every element — e.g. a shingle
    lambda that closes over ``tokenize(text)`` re-tokenizes the document
    per shingle (measured 18x at sf1). Transforming a single-element array
    is Spark's let-binding: the lambda parameter is a per-row variable
    read, not a tree.
    """
    return F.transform(F.array(col), fn)[0]


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count. NULL text counts as 0, not the -1 that
    ``F.size(NULL)`` would leak (see :func:`tokenize`). Counts maximal
    non-whitespace runs in one codegen'd extract pass — identical to
    splitting on whitespace and dropping empties, without the
    interpreted filter HOF."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(_c(text), F.lit("")), F.lit(r"\S+"), F.lit(0)
        )
    )


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token estimate: word pieces + digits + punctuation runs.

    A cheap proxy for tokenizer-based counts when the tokenizer can't run
    cluster-side: counts maximal runs of letters (split every 4 chars, the
    rough BPE piece length), digit runs, and single punctuation marks.
    """
    t = F.coalesce(_c(text), F.lit(""))  # NULL counts as 0, not 3 * -1
    letters = F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z]{1,4}"), F.lit(0)))
    digits = F.size(F.regexp_extract_all(t, F.lit(r"[0-9]{1,3}"), F.lit(0)))
    punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\sA-Za-z0-9]"), F.lit(0)))
    return letters + digits + punct


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    # one-arg lambda (a two-arg lambda would be read as (element, index))
    def contains(t: Column) -> Column:
        return t.isin(words)

    return F.size(F.filter(tokens, contains))


def language_id(text: Column | str) -> Column:
    """Pick the language whose stopword list matches most tokens.

    Deterministic tiebreak: higher hit-count wins, then alphabetical code;
    'und' (undetermined) when no list matches at all. The token array is
    let-bound — inlined, every per-language hit counter would re-tokenize
    the document (N stopword lists = N tokenizer passes per row).
    """

    def over(toks: Column) -> Column:
        scores = [
            F.struct(
                _stopword_hits(toks, ws).alias("hits"),
                # invert code ordering so array_max's struct comparison
                # (hits first, then this) prefers the alphabetically-
                # smaller code
                F.lit(-ord(code[0]) * 256 - ord(code[1])).alias("inv"),
                F.lit(code).alias("code"),
            )
            for code, ws in STOPWORDS.items()
        ]
        best = F.array_max(F.array(*scores))
        return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))

    return bind_once(tokenize(text), over)


def quality_score(text: Column | str) -> Column:
    """Heuristic document quality in [0, 1].

    Signals (equal-weighted quarters): reasonable length (>=20 tokens),
    moderate punctuation density (<20%), has English stopwords (>=5%),
    low repetition (distinct/total tokens >= 0.3).

    The token array is let-bound so the tokenizer runs once per row:
    inlined, the five token references each re-evaluated it (measured
    ~1.9x at sf1 on the quality rollups), with values unchanged.
    """
    t = F.coalesce(_c(text), F.lit(""))  # NULL scores like the empty doc
    punct_ratio = F.length(F.regexp_replace(t, r"[\sA-Za-z0-9]", "")) / F.greatest(
        F.length(t), F.lit(1)
    )

    def over(toks: Column) -> Column:
        n = F.size(toks)
        sw = _stopword_hits(toks, STOPWORDS["en"]) / F.greatest(n, F.lit(1))
        distinct_ratio = F.size(F.array_distinct(toks)) / F.greatest(
            n, F.lit(1)
        )
        return (
            F.when(n >= 20, 0.25).otherwise(0.0)
            + F.when(punct_ratio < 0.2, 0.25).otherwise(0.0)
            + F.when(sw >= 0.05, 0.25).otherwise(0.0)
            + F.when(distinct_ratio >= 0.3, 0.25).otherwise(0.0)
        )

    return bind_once(tokenize(t), over)


def ngram_repetition(text: Column | str, n: int = 3) -> tuple[Column, Column, Column]:
    """Gopher-style duplicate n-gram signal, computed per row with zero
    shuffle: (n_grams, n_distinct, rep_ratio) where rep_ratio is the
    fraction of n-grams that are repeats of an earlier one.

    Built entirely from JVM higher-order functions (sequence → transform →
    slice → array_distinct), so it runs inside whole-stage codegen on the
    scan — no explode, no groupBy, no Python. rep_ratio is a single IEEE
    division of two exact ints ((n_grams − n_distinct) / n_grams), so it is
    bit-identical across engines.
    """
    def over(toks: Column) -> Column:
        cnt = F.size(toks) - n + 1
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        n_grams = F.when(cnt > 0, cnt).otherwise(0)
        n_distinct = F.when(cnt > 0, F.size(F.array_distinct(grams))).otherwise(0)
        ratio = F.when(
            cnt > 0, (n_grams - n_distinct).cast("double") / cnt
        ).otherwise(F.lit(0.0))
        return F.struct(
            n_grams.alias("n_grams"),
            n_distinct.alias("n_distinct"),
            ratio.alias("ratio"),
        )

    s = bind_once(tokenize(text), over)
    return s["n_grams"], s["n_distinct"], s["ratio"]


def doc_fingerprint(text: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of sorted distinct tokens.

    Robust to whitespace/shuffling; the cheap first line of near-dup
    detection before MinHash.
    """
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(tokenize(text))))
    return F.md5(canon)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    n_docs: int | None = None,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: (id, term, tfidf).

    tfidf = tf * ln(N / df) with raw term frequency and unsmoothed idf
    (single-doc-exclusive terms score highest; corpus-wide terms score 0).
    Ties break by term asc; rounded to 4 dp for cross-engine determinism.

    Shuffle shape: tf is folded ROW-LOCALLY with higher-order array
    functions (term frequency is a per-document quantity — it never
    needed the groupBy(id, term) exchange that previously moved every
    raw token row; the fold costs O(distinct x tokens) per doc, cheap
    against a shuffle of the whole token stream). The exploded
    (id, term, tf) rows persist for their two consumers; document
    frequencies partial-combine down to VOCABULARY grain in an exchange
    that moves one row per distinct term and broadcast-join back; the
    top-k window repartitions the tf rows by id — the plan's only
    full-width exchange (sf1: 4.4 s -> 2.5 s).
    N is one count() action (or pass ``n_docs`` to stay fully lazy);
    docs whose token set is empty are counted in N but emit no terms —
    identical on the oracle side.
    """
    if n_docs is None:
        n_docs = df.count()

    def tf_fold(toks: Column) -> Column:
        terms = F.array_sort(F.array_distinct(toks))
        return F.transform(
            terms,
            lambda t: F.struct(
                t.alias("term"),
                F.size(F.filter(toks, lambda x: x == t))
                .cast("long")
                .alias("tf"),
            ),
        )

    # fan_out: the tokenize + per-doc tf fold is the entry's dominant
    # narrow stage (r14 — 0.9 s as ONE task at sf0.1 off a single-split
    # scan; no-op at scale)
    tf = (
        fan_out(
            df.select(F.col(id_col).cast("long").alias("id"), F.col(text_col)),
            key="id",
        )
        .select(
            "id",
            F.explode(
                bind_once(tokenize(F.col(text_col)), tf_fold)
            ).alias("__p"),
        )
        .select("id", "__p.term", "__p.tf")
        .persist()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("__df")), 4
        ).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return register_caches(
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn"),
        tf,
    )


def unigram_entropy(text: Column | str) -> Column:
    """Shannon entropy (bits) of the document's unigram distribution.

    A repetition / boilerplate signal: near-zero for degenerate docs, close
    to log2(n_distinct) for flat distributions. Computed row-locally with
    higher-order array functions — zero shuffles, no UDF; the fold runs over
    the *sorted* distinct-term list so the floating-point summation order is
    identical in any engine re-deriving it. Per-row cost is
    O(distinct x tokens); for very long documents prefer the explode +
    two-level groupBy shape instead (same result, shuffled).
    """
    def over(toks: Column) -> Column:
        n = F.size(toks).cast("double")
        terms = F.array_sort(F.array_distinct(toks))
        counts = F.transform(
            terms, lambda t: F.size(F.filter(toks, lambda x: x == t))
        )
        ent = F.aggregate(
            counts,
            F.lit(0.0),
            lambda acc, c: acc
            - (c.cast("double") / n) * F.log2(c.cast("double") / n),
        )
        return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(ent)

    return bind_once(tokenize(_c(text)), over)


def lm_cross_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document cross-entropy (bits/token) under the corpus unigram LM.

    The CCNet-style LM quality filter: documents whose tokens are improbable
    under the corpus distribution (high bits/token) are outliers/noise;
    degenerate repetitive documents score low. Returns (id, n_tokens,
    bits_per_token).

    Scale shape: token frequencies aggregate twice (per-doc tf, corpus
    vocab) with map-side partial counts, the corpus total is one
    driver-collected scalar folded back in as a literal, and the vocab side
    of the term join is broadcast-hinted — vocabularies are tiny next to
    corpora, so the three exchanges carry aggregated (term, count) rows,
    never raw tokens twice.
    Per-term weights are quantized to integer micro-bits before the final
    sum, making the aggregate order-independent — bit-identical across
    partitionings and engines (float += is not associative; integer += is).
    The 4-dp output rounding ALSO runs in integer space — half-up on the
    exact rational S/(100 n) via one long division — because integer
    micro-bit sums land exactly on decimal rounding boundaries (S/n/1e6 =
    4.89955 at sf0.1), where Java's shortest-repr HALF_UP and a
    scaled-double round() disagree by one final digit.
    """
    toks = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(tokenize(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # One driver-collected scalar (the corpus token count) folded back in as
    # a literal — the dataframe-only alternative (agg + one-row cross join)
    # re-plans the vocab subtree and adds two single-partition exchanges.
    total = float(toks.count())
    weighted = vocab.select(
        "term",
        F.round(-F.log2(F.col("cnt") / F.lit(total)) * 1_000_000)
        .cast("long")
        .alias("w_micro"),
    )
    return (
        tf.join(F.broadcast(weighted), "term")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("w_micro")).alias("__s_micro"),
        )
        # round(S/n/1e6, 4) == round_half_up(S / (100 n)) / 1e4, done with
        # long arithmetic: (2S + 100n) div (200n)
        .select(
            "id",
            "n_tokens",
            (
                F.expr("(__s_micro * 2 + n_tokens * 100) div (n_tokens * 200)")
                / F.lit(10000.0)
            ).alias("bits_per_token"),
        )
    )


def rolling_fingerprint(text: Column | str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Rabin-Karp rolling hash over the printable-ASCII characters of a doc.

    A polynomial content fingerprint (h = h*base + code mod p) — the
    incremental-update form used for chunk-level dedup and content-defined
    chunking. Pure JVM fold (aggregate over the char array), no UDF.
    Non-printable/ASCII-external chars are stripped first so the hash is
    stable across encodings; empty docs hash to 0.
    """
    c = _c(text)
    clean = F.regexp_replace(c, r"[^ -~]", "")
    chars = F.filter(F.split(clean, ""), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def ccnet_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    n_bands: int = 3,
    exact: bool = True,
) -> DataFrame:
    """CCNet-style perplexity banding: rank documents within each language
    by LM bits/token and label head / middle / tail — the standard quality
    gate that keeps the middle band (head is degenerate/boilerplate, tail
    is noise) and the selection signal for curriculum mixing.

    ``exact=True``: rank-based ``ntile`` over a (lang) window — tie-broken
    by id, so the banding is engine-exact (driver-oracleable). One sort per
    language partition; languages are few, so each is a single reducer —
    right for moderate corpora and for pipelines already sharded by lang.
    ``exact=False``: the 100 TB path — per-language ``percentile_approx``
    cut points broadcast back as a stateless filter; no per-lang global
    sort ever runs, at the cost of approximate band edges.

    Returns (id, lang, bits_per_token, band) with band in
    {'head', 'middle', 'tail'} for n_bands=3, else 'band_k'.
    """
    scored = lm_cross_entropy(df, id_col, text_col)
    langs = df.select(
        F.col(id_col).cast("long").alias("id"), F.col(lang_col).alias("lang")
    )
    j = scored.join(langs, "id")
    if exact:
        w = Window.partitionBy("lang").orderBy("bits_per_token", "id")
        idx = F.ntile(n_bands).over(w)
    else:
        qs = [i / n_bands for i in range(1, n_bands)]
        cuts = j.groupBy("lang").agg(
            F.percentile_approx("bits_per_token", qs, 10000).alias("__cuts")
        )
        j = j.join(F.broadcast(cuts), "lang")
        idx = F.lit(1) + F.aggregate(
            F.col("__cuts"),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col("bits_per_token") > c, 1).otherwise(0),
        )
    if n_bands == 3:
        band = (
            F.when(idx == 1, "head").when(idx == 2, "middle").otherwise("tail")
        )
    else:
        band = F.concat(F.lit("band_"), idx.cast("string"))
    out = j.select("id", "lang", "bits_per_token", band.alias("band"))
    return out.drop("__cuts") if not exact else out


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Context-window chunking with overlap: split each document's token
    stream into ``chunk_size``-token windows starting every ``stride``
    tokens (``chunk_size - stride`` tokens of overlap carry context across
    boundaries — the standard pretraining/RAG chunker). Complements
    ``pack_sequences``, which packs WHOLE short docs into a budget; this
    splits LONG docs down to one.

    Zero shuffles: tokenization, window-start generation, slicing, and the
    chunk digest are all array expressions fused into the scan stage; the
    output explode is pipelined. Rows stay narrow — chunks are emitted as
    md5 digests plus token counts, not text (downstream joins fetch text
    by (id, chunk_idx) only for the chunks they keep).

    Returns (id, chunk_idx, n_tokens, chunk_hash); empty documents emit no
    rows.
    """
    if stride <= 0 or chunk_size <= 0 or stride > chunk_size:
        raise ValueError(
            f"need 0 < stride <= chunk_size, got {stride}/{chunk_size}"
        )
    # materialize the token array as a column FIRST: the starts lambda
    # below references its size, and a captured tokenize tree would
    # re-tokenize per candidate index (see bind_once)
    tokenized = df.select(
        F.col(id_col).cast("long").alias("id"),
        tokenize(F.col(text_col)).alias("__toks"),
    )
    toks = F.col("__toks")
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x: (x % stride == 0) & (x < F.size(toks)),
    )
    return (
        tokenized.select(
            "id",
            "__toks",
            F.explode(starts).alias("__start"),
        )
        .select(
            "id",
            (F.col("__start") / stride).cast("long").alias("chunk_idx"),
            F.slice(F.col("__toks"), F.col("__start") + 1, chunk_size).alias(
                "__chunk"
            ),
        )
        .select(
            "id",
            "chunk_idx",
            F.size("__chunk").cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.col("__chunk"))).alias("chunk_hash"),
        )
    )


def vocab_oov_rate(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 32
) -> DataFrame:
    """Corpus vocabulary coverage: build the top-``vocab_size`` vocabulary
    by corpus token frequency (ties broken by term ascending, so the
    vocabulary is deterministic) and score every document's OOV rate
    against it — the dataset-card metric that predicts tokenizer fit and
    flags out-of-domain/noisy documents.

    Scale shape: token counts aggregate with map-side partials into one
    (term, count) table; the top-V cut is TakeOrderedAndProject (each
    partition keeps its own top V, the driver merges V-sized heaps — no
    single-partition exchange even with billions of distinct terms); the
    vocabulary then rides to every doc as a BROADCAST one-row array and
    scoring is a narrow per-doc array fold — the corpus is never shuffled
    on doc id at all (the join+regroup formulation re-exchanged the whole
    token stream; this one exchanges only (term, count) partials).
    Returns (id, n_tok, n_oov, oov_rate) with oov_rate an exact-integer
    division rounded to 4 dp; docs with zero tokens are absent (their
    rate is undefined), matching the exploded formulation.
    """
    arrs = df.select(
        F.col(id_col).cast("long").alias("id"),
        tokenize(F.col(text_col)).alias("__toks"),
    ).persist()  # tokenize once; both the count and scoring sides read it
    toks = arrs.select("id", F.explode("__toks").alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab_arr = (
        counts.orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(vocab_size)
        .agg(F.sort_array(F.collect_list("term")).alias("__vocab"))
    )
    scored = arrs.filter(F.size("__toks") > 0).crossJoin(F.broadcast(vocab_arr))
    out = scored.select(
        "id",
        F.size("__toks").cast("long").alias("n_tok"),
        F.size(
            F.filter(
                "__toks",
                lambda t: ~F.array_contains(F.col("__vocab"), t),
            )
        )
        .cast("long")
        .alias("n_oov"),
    ).select(
        "id",
        "n_tok",
        "n_oov",
        F.round(F.col("n_oov") / F.col("n_tok"), 4).alias("oov_rate"),
    )
    return register_caches(out, arrs)


def tokenize_to_ids(
    df: DataFrame, id_col: str, text_col: str, vocab_size: int = 32
) -> DataFrame:
    """Map every document to its token-ID sequence against the corpus
    top-``vocab_size`` vocabulary — the tokenization stage between raw
    text and sequence packing. Vocabulary ids are 1-based in frequency
    order (count desc, term asc — deterministic); out-of-vocabulary
    tokens map to 0 (the unk id). Returns (id, n_tok, ids) with ``ids``
    the comma-joined sequence in document order (rendered to a string per
    the catalog's array-determinism rule).

    Scale shape: same as ``vocab_oov_rate`` — one (term, count) exchange
    builds the vocabulary via TakeOrderedAndProject, the (term -> id) map
    broadcasts as a ONE-ROW map column, and the encoding itself is a
    narrow per-doc transform (element_at on the broadcast map); the
    corpus never shuffles.
    """
    toks = df.select(F.explode(tokenize(F.col(text_col))).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab_map = (
        counts.orderBy(F.col("cnt").desc(), F.col("term").asc())
        .limit(vocab_size)
        .agg(
            F.map_from_entries(
                F.transform(
                    # re-sort the collected (cnt, term) pairs: collect_list
                    # order after a limit is deterministic here, but sorting
                    # makes the id assignment independent of partitioning
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("cnt")).alias("negcnt"), "term"))
                    ),
                    lambda s, i: F.struct(
                        s["term"].alias("key"), (i + 1).alias("value")
                    ),
                )
            ).alias("__vmap")
        )
    )
    arrs = df.select(
        F.col(id_col).cast("long").alias("id"),
        tokenize(F.col(text_col)).alias("__toks"),
    )
    encoded = arrs.filter(F.size("__toks") > 0).crossJoin(F.broadcast(vocab_map))
    return encoded.select(
        "id",
        F.size("__toks").cast("long").alias("n_tok"),
        F.concat_ws(
            ",",
            F.transform(
                "__toks",
                lambda t: F.coalesce(
                    F.element_at(F.col("__vmap"), t), F.lit(0)
                ).cast("string"),
            ),
        ).alias("ids"),
    )


def nfc_normalize_text(col: Column | str) -> Column:
    """Unicode NFC normalization — the web-corpus canonicalization step
    that makes byte-level exact dedup see 'café' (composed) and 'café'
    (e + combining acute) as the same document.

    This is one of the few operations Spark SQL genuinely cannot express
    (there is no normalization expression in Catalyst), so it is the
    second sanctioned UDF in the engine after the ADF XML parser
    (SURVEY §2.10): an Arrow-batched pandas UDF over stdlib
    ``unicodedata`` — vectorized transfer, per-batch Python, never
    row-at-a-time JVM<->Python. At 100 TB it is a narrow map inside the
    scan stage: no shuffle, and downstream exact-dedup hashes
    (md5/sha over the normalized text) stay pure JVM.
    """
    return _nfc_udf(_c(col))


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents for a bag-of-terms query.

    Returns (doc_id, dl, score) with the Lucene-style idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` and length normalization
    ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.

    Shuffle shape (single-pass, vocabulary never shuffles): per-term tf and
    doc length fold ROW-LOCALLY inside the scan stage (|Q| is tiny, so the
    per-row cost is O(|Q| x tokens)); the corpus constants N, total token
    count, and per-term document frequencies partial-combine to ONE row
    (conditional aggregates — one column per query term) that
    broadcast-joins back to every doc; the final top-k is
    TakeOrderedAndProject (per-partition heaps, k-row driver merge). One
    tokenizer pass over the corpus total (both consumers read the
    persisted counter frame), nothing data-sized ever moves.

    Determinism: the per-doc score sums per-term contributions in the
    listed query-term order (fixed left-assoc fold, identical in any
    engine); dl/avgdl is computed as the single IEEE division
    ``(dl*N)/total`` of exact integers; the score is rounded to 4 dp, and
    doc_id breaks ties totally.

    Both the per-term counters and the score fold are LET-BOUND
    (``bind_once``): inlining them as bare column trees re-evaluates the
    tokenizer once per reference after projection collapse (measured 4x
    per pass / 16x superlinear end-to-end at sf1), while a bound struct
    evaluates the token array exactly once per row per pass.

    Cache lifetime: the counter frame must stay persisted until the
    CALLER's action (both the stats aggregate and the scoring join read
    it), so this function cannot unpersist it. The returned frame is
    tagged for ``functions.caching.release_caches`` — long-lived driver
    sessions issuing many retrievals should call it after each top-k
    action, or rely on ``spark.catalog.clearCache()`` between queries as
    bench.py does per-trial.
    """

    if not query_terms:
        raise ValueError("query_terms must be non-empty")

    def _eq(t: str):
        # NB: a default-arg capture (lambda x, t=t: ...) would make this a
        # TWO-parameter lambda, which pyspark binds as (element, index)
        return lambda x: x == F.lit(t)

    def per_row(ts: Column) -> Column:
        return F.struct(
            F.size(ts).cast("long").alias("dl"),
            *[
                F.size(F.filter(ts, _eq(t))).cast("long").alias(f"tf_{i}")
                for i, t in enumerate(query_terms)
            ],
        )

    # persist the per-doc counter frame: id + (|Q|+1) longs, ~1% of corpus
    # bytes. Both passes (corpus stats, scoring) consume it, so the
    # tokenizer — the dominant cost — runs once per row instead of twice
    # (sf1: 7.4 s -> ~4 s). At cluster scale this is the standard
    # narrow-projection cache; without memory for it, executors spill it
    # to local disk (MEMORY_AND_DISK default) rather than re-reading text.
    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        bind_once(tokenize(F.col(text_col)), per_row).alias("__b"),
    ).persist()
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__b.dl").alias("total_dl"),
        *[
            F.sum((F.col(f"__b.tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.join(F.broadcast(stats))

    def score_of(row: Column) -> Column:
        def term_score(i: int) -> Column:
            tf = row[f"tf_{i}"].cast("double")
            dfreq = F.col(f"df_{i}").cast("double")
            n = F.col("n_docs").cast("double")
            idf = F.log(
                F.lit(1.0) + (n - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
            )
            # dl/avgdl as one division of exact integer products
            rel_len = (row["dl"] * F.col("n_docs")).cast("double") / F.col(
                "total_dl"
            ).cast("double")
            norm = tf + F.lit(k1) * (
                F.lit(1.0) - F.lit(b) + F.lit(b) * rel_len
            )
            return idf * tf * F.lit(k1 + 1.0) / norm

        score = term_score(0)
        for i in range(1, len(query_terms)):
            score = score + term_score(i)
        return F.round(score, 4)

    out = (
        scored.select(
            F.col("id").alias("doc_id"),
            F.col("__b.dl").alias("dl"),
            bind_once(F.col("__b"), score_of).alias("score"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    return register_caches(out, base)


def source_drift_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bin_width: int = 100,
    quant: float = 1e9,
) -> DataFrame:
    """Per-source distribution-drift report against the whole corpus.

    Bins ``value_col`` by integer floor-division, compares each source's
    bin distribution with the corpus distribution, and emits
    (source, n_docs, tvd, chi2):

    - ``tvd``  — total variation distance ``0.5 * sum |p_s - p_c|``
    - ``chi2`` — chi-square drift statistic ``sum (p_s - p_c)^2 / p_c``

    The monitoring primitive for data-mixture regression: a source whose
    length profile drifts from the corpus shows up with a large tvd/chi2
    before any downstream model metric moves.

    Scale shape: raw rows partial-combine to (source, bin) grain in ONE
    exchange; the corpus marginal reduces that frame again (bin grain);
    the (source x bin) comparison grid is a broadcast product of two
    POST-AGGREGATE frames (sources x bins, both orders of magnitude under
    the corpus) so every per-bin contribution exists even where a source
    has zero mass in a corpus bin.

    Determinism: p_s and p_c are single IEEE divisions of exact counts;
    per-bin contributions are quantized to ``1/quant`` units by ``floor``
    (bit-identical both engines because the inputs are pure arithmetic on
    identical integers) and summed as exact longs; one final division
    rescales. The fold order of the bin sum therefore cannot change the
    result.
    """
    # NULL group/bin values are real report rows (a NULL source is its own
    # cohort; a NULL value lands in a NULL bin), so the grid-to-counts
    # join must match them null-safely — a plain equality join silently
    # zeroes p_s for the NULL source and strands the NULL bin's corpus
    # mass, inflating every source's drift.
    binned = df.select(
        F.col(group_col).alias("source"),
        (F.floor(F.col(value_col) / bin_width) * bin_width)
        .cast("long")
        .alias("bin"),
    )
    # sb is the ONE data-grain fold of the whole report; everything after
    # is arithmetic on this bounded (sources x bins) frame. It feeds four
    # consumers (s_tot, c_bin->c_tot, cell), and without a persist each
    # consumer's exchange re-runs the corpus-grain aggregation — the r14
    # event-log profile showed the same fold executing as 8 separate
    # exchange-map stages (4 consumers x 2 union legs upstream). Persist
    # makes the corpus pass happen once; the cache is post-aggregate and
    # bounded, the right artifact to hold at any scale (guide §2.4: share
    # one exchange across same-keyed consumers).
    # The persist is lazy: an eager fill's extra count() lost at sf0.1
    # and an unpinned fold re-scans the corpus once per consumer (cold
    # min-of-4, x_dedup_semdedup_drift: sf0.1 lazy 1.66 / fill 1.80 /
    # off 1.69 s; sf10p off 6.88 / lazy 5.04 / fill 4.59 s).
    sb = (
        binned.groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("n_sb"))
        .persist()
    )
    s_tot = sb.groupBy("source").agg(F.sum("n_sb").alias("n_s"))
    c_bin = sb.groupBy("bin").agg(F.sum("n_sb").alias("n_b"))
    c_tot = F.broadcast(c_bin.agg(F.sum("n_b").alias("n_c")))
    cell = sb.select(
        F.col("source").alias("__cs"),
        F.col("bin").alias("__cb"),
        "n_sb",
    )
    grid = (
        s_tot.join(F.broadcast(c_bin))
        .join(c_tot)
        .join(
            cell,
            F.col("source").eqNullSafe(F.col("__cs"))
            & F.col("bin").eqNullSafe(F.col("__cb")),
            "left",
        )
        .select(
            "source",
            "n_s",
            (
                F.coalesce(F.col("n_sb"), F.lit(0)).cast("double")
                / F.col("n_s").cast("double")
            ).alias("p_s"),
            (F.col("n_b").cast("double") / F.col("n_c").cast("double")).alias(
                "p_c"
            ),
        )
    )
    q = F.lit(quant)
    tvd_q = F.floor(F.abs(F.col("p_s") - F.col("p_c")) * q).cast("long")
    chi_q = F.floor(
        (F.col("p_s") - F.col("p_c"))
        * (F.col("p_s") - F.col("p_c"))
        / F.col("p_c")
        * q
    ).cast("long")
    return register_caches(
        grid.groupBy("source")
        .agg(
            F.max("n_s").alias("n_docs"),
            (F.sum(tvd_q).cast("double") / (q * 2)).alias("tvd"),
            (F.sum(chi_q).cast("double") / q).alias("chi2"),
        )
        .select("source", "n_docs", "tvd", "chi2"),
        sb,
    )


def corpus_snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str = "source",
) -> DataFrame:
    """Dataset-version audit between two corpus snapshots.

    Returns one row per source: (source, n_added, n_removed, n_changed,
    n_unchanged) — the "what changed between crawl v1 and v2" report a
    training-data pipeline runs before re-processing: ``added`` ids exist
    only in ``new``, ``removed`` only in ``old``, ``changed`` ids exist in
    both with different content digests.

    Scale shape: each snapshot scan projects to (id, source, md5(text)) —
    digests cross the wire, never documents; the full-outer join shuffles
    both digest streams once on id; the status classification folds to
    source grain with conditional partial aggregates, so the final
    exchange carries a handful of rows per source. No UDF, no collect;
    at 100 TB the cost is two narrow scans plus one co-partitioned join.
    """
    # presence is a dedicated marker, NOT digest NULL-ness: md5(NULL text)
    # is NULL, so a NULL-text doc present in both snapshots would otherwise
    # be misclassified as added/removed; digests compare null-safely so
    # NULL<->NULL is unchanged and NULL<->'x' is changed
    o = old.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(group_col).alias("__g_old"),
        F.md5(F.col(text_col)).alias("__h_old"),
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(group_col).alias("__g_new"),
        F.md5(F.col(text_col)).alias("__h_new"),
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, "id", "full_outer")
    st = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(
            ~F.col("__h_old").eqNullSafe(F.col("__h_new")), F.lit("changed")
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("__g_new"), F.col("__g_old")).alias("source"),
            st.alias("__st"),
        )
        .groupBy("source")
        .agg(
            F.sum((F.col("__st") == "added").cast("long")).alias("n_added"),
            F.sum((F.col("__st") == "removed").cast("long")).alias(
                "n_removed"
            ),
            F.sum((F.col("__st") == "changed").cast("long")).alias(
                "n_changed"
            ),
            F.sum((F.col("__st") == "unchanged").cast("long")).alias(
                "n_unchanged"
            ),
        )
    )


# the Gopher repetition-free quality ruleset's stopword probe set
# (Rae et al. 2021, "Scaling Language Models: ... Gopher", App. A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The Gopher rule-based document quality gate (Rae et al. 2021,
    App. A1.1; reused by MassiveText / Dolma / RefinedWeb):

    - word count within [``min_words``, ``max_words``];
    - mean word length within [``min_mean_word_len``, ``max_mean_word_len``];
    - (#-or-ellipsis symbol)-to-word ratio at most ``max_symbol_ratio``;
    - at least ``min_alpha_frac`` of words contain an alphabetic char;
    - at least ``min_stop_hits`` DISTINCT probe stopwords present;
    - at most ``max_bullet_frac`` of lines start with a bullet and at most
      ``max_ellipsis_frac`` of lines end with an ellipsis.

    Returns per doc: the measured statistics (ratios rounded half-up to
    4 dp IN INTEGER SPACE — ``(a*20000 + b) div (b*2) / 1e4`` — so the
    values and the flags derived from them are bit-identical in any
    engine; double ``round()`` straddles exact decimal boundaries) and a
    boolean per rule plus the conjunction ``gopher_pass``.

    Scale shape: a pure narrow projection — every measure folds row-locally
    over ONE let-bound word array (``bind_once``; re-deriving the split per
    measure would re-split the document 4x after projection collapse), no
    shuffle, no UDF, whole-stage codegen end to end. At 100 TB this runs
    inside the scan stage at I/O speed, which is exactly why the published
    pipelines run the rule gate FIRST and the expensive model/dedup stages
    on its survivors.

    ``keep_cols`` pass through unchanged so a pipeline can apply the gate
    as an in-line stage (id + flags + whatever the next stage needs)
    without a doc-grain join back; they must not collide with the
    emitted measure/flag names.
    """
    # NULL text measures like the empty document (n_words 0, every ratio
    # NULL, gate fails) instead of NULL-poisoning the fold — tokenize()'s
    # documented policy
    text = F.coalesce(F.col(text_col), F.lit(""))

    def word_measures(w: Column) -> Column:
        nw = F.size(w).cast("long")
        chars = F.aggregate(
            w, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        alpha = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))).cast("long")
        stops = F.size(
            F.array_intersect(
                F.array_distinct(F.transform(w, F.lower)),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ).cast("long")
        return F.struct(
            nw.alias("nw"), chars.alias("chars"),
            alpha.alias("alpha"), stops.alias("stops"),
        )

    def line_measures(ls: Column) -> Column:
        nl = F.size(ls).cast("long")
        bullets = F.size(
            F.filter(
                ls,
                lambda x: x.startswith("- ") | x.startswith("* ")
                | x.startswith("•"),
            )
        ).cast("long")
        ellipses = F.size(F.filter(ls, lambda x: x.endswith("..."))).cast(
            "long"
        )
        return F.struct(
            nl.alias("nl"), bullets.alias("bullets"), ellipses.alias("ellipses")
        )

    # maximal non-whitespace runs in one codegen'd pass (== split-on-\s+
    # minus empties, see token_count_ws)
    words = F.regexp_extract_all(text, F.lit(r"\S+"), F.lit(0))
    raw = df.select(
        F.col(id_col).cast("long").alias("id"),
        bind_once(words, word_measures).alias("__w"),
        bind_once(F.split(text, "\n"), line_measures).alias("__l"),
        (
            F.regexp_count(text, F.lit("#"))
            + F.regexp_count(text, F.lit(r"\.\.\."))
        ).cast("long").alias("__symbols"),
        *[F.col(c) for c in keep_cols],
    ).select(
        "id",
        F.col("__w.nw").alias("n_words"),
        F.col("__w.chars").alias("__chars"),
        F.col("__w.alpha").alias("__alpha"),
        F.col("__w.stops").alias("stop_hits"),
        F.col("__l.nl").alias("__nl"),
        F.col("__l.bullets").alias("__bullets"),
        F.col("__l.ellipses").alias("__ellipses"),
        "__symbols",
        *keep_cols,
    )

    def r4(a: str, b: str) -> Column:
        # round4(a/b) half-up as one exact long division
        return F.expr(f"({a} * 20000 + {b}) div ({b} * 2)") / F.lit(10000.0)

    nz = F.col("n_words") > 0
    scored = raw.select(
        "id",
        "n_words",
        F.when(nz, r4("__chars", "n_words")).alias("mean_word_len"),
        F.when(nz, r4("__symbols", "n_words")).alias("symbol_ratio"),
        F.when(nz, r4("__alpha", "n_words")).alias("alpha_frac"),
        "stop_hits",
        r4("__bullets", "__nl").alias("bullet_frac"),
        r4("__ellipses", "__nl").alias("ellipsis_frac"),
        *keep_cols,
    )
    flags = scored.select(
        "*",
        F.col("n_words").between(min_words, max_words).alias("ok_words"),
        F.coalesce(
            F.col("mean_word_len").between(
                min_mean_word_len, max_mean_word_len
            ),
            F.lit(False),
        ).alias("ok_word_len"),
        F.coalesce(
            F.col("symbol_ratio") <= max_symbol_ratio, F.lit(False)
        ).alias("ok_symbols"),
        F.coalesce(F.col("alpha_frac") >= min_alpha_frac, F.lit(False)).alias(
            "ok_alpha"
        ),
        (F.col("stop_hits") >= min_stop_hits).alias("ok_stopwords"),
        (
            (F.col("bullet_frac") <= max_bullet_frac)
            & (F.col("ellipsis_frac") <= max_ellipsis_frac)
        ).alias("ok_lines"),
    )
    return flags.select(
        "*",
        (
            F.col("ok_words") & F.col("ok_word_len") & F.col("ok_symbols")
            & F.col("ok_alpha") & F.col("ok_stopwords") & F.col("ok_lines")
        ).alias("gopher_pass"),
    )
