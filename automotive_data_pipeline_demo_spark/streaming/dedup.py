"""Streaming incremental dedup: foreachBatch near-dup filtering of an
incoming document stream against the stored corpus LSH band index.

The production shape for continuous ingestion at 100 TB: the corpus is
never re-shingled — each micro-batch is signed, band-joined against the
persisted index (extensions/dedup_text.py::build_band_index), Jaccard-
verified against only the band-hit corpus docs, and the surviving novel
docs are appended to the corpus lake AND to the index (so later batches
dedup against earlier ones too). Exactly-once per doc under retries comes
from the same anti-join-before-append discipline the activation sink uses
(streaming/activation.py). All three ingest twins run it through one
guard, :func:`_unseen_rows`: a re-delivered batch's docs already in the
stored corpus are dropped by id before writing. Its storage probe is
``sources/merge.py``'s :func:`path_exists`, so local, HDFS and
object-store corpus paths take the same branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.extensions.dedup_text import (
    build_band_index,
    line_dedup,
    line_digest,
    near_dup_against_index,
)
from automotive_data_pipeline_demo_spark.functions.caching import release_caches
from automotive_data_pipeline_demo_spark.sources.compact import plan_compaction
from automotive_data_pipeline_demo_spark.sources.merge import (
    delete_path,
    path_exists,
    swap_directory,
)


def _dedupe_batch_ids(batch_df: DataFrame, id_col: str) -> DataFrame:
    """Collapse same-id rows within one micro-batch to a DETERMINISTIC
    winner: the row whose payload struct (every non-id column, in schema
    order) is greatest.

    ``dropDuplicates([id])`` keeps an arbitrary row when one batch
    carries same-id rows with DIFFERENT payloads, and the winner can
    change on checkpoint replay of a failed batch (partition order is not
    stable across replays) — a replayed append could then disagree with
    the original (ADVICE r9). ``max_by``-style struct ordering picks the
    same winner regardless of arrival order, so replays converge. Costs
    the same single hash-aggregate exchange ``dropDuplicates`` pays.

    Works for the ingest twins' payloads (strings, numerics, arrays —
    all orderable); map-typed columns would need an orderable surrogate.
    """
    others = [c for c in batch_df.columns if c != id_col]
    if not others:
        return batch_df.dropDuplicates([id_col])
    payload = F.struct(*[F.col(c) for c in others])
    picked = batch_df.groupBy(id_col).agg(F.max(payload).alias("__p"))
    return picked.select(
        *[
            F.col(c) if c == id_col else F.col(f"__p.{c}").alias(c)
            for c in batch_df.columns
        ]
    )


def _unseen_rows(
    batch_df: DataFrame, id_col: str, seen_path: str
) -> DataFrame | None:
    """The exactly-once guard of the three ingest twins: ``None`` for an
    empty micro-batch, else the batch collapsed to one row per id
    (:func:`_dedupe_batch_ids`) minus the ids already stored at
    ``seen_path``.

    Both halves are needed. The anti-join only blocks cross-batch
    re-delivery, and two same-id rows in ONE micro-batch would otherwise
    both append. The result is lazy: each caller pins its survivor set
    (``localCheckpoint``) at the point its own appends require.
    """
    if not batch_df.take(1):
        return None
    batch_df = _dedupe_batch_ids(batch_df, id_col)
    spark = batch_df.sparkSession
    if not path_exists(spark, seen_path):
        return batch_df
    return batch_df.join(
        spark.read.parquet(seen_path).select(F.col(id_col)),
        on=id_col,
        how="left_anti",
    )


def streaming_exact_dedup(
    stream: DataFrame,
    id_cols: list[str],
    event_time_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-per-id filtering of a stream with BOUNDED state.

    ``dropDuplicates`` on a stream keeps every seen key forever — state
    grows without bound, the classic streaming scale-killer.
    ``dropDuplicatesWithinWatermark`` expires per-key state once the
    watermark passes ``delay`` beyond the key's event time, so state is
    bounded by the duplicate-arrival window (re-deliveries cluster within
    minutes, not days). This is the right default for at-least-once
    sources; pair with the idempotent MERGE sink (streaming/upsert.py) for
    end-to-end exactly-once.
    """
    return stream.withWatermark(event_time_col, delay).dropDuplicatesWithinWatermark(
        id_cols
    )


def streaming_dedup_ingest(
    docs_stream: DataFrame,
    corpus_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    checkpoint: str | None = None,
    query_name: str = "streaming_dedup_ingest",
):
    """writeStream.foreachBatch wrapper: drop near-dups, append survivors.

    Per micro-batch: (1) drop docs whose id is already in the corpus (the
    retry/exactly-once guard), (2) drop docs Jaccard-near-duplicating the
    indexed corpus, (3) append the survivors to ``corpus_path`` and their
    band signatures to ``index_path`` (both accrete one small file set per
    batch — fold the corpus with ``sources/compact.py``'s
    ``compact_parquet`` and the index with :func:`compact_band_index`,
    which also retires band rows for since-removed docs; stream stopped,
    same maintenance-window contract
    as ``compact_line_df_index``). Same-ID rows within one micro-batch
    collapse to one — the max-payload-struct row, deterministic across
    checkpoint replays (:func:`_dedupe_batch_ids`), never an arbitrary
    winner; batch-internal NEAR-duplicates
    of a surviving doc land in the same batch append and are caught one
    batch later at the latest (documented at-least-once-dedup semantics —
    tighten with an intra-batch near_dup_dedup upstream if needed).
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        keep = _unseen_rows(batch_df, id_col, corpus_path)
        if keep is None:
            return
        if path_exists(spark, corpus_path):
            # the corpus holds appended batch rows, so the batch's schema
            # is the corpus schema: no second schema-inference job on top
            # of the one the id guard's read already paid
            corpus = spark.read.schema(keep.schema).parquet(corpus_path)
            index = spark.read.parquet(index_path)
            dups = near_dup_against_index(
                keep, index, corpus, id_col, text_col,
                threshold=threshold, num_hashes=num_hashes,
                band_size=band_size, shingle_n=shingle_n,
            )
            keep = keep.join(
                dups.select(F.col("new_id").alias(id_col)).distinct(),
                on=id_col,
                how="left_anti",
            )
        # localCheckpoint pins the survivor set: the corpus append below
        # changes what the index/corpus reads would return, so `keep` must
        # not be lazily recomputed against the post-append state
        keep = keep.localCheckpoint(eager=True)
        if not keep.take(1):
            return
        keep.write.mode("append").parquet(corpus_path)
        build_band_index(
            keep, id_col, text_col, num_hashes, band_size, shingle_n
        ).write.mode("append").parquet(index_path)

    writer = (
        docs_stream.writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(apply_batch)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def streaming_line_dedup_ingest(
    docs_stream: DataFrame,
    out_path: str,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    min_doc_freq: int = 2,
    checkpoint: str | None = None,
    query_name: str = "streaming_line_dedup_ingest",
    broadcast_hot: bool | str = "auto",
):
    """Streaming twin of :func:`...extensions.dedup_text.line_dedup` —
    corpus-level boilerplate-line removal in the daily-ingest posture.

    A stored line-digest document-frequency index accumulates per
    micro-batch (exactly the stored-band-index pattern of
    :func:`streaming_dedup_ingest`): each batch appends its per-digest
    DISTINCT-doc counts (one row per (digest, epoch) — the shuffle
    carries a 16-byte ``line_digest`` struct + a count, never line text;
    an index persisted by pre-``line_digest`` code — md5 strings — must
    be rebuilt, not read through), then the batch's
    docs are cleaned via ``line_dedup(..., hot_digests=...)`` against the
    document frequency of the WHOLE corpus so far — a line that went
    boilerplate in batch 1 is stripped from every later batch's docs.

    Semantics are prefix-exact: a doc processed in batch k is cleaned
    against the df accumulated over batches 1..k (including k's own
    contribution), which equals the batch operator's hot set over the
    union of those batches. Docs already emitted cannot be retro-stripped
    when a line goes hot later — the documented streaming deviation; the
    final batch sees the full-corpus hot set.

    Exactly-once: re-delivered ids are dropped against ``out_path``
    before any write, and the index append is keyed by epoch — the df
    aggregate takes ``max(n_docs)`` per (digest, epoch) before summing,
    so a batch retried after its index append but before its corpus
    append cannot double-count (Structured Streaming replays the same
    rows under one epoch id).

    Empty lines follow the batch operator's policy: never indexed, never
    hot, pass through unchanged.

    **``index_path`` and ``checkpoint`` must share a lifecycle.** Epoch
    ids are unique only within one checkpoint lineage: resetting the
    checkpoint (or pointing a SECOND query at the same ``index_path``)
    restarts epochs at 0, and the retry-collapse ``max(n_docs)`` per
    (digest, epoch) would then silently merge counts from DISTINCT
    logical batches that happen to share an epoch id — undercounting
    document frequency. When resetting the checkpoint, either clear the
    index or fold it first with :func:`compact_line_df_index` (the
    compacted rows live under the reserved base epoch -1, which no live
    lineage ever emits, so a fresh query's epoch 0 cannot collide);
    never share one ``index_path`` between two live queries.

    ``broadcast_hot`` passes through to the per-batch
    :func:`...extensions.dedup_text.line_dedup` call. The accumulated
    cross-batch hot set grows for the life of the stream, so the
    default is ``"auto"``: each batch measures the hot set (one
    digest-grain count) and keeps the broadcast hint only while it fits
    ``line_dedup``'s byte ceiling, degrading to the shuffle join —
    logged — once the stream outgrows it. Force ``True``/``False`` to
    skip the measurement when the scale is known.
    """

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _unseen_rows(batch_df, id_col, out_path)
        if batch_df is None:
            return
        # pin the survivor set: the appends below change what out_path /
        # index_path reads would return on lazy recompute
        batch_df = batch_df.localCheckpoint(eager=True)
        if not batch_df.take(1):
            return
        counts = (
            batch_df.select(
                F.col(id_col).cast("long").alias("id"),
                F.explode(
                    F.split(F.coalesce(F.col(text_col), F.lit("")), delim)
                ).alias("line"),
            )
            .filter(F.col("line") != "")
            .select("id", line_digest("line").alias("line_h"))
            .distinct()
            .groupBy("line_h")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("epoch", F.lit(int(epoch_id)))
        )
        counts.write.mode("append").parquet(index_path)
        hot = (
            spark.read.parquet(index_path)
            .groupBy("line_h", "epoch")
            .agg(F.max("n_docs").alias("n_docs"))
            .groupBy("line_h")
            .agg(F.sum("n_docs").alias("df"))
            .filter(F.col("df") >= min_doc_freq)
            .select("line_h")
        )
        cleaned = line_dedup(
            batch_df, id_col, text_col, delim=delim, hot_digests=hot,
            broadcast_hot=broadcast_hot,
        )
        cleaned.write.mode("append").parquet(out_path)
        # the "auto" size probe persists the hot frame; a long-lived
        # stream must release it per batch or the cache bookkeeping
        # accumulates one pinned frame per micro-batch forever
        release_caches(cleaned)

    writer = (
        docs_stream.writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(apply_batch)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def compact_line_df_index(spark, index_path: str) -> dict:
    """Fold the per-epoch line-df index into ONE row per digest.

    The ingest appends one (line_h, n_docs, epoch) row set per
    micro-batch, so after N batches the index holds N small files and the
    per-batch hot-set aggregate replays N epochs — the standard
    small-file/state-accretion problem of every append-keyed streaming
    index. This maintenance op folds the accumulated document frequency
    to one row per digest under the reserved base epoch -1 (real epochs
    are >= 0) and swaps it in via the staged-rewrite protocol of
    ``sources/compact.py`` — the read-side aggregate (max per (digest,
    epoch), then sum) is unchanged and returns identical df before and
    after.

    Run it only while the stream is STOPPED with all epochs committed:
    a batch retried across the compaction boundary would re-append an
    epoch already folded into the base and double-count (the same
    maintenance-window discipline as ``compact_parquet``'s
    concurrent-reader caveat).

    Returns {"digests": n, "files_before": b, "files_after": a}.
    """
    import uuid

    plan = plan_compaction(spark, index_path)
    before = plan["n_files"]
    folded = (
        spark.read.parquet(index_path)
        .groupBy("line_h", "epoch")
        .agg(F.max("n_docs").alias("n_docs"))
        .groupBy("line_h")
        .agg(F.sum("n_docs").alias("n_docs"))
        .select("line_h", "n_docs", F.lit(-1).alias("epoch"))
    )
    staging = f"{index_path.rstrip('/')}__compact_{uuid.uuid4().hex}"
    # size the output like compact_parquet: the source byte total is an
    # upper bound for the folded frame, so target_files never bottlenecks
    # a corpus-scale index through one writer task
    folded.coalesce(plan["target_files"]).write.mode("overwrite").parquet(staging)
    swap_directory(spark, index_path, staging)
    n = spark.read.parquet(index_path).count()
    after = plan_compaction(spark, index_path)["n_files"]
    return {"digests": n, "files_before": before, "files_after": after}


def compact_band_index(
    spark,
    index_path: str,
    corpus_path: str | None = None,
    corpus_id_col: str = "doc_id",
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Maintenance half of the minhash band index
    (:func:`...extensions.dedup_text.build_band_index`, appended per
    micro-batch by :func:`streaming_dedup_ingest`) — the band-index
    analog of :func:`compact_line_df_index`, completing the stored-index
    trilogy (band index / line-df / centroids).

    Two jobs in one staged rewrite:

    - **Small-file compaction.** The ingest appends one file set per
      micro-batch, so after N batches a scan opens N file groups; fold
      them to ``ceil(bytes/target_bytes)`` files (``sources/compact.py``
      sizing — the rewrite never bottlenecks a corpus-scale index
      through one writer task).
    - **Retire removed ids.** Docs deleted from the corpus (retention /
      GDPR cleanup rewrites ``corpus_path`` without them) leave orphan
      band rows that keep generating candidate pairs forever — and a
      retired id resurfacing as ``dup_of`` would point at a document
      that no longer exists. When ``corpus_path`` is given, keep only
      index rows whose id survives in the corpus (one semi-join — the
      index side shuffles on id once; maintenance-grain, not per-batch).

    Band rows are kept byte-identical (no folding is possible — each
    (id, band, band_key) row is load-bearing for candidate generation),
    so dedup results before and after are identical by construction;
    guarded by an exact row-count check on the staged files before the
    swap, mirroring ``refresh_centroids``.

    Run only while the stream is STOPPED with all epochs committed (the
    same maintenance-window contract as ``compact_line_df_index``): a
    batch retried across the boundary would re-append rows for ids the
    retire pass just dropped.

    Returns ``{"rows_before", "rows_after", "retired_rows",
    "files_before", "files_after"}``.
    """
    import uuid

    plan = plan_compaction(spark, index_path)
    files_before = plan["n_files"]
    idx = spark.read.parquet(index_path)
    rows_before = idx.count()
    retained = idx
    if corpus_path is not None:
        live = spark.read.parquet(corpus_path).select(
            F.col(corpus_id_col).cast("long").alias("__live_id")
        )
        retained = idx.join(
            live, idx["id"] == F.col("__live_id"), "left_semi"
        )
    n_expected = retained.count()
    staging = f"{index_path.rstrip('/')}__compact_{uuid.uuid4().hex}"
    retained.coalesce(plan["target_files"]).write.mode("overwrite").parquet(
        staging
    )
    n_staged = spark.read.parquet(staging).count()
    if n_staged != n_expected:
        delete_path(spark, staging)
        raise ValueError(
            f"compact_band_index: staged rewrite changed the row set "
            f"({n_expected} retained rows -> {n_staged} staged) — the "
            "corpus or index was written during the maintenance window"
        )
    swap_directory(spark, index_path, staging)
    files_after = plan_compaction(spark, index_path)["n_files"]
    return {
        "rows_before": rows_before,
        "rows_after": n_staged,
        "retired_rows": rows_before - n_staged,
        "files_before": files_before,
        "files_after": files_after,
    }


def streaming_semdedup_ingest(
    vectors_stream: DataFrame,
    corpus_path: str,
    centroids_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.30,
    checkpoint: str | None = None,
    query_name: str = "streaming_semdedup_ingest",
    route_probe: int | None = None,
):
    """Streaming twin of the stored-centroid incremental SemDeDup entry
    (``x_dedup_semdedup_inc``) — the third stored-index ingest posture
    alongside :func:`streaming_dedup_ingest` (minhash band index) and
    :func:`streaming_line_dedup_ingest` (line-df index).

    ``centroids_path`` holds the FROZEN cluster artifact of a past
    full-corpus run (``extensions.similarity.kmeans_centroids`` — exact
    integer sums, never retrained by the stream); ``corpus_path`` holds
    the accepted corpus WITH its cell assignment
    (``id_col, vec_col, centroid_id``) and is itself the dedup index.
    Per micro-batch: (1) drop re-delivered ids already in the corpus (the
    retry/exactly-once guard — a replayed batch's survivors are dropped
    by id and its losers re-dedup against the same corpus and lose
    again, so replays are no-ops), (2) assign the batch to the stored
    cells (zero-shuffle, ``assign_to_stored_centroids``), (3) near-dup
    score batch-vs-cell ONLY (``embedding_near_dup_pairs(new_col=...)``
    — the accumulated corpus is never re-paired against itself, so a
    daily batch pays O(|batch| x |cell|)), (4) drop every batch vector
    that near-dups an accepted corpus vector or a smaller-id vector of
    its own batch (the greedy keep-first policy of an append stream),
    (5) append the survivors + assignments to ``corpus_path``.

    Semantics vs the batch entry (``x_dedup_semdedup_inc``) — two
    documented deviations, both inherent to an append stream:

    1. Already-accepted vectors are never retro-dropped when a later
       near-dup arrives (shared with the other two ingest twins).
    2. **Loser chains truncate at micro-batch boundaries.** Each batch
       dedups against ACCEPTED survivors only — a batch-k vector whose
       only near-dup is a batch-(k-1) REJECTED vector is kept here,
       while the batch entry over the unioned prefix would drop it
       (there, any smaller-id near-dup kills, accepted or not). So
       results can depend on how vectors split into micro-batches; the
       two agree exactly when no near-dup chain spans a rejected
       cross-batch vector (in particular: single-batch runs, and
       corpora whose duplicate clusters always include an accepted
       representative in the same or an earlier batch — the common
       case, since each cluster's first arrival is always accepted).
       Pinned by test_streaming_semdedup_loser_chain_truncates.

    Maintenance: ``corpus_path`` accretes one small file set per batch —
    fold periodically with ``sources/compact.py``'s ``compact_parquet``
    (stream stopped; plain row-preserving compaction suffices, the corpus
    carries no per-epoch keys). Staleness of the frozen cells is
    MEASURED, not guessed: run
    ``extensions.similarity.centroid_assignment_drift`` on a batch's
    assignments vs the stored corpus's (the ``x_dedup_semdedup_drift``
    entry is the oracled batch shape), and when the batch row's tvd
    crosses the operator's threshold, retrain + re-assign + swap both
    artifacts in one maintenance window with :func:`refresh_centroids`
    (stream stopped — same contract as ``compact_line_df_index``).
    """
    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        embedding_near_dup_pairs,
    )

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # the pair stage filters same-id pairs (a_id != b_id), so the
        # guard's in-batch id collapse is what keeps corpus ids unique
        batch_df = _unseen_rows(batch_df, id_col, corpus_path)
        if batch_df is None:
            return
        # pin the survivor set: the corpus append below changes what a
        # lazy recompute of the anti-join would return
        batch_df = batch_df.localCheckpoint(eager=True)
        if not batch_df.take(1):
            return
        cents = spark.read.parquet(centroids_path)
        # route_probe: per-batch assignment cost drops from O(batch·k) to
        # O(batch·√k) once the stored index carries the fixed-cell rule's
        # corpus-proportional k (see refresh_centroids). keep_cols carries
        # the vector through the zero-shuffle assignment, so nothing joins
        # back to the batch by id; rows with NULL or off-dimension vectors
        # are dropped by the assignment and never appended
        assigned = assign_to_stored_centroids(
            batch_df, cents, id_col=id_col, vec_col=vec_col,
            route_probe=route_probe, keep_cols=(vec_col,),
        )
        if path_exists(spark, corpus_path):
            pool = (
                spark.read.parquet(corpus_path)
                .select(id_col, vec_col, "centroid_id")
                .withColumn("__new", F.lit(False))
                .unionByName(assigned.withColumn("__new", F.lit(True)))
            )
        else:
            pool = assigned.withColumn("__new", F.lit(True))
        # collapse="star": a boilerplate flood in the batch (or sitting
        # in the accepted corpus) collapses to one rep per identical
        # vector before pair scoring; the accepted-corpus/smaller-id kill
        # rule below receives an equivalent edge set (reps prefer the
        # smallest-id ACCEPTED member — kill-parity pinned in tests).
        # The identity window rides the scorer's job (ReuseExchange), so
        # the per-batch cost stays one pass over corpus+batch.
        pairs = embedding_near_dup_pairs(
            pool, threshold=threshold, block_col="centroid_id",
            id_col=id_col, vec_col=vec_col, new_col="__new",
            collapse="star",
        )
        # pairs are (a_id < b_id) touching >= 1 batch row, but stream ids
        # carry no order vs the stored corpus: a batch vector loses when
        # its counterpart is ACCEPTED corpus (either side) or a
        # smaller-id batch mate (always the b side)
        pa = pairs.join(
            assigned.select(
                F.col(id_col).alias("b_id"), F.lit(True).alias("__bn")
            ),
            "b_id",
            "left",
        )
        # every pair touches >= 1 batch row, so exactly one loser per
        # pair: the b side when it is a batch row (covers new-new, where
        # the smaller batch id survives, and stored(a)-new(b)); else the
        # a side, which is then necessarily the batch row of a
        # new(a)-stored(b) pair — stored vectors are never retro-dropped
        losers = (
            pa.select(
                F.when(F.col("__bn").isNotNull(), F.col("b_id"))
                .otherwise(F.col("a_id"))
                .alias(id_col)
            )
            .distinct()
        )
        keep = assigned.join(losers, id_col, "left_anti")
        keep.select(id_col, vec_col, "centroid_id").write.mode(
            "append"
        ).parquet(corpus_path)
        # r14: star mode with new_col persists the shared windowed frame
        # inside embedding_near_dup_pairs; a long-lived stream must
        # release it per micro-batch or it pins one cache entry per
        # batch forever (the r9 line-dedup lesson, same contract)
        release_caches(pairs)

    writer = (
        vectors_stream.writeStream.outputMode("append")
        .queryName(query_name)
        .foreachBatch(apply_batch)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def refresh_centroids(
    spark,
    corpus_path: str,
    centroids_path: str,
    k: int | None = None,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    route_probe: int | None = None,
) -> dict:
    """Retrain the frozen centroid index on the ACCUMULATED corpus and
    re-assign the stored rows — the maintenance half of the
    stored-centroid ingest (:func:`streaming_semdedup_ingest`), the
    centroid index's analog of :func:`compact_line_df_index`.

    Run it when :func:`...extensions.similarity.centroid_assignment_drift`
    says the frozen cells have outgrown the data. **Calibrated trigger:
    refresh when the batch row's ``tvd`` reaches ~0.15.** In the
    planted-shift experiment (test_drift_threshold_calibrated_by_recall),
    a batch concentrated between two frozen cells at tvd 0.18 lost ~20%
    of its in-cell near-dup pairs vs brute force (recall 0.80), while
    tvd-0 in-distribution batches held recall 1.0; refreshing with one
    more cell restored recall to 1.0. Know the signal's blind spot: tvd
    measures cell OCCUPANCY, so a batch straddling a cell boundary
    symmetrically can lose recall (~0.95 in the same experiment) at
    tvd 0 — schedule a periodic refresh as a backstop rather than
    relying on the drift alert alone. Retraining changes the
    cell GEOMETRY only — never the corpus membership:

    - **Kept stays kept.** The corpus rows are rewritten with their new
      ``centroid_id`` but the (id, vector) set is byte-identical — the
      append-only acceptance decisions are history, not a function of the
      index. Guarded here by an exact row-count check before the swap.
    - **Dropped stays dropped.** Losers were never written, and a
      re-delivered batch still anti-joins away its survivors by id while
      its losers re-dedup against the same (now re-celled) corpus. An
      exact duplicate of a survivor re-loses under ANY centroid geometry
      (identical vectors assign identically, so the pair is always
      enumerated in-cell); a borderline near-dup pair can in principle
      straddle a new cell boundary — the same recall property every
      in-cell-pairs SemDeDup run has, full or incremental.

    Cost: one Lloyd pass per iteration over the corpus (zero-shuffle
    assignment + one member-sum exchange — ``kmeans_centroids``), one
    re-assignment pass, one staged rewrite of each artifact. Both swaps
    use the staged-rewrite protocol of ``sources/compact.py``; run only
    while the stream is STOPPED with all epochs committed (the
    maintenance-window contract of ``compact_line_df_index``).

    ``k`` defaults to ``max(8, ceil(n / 128))`` — the fixed-target-cell
    rule the full-run entry (``x_dedup_semdedup``) moved to in r10 so
    in-cell pair work stays LINEAR in the corpus; seeds are the ``k``
    smallest-id corpus vectors (deterministic, so a refresh is
    reproducible across engines). At that rule k grows with the corpus,
    so pass ``route_probe`` (usually 2, of ceil(sqrt(k)) representatives)
    to run both the retraining passes and the re-assignment through the
    two-level routed scorer — O(n·√k) per pass
    instead of O(n·k), the same knob the full-run entry uses. Routed
    refresh keeps every guarantee here (kept-stays-kept is an exact
    row-count guard, not an assignment property).

    Returns ``{"n_vectors", "k", "cells_before", "cells_after",
    "moved"}`` where ``moved`` counts rows whose cell changed.
    """
    import math
    import uuid

    from automotive_data_pipeline_demo_spark.extensions.similarity import (
        assign_to_stored_centroids,
        kmeans_centroids,
    )

    corpus = spark.read.parquet(corpus_path)
    n = corpus.count()
    if n == 0:
        raise ValueError("refresh_centroids: empty corpus")
    if k is None:
        k = max(8, math.ceil(n / 128))
    cells_before = corpus.select("centroid_id").distinct().count()
    # seeds: k smallest ids — driver-bounded (k rows), deterministic
    seeds = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col).cast("long").alias("centroid_id"),
            F.col(vec_col).alias("c_vec"),
        )
    )
    new_cents = kmeans_centroids(corpus, seeds, n_iter=n_iter,
                                 id_col=id_col, vec_col=vec_col,
                                 route_probe=route_probe)
    # Materialize each artifact into its staging directory and read the
    # guards back FROM the staged files — the staged parquet is the pin.
    # (r9 localCheckpoint(eager=True)'d the reassigned corpus instead,
    # which left corpus-size blocks in executor storage for the rest of
    # the session — ADVICE r9; a staged-read guard costs one extra
    # parquet scan and holds nothing after the swap.)
    cent_staging = f"{centroids_path.rstrip('/')}__refresh_{uuid.uuid4().hex}"
    new_cents.write.parquet(cent_staging)
    new_cents = spark.read.parquet(cent_staging)
    cells_after = new_cents.count()
    # keep_cols carries the vector through the assignment, so nothing
    # joins back to the corpus by id; rows the assignment drops (NULL or
    # off-dimension vectors) trip the row-count guard below
    reassigned = assign_to_stored_centroids(
        corpus, new_cents, id_col=id_col, vec_col=vec_col,
        route_probe=route_probe, keep_cols=(vec_col,),
    )
    corp_staging = f"{corpus_path.rstrip('/')}__refresh_{uuid.uuid4().hex}"
    reassigned.select(
        F.col(id_col), F.col(vec_col), F.col("centroid_id")
    ).write.parquet(corp_staging)
    staged = spark.read.parquet(corp_staging)
    n_after = staged.count()
    if n_after != n:
        delete_path(spark, corp_staging)
        delete_path(spark, cent_staging)
        raise ValueError(
            f"refresh_centroids: re-assignment would change the corpus "
            f"({n} rows -> {n_after}) — kept-stays-kept violated; the "
            "corpus contains vectors the assignment excludes (NULL or "
            "off-dimension), which the ingest path never appends"
        )
    # moved: staged (new cells) vs the still-unswapped corpus (old cells);
    # every read of corpus_path happens BEFORE the swaps below, so lazy
    # plans never observe the replaced directories
    moved = (
        staged.select(F.col(id_col), F.col("centroid_id").alias("__new_cid"))
        .join(
            corpus.select(
                F.col(id_col), F.col("centroid_id").alias("__old_cid")
            ),
            id_col,
        )
        .filter(~F.col("__new_cid").eqNullSafe(F.col("__old_cid")))
        .count()
    )
    # corpus first: a crash between the swaps leaves new cells in the
    # corpus with old centroids on disk — the next refresh re-derives
    # both; the ingest reads centroid geometry only from centroids_path,
    # so a half-swapped state misroutes recall, never correctness of ids
    swap_directory(spark, corpus_path, corp_staging)
    swap_directory(spark, centroids_path, cent_staging)
    return {
        "n_vectors": n,
        "k": k,
        "cells_before": cells_before,
        "cells_after": cells_after,
        "moved": moved,
    }
