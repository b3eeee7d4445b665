"""MERGE-style upsert over parquet (no Delta in this image).

Reference parity: S5/J7 — the Glue job stages new rows into a temp table,
then ``DELETE ... USING`` on a 4-part key and ``INSERT ... SELECT``
(``scripts/glue_vehicle_sales_etl.py:289-392``). The relational equivalent is
``MERGE INTO target USING updates ON keys WHEN MATCHED UPDATE WHEN NOT
MATCHED INSERT``; with plain parquet we express it as

    kept   = target LEFT ANTI JOIN updates ON keys
    result = kept UNION BY NAME updates(deduped-latest)

Scale notes: rewriting 100 TB per daily batch is unacceptable — callers pass
``partition_cols`` + ``touched_partitions`` pruning so only the partitions
containing updated keys are rewritten (dynamic partition overwrite bounds the
write amplification, mirroring the reference's daily-partition lake layout).
Updates are deduped to latest-per-key first so re-delivered files are
idempotent (ST1).
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.operators.dedup import dedup_latest


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` — the one place the engine reaches
    lake storage other than through a DataFrame read or write, so local,
    HDFS and object-store (``s3a://``) paths take the same code."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe: one metadata RPC, no Spark job.

    A local ``os.path`` probe is False for every URI path (``file://``,
    ``hdfs://``, ``s3a://``), and a try/read/except probe logs a Java stack
    trace on every cold start and mistakes a failing read of an existing
    table for an absent one.
    """
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is a no-op."""
    fs, jpath = _hadoop_fs(spark, path)
    fs.delete(jpath, True)


def swap_directory(spark: SparkSession, path: str, staging: str) -> None:
    """Replace directory ``path`` with ``staging``: the swap step of every
    staged rewrite here (the unpartitioned MERGE commit, compaction, index
    and centroid maintenance).

    Two renames with rollback, not one atomic op. If the second rename
    fails, the original table is renamed back and ``IOError`` is raised. A
    process crash between the renames leaves ``path`` absent with the old
    table intact in the ``__trash_*`` sibling; recovery is renaming that
    directory back. Concurrent readers can also observe the missing-path
    window mid-swap, so run a rewrite when the table is not being read (or
    on a storage layer with atomic directory swap).
    """
    fs, target_jpath = _hadoop_fs(spark, path)
    _, staging_jpath = _hadoop_fs(spark, staging)
    trash_jpath = spark._jvm.org.apache.hadoop.fs.Path(
        f"{path.rstrip('/')}__trash_{uuid.uuid4().hex}"
    )
    if not fs.rename(target_jpath, trash_jpath):
        raise IOError(f"could not move {path} aside for swap")
    if not fs.rename(staging_jpath, target_jpath):
        fs.rename(trash_jpath, target_jpath)  # roll back
        raise IOError(f"could not swap {staging} into {path}")
    fs.delete(trash_jpath, True)


def merge_upsert_frames(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] = (),
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Pure-DataFrame MERGE: latest update per key replaces the target row."""
    if order_by:
        updates = dedup_latest(updates, keys, order_by, tiebreakers)
    else:
        updates = updates.dropDuplicates(list(keys))
    kept = target.join(updates.select(*keys), list(keys), "left_anti")
    return kept.unionByName(updates.select(*target.columns))


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] = (),
    partition_cols: Sequence[str] = (),
) -> None:
    """Upsert ``updates`` into the parquet table at ``target_path``.

    With ``partition_cols``, only partitions present in ``updates`` are read
    and rewritten (dynamic overwrite); without, the whole table is rewritten
    (fine for dims, wrong for facts — pass partitions for facts).

    Write protocol: the merged result is always materialized to a staging
    path first, so no write ever depends on lineage over the files it is
    replacing (a cache() barrier is not a guarantee — cached blocks are
    evictable and executor loss triggers recompute against deleted files).
    Unpartitioned targets are then swapped in by :func:`swap_directory`;
    partitioned targets are re-read FROM STAGING and dynamically
    overwritten, so the final write's lineage points at staging files only.
    This mirrors the reference's stage-to-temp-table-then-swap protocol
    (``scripts/glue_vehicle_sales_etl.py:289-392``). If the commit fails,
    the staging copy is kept and an ``IOError`` names it. The target is
    probed with :func:`path_exists`, so a failing read of an existing
    target raises instead of being taken for an absent table.

    INVARIANT (partitioned merges): partition-column values must be
    immutable per merge key. Touched partitions are derived from ``updates``;
    a redelivered row whose partition columns changed (e.g. a corrected
    salesdate moving sale_year/sale_month) leaves the stale row in the old,
    untouched partition. If partition columns can move, merge without
    ``partition_cols`` (full rewrite) or pre-delete the old partitions.
    """
    if order_by:
        updates = dedup_latest(updates, keys, order_by)
    else:
        updates = updates.dropDuplicates(list(keys))

    if not path_exists(spark, target_path):
        writer = updates.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(target_path)
        return
    # Pin the read schema (target schema == updates schema is the merge
    # contract): partition directory names must not be type-re-inferred —
    # a string partition value like '07' would silently round-trip as the
    # int 7 under partitionColumnTypeInference.
    target = spark.read.schema(updates.schema).parquet(target_path)

    if partition_cols:
        # prune target read to touched partitions, bound write amplification
        touched = [
            r.asDict() for r in updates.select(*partition_cols).distinct().collect()
        ]
        if not touched:
            # Empty batch (streaming_upsert's foreachBatch delivers them):
            # nothing to merge, and staging a zero-row partitioned frame
            # writes no part files, which would fail the staging re-read.
            return
        pred: Column = F.lit(False)
        for part in touched:
            clause = F.lit(True)
            for c, v in part.items():
                clause = clause & (F.col(c) == F.lit(v))
            pred = pred | clause
        target = target.filter(pred)
    elif updates.isEmpty():
        return  # empty batch: the merge is the identity, skip the rewrite

    merged = merge_upsert_frames(target, updates, keys)  # updates already deduped

    # Stage 1: fully materialize the merge to a sibling staging path. After
    # this completes, nothing downstream reads the target's current files.
    staging_path = f"{target_path.rstrip('/')}__staging_{uuid.uuid4().hex}"
    stage_writer = merged.write.mode("overwrite")
    if partition_cols:
        stage_writer = stage_writer.partitionBy(*partition_cols)
    stage_writer.parquet(staging_path)

    try:
        if partition_cols:
            # Stage 2 (partitioned): re-read from staging — fresh lineage over
            # staging files only, with the EXPLICIT merged schema so partition
            # directory names are not type-re-inferred (a string partition
            # value like '07' must not round-trip as the int 7) — and
            # dynamically overwrite the touched partitions.
            (
                spark.read.schema(merged.schema)
                .parquet(staging_path)
                .write.mode("overwrite")
                .partitionBy(*partition_cols)
                .option("partitionOverwriteMode", "dynamic")
                .parquet(target_path)
            )
        else:
            # Stage 2 (unpartitioned): swap staging in; a failed second
            # rename rolls the original table back.
            swap_directory(spark, target_path, staging_path)
    except BaseException as exc:
        # Stage 2 failed mid-commit: the staging copy may be the only intact
        # version of touched partitions, so KEEP it and point at it — the
        # merge can be completed by re-running the overwrite from staging.
        raise IOError(
            f"merge commit into {target_path} failed; staging data preserved "
            f"at {staging_path} — complete the merge by re-running the "
            f"overwrite from there"
        ) from exc
    # Success only: staging is no longer needed (for the unpartitioned swap
    # it was already renamed away, making this a no-op).
    delete_path(spark, staging_path)


def scd2_merge(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    effective_col: str = "effective_at",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Apply a change batch to a type-2 SCD table (Kimball merge-apply).

    The reference keeps latest-wins state only (SCD1 DELETE+INSERT,
    ``scripts/glue_vehicle_sales_etl.py:289-392``); this is the type-2
    companion: for every update whose ``tracked`` attributes differ
    (null-safely) from the key's CURRENT row, the current row closes
    (``valid_to`` = the update's ``effective_col``, ``is_current`` = 0) and
    a new open row inserts; brand-new keys insert open rows; updates whose
    attributes match the current row are no-ops, so re-delivered batches
    are idempotent (ST1 discipline). History rows are never touched.

    ``target`` columns: keys + tracked + the three interval columns.
    ``updates`` columns: keys + tracked + ``effective_col`` (deduped to
    latest-per-key first; pass ``tiebreakers`` if effective times can tie).

    Scale shape: ONE full-outer equi-join of the CURRENT slice against the
    (deduped, typically small) batch; each joined row then emits its 1-2
    output rows through a conditional array + explode in the SAME stage —
    no second join, no re-scan of the join to classify each case. History
    unions in untouched, so the heavy side is read once. At 100 TB keep
    the dimension partitioned so only touched partitions rewrite
    (merge_upsert's pruning applies unchanged).
    """
    upd = dedup_latest(updates, keys, [effective_col], tiebreakers)
    cur = target.filter(F.col(current_col) == 1)
    hist = target.filter(F.col(current_col) != 1)
    uu = upd.select(
        *keys,
        *[F.col(t).alias(f"__u_{t}") for t in tracked],
        F.col(effective_col).alias("__u_eff"),
    ).withColumn("__u", F.lit(1))
    j = cur.withColumn("__c", F.lit(1)).join(uu, list(keys), "full_outer")
    has_c, has_u = F.col("__c").isNotNull(), F.col("__u").isNotNull()
    differs = F.lit(False)
    for t in tracked:
        differs = differs | ~F.col(t).eqNullSafe(F.col(f"__u_{t}"))

    def row(attrs: dict, vf, vt, current: int):
        fields = [F.col(k).alias(k) for k in keys]
        fields += [attrs[t].alias(t) for t in tracked]
        to_type = target.schema[valid_to_col].dataType.simpleString()
        fields += [
            vf.alias(valid_from_col),
            vt.cast(to_type).alias(valid_to_col),
            F.lit(current).cast(
                target.schema[current_col].dataType.simpleString()
            ).alias(current_col),
        ]
        return F.struct(*fields)

    c_attrs = {t: F.col(t) for t in tracked}
    u_attrs = {t: F.col(f"__u_{t}") for t in tracked}
    unchanged = row(c_attrs, F.col(valid_from_col), F.col(valid_to_col), 1)
    closed = row(c_attrs, F.col(valid_from_col), F.col("__u_eff"), 0)
    opened = row(u_attrs, F.col("__u_eff"), F.lit(None), 1)
    emitted = (
        F.when(has_c & (~has_u | ~differs), F.array(unchanged))
        .when(has_c & has_u & differs, F.array(closed, opened))
        .otherwise(F.array(opened))  # new key
    )
    out_cols = list(keys) + list(tracked) + [
        valid_from_col, valid_to_col, current_col,
    ]
    exploded = (
        j.select(F.explode(emitted).alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in out_cols])
    )
    return hist.select(*out_cols).unionByName(exploded)
