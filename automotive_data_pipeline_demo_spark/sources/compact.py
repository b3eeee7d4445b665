"""Small-file compaction for parquet lakes.

Streaming sinks and incremental MERGE batches accrete small part files
(foreachBatch writes one file per partition per micro-batch); scan cost at
100 TB is dominated by file-open overhead once the average file falls
well below the HDFS/S3 block size. Compaction is the standard lake
maintenance op (Delta OPTIMIZE / Iceberg rewrite_data_files); with plain
parquet we express it as a staged rewrite + atomic swap, reusing the MERGE
write protocol (sources/merge.py): never write over files the read plan
depends on.

Reference parity: the reference's lake is rewritten wholesale by each Glue
run (scripts/glue_vehicle_sales_etl.py:289-392), which is implicit
compaction; here it is explicit, sized, and partition-prunable.
"""

from __future__ import annotations

import math
import uuid

from pyspark.sql import SparkSession

from automotive_data_pipeline_demo_spark.sources.merge import (
    _hadoop_fs,
    swap_directory,
)


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Metadata-only compaction plan: current data-file count/bytes and the
    target output file count (ceil(total/target), >= 1). Driver-side work
    is one filesystem listing — no data is read.
    """
    fs, jpath = _hadoop_fs(spark, path)
    files = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isFile() and not name.startswith("_"):
            files.append((name, status.getLen()))
    total = sum(sz for _, sz in files)
    return {
        "n_files": len(files),
        "total_bytes": total,
        "target_files": max(1, math.ceil(total / target_bytes)),
    }


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int = 128 * 1024 * 1024
) -> dict:
    """Rewrite the parquet directory at ``path`` into
    ``ceil(total_bytes/target_bytes)`` files via staging + directory swap.

    The read plan's lineage points only at the original files and the
    staging write completes before any original file is touched, so a
    failure never leaves a MIX of old and new data (same two-stage
    protocol as merge_upsert). The swap is ``sources/merge.py``'s
    :func:`swap_directory`: two renames with rollback, whose crash and
    concurrent-reader contract means compaction runs while the table is
    not being read. Skips the rewrite entirely when the file count is
    already at or below target. For hive-partitioned lakes, call per
    partition directory —
    compaction then prunes to the partitions that actually accreted small
    files.
    """
    plan = plan_compaction(spark, path, target_bytes)
    if plan["n_files"] <= plan["target_files"]:
        return {**plan, "rewritten": False}

    df = spark.read.parquet(path)
    staging = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex}"
    df.coalesce(plan["target_files"]).write.mode("overwrite").parquet(staging)
    swap_directory(spark, path, staging)
    return {**plan, "rewritten": True}

