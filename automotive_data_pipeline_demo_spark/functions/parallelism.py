"""Scale-adaptive parallelism floor for CPU-heavy narrow stages.

The engine's expensive narrow operators — tokenize/shingle regex passes,
per-token hashing, per-row cosine folds — run inside the SCAN stage by
design (zero shuffles). That is the right 100 TB shape, but it inherits
the scan's task count: a corpus stored as one splittable-in-name-only
file (single parquet row group, one gzip member, a small lake shard)
scans as ONE task and serializes minutes of per-row CPU on one core
while the rest of the cluster idles (guide §2.5 "input skew" /
§6 "input split size").

``fan_out`` is the measured fix: IF the frame's scan parallelism is
below the cluster's core count, repartition it up to
``spark.sparkContext.defaultParallelism`` BEFORE the expensive narrow
work; otherwise return it untouched. The gate makes it scale-adaptive
rather than a local-mode constant:

- at bench/test scale (single small files) the repartition exchange
  moves a few hundred KB once and buys core-count parallelism for the
  regex/hash stage that dominates the entry;
- at 100 TB the scan already has thousands of splits, the gate sees
  ``partitions >= defaultParallelism``, and NO exchange node is added —
  the payload is never shuffled for parallelism's sake (guide §8's
  rule: don't move heavy bytes without need);
- the one large-scale case where the gate fires — few huge unsplittable
  files — is exactly the case the guide prescribes "repartition
  immediately after the read" for.

Pass ``key`` (a unique-ish column, normally the doc id) whenever one
exists: hash repartitioning by a deterministic key skips the local
sort-before-repartition that round-robin ``repartition(n)`` pays for
retry determinism (guide §2.5; SPARK-23207). The r14 interleaved
in-process A/B measured the keyed form faster than round-robin on every
probed entry (e.g. x_dedup_minhash 2.04→1.60 s, x_text_dup_ngrams
1.52→0.99 s at sf0.1) precisely because the sort disappears; with ~15k+
distinct ids over 32 partitions the hash spread is even.

Call it on the NARROWEST projection that feeds the expensive work
(id + text, not the full row), so the exchange that does fire carries
only the needed columns. Where the A/B measured the floor NEUTRAL or
negative (vocab/bm25/line_dedup: cheap narrow pass, downstream already
parallel after the first keyed exchange), the operator does NOT call
fan_out — the floor is not free at bench scale.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def fan_out(
    df: DataFrame, key: str | None = None, target: int | None = None
) -> DataFrame:
    """Repartition ``df`` up to ``target`` (default
    ``sparkContext.defaultParallelism``) partitions IF it currently has
    fewer; no-op otherwise. With ``key``, hash-partition on that column
    (deterministic, no sort-before-repartition); without, round-robin.
    Use only ahead of CPU-heavy narrow stages — the exchange is pure
    overhead for cheap projections.
    """
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    try:
        # partition probe on the JVM-side internal-row RDD: same count
        # as df.rdd (which wraps exactly this RDD), without building the
        # Python-serializer conversion chain per query build. Callers
        # pass pre-exchange (scan-stage) frames, whose RDD creation
        # schedules no job; on a frame with an exchange, adaptive
        # execution would run the shuffle stages to plan the final RDD.
        current = df._jdf.queryExecution().toRdd().getNumPartitions()
    except (Py4JError, AttributeError):
        return df
    if current >= target:
        return df
    if key is not None:
        return df.repartition(target, df[key])
    return df.repartition(target)
