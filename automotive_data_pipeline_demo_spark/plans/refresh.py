"""Incremental refresh of the customer-360 gold tables.

The reference rebuilds its marketing views on every query (they are
Redshift views). At 100 TB the equivalent gold TABLES cannot be rebuilt
nightly — but the six views depend on a bounded neighborhood of each
changed customer, so a delta of changed customers invalidates a bounded
slice of each table.

The dependency neighborhood is NOT just the customer's own rows:
``customer_vehicle_history`` / ``validated_vehicle_sales`` dedup at DEAL
grain (latest row per dealno), and a deal's duplicate rows may carry
different custno values (a custno correction is exactly the kind of
update the dedup exists for). The surviving row of such a deal — and
therefore which customer's slice it lands in — depends on ALL rows of
that deal. ``refresh_gold`` therefore closes the changed-key set over
the customer<->deal bipartite graph to a FIXPOINT (changed customers ->
their deals -> every customer appearing on those deals -> ...) before
deciding which buckets to rewrite; after the fixpoint, every surviving
row of an affected deal is guaranteed to land inside the refreshed
bucket set. The closure usually converges in one iteration (deals
normally belong to one customer); a pathological graph that fails to
converge raises, and the caller falls back to a full rebuild.

Design: gold tables are hive-partitioned by a stable hash bucket of
``custno`` (md5-based, so bucket assignment survives restarts and engine
changes), one file per bucket directory (the write repartitions by the
bucket first, so each bucket is written by one task). A refresh
recomputes the view DAG over only the closed key set's source rows and
rewrites exactly the affected bucket partitions (delete-then-append:
dynamic partition overwrite alone would leave a STALE partition when a
bucket's recompute became empty). I/O and compute are bounded by the
touched-bucket fraction, not the corpus.

A full rebuild is the degenerate case where every bucket is touched, and
``refresh_gold`` routes it to ``full_build_gold`` outright: when the
delta's own buckets already cover every bucket it skips the closure (the
closure only adds buckets), and when the closed key set does, it skips
the slicing (with every bucket touched the sliced inputs ARE the full
inputs). The result is the same; the closure jobs and the deal-complete
slicing of the whole lake are not paid.

The refresh's customer slice is widened the same way as its sales slice:
``validated_vehicle_sales`` keeps only sales rows of marketable customers
BEFORE its deal dedup, so a touched deal's row belonging to a customer in
an unrefreshed bucket must still see that customer's profile, or an older
in-bucket row would be re-elected and the deal would sit in two buckets.
Every customer on a touched deal is therefore read; the output bucket
filter drops their rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from automotive_data_pipeline_demo_spark.plans.views import build_view_dag

#: default bucket count for gold partitioning — at 100 TB size so one
#: bucket's source slice fits a comfortable recompute (e.g. 4096).
DEFAULT_BUCKETS = 16

_KB = "__kb"


def key_bucket(custno: Column | str, n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Stable bucket in [0, n_buckets): md5-based, engine/restart-stable
    (Spark's ``hash()`` is seed-stable but implementation-specific; md5 is
    portable and already the engine-wide determinism convention)."""
    c = F.col(custno) if isinstance(custno, str) else custno
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit("gold_kb"), c.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(n_buckets))


def _write_gold(df: DataFrame, table: str, n_buckets: int, mode: str) -> None:
    # one task per bucket, so one file per bucket directory: without the
    # exchange each write task leaves its own file in every bucket it sees
    # (a full build over a merged multi-file lake wrote 4 files per bucket)
    (
        df.withColumn(_KB, key_bucket("custno", n_buckets))
        .repartition(_KB)
        .write.mode(mode)
        .partitionBy(_KB)
        .parquet(table)
    )


def full_build_gold(
    spark: SparkSession,
    gold_dir: str,
    customer_master: DataFrame,
    vehicle_sales: DataFrame,
    as_of: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Build every gold table from scratch, partitioned by key bucket."""
    views = build_view_dag(customer_master, vehicle_sales, as_of)
    for name, df in views.items():
        _write_gold(df, f"{gold_dir}/{name}", n_buckets, "overwrite")


def close_over_deals(
    changed_keys: DataFrame,
    vehicle_sales: DataFrame,
    max_iters: int = 5,
) -> DataFrame:
    """Fixpoint closure of a custno delta over the customer<->deal graph.

    Returns every custno whose gold slice the delta can affect. Each
    iteration is two distributed semi-joins on small key frames; raises
    RuntimeError if ``max_iters`` iterations don't converge (caller should
    full-rebuild instead).
    """
    key_col = changed_keys.columns[0]
    keys = changed_keys.select(F.col(key_col).alias("custno")).distinct()
    edges = (
        vehicle_sales.filter(
            F.col("custno").isNotNull() & F.col("dealno").isNotNull()
        )
        .select("custno", "dealno")
        .distinct()
    )
    for _ in range(max_iters):
        deals = edges.join(keys, "custno", "left_semi").select("dealno").distinct()
        keys2 = (
            edges.join(deals, "dealno", "left_semi")
            .select("custno")
            .distinct()
            .unionByName(keys)
            .distinct()
        )
        if keys2.exceptAll(keys).isEmpty():
            return keys2
        keys = keys2
    raise RuntimeError(
        f"customer<->deal closure did not converge in {max_iters} iterations;"
        " fall back to full_build_gold"
    )


def _buckets_of(keys: DataFrame, n_buckets: int) -> list[int]:
    """The sorted bucket ids of a one-column key frame (one small job)."""
    b = key_bucket(F.col(keys.columns[0]), n_buckets).alias("b")
    return sorted(r["b"] for r in keys.select(b).distinct().collect())


def refresh_gold(
    spark: SparkSession,
    gold_dir: str,
    customer_master: DataFrame,
    vehicle_sales: DataFrame,
    as_of: str,
    changed_keys: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> list[int]:
    """Incrementally refresh the gold tables for a delta of changed
    customers. ``changed_keys`` is a one-column DataFrame of custno
    values (any name; the first column is used). Returns the refreshed
    bucket ids (of the CLOSED key set — a deal shared across customers
    widens the delta to everyone on the deal).

    When the delta's buckets, or the closed key set's, are every bucket,
    the refresh is ``full_build_gold`` and returns every bucket id.
    Otherwise it recomputes the views over the touched buckets' customers
    plus every customer on a touched deal, and over every row of a
    touched deal, and rewrites only the touched bucket directories, one
    file each. Raises RuntimeError if the closure does not converge.
    """
    every = list(range(n_buckets))
    buckets = _buckets_of(changed_keys, n_buckets)
    if buckets != every:
        keys = close_over_deals(changed_keys, vehicle_sales)
        buckets = _buckets_of(keys, n_buckets)
    if buckets == every:
        full_build_gold(
            spark, gold_dir, customer_master, vehicle_sales, as_of, n_buckets
        )
        return every
    if not buckets:
        return []
    in_buckets = key_bucket(F.col("custno"), n_buckets).isin(buckets)
    # Deal-COMPLETE input: every row of any deal that has at least one row
    # in a refreshed bucket (the deal-grain dedup needs the deal's full
    # row competition — a bucket-only row filter would let a cross-bucket
    # deal elect a spurious within-bucket survivor), plus dealno-less
    # bucket rows. Survivors landing OUTSIDE the refreshed buckets (a
    # cross-bucket deal whose true latest row belongs to an untouched
    # customer) are dropped by the output filter below — their partitions
    # are not rewritten and, the deal being unchanged, remain correct.
    touched_deals = (
        vehicle_sales.filter(in_buckets & F.col("dealno").isNotNull())
        .select("dealno")
        .distinct()
    )
    vs = vehicle_sales.join(touched_deals, "dealno", "left_semi").unionByName(
        vehicle_sales.filter(in_buckets & F.col("dealno").isNull())
    )
    # plus every customer on those deals: validated_vehicle_sales needs
    # their profiles for its deal competition (see the module docstring)
    cm = customer_master.filter(in_buckets).unionByName(
        customer_master.filter(~in_buckets).join(
            vs.select("custno"), "custno", "left_semi"
        )
    )
    views = build_view_dag(cm, vs, as_of)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for name, df in views.items():
        df = df.filter(in_buckets)
        # Delete the affected partition dirs FIRST, then append: dynamic
        # partition overwrite only replaces partitions PRESENT in the new
        # data, so a bucket whose recompute became empty (every customer
        # dropped out of the view) would otherwise keep its stale rows.
        table = f"{gold_dir}/{name}"
        fs = jvm_path(table).getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        for b in buckets:
            fs.delete(jvm_path(f"{table}/{_KB}={b}"), True)
        _write_gold(df, table, n_buckets, "append")
    return buckets


def detect_changed_keys(
    old: DataFrame, new: DataFrame, key: str = "custno"
) -> DataFrame:
    """CDC-style delta between two source snapshots: the keys whose row
    SET changed (any insert, delete, or update on any column) — exactly
    the input ``refresh_gold`` needs when the upstream export has no
    change feed.

    Per snapshot, each key folds to one order-insensitive digest: md5 of
    every column (null-tagged so NULL != 'null'), xor-free — the digests
    are SUMMED as two 64-bit halves, so the fold is commutative (no
    sort_array of whole rows) yet collision-hard for realistic row
    counts. One exchange per snapshot on the key, then a full-outer join
    of two key-grain digest tables.
    """
    def digests(df: DataFrame) -> DataFrame:
        cols = sorted(df.columns)
        h = F.md5(
            F.concat_ws(
                "\x01",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x02null"))
                    for c in cols
                ],
            )
        )
        hi = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        lo = F.conv(F.substring(h, 17, 15), 16, 10).cast("long")
        return df.groupBy(F.col(key)).agg(
            F.sum(hi).alias("__h1"),
            F.sum(lo).alias("__h2"),
            F.count(F.lit(1)).alias("__n"),
        )
    o = digests(old).select(
        key, F.col("__h1").alias("__o1"), F.col("__h2").alias("__o2"),
        F.col("__n").alias("__on"),
    )
    n = digests(new).select(
        key, F.col("__h1").alias("__n1"), F.col("__h2").alias("__n2"),
        F.col("__n").alias("__nn"),
    )
    j = o.join(n, key, "full_outer")
    changed = (
        F.col("__o1").isNull()
        | F.col("__n1").isNull()
        | (F.col("__o1") != F.col("__n1"))
        | (F.col("__o2") != F.col("__n2"))
        | (F.col("__on") != F.col("__nn"))
    )
    return j.filter(changed).select(key)


def read_gold(spark: SparkSession, gold_dir: str, name: str) -> DataFrame:
    """Read one gold table (bucket column dropped)."""
    return spark.read.parquet(f"{gold_dir}/{name}").drop(_KB)
