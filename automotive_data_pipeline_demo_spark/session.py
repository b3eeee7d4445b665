"""SparkSession factory.

Reference parity: the reference's Glue job boots SparkContext/GlueContext
(``scripts/glue_vehicle_sales_etl.py:38-44``); here a single factory owns all
engine-relevant configs so every entry point (tests, bench, driver) gets the
same tuned session.

Scale posture: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), broadcast threshold left to Spark's default so dimension tables
(region/nation/customer-profile-sized sides) broadcast automatically, shuffle
partitions sized for the local core count but overridable for cluster runs via
``SPARK_GRAFT_SHUFFLE_PARTITIONS``.

Deployment settings (the only config surface): ``SPARK_GRAFT_CPUS`` (default:
the cores this process may run on), ``SPARK_GRAFT_MASTER``,
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` and ``SPARK_GRAFT_DRIVER_MEM`` (default:
60% of physical memory, capped at 48g — a fixed 48g heap lets the collector
grow the JVM past physical memory on small hosts until the kernel kills it).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_heap() -> str:
    """60% of MemTotal, capped at 48g."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return f"{min(kib * 6 // 10 // 1024, 48 * 1024)}m"


def get_spark(
    app_name: str = "automotive_data_pipeline_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    UTC session timezone is mandatory: the DuckDB oracle compares naive-UTC
    timestamps, and the reference stores ``timestamp without time zone``
    (``sql/redshift_table_schemas.sql:106-108``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus if cpus.isdigit() else "32")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_heap())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # ANSI off: reference semantics are permissive casts (bad string -> NULL),
        # matching Glue's ApplyMapping behavior (glue_vehicle_sales_etl.py:190-266).
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

