"""Readers and lake writers.

Reference parity:
- S1 CSV scan with header/quotes/recursion
  (``scripts/glue_vehicle_sales_etl.py:54-68``): everything read as string
  (DMS exports are stringly), then cast column-by-column (P3,
  ``:190-266``). Never ``inferSchema`` — IDs keep leading zeros.
- S2 hive-partitioned lake writer (``scripts/s3_upload_automation.py:187-224``).
- malformed-row capture: the reference sets ``optimizePerformance: False``
  "quality over speed" (``:59``) -> PERMISSIVE mode + corrupt-record column.

Scale notes: the partitioned writer sorts within partitions on the sort keys
(Redshift SORTKEY analog, ``sql/redshift_table_schemas.sql:115``) so parquet
row-group min/max stats prune range scans; partition columns give directory
pruning for the daily-batch access pattern.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def read_csv_typed(
    spark: SparkSession,
    path: str,
    cast_map: Mapping[str, str | T.DataType],
    header: bool = True,
    sep: str = ",",
    quote: str = '"',
    recursive: bool = True,
    keep_corrupt: bool = True,
) -> DataFrame:
    """S1+P3: all-string CSV read, then explicit cast projection.

    ``cast_map`` = {column: spark type}; columns absent from the file become
    NULL of the requested type (schema evolution tolerance). Permissive mode
    captures malformed rows in ``_corrupt_record`` instead of dropping them.

    Spark only populates the corrupt-record column when it is declared in an
    explicit schema, so the read is two-phase: a header-only pass discovers
    the column names (no data scan — inferSchema stays off), then the real
    scan applies an all-string schema + the corrupt column. The extra pass
    touches one file header, not data, so it is scale-free.
    """
    base_opts = dict(
        header=header,
        sep=sep,
        quote=quote,
        escape='"',
        recursiveFileLookup=recursive,
    )
    names = [
        c for c in spark.read.options(**base_opts).csv(path).columns
        if c != CORRUPT_COL
    ]
    schema = T.StructType([T.StructField(n, T.StringType(), True) for n in names])
    if keep_corrupt:
        schema = schema.add(CORRUPT_COL, T.StringType(), True)
    raw = (
        spark.read.options(
            **base_opts,
            mode="PERMISSIVE",
            columnNameOfCorruptRecord=CORRUPT_COL,
        )
        .schema(schema)
        .csv(path)
    )
    cols = []
    for name, dtype in cast_map.items():
        if name in raw.columns:
            cols.append(F.col(name).cast(dtype).alias(name))
        else:
            cols.append(F.lit(None).cast(dtype).alias(name))
    if keep_corrupt and CORRUPT_COL in raw.columns:
        cols.append(F.col(CORRUPT_COL))
    return raw.select(*cols)


def read_jsonl_typed(
    spark: SparkSession,
    path: str,
    schema: Mapping[str, str | T.DataType],
    keep_corrupt: bool = True,
) -> DataFrame:
    """JSON-lines read with a declared schema and malformed-line capture.

    The web-event capture path (S10, ``identity-resolution/api-server.js``
    POST body -> row) receives attacker-controlled payloads; the
    reference's posture is "quality over speed"
    (``scripts/glue_vehicle_sales_etl.py:59``), so instead of dropping or
    failing on bad lines (DROPMALFORMED / FAILFAST), PERMISSIVE mode lands
    every undecodable line intact in ``_corrupt_record`` for quarantine
    and replay. As with CSV, Spark only populates the corrupt column when
    it appears in an explicit schema — never rely on schema inference to
    surface it. Scale-free: schema is declared, no inference pass.
    """
    fields = [
        f"{n} {t.simpleString() if isinstance(t, T.DataType) else t}"
        for n, t in schema.items()
    ]
    if keep_corrupt:
        fields.append(f"{CORRUPT_COL} string")
    return (
        spark.read.options(
            mode="PERMISSIVE", columnNameOfCorruptRecord=CORRUPT_COL
        )
        .schema(", ".join(fields))
        .json(path)
    )


def write_partitioned_lake(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("year", "month", "day"),
    sort_within: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """S2: hive-style partitioned parquet writes with optional in-file sort."""
    out = df
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    (
        out.write.mode(mode)
        .partitionBy(*partition_cols)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def read_lake(spark: SparkSession, path: str, base_path: str | None = None) -> DataFrame:
    """Partition-discovering parquet read (partition pruning on filters)."""
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    return reader.parquet(path)


def read_lake_evolved(
    spark: SparkSession, path: str, base_path: str | None = None
) -> DataFrame:
    """Schema-evolution-tolerant lake read: union-by-name across parquet
    files whose schemas drifted (columns added over time). Vendor exports
    add columns between batches (the DMS contract the reference's
    ApplyMapping absorbs, glue_vehicle_sales_etl.py:190-266); with
    ``mergeSchema`` Spark reconciles footers at planning time and older
    files surface NULL for columns they predate — no rewrite of historical
    partitions.

    Scale note: mergeSchema reads every file footer up front (a planning
    cost, not a data scan); at 100 TB keep it for ingestion-time
    reconciliation and persist the reconciled schema (or a metastore
    table) for the hot query path.
    """
    reader = spark.read.option("mergeSchema", "true")
    if base_path:
        reader = reader.option("basePath", base_path)
    return reader.parquet(path)

