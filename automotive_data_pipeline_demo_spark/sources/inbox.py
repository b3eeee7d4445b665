"""Encrypted vendor-inbox source: latest-file-per-table + decrypt stage.

In-engine analog of the reference's SFTP pull + GPG decrypt (S3/S4,
``scripts/s3_upload_automation.py:83-174``): vendors drop full
``<table>/<export>.csv.gpg`` files into an inbox; the pipeline must pick
the LATEST export per table (mtime, reference ``:115-117``), decrypt it,
and parse the CSV. The network fetch itself stays out of engine (any
filesystem Spark can mount — SFTP-backed NFS, object-store transfer — is
upstream), but everything after the bytes land is Spark-shaped here:

- listing is one metadata pass (the same driver-side RPC any Spark
  FileIndex performs — no data read);
- latest-per-key is the O4/W1 max-by pattern on the listing DataFrame;
- decryption runs DISTRIBUTED via ``binaryFile`` + ``mapInPandas`` with a
  pluggable ``decryptor(bytes) -> bytes`` (gnupg is not in this container,
  so the default raises — mirroring the multimodal decode contract — and
  tests drive a real cipher through the same path);
- CSV parsing is JVM-side ``from_csv`` over the decrypted text, with the
  reference's permissive stringly-typed casts (P3).

At 100 TB the per-file decrypt is embarrassingly parallel (one file per
task), and the latest-file selection reads zero data bytes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from automotive_data_pipeline_demo_spark.sources.merge import _hadoop_fs, path_exists


def default_decryptor(payload: bytes) -> bytes:
    """Placeholder for a gnupg-backed decryptor (not in this container)."""
    raise NotImplementedError(
        "GPG decryption requires a gnupg-backed callable; pass decryptor="
    )


def xor_decryptor(key: int = 0x5A) -> Callable[[bytes], bytes]:
    """Trivial symmetric cipher for tests/demos of the decrypt path."""

    def decrypt(payload: bytes) -> bytes:
        return bytes(b ^ key for b in payload)

    return decrypt


def list_inbox(spark: SparkSession, root: str, suffix: str = ".csv.gpg") -> DataFrame:
    """Inbox manifest: (table, path, mtime_ms, size) for every export file.

    One recursive metadata listing through the Hadoop FileSystem API — the
    identical RPC pattern Spark's own FileIndex uses; no file content is
    read. ``table`` is the parent directory name (the reference's
    per-table inbox layout).
    """
    rows = []
    if not path_exists(spark, root):  # a never-provisioned inbox is not an error
        return spark.createDataFrame(
            rows, schema="table string, path string, mtime_ms long, size long"
        )
    fs, hpath = _hadoop_fs(spark, root)
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if not p.getName().endswith(suffix):
            continue
        rows.append(
            (p.getParent().getName(), p.toString(), int(st.getModificationTime()),
             int(st.getLen()))
        )
    return spark.createDataFrame(
        rows, schema="table string, path string, mtime_ms long, size long"
    )


def latest_file_per_table(listing: DataFrame) -> DataFrame:
    """O4 max-by over the manifest: newest mtime wins, lexicographically
    last path breaks ties (vendor filenames embed export timestamps, so
    name order matches export order when mtimes collide)."""
    return (
        listing.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("table").orderBy(
                    F.col("mtime_ms").desc(), F.col("path").desc()
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def decrypt_files(
    spark: SparkSession,
    paths: list[str],
    decryptor: Callable[[bytes], bytes] = default_decryptor,
) -> DataFrame:
    """Distributed decrypt: (path, text) with one file per input row.

    ``binaryFile`` ships each file's bytes to an executor; the decryptor
    runs inside an Arrow-batched ``mapInPandas`` (S4's CPU-bound stage
    parallelizes per file); output text is UTF-8 decoded for the JVM-side
    CSV parse downstream.
    """
    files = spark.read.format("binaryFile").load(paths).select("path", "content")
    out_schema = T.StructType(
        [T.StructField("path", T.StringType()), T.StructField("text", T.StringType())]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "text": [
                        decryptor(bytes(b)).decode("utf-8") for b in pdf["content"]
                    ],
                }
            )

    return files.mapInPandas(batches, schema=out_schema)


def parse_csv_text(
    decrypted: DataFrame,
    cast_map: Mapping[str, str],
    header: bool = True,
) -> DataFrame:
    """JVM-side CSV parse of decrypted export text via ``from_csv``.

    ``cast_map`` order must match the file column order (vendor exports
    have fixed layouts, reference P3). Reads are permissive: every field
    parses as string, then casts column-by-column (bad value -> NULL) —
    the engine's S1/P3 contract.
    """
    names = list(cast_map)
    ddl = ", ".join(f"`{n}` STRING" for n in names)
    lines = decrypted.select(
        "path", F.explode(F.split(F.col("text"), "\r?\n")).alias("__line")
    ).filter(F.col("__line") != "")
    if header:
        first = F.concat_ws(",", *[F.lit(n) for n in names])
        lines = lines.filter(F.col("__line") != first)
    parsed = lines.select(
        "path", F.from_csv(F.col("__line"), ddl).alias("__r")
    )
    return parsed.select(
        *[F.col(f"__r.{n}").cast(t).alias(n) for n, t in cast_map.items()]
    )


def read_latest_encrypted_inbox(
    spark: SparkSession,
    root: str,
    cast_map: Mapping[str, str],
    decryptor: Callable[[bytes], bytes] = default_decryptor,
    suffix: str = ".csv.gpg",
) -> DataFrame:
    """The full S3+S4 chain: manifest -> latest per table -> distributed
    decrypt -> typed CSV rows (all tables unioned; add the ``table`` column
    upstream if exports differ in schema)."""
    latest = latest_file_per_table(list_inbox(spark, root, suffix))
    paths = [r["path"] for r in latest.select("path").collect()]
    if not paths:
        return spark.createDataFrame(
            [], schema=T.StructType(
                [T.StructField(n, T.StringType()) for n in cast_map]
            ),
        )
    return parse_csv_text(decrypt_files(spark, paths, decryptor), cast_map)
