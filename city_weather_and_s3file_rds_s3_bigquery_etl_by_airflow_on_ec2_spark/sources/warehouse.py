"""Warehouse sink (SURVEY.md §2.2 K4) and idempotent writes (§2.12 O7).

The reference appends to BigQuery via a blocking load job with
name-based schema matching. The engine's canonical offline stand-in is
a partitioned-parquet warehouse table; when the spark-bigquery
connector jar is present, ``bigquery_append_writer`` produces the real
thing (import-gated — the jar is not in this container).

O7 (idempotency): the reference's re-runs duplicate rows. The engine
default is ``merge_append`` — an anti-join on the business key before
appending, so replays are no-ops. The reference-faithful blind append
remains available as ``append``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API so it holds
    for every warehouse URI Spark can write (s3a://, hdfs://, dbfs:/,
    file:/, bare local paths) — ``os.path.exists`` is local-FS-only
    and would silently report False for object stores, degrading
    ``merge_append`` into a blind append on replay."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def append(df: DataFrame, path: str,
           partition_by: list[str] | None = None) -> None:
    """K4 append semantics with *name-based* column matching: if the
    warehouse table exists, reorder/select columns by name (the
    BigQuery load-job behavior the reference relies on — its DDL order
    differs from its DataFrame order)."""
    spark = df.sparkSession
    existing = spark.read.parquet(path) if table_exists(spark, path) else None
    _append_aligned(df, path, existing, partition_by)


def _append_aligned(df: DataFrame, path: str, existing: DataFrame | None,
                    partition_by: list[str] | None) -> None:
    """Append ``df`` with its columns selected by name in the order of
    ``existing`` (the table as already read), or as is when None."""
    if existing is not None:
        df = df.select(*[F.col(f.name) for f in existing.schema.fields])
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def merge_append(df: DataFrame, path: str, key_cols: list[str],
                 partition_by: list[str] | None = None) -> int:
    """Idempotent append: drop incoming rows whose key already exists
    (left-anti join against the current table), then append. Returns
    the number of rows actually written; a replay writes 0 rows and
    adds no file.

    The existing table is read once (each parquet read pays a
    schema-inference job): that one read gives both the keys for the
    anti-join and the column order for the name-based append.  The
    surviving rows are materialized once, so the count and the append
    read the same rows and the anti-join is not planned twice.

    Scale note: the anti-join shuffles only the key columns of the
    existing table; with a partitioned warehouse the read prunes to
    the touched partitions. (With Delta/Iceberg on the classpath this
    becomes a real MERGE INTO; parquet posture keeps the same API.)"""
    spark = df.sparkSession
    incoming = df.dropDuplicates(key_cols)
    existing = spark.read.parquet(path) if table_exists(spark, path) else None
    if existing is not None:
        incoming = incoming.join(existing.select(*key_cols), on=key_cols,
                                 how="left_anti")
    incoming = incoming.localCheckpoint(eager=True)
    n = incoming.count()
    if n:
        _append_aligned(incoming, path, existing, partition_by)
    return n


def bigquery_append_writer(df: DataFrame, table: str):
    """Real K4 when the public spark-bigquery-connector is on the
    classpath; raises a clear error otherwise.

    Returns an *un-executed* ``DataFrameWriter`` (laziness is
    intentional — the caller decides when to ``.save()``), so the
    missing-jar failure cannot be left to the writer builder (which
    never raises).  The classpath is probed explicitly up front."""
    jvm = df.sparkSession._jvm
    try:
        jvm.java.lang.Class.forName(
            "com.google.cloud.spark.bigquery.BigQueryRelationProvider")
    except Exception as e:
        raise RuntimeError(
            "spark-bigquery-connector not on the classpath; add "
            "spark.jars.packages=com.google.cloud.spark:spark-bigquery-"
            "with-dependencies_2.13:<version> or use warehouse.append()"
        ) from e
    return (df.write.format("bigquery")
            .option("table", table)
            .option("writeMethod", "direct")
            .mode("append"))
