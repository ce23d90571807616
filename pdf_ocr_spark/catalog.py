"""Table IO abstraction: Iceberg catalog tables in production, parquet
paths in this sandbox (no Iceberg runtime jar is available here).

A target is treated as a catalog table identifier when it has no path
separator (e.g. ``lake.transcripts_out``) and as a filesystem path
otherwise. The pipeline's idempotent-resume semantics map as:

  parquet path: write.mode("overwrite").partitionBy("bucket") with
      spark.sql.sources.partitionOverwriteMode=dynamic
  Iceberg table: writeTo(t).overwritePartitions() — the exact semantic
      this emulates (only the buckets present in the run are replaced;
      a crashed run's partial files are invisible until commit, which is
      strictly stronger than the parquet emulation)

Append (lineage) maps to write.mode("append") / writeTo(t).append().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def is_table_identifier(target: str) -> bool:
    return "/" not in target and "\\" not in target and \
        not target.startswith(("file:", "hdfs:", "s3:", "s3a:"))


def load_table(spark: SparkSession, target: str,
               schema: StructType | None = None) -> DataFrame:
    """Read ``target``. For a path, a given ``schema`` replaces Spark's
    schema inference, a job that reads parquet footers; a catalog table
    carries its own schema, so ``schema`` is ignored there."""
    if is_table_identifier(target):
        return spark.read.table(target)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(target)


def overwrite_partitions(df: DataFrame, target: str,
                         partition_col: str = "bucket") -> None:
    if is_table_identifier(target):
        df.writeTo(target).overwritePartitions()
    else:
        # Per-write option, NOT session conf: run_extraction accepts any
        # user-supplied SparkSession, and with the Spark default (static)
        # mode this write would truncate the whole table — deleting
        # previously completed buckets that lineage still marks done.
        df.write.option("partitionOverwriteMode", "dynamic") \
            .mode("overwrite").partitionBy(partition_col) \
            .parquet(target)


def append(df: DataFrame, target: str) -> None:
    if is_table_identifier(target):
        df.writeTo(target).append()
    else:
        df.write.mode("append").parquet(target)


def write_bucketed_table(df: DataFrame, table: str, path: str,
                         n_buckets: int, key: str = "conv_id") -> None:
    """Write ``df`` as a BUCKETED catalog table (``bucketBy`` +
    ``sortBy`` on ``key``): the co-located-join scale path.

    The 100-TB case: the extraction output is joined on conv_id again
    and again downstream (lineage reconciliation, history listing,
    per-conversation dedup, analytics). Each sort-merge join over plain
    parquet re-shuffles the full table; paying the shuffle ONCE at
    write time (hash-bucketed, sorted files) makes every later
    equi-join on the key shuffle-free AND sort-free — Spark's bucketed
    scan exposes the layout as the join's required distribution
    (proven by plan assertion in tests/test_catalog.py: SortMergeJoin
    with zero Exchange). On Iceberg the same layout is
    ``bucket(n, conv_id)`` partition transforms + sorted data files.

    ``path`` makes it an external table (data outlives a dropped
    catalog entry); bucketed writes require ``saveAsTable`` — the
    bucket spec lives in the catalog, not the files."""
    (df.write.format("parquet").mode("overwrite")
       .option("path", path)
       .bucketBy(n_buckets, key).sortBy(key)
       .saveAsTable(table))
