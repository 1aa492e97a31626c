"""File sinks designed for the 100 TB read path.

- ``write_partitioned``: hive-style directory partitioning; queries
  filtering on the partition column read only matching directories
  (partition pruning — zero I/O for pruned data, visible in
  ``df.inputFiles()``).
- ``write_bucketed``: pre-shuffled, co-located layout. Two tables
  bucketed by the same key into the same bucket count join WITHOUT a
  shuffle — the exchange that dominates large-join cost disappears
  from the plan. This is the Spark-native equivalent of the reference
  keeping both Postgres tables keyed by order_id
  (reference: init/postgres-1/init.sql:2, init/postgres-2/init.sql:2).
- ``append_idempotent``: the anti-join append used by the incremental
  pipeline (``operators/incremental.unprocessed``) — re-running never
  duplicates rows (SURVEY §7.4's replacement for FOR UPDATE +
  write-back).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.incremental import unprocessed
from . import catalog


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite") -> None:
    """Directory-partitioned parquet. Choose LOW-cardinality columns
    (status, date-bucket): each distinct tuple is a directory, and
    small-file explosion at high cardinality hurts more than pruning
    helps."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    spark: SparkSession,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Bucketed external table (saveAsTable is required for bucketing —
    bucket metadata lives in the catalog). Joins/aggregations on
    ``bucket_col`` between tables with identical bucketing skip their
    shuffle entirely."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )


def append_idempotent(src: DataFrame, sink_df: DataFrame | None, key: str) -> DataFrame:
    """Rows of ``src`` not already present in the sink (by key) — the
    exactly-once append primitive. Caller writes the result with
    mode('append'); a crash before the write simply reprocesses the
    same delta on retry."""
    if sink_df is None:
        return src
    return unprocessed(src, sink_df, key=key)


def write_sorted_layout(
    df: DataFrame,
    path: str,
    key: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-partitioned, key-sorted parquet layout for min/max skipping.

    ``repartitionByRange`` samples the key distribution and assigns
    contiguous, non-overlapping key ranges to files; ``
    sortWithinPartitions`` orders rows inside each file. Parquet then
    records tight per-file/per-row-group min-max stats on ``key``, so
    a later selective read (``WHERE key BETWEEN …``) skips every file
    whose range doesn't intersect — at 100 TB this is the difference
    between reading one file and reading all of them. The one-time
    layout cost is a single range shuffle.
    """
    (
        df.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a many-small-files dataset into ~target-sized files.

    Small files are the silent killer of big scans: each costs a task,
    a footer read, and a driver-side listing entry, so 10^6 × 1 MB
    files can be slower to scan than 10^4 × 100 MB ones. Compaction
    computes the file count from actual on-disk bytes and uses
    ``coalesce`` (narrow, no shuffle — it only merges read splits).
    Returns the chosen output file count.
    """
    df = catalog.read_parquet(spark, path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, int(total_bytes // target_file_bytes) + (1 if total_bytes % target_file_bytes else 0))
    df.coalesce(n_files).write.mode("overwrite").parquet(out_path)
    return n_files
