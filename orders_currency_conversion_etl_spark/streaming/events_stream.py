"""Structured Streaming over the events table (SURVEY T1, §7.1 step 6).

The reference emulates a stream with cron re-runs over an incremental
predicate (reference: dags/order_currency_conversion_dag.py:14,90);
the Spark-native form is a real micro-batch stream:

    readStream (file source) → withWatermark → window agg → sink

- watermark 10 minutes: late events beyond it are dropped from the
  windowed state — bounded state at any scale;
- ``foreach_batch_dual_sink`` mirrors the reference's two-connection
  write (orders_eur append + processed-marker, reference:
  ...conversion_dag.py:126-157): per-batch idempotent parquet appends
  keyed by batch id, the checkpoint supplying exactly-once replay;
- the batch "twin" of each streaming query is registered in the oracle
  registry (events_hourly_stats, events_session_window) — Structured
  Streaming runs the same Catalyst plan incrementally, so the batch
  oracle checks the same semantics the stream executes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.registry import query
from ..sources import catalog

#: events schema as the file stream declares it (ts already micros).
STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

SESSION_GAP = "30 minutes"
WATERMARK = "10 minutes"


def stage_events_as_stream_source(spark: SparkSession, sf_dir: str, stage_dir: str) -> str:
    """Materialize events as a directory of parquet files a file-source
    stream can consume (micro-batch per file via maxFilesPerTrigger)."""
    ev = catalog.load_table(spark, sf_dir, "events")
    # Range-partition by event time so file N is entirely earlier than
    # file N+1: micro-batches then arrive in time order and the
    # watermark never drops on-time data (file source breaks listing
    # ties by path, and part-0000i names sort with the ranges).
    ev.repartitionByRange(8, "ts").sortWithinPartitions("ts").write.mode(
        "overwrite"
    ).parquet(stage_dir)
    # The file source replays files ordered by modification time; all
    # parts share one mtime after the write above, so stamp strictly
    # increasing mtimes matching the range order (part-0000i carries
    # range i because range partition ids map to task/file numbering).
    parts = sorted(
        f for f in os.listdir(stage_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = os.stat(os.path.join(stage_dir, parts[0])).st_mtime if parts else 0
    for i, name in enumerate(parts):
        p = os.path.join(stage_dir, name)
        os.utime(p, (base + 10 * (i + 1), base + 10 * (i + 1)))
    return stage_dir


def read_events_stream(spark: SparkSession, stage_dir: str, files_per_trigger: int = 2) -> DataFrame:
    return (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage_dir)
    )


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Streaming tumbling-window aggregation with late-data drop.
    Works identically on a batch DataFrame (the oracle-checked twin is
    events_hourly_stats in plans/relational.py)."""
    return (
        events.withWatermark("ts", WATERMARK)
        # group on the window column itself — extracting .start before
        # the agg severs the watermark linkage and append mode refuses
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("bucket_start"), "n_events", "total_value"
        )
    )


def foreach_batch_dual_sink(out_dir: str):
    """The reference's two-sink transactional write, Spark-style:
    target append first, then the processed-marker — same commit order
    as reference: ...conversion_dag.py:156-157; replaying a failed
    batch overwrites the same batch subdirectory (idempotent)."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        target = os.path.join(out_dir, "orders_eur", f"batch={batch_id}")
        marker = os.path.join(out_dir, "processed", f"batch={batch_id}")
        batch_df.persist()
        try:
            batch_df.write.mode("overwrite").parquet(target)
            batch_df.select("bucket_start").write.mode("overwrite").parquet(marker)
        finally:
            batch_df.unpersist()

    return _write


def run_stream_once(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Drive the full stream to completion (availableNow) through the
    dual sink; returns the final orders_eur content read back."""
    stage = os.path.join(work_dir, "stage")
    if not os.path.exists(stage):
        # stage once: re-writing emits new-named part files the file
        # source would (correctly) re-ingest as fresh data
        stage_events_as_stream_source(spark, sf_dir, stage)
    agg = tumbling_hourly(read_events_stream(spark, stage))
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(foreach_batch_dual_sink(os.path.join(work_dir, "out")))
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return catalog.read_parquet(spark, os.path.join(work_dir, "out", "orders_eur", "batch=*"))


# --------------------------------------------------------------------------
# Session windows — batch twin with gaps-and-islands oracle
# --------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH s AS (
    SELECT user_id, event_id, ts, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
), g AS (
    SELECT user_id, event_id, ts, value,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM s
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS total_value
FROM g
GROUP BY user_id, sess_id
"""


@query("events_session_window", _SESSION_ORACLE)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (gap 30 min) per user — Spark's session_window
    in batch mode; in streaming the same expression runs with a
    watermark and state cleanup. Oracle: classic gaps-and-islands."""
    ev = catalog.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
