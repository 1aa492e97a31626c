"""Streaming exactly-once deduplication.

The reference guarantees each order is converted once via row locks +
a processed_at write-back (order_currency_conversion_dag.py:87-95,
142-154). In a streaming ingest the same at-least-once problem shows
up as redelivered rows; the Spark-native answer is
``dropDuplicatesWithinWatermark``: keep per-key state only until the
watermark passes the key's event time + delay, so state is bounded —
the property that matters at 100 TB/day, where an unbounded
``dropDuplicates`` state would grow forever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources import catalog
from .events_stream import WATERMARK, read_events_stream


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """At-least-once → exactly-once: drop event_id duplicates arriving
    within the watermark horizon. State per key expires once the
    watermark passes its event time + delay (bounded memory)."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stage_duplicated_events(spark: SparkSession, sf_dir: str, stage_dir: str) -> str:
    """Materialize events with EVERY row delivered twice (the
    at-least-once failure mode), range-partitioned by time so both
    copies of a row land in the same micro-batch file and the stream
    sees in-order arrival."""
    ev = catalog.load_table(spark, sf_dir, "events")
    (
        ev.union(ev)
        .repartitionByRange(8, "ts")
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(stage_dir)
    )
    parts = sorted(
        f for f in os.listdir(stage_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = os.stat(os.path.join(stage_dir, parts[0])).st_mtime if parts else 0
    for i, name in enumerate(parts):
        p = os.path.join(stage_dir, name)
        os.utime(p, (base + 10 * (i + 1), base + 10 * (i + 1)))
    return stage_dir


#: Every 7th event is redelivered — the deterministic stand-in for the
#: at-least-once failure mode stage_duplicated_events models in full.
_REDELIVERY_MOD = 7

_DEDUP_TWIN_ORACLE = f"""
WITH deliveries AS (
    SELECT event_id, user_id, event_type, value, ts, 1 AS attempt FROM events
    UNION ALL
    SELECT event_id, user_id, event_type, value, ts, 2 AS attempt
    FROM events WHERE event_id % {_REDELIVERY_MOD} = 0
), ranked AS (
    SELECT event_id, user_id, event_type, value, ts,
           ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY attempt) AS rn,
           COUNT(*) OVER (PARTITION BY event_id) AS n_deliveries
    FROM deliveries
)
SELECT event_id, user_id, event_type, value, ts, n_deliveries
FROM ranked WHERE rn = 1
"""


@query("dedup_stream_first_delivery", _DEDUP_TWIN_ORACLE)
def dedup_stream_first_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``dropDuplicatesWithinWatermark``: an at-least-once
    feed (every {_REDELIVERY_MOD}th event redelivered) reduced to
    exactly-once by keeping the FIRST delivery per event_id — the same
    keep-first semantics the streaming operator applies to keys within
    the watermark horizon, plus an n_deliveries column surfacing the
    redelivery rate. The live stateful path (watermark-bounded state,
    both copies crossing micro-batches) is exercised by
    tests/test_dedup_stream.py over stage_duplicated_events.

    Scale: one shuffle on event_id serving both window functions; keys
    are unique-ish so no skew, and state in the streaming form is
    bounded by the watermark, not corpus size.
    """
    from pyspark.sql import Window

    ev = catalog.load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    deliveries = ev.withColumn("attempt", F.lit(1)).unionByName(
        ev.filter(F.col("event_id") % _REDELIVERY_MOD == 0).withColumn(
            "attempt", F.lit(2)
        )
    )
    w = Window.partitionBy("event_id")
    ranked = deliveries.withColumn(
        "rn", F.row_number().over(w.orderBy("attempt"))
    ).withColumn("n_deliveries", F.count(F.lit(1)).over(w))
    return ranked.filter(F.col("rn") == 1).select(
        "event_id", "user_id", "event_type", "value", "ts", "n_deliveries"
    )


def run_dedup_stream_once(spark: SparkSession, sf_dir: str, work_dir: str) -> DataFrame:
    """Drive the duplicated feed through streaming dedup to a parquet
    sink (availableNow); returns the sink contents read back."""
    stage = os.path.join(work_dir, "stage")
    if not os.path.exists(stage):
        stage_duplicated_events(spark, sf_dir, stage)
    out = os.path.join(work_dir, "out")
    deduped = dedup_within_watermark(read_events_stream(spark, stage))
    q = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return catalog.read_parquet(spark, out)
