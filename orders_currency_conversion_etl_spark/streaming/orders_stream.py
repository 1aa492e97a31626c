"""The flagship conversion as a Structured Streaming job — the direct
Spark-native replacement for the reference's hourly cron DAG
(reference: dags/order_currency_conversion_dag.py:14 schedules batch
re-runs; here the same plan runs continuously with checkpointed
exactly-once progress).

Topology:

    orders file stream → stream-static broadcast join with rates
    → conversion projection → foreachBatch dual sink
      (orders_eur append + processed-marker, same commit order as
       reference: ...conversion_dag.py:156-157)

The stream-static join is the canonical enrichment shape: the static
side (rates, ~25 rows) is re-read per micro-batch — meaning a rates
refresh lands on the NEXT batch automatically, which is strictly
fresher than the reference's once-a-day Variable cache.
"""

from __future__ import annotations

import os

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.convert import convert_orders, orders_src_from_tpch
from ..sources import catalog
from ..sources.rates import rates_df


def stage_orders_as_stream_source(spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 4) -> str:
    """Write the orders table as n parquet files (one micro-batch each
    with maxFilesPerTrigger=1) — the arrival of new order files stands
    in for the generator DAG's inserts."""
    catalog.load_table(spark, sf_dir, "orders").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(stage_dir)
    return stage_dir


def read_orders_stream(spark: SparkSession, stage_dir: str) -> DataFrame:
    # file streams need an explicit schema; take it from the staged files
    schema = catalog.read_parquet(spark, stage_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )


def convert_stream(orders_stream: DataFrame, spark: SparkSession, conversion_time: dt.datetime) -> DataFrame:
    """Stream-static join: convert_orders works unchanged on a
    streaming DataFrame — same Catalyst plan, incremental execution."""
    return convert_orders(orders_src_from_tpch(orders_stream), rates_df(spark), conversion_time)


def dual_sink(out_dir: str):
    """Target append first, then the processed-marker (the reference's
    commit order); batch-id subdirectories make replays idempotent."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, "orders_eur", f"batch={batch_id}")
            )
            batch_df.select(
                "order_id", F.col("exchange_rate_date").alias("processed_at")
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, "processed", f"batch={batch_id}")
            )
        finally:
            batch_df.unpersist()

    return _write


def run_conversion_stream(
    spark: SparkSession, sf_dir: str, work_dir: str, conversion_time: dt.datetime
) -> DataFrame:
    """Drive the conversion stream to completion (availableNow) and
    return the accumulated orders_eur."""
    stage = os.path.join(work_dir, "stage")
    if not os.path.exists(stage):
        # stage once: a rewrite would emit new-named part files that the
        # file source (correctly) treats as fresh data
        stage_orders_as_stream_source(spark, sf_dir, stage)
    out = os.path.join(work_dir, "out")
    q = (
        convert_stream(read_orders_stream(spark, stage), spark, conversion_time)
        .writeStream.outputMode("append")
        .foreachBatch(dual_sink(out))
        .option("checkpointLocation", os.path.join(work_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return catalog.read_parquet(spark, os.path.join(out, "orders_eur", "batch=*"))
