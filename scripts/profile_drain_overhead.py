"""Profile the 1-micro-batch drain's fixed cost (r13, VERDICT r12 ask
#5): BENCH_EXTRAS_r12's queue_drain_curve put the single-micro-batch
drain at 0.819 s vs a 0.412 s batch twin on identical rows — ~0.4 s of
per-stream overhead. This instruments WHERE it goes:

- plan_to_batch: .start() -> foreachBatch entry (stream construction,
  source file listing, offset log write, micro-batch planning)
- batch_exec:    inside foreachBatch (the same join the twin runs)
- commit_term:   foreachBatch exit -> awaitTermination returns
  (sink/commit log fsyncs, availableNow termination check)
- noop_rerun:    a second availableNow run on the SAME checkpoint with
  zero new segments — the pure per-stream machinery floor with no data

Medians over N fresh-topology reps; one JSON line to stdout. Run on a
QUIET machine (the A/B discipline) and compare against the batch twin.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orders_currency_conversion_etl_spark.sources import catalog  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("DRAIN_PROFILE_REPS", "5"))
N_PARTS = 4


def _one_rep(spark) -> dict:
    from pyspark.sql import functions as F

    from orders_currency_conversion_etl_spark.operators.convert import (
        convert_orders,
        orders_src_from_tpch,
    )
    from orders_currency_conversion_etl_spark.plans.registry import CONVERSION_TIME
    from orders_currency_conversion_etl_spark.sources.rates import rates_df
    from orders_currency_conversion_etl_spark.streaming.file_queue import queue_append
    from orders_currency_conversion_etl_spark.streaming.orders_stream import (
        convert_stream,
    )

    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        orders = catalog.load_table(spark, SF_DIR, "orders")
        for part in range(N_PARTS):
            queue_append(orders.filter(F.col("o_orderkey") % N_PARTS == part), q_dir, part)
        schema = catalog.read_parquet(spark, os.path.join(q_dir, "partition=0")).schema

        marks: dict[str, float] = {}

        def sink(df, bid):
            marks["batch_in"] = time.perf_counter()
            df.count()
            marks["batch_out"] = time.perf_counter()

        def run_stream() -> tuple[float, float]:
            t0 = time.perf_counter()
            q = (
                convert_stream(
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", N_PARTS)
                    .parquet(os.path.join(q_dir, "partition=*")),
                    spark,
                    CONVERSION_TIME,
                )
                .writeStream.outputMode("append")
                .foreachBatch(sink)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return t0, time.perf_counter()

        t0, t_end = run_stream()
        rep = {
            "total": t_end - t0,
            "plan_to_batch": marks["batch_in"] - t0,
            "batch_exec": marks["batch_out"] - marks["batch_in"],
            "commit_term": t_end - marks["batch_out"],
        }

        # no-op rerun: same checkpoint, zero new segments
        marks.clear()
        t0, t_end = run_stream()
        assert "batch_in" not in marks, "no-op rerun unexpectedly saw a batch"
        rep["noop_rerun"] = t_end - t0

        # batch twin over the same staged segments
        staged = spark.read.schema(schema).parquet(os.path.join(q_dir, "partition=*"))
        twin = convert_orders(orders_src_from_tpch(staged), rates_df(spark), CONVERSION_TIME)
        t0 = time.perf_counter()
        twin.count()
        rep["batch_twin"] = time.perf_counter() - t0
        return rep


def main() -> None:
    from orders_currency_conversion_etl_spark.session import get_spark

    spark = get_spark("profile-drain")
    _one_rep(spark)  # warm: JVM, parquet footers, codegen
    reps = [_one_rep(spark) for _ in range(REPS)]
    med = {k: round(statistics.median(r[k] for r in reps), 3) for k in reps[0]}
    out = {
        "sf_dir": SF_DIR,
        "reps": REPS,
        "topology": f"{N_PARTS} partitions x 1 segment, 1 micro-batch",
        "median": med,
        "raw": [{k: round(v, 3) for k, v in r.items()} for r in reps],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
