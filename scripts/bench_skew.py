"""Skew bench: the lineitem-orders join under a hot key.

Runs the orders-by-lineitem fact-to-fact join + aggregation four ways
and prints one JSON line of best-of-3 seconds (SCALE.md §Skew):

  uniform           — unskewed sf1 lineitem, plain shuffle join (the
                      reference time everything is judged against)
  skew_plain        — skewed lineitem (30% of rows on one l_orderkey),
                      AQE skew join OFF: the straggler
  skew_aqe          — same data, AQE skew join ON with an 8 MB
                      skewedPartitionThresholdInBytes
  skew_aqe_default  — same data, AQE skew join ON with the default
                      256 MB threshold, which the session keeps

Sort-merge joins are forced (autoBroadcastJoinThreshold=-1): orders at
sf1 is ~20 MB and would otherwise broadcast, which dodges the skewed
shuffle this bench exists to measure.

Usage: python scripts/make_sf1.py && python scripts/make_skew.py &&
       python scripts/bench_skew.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from orders_currency_conversion_etl_spark.session import get_spark  # noqa: E402
from orders_currency_conversion_etl_spark.sources import catalog  # noqa: E402

SF1 = os.path.join(REPO, ".localdata", "sf1")
SKEW = os.path.join(REPO, ".localdata", "skew")
RUNS = 3
THRESHOLD = "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"


def plain(spark, data_dir):
    li = catalog.read_parquet(spark, os.path.join(data_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = catalog.read_parquet(spark, os.path.join(data_dir, "orders.parquet")).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return li.join(orders, on="l_orderkey").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("decimal(38,4)")
        .alias("revenue"),
    )


def timed(spark, data_dir: str, aqe_skew: bool, threshold: str | None = "8m") -> float:
    """Best of RUNS after one warm-up; ``threshold=None`` keeps Spark's
    default skew threshold."""
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(aqe_skew).lower())
    if threshold is None:
        spark.conf.unset(THRESHOLD)
    else:
        spark.conf.set(THRESHOLD, threshold)
    plain(spark, data_dir).write.mode("overwrite").format("noop").save()  # warmup
    best = float("inf")
    for _ in range(RUNS):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        plain(spark, data_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    for d in (SF1, SKEW):
        if not os.path.isdir(d):
            raise SystemExit(f"missing {d}; run make_sf1.py / make_skew.py first")
    spark = get_spark("bench-skew")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # The hot partition here is ~50 MB, under the default 256 MB skew
    # threshold, so skew_aqe lowers the threshold to 8 MB and the
    # advisory split size to 4 MB (the skew factor stays at 5).
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")

    result = {
        "uniform": timed(spark, SF1, aqe_skew=False),
        "skew_plain": timed(spark, SKEW, aqe_skew=False),
        "skew_aqe": timed(spark, SKEW, aqe_skew=True),
        "skew_aqe_default": timed(spark, SKEW, aqe_skew=True, threshold=None),
    }
    result["aqe_vs_uniform"] = round(result["skew_aqe"] / result["uniform"], 2)
    result["plain_degradation"] = round(result["skew_plain"] / result["uniform"], 2)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
