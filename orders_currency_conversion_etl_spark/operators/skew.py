"""Joins on a skewed key, left to Spark.

A hash-partitioned join sends every row of one key to one reducer, so a
hot key makes a straggler. Both queries here are plain joins and Spark
chooses how to run them:

- ``join_salted_skew`` joins orders to a 3-row status dimension, which
  Spark broadcasts: the fact side is never shuffled on the hot key.
- ``join_skewed_fact_salted`` joins lineitem to orders. While the pruned
  orders side fits the broadcast threshold (sf0.1 does) it broadcasts;
  past it the join shuffles under AQE's skew join (session.py). After
  the shuffle, AQE splits a partition that is larger than both
  ``spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes``
  (256 MB by default) and ``skewedPartitionFactor`` (5) times the
  median partition, and reads the other side's matching partition once
  per split. A hot partition under 256 MB is not split.

Hand salting (hot-key detection, then a salted two-sided join) was
measured against it on a 6M-row lineitem with 30% of its rows on one key
(scripts/bench_skew.py, whose salted mode went with the code; local[4]
on a 4-CPU VM, 10 runs, median and quartiles of best-of-3 seconds): AQE skew join with an 8 MB threshold
5.44 (4.97-5.80), with the default 256 MB threshold 5.82 (5.00-6.07),
no skew handling 5.61 (5.33-6.02), and salting 4.80 (4.62-5.88) plus
10.58 (10.00-10.87) of exact hot-key detection as the session's first
job. Warm, exact detection took 2.2 s and the sketched detection the
query used 6.9 s, paid on every build. So salting was removed: AQE
lands inside salting's quartiles with no detection pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources import catalog

#: tiny dimension: status code -> description (inlined both engines)
STATUS_DIM = (("F", "fulfilled"), ("O", "open"), ("P", "pending"))


def _dim_sql_values() -> str:
    rows = ", ".join(f"('{k}', '{v}')" for k, v in STATUS_DIM)
    return f"(VALUES {rows}) AS dim(o_orderstatus, status_desc)"


_STATUS_ORACLE = f"""
SELECT o.o_orderstatus,
       dim.status_desc,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
FROM orders o JOIN {_dim_sql_values()} ON o.o_orderstatus = dim.o_orderstatus
GROUP BY o.o_orderstatus, dim.status_desc
"""

_FACT_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4))
           AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@query("join_skewed_fact_salted", _FACT_JOIN_ORACLE)
def join_skewed_fact_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by priority over the lineitem-orders fact-to-fact join.
    A hot orderkey is split by AQE's skew join (module doc)."""
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = catalog.load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return li.join(orders, "l_orderkey").groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("decimal(38,4)")
        .alias("revenue"),
    )


@query("join_salted_skew", _STATUS_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by order status: 3 keys over the whole orders table, the
    most skewed key there is. The status dimension broadcasts, so the
    join never shuffles on the key."""
    orders = catalog.load_table(spark, sf_dir, "orders")
    dim = catalog.local_table(spark, STATUS_DIM, "o_orderstatus string, status_desc string")
    return orders.join(dim, "o_orderstatus").groupBy("o_orderstatus", "status_desc").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("decimal(38,2)").alias("revenue"),
    )
