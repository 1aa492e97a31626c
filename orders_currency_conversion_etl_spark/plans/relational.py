"""Relational query surface — SURVEY §2.5 (A/W/O/U families), §2.2-2.4.

The reference itself contains no GROUP BY / window / sort / set op
(SURVEY §2.5: verified absent); these queries are the engine surface
the driver contract mandates, each a stock Catalyst plan with a DuckDB
oracle. Spark side is DataFrame API; no UDFs anywhere in this module.

Scale notes per family:
- aggregations: partial (map-side) aggregation is automatic; decimal
  casts before SUM keep results exact and shuffle-order-independent;
- windows: every ORDER BY includes a unique tiebreak key so results
  are deterministic under any partitioning;
- joins: dimension sides (nation/region/rates) are broadcast — the
  fact table never shuffles for them; full-outer of two pre-aggregated
  sides shuffles only the tiny aggregates.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join_lookup, asof_join_union
from ..sources import catalog
from ..sources.rates import DEFAULT_EUR_RATES, currency_from_orderkey
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name)


def _dec(col: str | F.Column, p: int = 18, s: int = 2) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


# --------------------------------------------------------------------------
# A1/A2 — hash aggregation, distinct (TPC-H Q1-style pricing summary)
# --------------------------------------------------------------------------

_PRICING_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@query("agg_pricing_summary", _PRICING_ORACLE)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: hash aggregation with map-side combine (TPC-H Q1 shape).

    Loads through the parallel loader (r10): the exact-decimal sums are
    the dominant per-row cost here (measured 4x the same aggregation
    over doubles), and the partial HashAggregate runs inside the scan
    tasks — a handful at fixture scale, so the decimal work serialized
    on 3 cores. The round-robin spread moves it onto every core for an
    extra exchange of the 5 pruned columns (measured net win 1.27 ->
    0.76 s at sf0.1); at 100 TB maxPartitionBytes already yields
    thousands of scan tasks and the spread is a no-op by construction
    (sources/catalog.py:load_table_parallel)."""
    li = catalog.load_table_parallel(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("decimal(38,2)").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("decimal(38,2)").alias("sum_base_price"),
        F.sum(disc_price).cast("decimal(38,4)").alias("sum_disc_price"),
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


_REVENUE_NATION_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue,
       COUNT(DISTINCT c.c_custkey) AS n_customers
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n_name
"""


@query("agg_revenue_by_nation", _REVENUE_NATION_ORACLE)
def agg_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 multi-join + A1/A2. nation (25 rows) broadcasts; customer is
    small relative to fact tables, so AQE picks broadcast for it too —
    only the lineitem⋈orders equi-join shuffles, on the natural key.

    orders carries an explicit shuffle_hash hint: it is a FACT table,
    but after column pruning (2 of 9 cols) Spark's file-size-scaled
    estimate can drop under the 10 MB autoBroadcast threshold and
    Catalyst then broadcasts millions of rows — fine once, but
    repeated ~100 MB HashedRelation builds outrun the ContextCleaner
    and degrade the shared JVM progressively (measured at sf1:
    2.2 s -> 7.2 s -> 20 s across three back-to-back runs; flat
    1.4-1.9 s with the hint). At 100 TB a fact-side broadcast is
    simply the wrong plan, so the hint states the intent rather than
    trusting a pruned-size estimate at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").hint("shuffle_hash")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(revenue).cast("decimal(38,4)").alias("revenue"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


_DISTINCT_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_distinct_by_status", _DISTINCT_ORACLE)
def agg_distinct_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(_dec("o_totalprice")).cast("decimal(38,2)").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# A3 — rollup / cube
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT r_name, n_name,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


@query("agg_rollup_region_nation", _ROLLUP_ORACLE)
def agg_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("decimal(38,2)").alias("total_acctbal"),
        )
    )


_CUBE_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("agg_cube_status_priority", _CUBE_ORACLE)
def agg_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("decimal(38,2)").alias("total_price"),
        )
    )


# --------------------------------------------------------------------------
# W1/W2 — ranking and analytic windows (unique tiebreak => deterministic)
# --------------------------------------------------------------------------

_LATEST_ORDER_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice
FROM orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
"""


@query("window_latest_order_per_customer", _LATEST_ORDER_ORACLE)
def window_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", _dec("o_totalprice").alias("totalprice"))
    )


_RUNNING_TOTAL_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS running_total
FROM orders
"""


@query("window_running_total", _RUNNING_TOTAL_ORACLE)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("decimal(38,2)").alias("running_total"),
    )


_LAG_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice,
       CAST(CAST(o_totalprice AS DECIMAL(18,2))
            - LAG(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DECIMAL(19,2)) AS delta_prev
FROM orders
"""


@query("window_lag_delta", _LAG_ORACLE)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    price = _dec("o_totalprice")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        price.alias("totalprice"),
        (price - F.lag(price).over(w)).cast("decimal(19,2)").alias("delta_prev"),
    )


# --------------------------------------------------------------------------
# O1 — sort / top-k (tie-broken by unique key => deterministic)
# --------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


@query("topk_expensive_orders", _TOPK_ORACLE)
def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst turns sort+limit into TakeOrderedAndProject — each
    partition keeps only its local top-10; no global sort at any scale."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", _dec("o_totalprice").alias("totalprice"))
    )


# --------------------------------------------------------------------------
# U1 — union / intersect / except
# --------------------------------------------------------------------------

_SET_UNION_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
"""


@query("set_union_segments", _SET_UNION_ORACLE)
def set_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.union(b).distinct()


_SET_INTERSECT_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
"""


@query("set_intersect_segments", _SET_INTERSECT_ORACLE)
def set_intersect_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


_SET_EXCEPT_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
"""


@query("set_except_segments", _SET_EXCEPT_ORACLE)
def set_except_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.subtract(b)


# --------------------------------------------------------------------------
# J2 — semi / anti / full-outer joins
# --------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@query("join_semi_customers_with_orders", _SEMI_ORACLE)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle_hash on orders (r5 broadcast audit): the 1-column pruned
    # estimate otherwise broadcasts the whole fact key set — measured
    # slower even locally (sf1 0.54 s vs 0.26 s) and wrong at scale.
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").hint("shuffle_hash")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@query("join_anti_customers_without_orders", _ANTI_ORACLE)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle_hash for the same reason as the semi join above
    # (sf1 0.45 s broadcast vs 0.23 s hinted).
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").hint("shuffle_hash")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_FULL_OUTER_ORACLE = """
WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
     sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(cn.nk, sn.nk) AS nationkey, cn.n_cust, sn.n_supp
FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
"""


@query("join_full_outer_nation_counts", _FULL_OUTER_ORACLE)
def join_full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer of two pre-aggregated sides: the shuffle moves ≤50
    grouped rows regardless of input scale — aggregate before joining."""
    cn = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk_c"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk_s"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, cn.nk_c == sn.nk_s, "full_outer").select(
        F.coalesce("nk_c", "nk_s").alias("nationkey"), "n_cust", "n_supp"
    )


# --------------------------------------------------------------------------
# J4 — as-of (temporal) join against a deterministic rates history
# --------------------------------------------------------------------------


def rates_history_rows() -> list[tuple[str, float, dt.datetime]]:
    """Yearly EUR-base rates 1994-2001, drifting 2%/year. Computed once
    in Python and inlined verbatim on BOTH engine and oracle sides, so
    no cross-engine float arithmetic is ever compared."""
    rows = []
    for cur, base in sorted(DEFAULT_EUR_RATES.items()):
        for k, year in enumerate(range(1994, 2002)):
            rows.append((cur, base * (1.0 + 0.02 * k), dt.datetime(year, 1, 1)))
    return rows


def _rates_history_sql() -> str:
    # CAST AS DOUBLE matters: DuckDB parses bare numeric literals as
    # DECIMAL and *truncates* on decimal downscale, while Spark holds
    # the rate as DOUBLE — forcing DOUBLE on both sides keeps the
    # verified double→decimal cast semantics.
    vals = ", ".join(
        f"('{c}', CAST({r!r} AS DOUBLE), TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}')"
        for c, r, d in rates_history_rows()
    )
    return f"(VALUES {vals}) AS rh(currency, rate, rate_date)"


def _asof_oracle() -> str:
    from ..sources.rates import currency_alphabet_sql_list

    return f"""
WITH src AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
           o_orderdate AS order_date,
           CAST(o_totalprice AS DECIMAL(12,2)) AS amount,
           ({currency_alphabet_sql_list()})[CAST(o_orderkey % 25 AS INT) + 1] AS currency
    FROM orders
)
SELECT src.order_id,
       src.currency,
       src.order_date,
       rh.rate_date,
       CAST(rh.rate AS DECIMAL(16,6)) AS exchange_rate,
       CAST(CAST((2 * CAST(src.amount * 100 AS BIGINT) * 1000000
                  + CAST(floor(COALESCE(rh.rate, CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT))
                 // (2 * CAST(floor(COALESCE(rh.rate, CAST(1.0 AS DOUBLE)) * 1000000) AS BIGINT))
            AS DECIMAL(16,0)) * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(12,2)) AS amount_eur
FROM src ASOF LEFT JOIN {_rates_history_sql()}
    ON src.currency = rh.currency AND rh.rate_date <= src.order_date
"""


@query("join_asof_rates", _asof_oracle())
def join_asof_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time rate lookup via the union+forward-fill strategy
    (one shuffle on currency; see operators/asof.py). Oracle: DuckDB's
    native ASOF LEFT JOIN.

    amount_eur uses the repo's scaled-integer convention (same family
    as mixing.py's spow_fp): cents BIGINT / rate floored to a 1e-6
    grid, half-up rounded in exact 64-bit integer math. The naive
    ``CAST(amount/rate AS DECIMAL(12,2))`` diverged cross-engine at
    sf0.1 — the yearly drift rates (1.04, 1.12 on the EUR base) put
    a handful of 161k quotients within an ulp of an exact half-cent,
    where Spark (shortest-repr BigDecimal) and DuckDB (double*100
    rounding) resolve the boundary through different paths. Found by
    the round-4 sf0.1 sweep; regression-tested at sf0.1 via
    ORACLE_SWEEP. Integer div (Spark ``div`` truncation, DuckDB ``//``
    floor) agrees because every operand is positive."""
    orders = _t(spark, sf_dir, "orders")
    src = orders.select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        F.col("o_orderdate").alias("order_date"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("amount"),
        currency_from_orderkey(F.col("o_orderkey")).alias("currency"),
    )
    rh = catalog.session_memo(
        spark,
        ("__rates_history__", "default", "default"),
        lambda: catalog.local_table(
            spark, rates_history_rows(), "currency string, rate double, rate_date timestamp"
        ),
    )
    # r18 opt: the rates history is 25 currencies x 8 dates — a
    # broadcast-probe as-of (asof_join_lookup) replaces the union +
    # per-currency window: the orders side is no longer shuffled or
    # sorted at all, and parallelism is no longer capped at
    # |currencies| (the union form's window keys 25 partitions at any
    # scale). Row-identical to asof_join_union by construction and by
    # the parity test in tests/test_asof_boundary.py.
    joined = asof_join_lookup(
        src, rh, by="currency", left_on="order_date", right_on="rate_date",
        value_cols=["rate", "rate_date"],
    )
    import decimal as _decimal

    prepared = joined.withColumn(
        "_ac", (F.col("amount") * 100).cast("bigint")
    ).withColumn(
        "_rate_fp",
        F.floor(F.coalesce(F.col("rate"), F.lit(1.0)) * F.lit(1000000.0)).cast("bigint"),
    )
    return prepared.select(
        "order_id",
        "currency",
        "order_date",
        "rate_date",
        F.col("rate").cast("decimal(16,6)").alias("exchange_rate"),
        (
            F.expr("(2 * _ac * 1000000 + _rate_fp) div (2 * _rate_fp)").cast(
                "decimal(16,0)"
            )
            * F.lit(_decimal.Decimal("0.01"))
        )
        .cast("decimal(12,2)")
        .alias("amount_eur"),
    )


# --------------------------------------------------------------------------
# F12 — JSON extraction; T1 batch analog — time-bucketed event stats
# --------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       SUM(CAST(props->>'$.k' AS INT)) AS sum_k,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
"""


@query("json_extract_props", _JSON_ORACLE)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.countDistinct("user_id").alias("n_users"),
    )


_HOURLY_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS total_value
FROM events
GROUP BY bucket_start
"""


@query("events_hourly_stats", _HOURLY_ORACLE)
def events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation, batch form (the streaming form with
    watermark lives in streaming/events_stream.py over the same table)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").getField("start").alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# P2/P3/F1/F8 — predicates, CASE bucketing, string functions
# --------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice
FROM orders
WHERE o_orderstatus IN ('O', 'F')
  AND o_totalprice BETWEEN 1000 AND 50000
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
"""


@query("filter_composite_predicates", _FILTER_ORACLE)
def filter_composite_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 50000)
        & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_orderstatus", _dec("o_totalprice").alias("totalprice"))


_CASE_ORACLE = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       COUNT(*) AS n_orders
FROM orders
GROUP BY bucket
"""


@query("case_bucket_totalprice", _CASE_ORACLE)
def case_bucket_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_STRING_ORACLE = """
SELECT c_custkey,
       'c' || CAST(c_custkey AS VARCHAR) || '@example.com' AS email,
       UPPER(c_mktsegment) AS segment_upper,
       LENGTH(c_name) AS name_len,
       SUBSTR(c_name, 1, 8) AS name_prefix
FROM customer
"""


@query("string_functions", _STRING_ORACLE)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(F.lit("c"), F.col("c_custkey").cast("string"), F.lit("@example.com")).alias(
            "email"
        ),
        F.upper("c_mktsegment").alias("segment_upper"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
    )


# --------------------------------------------------------------------------
# A2 approx, P7 empty short-circuit, W2 lead, F9-F11 generator
# --------------------------------------------------------------------------

_LEAD_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice,
       LEAD(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price,
       FIRST_VALUE(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
FROM orders
"""


@query("window_lead_first", _LEAD_ORACLE)
def window_lead_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    price = _dec("o_totalprice")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        price.alias("totalprice"),
        F.lead(price).over(w).alias("next_price"),
        F.first(price).over(wf).alias("first_price"),
    )


_EMPTY_ORACLE = """
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'Z'
"""


@query("filter_empty_shortcircuit", _EMPTY_ORACLE)
def filter_empty_shortcircuit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: a predicate matching nothing must flow through cleanly as an
    empty result (the reference early-returns on empty batches,
    reference: dags/order_currency_conversion_dag.py:97-99 — in Spark an
    empty DataFrame is just a plan like any other)."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "Z")
        .select("o_orderkey", "o_orderstatus")
    )


#: 3σ of the requested rsd: the HLL++ estimate must land within ±6% of
#: exact (rsd=0.02) for the driver row to hash-match.
_APPROX_DISTINCT_RSD = 0.02

_APPROX_DISTINCT_ORACLE = """
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       COUNT(*) AS n_orders,
       TRUE AS within_bound
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_approx_distinct", _APPROX_DISTINCT_ORACLE)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 approx: HyperLogLog++ count-distinct per status.

    Cross-engine contract (VERDICT r5 ask #2): the sketch VALUE has no
    DuckDB twin (different HLL implementations), so the query emits the
    exact distinct count plus `within_bound` = does the sketch land
    within 3·rsd of exact; the oracle emits literal TRUE. A drifting
    sketch now hash-mismatches instead of hiding behind rows-only."""
    g = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=_APPROX_DISTINCT_RSD).alias("_a"),
            F.countDistinct("o_custkey").alias("exact_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    ok = (
        F.abs(F.col("_a") - F.col("exact_customers"))
        <= 3 * _APPROX_DISTINCT_RSD * F.col("exact_customers")
    )
    return g.select(
        "o_orderstatus", "exact_customers", "n_orders", ok.alias("within_bound")
    )


def _generate_oracle() -> str:
    from ..operators.generate import generate_orders_oracle_sql

    return generate_orders_oracle_sql(n=5000, seed=42, base_time=dt.datetime(2026, 1, 1))


@query("generate_orders_seeded", _generate_oracle())
def generate_orders_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8-F11: distributed seeded order synthesis (the generator DAG,
    reference dags/order_generator_dag.py:62-71). Every column derives
    from md5(seed:id) slices — partition-invariant, so the same rows
    appear on any rig/parallelism AND the driver gets an exact DuckDB
    oracle (round 1 this was rows-only because seeded F.rand is
    per-partition-seeded)."""
    import datetime as _dt

    from ..operators.generate import generate_orders

    return generate_orders(spark, n=5000, seed=42, base_time=_dt.datetime(2026, 1, 1))

# --------------------------------------------------------------------------
# J4 (forward) — next-revision as-of join, broadcast strategy
# --------------------------------------------------------------------------


def _asof_forward_oracle() -> str:
    from ..sources.rates import currency_alphabet_sql_list

    return f"""
WITH src AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
           o_orderdate AS order_date,
           ({currency_alphabet_sql_list()})[CAST(o_orderkey % 25 AS INT) + 1] AS currency
    FROM orders
),
cand AS (
    SELECT src.order_id, src.currency, src.order_date, rh.rate, rh.rate_date,
           row_number() OVER (PARTITION BY src.order_id
                              ORDER BY rh.rate_date ASC NULLS LAST) AS rn
    FROM src LEFT JOIN {_rates_history_sql()}
      ON src.currency = rh.currency AND rh.rate_date >= src.order_date
)
SELECT order_id, currency, order_date, rate_date AS next_rate_date,
       CAST(rate AS DECIMAL(16,6)) AS next_rate
FROM cand WHERE rn = 1
"""


@query("join_asof_forward_rates", _asof_forward_oracle())
def join_asof_forward_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (smallest rate_date >= order_date): "which
    rate revision will apply NEXT" — the broadcast strategy this time
    (rates history is tiny), so the big side never shuffles. The plain
    row_number oracle avoids any reliance on DuckDB ASOF direction
    semantics."""
    from ..operators.asof import asof_join_broadcast

    orders = _t(spark, sf_dir, "orders")
    src = orders.select(
        F.col("o_orderkey").cast("string").alias("order_id"),
        F.col("o_orderdate").alias("order_date"),
        currency_from_orderkey(F.col("o_orderkey")).alias("currency"),
    )
    rh = catalog.session_memo(
        spark,
        ("__rates_history__", "default", "default"),
        lambda: catalog.local_table(
            spark, rates_history_rows(), "currency string, rate double, rate_date timestamp"
        ),
    )
    joined = asof_join_broadcast(
        src, rh, by="currency", left_on="order_date", right_on="rate_date",
        left_key="order_id", direction="forward",
    )
    return joined.select(
        "order_id",
        "currency",
        "order_date",
        F.col("rate_date").alias("next_rate_date"),
        F.col("rate").cast("decimal(16,6)").alias("next_rate"),
    )

