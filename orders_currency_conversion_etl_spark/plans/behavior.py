"""Behavioral / lifecycle analytics: cohort retention, gap
sessionization, SCD Type 2 history, data-quality expectations,
top-N-per-group, mode/median battery, repurchase intervals, a
grouped-map ``applyInPandas`` z-score, and bitwise aggregates.

The reference ETL (SURVEY §0) has none of these — they are EXT surface
(north star `/root/repo/BASELINE.json:6`), the shapes a user pointing
this engine at event/order history actually runs.

Scale notes (100 TB):
- every window here partitions by a high-cardinality key (user_id /
  o_custkey): one hash shuffle on the key, then per-partition sorts —
  no global sort, no driver state. Skewed users are bounded by the
  per-user event cap of any real logging pipeline. A window cannot be
  split by AQE's skew join (operators/skew.py), so an unbounded hot
  user needs that cap.
- SCD2 runs TWO window functions over the SAME partitioning
  (change-detection, then interval-close). Catalyst reuses the child
  distribution: one shuffle total — asserted in test_plan_quality.
- cohort retention is two aggs over the same shuffle key (user_id),
  then a coarse (cohort_week, offset) agg whose cardinality is tiny
  (weeks², not rows) — the classic "reduce early" shape.
- the data-quality row-local checks are ONE conditional-aggregate scan
  (no per-check pass); only the referential check pays a join, and its
  build side (customer keys) broadcasts.
- the grouped-map z-score ships each group through Arrow once; group
  count = |event_type| (tiny), group size = rows/5 — at 100 TB you'd
  pre-aggregate moments JVM-side instead (documented in SCALE.md), so
  the pandas path is here to exercise the engine surface, not as the
  recommended plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import catalog
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Weekly cohort retention over events
# --------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH act AS (
    SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
    FROM events GROUP BY 1, 2
),
coh AS (
    SELECT user_id, MIN(wk) AS cohort_week FROM act GROUP BY 1
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.wk) / 7 AS INT) AS week_offset,
       COUNT(*) AS active_users
FROM act a JOIN coh c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


@query("cohort_retention_weekly", _COHORT_ORACLE)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users active in week N after their first-seen week.

    Spark ``date_trunc('week')`` and DuckDB agree on Monday week starts;
    the TIMESTAMP-vs-DATE rendering gap is closed by casting to DATE on
    both sides (SURVEY §4.3 family of traps). Both aggs shuffle on
    user_id once; the final rollup is over O(weeks²) groups.
    """
    # a NULL user_id is no user: the oracle's equi-join drops those
    # rows, while the window below would count them as one more user
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    act = (
        ev.select(
            "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
        )
        .distinct()
    )
    # r18 opt: cohort_week as a window-min over act instead of a
    # groupBy + join back — the join form planned act's whole subtree
    # twice (two scans + two distinct exchanges of events, two
    # FileScans in the physical plan) because the two consumers need different partitionings. The
    # window form scans events ONCE; min over (partition by user_id)
    # on date values is exactly the join's MIN(wk) — row-identical
    # (pinned by the oracle, value-exact at sf0.01/sf0.1).
    w = Window.partitionBy("user_id")
    return (
        act.withColumn("cohort_week", F.min("wk").over(w))
        .select(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


# --------------------------------------------------------------------------
# Batch sessionization by inactivity gap (30 min)
# --------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000  # microseconds

_SESSION_ORACLE = f"""
WITH marked AS (
    SELECT user_id, epoch_us(ts) AS t_us,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
                     OR lag(epoch_us(ts)) OVER w IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, t_us,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY t_us
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM marked
),
per_session AS (
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           MAX(t_us) - MIN(t_us) AS dur_us
    FROM sess GROUP BY 1, 2
)
SELECT COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(CAST(n_events AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_events,
       CAST(SUM(CAST(dur_us AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*) / 1e6
           AS avg_duration_sec
FROM per_session
"""


@query("sessionize_gap_summary", _SESSION_ORACLE)
def sessionize_gap_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic lag-gap sessionization: a new session starts after >30
    minutes of user inactivity; report corpus-level session stats.

    The gap test runs on exact integer microseconds (``unix_micros`` /
    ``epoch_us``) so the session boundaries are bit-identical across
    engines. One shuffle on user_id serves both windows (same
    partitioning), then a single-row summary.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("t_us"), "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            (F.col("t_us") - F.lag("t_us").over(w) > _SESSION_GAP_US)
            | F.lag("t_us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("t_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = marked.withColumn("session_seq", F.sum("new_session").over(wrun))
    per_session = sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t_us") - F.min("t_us")).alias("dur_us"),
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        (
            F.sum(F.col("n_events").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_events"),
        (
            F.sum(F.col("dur_us").cast("decimal(38,2)")).cast("double")
            / F.count(F.lit(1))
            / F.lit(1e6)
        ).alias("avg_duration_sec"),
    )


# --------------------------------------------------------------------------
# SCD Type 2: order-priority history per customer
# --------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH ordered AS (
    SELECT o_custkey, o_orderkey, o_orderpriority,
           CAST(o_orderdate AS DATE) AS odate,
           lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS prev_p
    FROM orders
),
changes AS (
    SELECT o_custkey, o_orderkey, o_orderpriority, odate
    FROM ordered WHERE prev_p IS NULL OR prev_p <> o_orderpriority
)
SELECT o_custkey,
       CAST(row_number() OVER w AS INT) AS version,
       o_orderpriority,
       odate AS valid_from,
       lead(odate) OVER w AS valid_to
FROM changes
WINDOW w AS (PARTITION BY o_custkey ORDER BY odate, o_orderkey)
"""


@query("scd2_priority_history", _SCD2_ORACLE)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: collapse each customer's
    order stream into priority "versions" with [valid_from, valid_to)
    intervals (valid_to NULL = current).

    Change-detection (lag) and interval-close (lead/row_number) are two
    window passes over the SAME o_custkey partitioning — Catalyst plans
    one shuffle. Deterministic under ties via the o_orderkey tiebreak.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    changes = (
        o.withColumn("prev_p", F.lag("o_orderpriority").over(w))
        .filter(F.col("prev_p").isNull() | (F.col("prev_p") != F.col("o_orderpriority")))
        .drop("prev_p")
    )
    return changes.select(
        "o_custkey",
        F.row_number().over(w).cast("int").alias("version"),
        "o_orderpriority",
        F.col("odate").alias("valid_from"),
        F.lead("odate").over(w).alias("valid_to"),
    )


# --------------------------------------------------------------------------
# Data-quality expectations report over orders
# --------------------------------------------------------------------------

_DQ_ORACLE = """
WITH rowlocal AS (
    SELECT COUNT(*) AS checked,
           SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_orderdate,
           SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END)
               AS price_out_of_range,
           COUNT(*) - COUNT(DISTINCT o_orderkey) AS duplicate_orderkey
    FROM orders
),
ref AS (
    SELECT COUNT(*) AS dangling_custkey
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
SELECT 'null_orderdate' AS check_name,
       CAST(null_orderdate AS BIGINT) AS violations,
       CAST(checked AS BIGINT) AS checked FROM rowlocal
UNION ALL
SELECT 'price_out_of_range', CAST(price_out_of_range AS BIGINT),
       CAST(checked AS BIGINT) FROM rowlocal
UNION ALL
SELECT 'duplicate_orderkey', CAST(duplicate_orderkey AS BIGINT),
       CAST(checked AS BIGINT) FROM rowlocal
UNION ALL
SELECT 'dangling_custkey', CAST(dangling_custkey AS BIGINT),
       (SELECT CAST(checked AS BIGINT) FROM rowlocal) FROM ref
"""


@query("dq_expectations_orders", _DQ_ORACLE)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality report: each row is one check
    with its violation count — the contract a pipeline asserts before
    publishing a table.

    All row-local checks share ONE conditional-aggregate scan; only the
    referential check joins (left-anti against customer keys, which
    broadcasts). A 100 TB run costs one pass over the fact table plus a
    broadcast — no per-check rescans.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    rowlocal = o.agg(
        F.count(F.lit(1)).alias("checked"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias(
            "null_orderdate"
        ),
        F.sum(
            F.when(
                (F.col("o_totalprice") <= 0) | (F.col("o_totalprice") > 1_000_000), 1
            ).otherwise(0)
        ).alias("price_out_of_range"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "duplicate_orderkey"
        ),
    )
    dangling = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("dangling_custkey"))
    )
    wide = rowlocal.crossJoin(dangling)
    return wide.selectExpr(
        """stack(4,
             'null_orderdate', CAST(null_orderdate AS BIGINT),
             'price_out_of_range', CAST(price_out_of_range AS BIGINT),
             'duplicate_orderkey', CAST(duplicate_orderkey AS BIGINT),
             'dangling_custkey', CAST(dangling_custkey AS BIGINT)
           ) AS (check_name, violations)""",
        "CAST(checked AS BIGINT) AS checked",
    )


# --------------------------------------------------------------------------
# Top-3 orders per customer (top-N-per-group)
# --------------------------------------------------------------------------

_TOP3_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(o_totalprice AS DECIMAL(18,2)) AS totalprice,
       CAST(rn AS INT) AS rn
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) WHERE rn <= 3
"""


@query("window_top3_per_customer", _TOP3_ORACLE)
def window_top3_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N-per-group via ranking window — the general form of
    window_latest_order_per_customer (N=1).

    At scale this is the shape AQE cannot save you from if you wrote it
    as a self-join with a max-subquery; the window form is one shuffle
    and streams each partition once.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)").alias("totalprice"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# --------------------------------------------------------------------------
# Mode / median battery per order priority
# --------------------------------------------------------------------------

_MODE_MEDIAN_ORACLE = """
WITH stats AS (
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(median(o_totalprice) AS DECIMAL(18,3)) AS median_price
    FROM orders GROUP BY 1
),
status_counts AS (
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
    FROM orders GROUP BY 1, 2
),
modal AS (
    SELECT o_orderpriority, o_orderstatus AS modal_status
    FROM (
        SELECT o_orderpriority, o_orderstatus,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY cnt DESC, o_orderstatus) AS rn
        FROM status_counts
    ) WHERE rn = 1
)
SELECT s.o_orderpriority, s.n, s.median_price, m.modal_status
FROM stats s JOIN modal m USING (o_orderpriority)
"""


@query("agg_mode_median", _MODE_MEDIAN_ORACLE)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median plus a DETERMINISTIC mode per group.

    Native ``mode()`` breaks ties arbitrarily in both engines, so the
    mode is spelled as count + row_number with a lexicographic
    tiebreak — same answer everywhere. Median interpolates the two
    middle doubles identically on both engines; DECIMAL(18,3) holds the
    midpoint of 2-decimal prices exactly (SURVEY §4.3 discipline).
    """
    o = _t(spark, sf_dir, "orders")
    stats = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.median("o_totalprice").cast("decimal(18,3)").alias("median_price"),
    )
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wr = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("cnt"), F.asc("o_orderstatus")
    )
    modal = (
        counts.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("modal_status"))
    )
    return stats.join(modal, "o_orderpriority").select(
        "o_orderpriority", "n", "median_price", "modal_status"
    )


# --------------------------------------------------------------------------
# Repurchase intervals: days between consecutive orders
# --------------------------------------------------------------------------

_REORDER_ORACLE = """
WITH gaps AS (
    SELECT o_orderpriority,
           date_diff('day',
                     lag(CAST(o_orderdate AS DATE)) OVER (
                         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                     CAST(o_orderdate AS DATE)) AS gap_days
    FROM orders
)
SELECT o_orderpriority,
       COUNT(gap_days) AS n_gaps,
       CAST(SUM(CAST(gap_days AS DECIMAL(18,2))) AS DOUBLE) / COUNT(gap_days)
           AS avg_gap_days,
       CAST(MAX(gap_days) AS INT) AS max_gap_days
FROM gaps WHERE gap_days IS NOT NULL
GROUP BY 1
"""


@query("reorder_interval_by_priority", _REORDER_ORACLE)
def reorder_interval_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average days between a customer's consecutive orders, grouped by
    the later order's priority — integer date math end-to-end, so the
    only double is the final exact-sum ÷ count division.
    """
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        _t(spark, sf_dir, "orders")
        .withColumn("odate", F.col("o_orderdate").cast("date"))
        .withColumn("gap_days", F.datediff(F.col("odate"), F.lag("odate").over(w)))
        .filter(F.col("gap_days").isNotNull())
    )
    return gaps.groupBy("o_orderpriority").agg(
        F.count("gap_days").alias("n_gaps"),
        (
            F.sum(F.col("gap_days").cast("decimal(18,2)")).cast("double")
            / F.count("gap_days")
        ).alias("avg_gap_days"),
        F.max("gap_days").cast("int").alias("max_gap_days"),
    )


# --------------------------------------------------------------------------
# Grouped-map applyInPandas: per-event-type z-score outlier counts
# --------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH s AS (
    SELECT event_type, value,
           avg(value) OVER (PARTITION BY event_type) AS m,
           stddev_samp(value) OVER (PARTITION BY event_type) AS sd
    FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN abs((value - m) / sd) > 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers
FROM s GROUP BY 1
"""


@query("grouped_zscore_pandas", _ZSCORE_ORACLE)
def grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's grouped-map surface: ``groupBy().applyInPandas``
    ships each event_type group through Arrow to a pandas function that
    z-scores ``value`` and counts |z| > 2 outliers.

    pandas ``std(ddof=1)`` matches SQL ``stddev_samp``; the comparison
    threshold sits far from any attainable floating-point tie. At
    100 TB you would compute (n, Σx, Σx²) JVM-side instead of shipping
    raw rows through Arrow — see SCALE.md; this query exists to keep
    the grouped-map API surface tested.
    """

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        m = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        z = (pdf["value"] - m) / sd
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "n_outliers": [int((z.abs() > 2).sum())],
            }
        )

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    return ev.groupBy("event_type").applyInPandas(
        summarize, schema="event_type string, n bigint, n_outliers bigint"
    )


# --------------------------------------------------------------------------
# Bitwise aggregate battery
# --------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT o_orderstatus,
       CAST(bit_and(o_orderkey) AS BIGINT) AS key_bit_and,
       CAST(bit_or(o_orderkey) AS BIGINT) AS key_bit_or,
       CAST(bit_xor(o_orderkey) AS BIGINT) AS key_bit_xor,
       COUNT(*) AS n
FROM orders GROUP BY 1
"""


@query("agg_bitwise_battery", _BITWISE_ORACLE)
def agg_bitwise_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and / bit_or / bit_xor aggregates — exact integer ops, fully
    commutative-associative, so they partial-aggregate map-side like
    sum/count (no extra shuffle cost at any scale)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.bit_and("o_orderkey").cast("bigint").alias("key_bit_and"),
            F.bit_or("o_orderkey").cast("bigint").alias("key_bit_or"),
            F.bit_xor("o_orderkey").cast("bigint").alias("key_bit_xor"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --------------------------------------------------------------------------
# RFM customer segmentation (quartile scores)
# --------------------------------------------------------------------------

_RFM_ORACLE = """
WITH cust AS (
    SELECT o_custkey,
           MAX(CAST(o_orderdate AS DATE)) AS last_order,
           COUNT(*) AS freq,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
    FROM orders GROUP BY 1
),
scored AS (
    SELECT o_custkey, monetary,
           ntile(4) OVER (ORDER BY last_order, o_custkey) AS r_q,
           ntile(4) OVER (ORDER BY freq, o_custkey)       AS f_q,
           ntile(4) OVER (ORDER BY monetary, o_custkey)   AS m_q
    FROM cust
)
SELECT CAST(r_q AS INT) AS r_q, CAST(f_q AS INT) AS f_q, CAST(m_q AS INT) AS m_q,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary) AS DECIMAL(38,2)) AS segment_revenue
FROM scored GROUP BY 1, 2, 3
"""


@query("rfm_segmentation", _RFM_ORACLE)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/Frequency/Monetary quartile segmentation — at most 4³
    output segments with customer counts and revenue.

    ntile needs a GLOBAL order, so this exact form single-partitions
    the per-customer rollup (fine: one row per customer, not per
    order). The 100 TB variant replaces ntile with approx_percentile
    quartile cutoffs broadcast back as a range predicate — documented
    in SCALE.md; tiebreaks (metric, custkey) make ntile deterministic
    here.
    """
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    scored = cust.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(Window.orderBy("last_order", "o_custkey")).cast("int").alias("r_q"),
        F.ntile(4).over(Window.orderBy("freq", "o_custkey")).cast("int").alias("f_q"),
        F.ntile(4).over(Window.orderBy("monetary", "o_custkey")).cast("int").alias("m_q"),
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("monetary").cast("decimal(38,2)").alias("segment_revenue"),
    )


# --------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs ordered together
# --------------------------------------------------------------------------

_COOCCUR_ORACLE = """
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@query("part_cooccurrence_topk", _COOCCUR_ORACLE)
def part_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence counting (market-basket / co-click matrices): the
    self-join on the basket key explodes quadratically in basket SIZE,
    not table size — baskets are bounded (≤7 lines/order here), so the
    pair stream is a constant factor over lineitem. One shuffle on
    l_orderkey feeds both join sides; top-20 is TakeOrderedAndProject.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.alias("a")
    b = li.select(
        F.col("l_orderkey").alias("b_orderkey"), F.col("l_partkey").alias("b_partkey")
    )
    return (
        a.join(
            b,
            (F.col("l_orderkey") == F.col("b_orderkey"))
            & (F.col("l_partkey") < F.col("b_partkey")),
        )
        .select(F.col("l_partkey").alias("part_a"), F.col("b_partkey").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Fixed-width histogram over events.value
# --------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT CAST(floor(value / 50) * 50 AS INT) AS bin_lo,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS bin_sum,
       CAST(MIN(value) AS DECIMAL(18,2)) AS bin_min,
       CAST(MAX(value) AS DECIMAL(18,2)) AS bin_max
FROM events
GROUP BY 1
"""


@query("histogram_value_bins", _HISTOGRAM_ORACLE)
def histogram_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: floor-division binning is a pure per-row
    expression (shuffle only on ~10 bin keys after map-side combine) —
    the scalable alternative to sort-based quantile binning."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.floor(F.col("value") / 50) * 50).cast("int").alias("bin_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("decimal(38,2)").alias("bin_sum"),
            F.min("value").cast("decimal(18,2)").alias("bin_min"),
            F.max("value").cast("decimal(18,2)").alias("bin_max"),
        )
    )


# --------------------------------------------------------------------------
# Rolling active users: DAU and trailing-7-day WAU
# --------------------------------------------------------------------------

_DAU_WAU_ORACLE = """
WITH daily AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
),
days AS (
    SELECT DISTINCT d FROM daily
)
SELECT s.d,
       COUNT(DISTINCT CASE WHEN a.d = s.d THEN a.user_id END) AS dau,
       COUNT(DISTINCT a.user_id) AS wau
FROM days s JOIN daily a ON a.d BETWEEN s.d - 6 AND s.d
GROUP BY s.d
"""


@query("dau_wau_rolling", _DAU_WAU_ORACLE)
def dau_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day distinct active users.

    Rolling COUNT(DISTINCT) cannot be a window frame (distinct doesn't
    decompose), so the engine reduces events to the (day, user) level
    FIRST — collapsing the fact table by orders of magnitude — then
    range-joins the tiny day spine (broadcast) against it. The expand
    factor is exactly 7, applied to the reduced table, never the raw
    events.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.select(F.col("ts").cast("date").alias("d"), "user_id").distinct()
    days = daily.select("d").distinct().select(F.col("d").alias("spine_d"))
    joined = daily.join(
        F.broadcast(days),
        (F.col("d") >= F.date_sub(F.col("spine_d"), 6))
        & (F.col("d") <= F.col("spine_d")),
    )
    return (
        joined.groupBy("spine_d")
        .agg(
            F.countDistinct(
                F.when(F.col("d") == F.col("spine_d"), F.col("user_id"))
            ).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
        )
        .select(F.col("spine_d").alias("d"), "dau", "wau")
    )


# --------------------------------------------------------------------------
# Multi-granularity time rollup (hypertable-style continuous aggregate)
# --------------------------------------------------------------------------

_TIME_ROLLUP_ORACLE = """
WITH src AS (
    SELECT date_trunc('hour', ts) AS hour_b,
           CAST(date_trunc('day', ts) AS DATE) AS day_b,
           CAST(date_trunc('week', ts) AS DATE) AS week_b,
           value
    FROM events
)
SELECT CASE WHEN hour_b IS NOT NULL THEN 'hour'
            WHEN day_b IS NOT NULL THEN 'day'
            ELSE 'week' END AS grain,
       hour_b, day_b, week_b,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_value
FROM src
GROUP BY GROUPING SETS ((hour_b), (day_b), (week_b))
"""


@query("events_time_rollup_sets", _TIME_ROLLUP_ORACLE)
def events_time_rollup_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour/day/week continuous-aggregate rollup in ONE pass via
    GROUPING SETS (the hypertable-rollup shape, expressed through the
    engine's SQL surface).

    GROUPING SETS compiles to a single Expand + aggregate: the scan
    runs once and each input row feeds all three grains before the
    map-side partial agg — strictly cheaper at scale than three
    separate jobs, and the per-grain group counts are bounded by the
    time range, not the row count.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour_b"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("day_b"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_b"),
        "value",
    )
    ev.createOrReplaceTempView("events_time_rollup_src")
    return ev.sparkSession.sql(
        """
        SELECT CASE WHEN hour_b IS NOT NULL THEN 'hour'
                    WHEN day_b IS NOT NULL THEN 'day'
                    ELSE 'week' END AS grain,
               hour_b, day_b, week_b,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_value
        FROM events_time_rollup_src
        GROUP BY GROUPING SETS ((hour_b), (day_b), (week_b))
        """
    )


# --------------------------------------------------------------------------
# Event-type transition matrix (per-user bigrams)
# --------------------------------------------------------------------------

_TRANSITION_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type, COUNT(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


@query("event_transition_matrix", _TRANSITION_ORACLE)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive events per user —
    the bigram statistic sequence models train on. One shuffle on
    user_id for the lag window, then a tiny |types|² aggregation."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        _t(spark, sf_dir, "events")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    return (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Shipping lead time distribution per priority
# --------------------------------------------------------------------------

_LEADTIME_ORACLE = """
SELECT o.o_orderpriority,
       date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
           AS leadtime_days,
       COUNT(*) AS n
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1, 2
"""


@query("shipping_leadtime_histogram", _LEADTIME_ORACLE)
def shipping_leadtime_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead time distribution: fact-to-fact join on
    orderkey, integer date math, histogram grouped by (priority, days)
    — output bounded by priorities × max-leadtime, not row count."""
    l = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderpriority",
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("leadtime_days"),
        )
        .groupBy("o_orderpriority", "leadtime_days")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Percent-of-total via window over groups: supplier share of nation revenue
# --------------------------------------------------------------------------

_SUPPLIER_SHARE_ORACLE = """
WITH rev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           SUM(CAST(l.l_extendedprice * (CAST(1.0 AS DOUBLE) - l.l_discount)
                    AS DECIMAL(18,4))) AS supp_rev
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
)
SELECT n.n_name, l_suppkey,
       CAST(supp_rev AS DECIMAL(38,4)) AS supp_rev,
       CAST(CAST(supp_rev AS DOUBLE)
            / CAST(SUM(supp_rev) OVER (PARTITION BY s_nationkey) AS DOUBLE)
            AS DECIMAL(18,8)) AS nation_share
FROM rev JOIN nation n ON rev.s_nationkey = n.n_nationkey
"""


@query("supplier_share_of_nation", _SUPPLIER_SHARE_ORACLE)
def supplier_share_of_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total without a self-join: the denominator is a
    window SUM over the already-aggregated (nation, supplier) rollup,
    so the second pass touches |suppliers| rows, never lineitem. Both
    numerator and denominator are exact decimal sums; only the final
    ratio is a double (then pinned to DECIMAL for the compare)."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        .cast("decimal(18,4)")
        .alias("rev"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        l.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum("rev").alias("supp_rev"))
    )
    w = Window.partitionBy("s_nationkey")
    return (
        rev.withColumn(
            "nation_share",
            (
                F.col("supp_rev").cast("double")
                / F.sum("supp_rev").over(w).cast("double")
            ).cast("decimal(18,8)"),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name",
            "l_suppkey",
            F.col("supp_rev").cast("decimal(38,4)").alias("supp_rev"),
            "nation_share",
        )
    )


# --------------------------------------------------------------------------
# Incremental rollup maintenance (merge partial aggregates)
# --------------------------------------------------------------------------

_INCR_ROLLUP_ORACLE = """
SELECT o_orderpriority,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_b,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
FROM orders
GROUP BY 1, 2
"""


@query("incremental_rollup_merge", _INCR_ROLLUP_ORACLE)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the monthly revenue rollup is NOT
    recomputed from scratch — an existing rollup (orders before
    1997-01-01) is merged with the new increment's partial aggregate
    (orders from 1997 on) by summing the decomposable measures.

    The oracle is the full recompute: merged increments must equal it
    exactly (count and decimal-sum are commutative monoids). At 100 TB
    this is the difference between scanning 1 day and scanning 7
    years; correctness holds for any split point by construction.
    """
    cutoff = F.lit("1997-01-01").cast("timestamp")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        "o_totalprice",
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_b"),
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
        )

    existing = rollup(o.filter(F.col("o_orderdate") < cutoff))
    increment = rollup(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        existing.unionByName(increment)
        .groupBy("o_orderpriority", "month_b")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue").cast("decimal(38,2)").alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks per user
# --------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH daily AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
anchored AS (
    SELECT user_id, d,
           date_diff('day', DATE '2024-01-01', d)
             - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
    FROM daily
),
streaks AS (
    SELECT user_id, island, COUNT(*) AS streak_days
    FROM anchored GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_streaks,
       CAST(MAX(streak_days) AS INT) AS max_streak_days,
       CAST(SUM(streak_days) AS BIGINT) AS active_days
FROM streaks GROUP BY 1
"""


@query("activity_streaks", _STREAKS_ORACLE)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: a streak is a maximal run of consecutive
    active days; ``day_number - row_number`` is constant within a run.
    Pure integer date math (no timestamps compared), one shuffle on
    user_id shared by the window and both aggregations."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    anchored = daily.withColumn(
        "island",
        F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = anchored.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days")
    )
    return streaks.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_days").cast("int").alias("max_streak_days"),
        F.sum("streak_days").cast("bigint").alias("active_days"),
    )


# --------------------------------------------------------------------------
# Robust anomaly detection: median absolute deviation per event type
# --------------------------------------------------------------------------

#: 3 x the Gaussian consistency constant, materialized ONCE in Python so
#: both engines compare against the identical double (a bare `3 * 1.4826`
#: is DECIMAL arithmetic in DuckDB but binary double in Spark - 1 ulp apart).
_MAD_K = 3 * 1.4826

_MAD_ORACLE = """
WITH med AS (
    SELECT event_type, median(value) AS med FROM events GROUP BY 1
),
dev AS (
    SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       COUNT(*) AS n,
       CAST(MIN(d.med) AS DECIMAL(18,4)) AS median_value,
       CAST(MIN(m.mad) AS DECIMAL(18,4)) AS mad,
       CAST(SUM(CASE WHEN d.adev > CAST(4.4478 AS DOUBLE) * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY 1
"""


@query("events_anomaly_mad", _MAD_ORACLE)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via Median-Absolute-Deviation (3σ-equivalent
    scale factor 1.4826) — the estimator that survives the outliers a
    mean/stddev z-score is distorted by.

    Two exact-median passes; the per-group medians (|event_type| rows)
    broadcast back onto the fact both times, so the fact table never
    shuffles — only the grouped median aggregation does.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    j = dev.join(F.broadcast(mad), "event_type")
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("med").cast("decimal(18,4)").alias("median_value"),
        F.min("mad").cast("decimal(18,4)").alias("mad"),
        F.sum(
            F.when(F.col("adev") > F.lit(_MAD_K) * F.col("mad"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


# --------------------------------------------------------------------------
# Fixed-quota deterministic sample: exactly k rows per stratum
# --------------------------------------------------------------------------

_QUOTA_SAMPLE_ORACLE = """
SELECT o_orderstatus, o_orderkey, CAST(rn AS INT) AS rn
FROM (
    SELECT o_orderstatus, o_orderkey,
           row_number() OVER (PARTITION BY o_orderstatus
                              ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey)
               AS rn
    FROM orders
) WHERE rn <= 100
"""


@query("sample_fixed_k_per_group", _QUOTA_SAMPLE_ORACLE)
def sample_fixed_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling: rank rows inside each stratum by
    the md5 of their key and keep the first 100.

    Unlike fraction sampling (sample_stratified_hash) this guarantees
    the quota exactly, stays deterministic across engines, retries and
    partitionings, and needs only the one window shuffle on the
    stratum key. The md5 order is uniform in expectation, so the quota
    is an unbiased uniform subsample of each group.
    """
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.md5(F.col("o_orderkey").cast("string")), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("o_orderstatus", "o_orderkey", F.col("rn").cast("int").alias("rn"))
    )


# --------------------------------------------------------------------------
# Year-over-year monthly revenue (period-over-period on the rollup)
# --------------------------------------------------------------------------

_YOY_ORACLE = """
WITH monthly AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_b,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
    FROM orders GROUP BY 1
)
SELECT month_b, revenue,
       CAST(revenue - lag(revenue, 12) OVER (ORDER BY month_b) AS DECIMAL(38,2))
           AS yoy_delta,
       CAST(CAST(revenue - lag(revenue, 12) OVER (ORDER BY month_b) AS DOUBLE)
            / CAST(lag(revenue, 12) OVER (ORDER BY month_b) AS DOUBLE)
            AS DECIMAL(18,8)) AS yoy_pct
FROM monthly
"""


@query("monthly_revenue_yoy", _YOY_ORACLE)
def monthly_revenue_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth on the monthly revenue series: lag(12)
    over the AGGREGATED rollup, so the unpartitioned window sees
    |months| rows (decades fit in one task), never the fact table.
    Exact decimal sums feed the comparison; only the growth ratio is a
    double, pinned to DECIMAL for the compare."""
    monthly = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_b")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month_b")
    lag12 = F.lag("revenue", 12).over(w)
    return monthly.select(
        "month_b",
        "revenue",
        (F.col("revenue") - lag12).cast("decimal(38,2)").alias("yoy_delta"),
        (
            (F.col("revenue") - lag12).cast("double") / lag12.cast("double")
        )
        .cast("decimal(18,8)")
        .alias("yoy_pct"),
    )


# --------------------------------------------------------------------------
# Hourly error-rate time series
# --------------------------------------------------------------------------

_ERROR_RATE_ORACLE = """
SELECT date_trunc('hour', ts) AS hour_b,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors,
       CAST(CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*) AS DECIMAL(18,8)) AS error_rate
FROM events
GROUP BY 1
"""


@query("events_error_rate_hourly", _ERROR_RATE_ORACLE)
def events_error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monitoring staple: conditional-count ratio per hour bucket in a
    single conditional-aggregate pass (no per-class sub-queries);
    integer counts stay exact, the ratio is the only double."""
    ev = _t(spark, sf_dir, "events")
    n_err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_b"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            n_err.cast("bigint").alias("n_errors"),
            (n_err.cast("double") / F.count(F.lit(1)))
            .cast("decimal(18,8)")
            .alias("error_rate"),
        )
    )


# --------------------------------------------------------------------------
# Snapshot diff (CDC): inserts / deletes / updates between versions
# --------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
    SELECT o_orderkey, o_orderstatus FROM orders WHERE (o_orderkey % 10) < 8
),
new AS (
    SELECT o_orderkey,
           CASE WHEN (o_orderkey % 7) = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus
    FROM orders WHERE (o_orderkey % 10) > 1
)
SELECT CASE WHEN old.o_orderkey IS NULL THEN 'insert'
            WHEN new.o_orderkey IS NULL THEN 'delete'
            WHEN old.o_orderstatus <> new.o_orderstatus THEN 'update'
            ELSE 'unchanged' END AS change_type,
       COUNT(*) AS n
FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
GROUP BY 1
"""


@query("snapshot_diff_cdc", _SNAPSHOT_DIFF_ORACLE)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: a full outer
    join on the key classifies every row as insert / delete / update /
    unchanged. The two "versions" are deterministic slices of orders
    (keys %10<8 vs %10>1, with every 7th key's status rewritten) so the
    diff exercises all four classes.

    One co-partitioned shuffle join on the key; at 100 TB both sides
    would be bucketed/partition-pruned on the same key so the diff
    reads only changed partitions (the sinks module provides both
    layouts)."""
    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 10 < 8).select(
        F.col("o_orderkey").alias("old_key"), F.col("o_orderstatus").alias("old_st")
    )
    new = (
        o.filter(F.col("o_orderkey") % 10 > 1)
        .select(
            F.col("o_orderkey").alias("new_key"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("new_st"),
        )
    )
    diff = old.join(new, F.col("old_key") == F.col("new_key"), "full_outer")
    return (
        diff.select(
            F.when(F.col("old_key").isNull(), "insert")
            .when(F.col("new_key").isNull(), "delete")
            .when(F.col("old_st") != F.col("new_st"), "update")
            .otherwise("unchanged")
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Point-in-time lookup against the SCD2 dimension (temporal table query)
# --------------------------------------------------------------------------

_PIT_DATE = "1996-06-15"

_PIT_ORACLE = f"""
WITH ordered AS (
    SELECT o_custkey, o_orderkey, o_orderpriority,
           CAST(o_orderdate AS DATE) AS odate,
           lag(o_orderpriority) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS prev_p
    FROM orders
),
changes AS (
    SELECT o_custkey, o_orderkey, o_orderpriority, odate
    FROM ordered WHERE prev_p IS NULL OR prev_p <> o_orderpriority
),
hist AS (
    SELECT o_custkey, o_orderpriority,
           odate AS valid_from,
           lead(odate) OVER (PARTITION BY o_custkey
                             ORDER BY odate, o_orderkey) AS valid_to
    FROM changes
)
SELECT o_custkey, o_orderpriority AS priority_at_date, valid_from
FROM hist
WHERE valid_from <= DATE '{_PIT_DATE}'
  AND (valid_to IS NULL OR valid_to > DATE '{_PIT_DATE}')
"""


@query("scd2_pointintime_lookup", _PIT_ORACLE)
def scd2_pointintime_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-table query: which priority version was current for
    each customer on a given date — the read side of the SCD2 build
    (scd2_priority_history). The interval predicate selects at most
    one version per customer, turning history into a point-in-time
    dimension snapshot without any join back to the fact table."""
    pit = F.lit(_PIT_DATE).cast("date")
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("odate"),
    )
    w = Window.partitionBy("o_custkey").orderBy("odate", "o_orderkey")
    changes = (
        o.withColumn("prev_p", F.lag("o_orderpriority").over(w))
        .filter(F.col("prev_p").isNull() | (F.col("prev_p") != F.col("o_orderpriority")))
        .drop("prev_p")
    )
    hist = changes.select(
        "o_custkey",
        "o_orderpriority",
        F.col("odate").alias("valid_from"),
        F.lead("odate").over(w).alias("valid_to"),
    )
    return hist.filter(
        (F.col("valid_from") <= pit)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > pit))
    ).select(
        "o_custkey",
        F.col("o_orderpriority").alias("priority_at_date"),
        "valid_from",
    )
