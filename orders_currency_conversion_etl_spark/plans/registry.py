"""Named query registry — the engine's public query surface.

Every operator from SURVEY.md §2 that is "done" has an entry here:
``QUERIES[name]`` is a callable ``(spark, sf_dir) -> DataFrame`` and
``ORACLES[name]`` is the equivalent ANSI SQL that DuckDB runs over the
same parquet (None for ops SQL genuinely can't express — the driver
then records a weaker rows-only check).

Numeric-parity ground rules (verified empirically, see SURVEY §4.3):
- compared outputs never round() a DOUBLE — always CAST to DECIMAL
  (bit-identical between Spark and DuckDB);
- aggregates over money cast to DECIMAL *before* SUM/AVG so results are
  exact and independent of partition/accumulation order;
- every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.convert import convert_orders, orders_src_from_tpch
from ..sources import catalog
from ..sources.rates import (
    currency_alphabet_sql_list,
    rates_df,
    rates_sql_values,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# ------------------------------------------------------------------
# Cross-engine boundary convention (round-2 fix, see VERDICT.md r1):
# the driver collects the DuckDB oracle through pandas, which renders
# DECIMAL as float64 and SUM(INT) as HUGEINT→float64, while Spark's
# collect keeps scale-preserving decimal.Decimal — so any compared
# DECIMAL column hash-mismatches on trailing zeros even when values
# are identical. Convention: ALL internal arithmetic stays exact
# DECIMAL; every *compared output* column is cast to DOUBLE at the
# final projection on BOTH engines. The Spark side is enforced here
# (every registered query is wrapped); the oracle side is enforced by
# finalized_oracles(), which DESCRIBEs each oracle in DuckDB (bind
# only — nothing executes) and wraps DECIMAL→DOUBLE / HUGEINT→BIGINT
# columns in an outer SELECT. One mechanism, all queries, no drift.
# ------------------------------------------------------------------

#: Parquet dir used only to bind oracle SQL for DESCRIBE (schema is
#: identical across scale factors; nothing is read). Overridable so
#: the entry point keeps working on machines without /root/testdata —
#: point SPARK_GRAFT_SCHEMA_DIR (or SPARK_GRAFT_SF_DIR, the bench's
#: data dir variable) at any directory holding the ten table parquets.
SCHEMA_PROBE_DIR = (
    os.environ.get("SPARK_GRAFT_SCHEMA_DIR")
    or os.environ.get("SPARK_GRAFT_SF_DIR")
    or "/root/testdata/sf0.001"
)

ORACLE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _boundary_cast_type(field_type: T.DataType) -> str | None:
    """Cast-to type string for a compared output column, or None."""
    if isinstance(field_type, T.DecimalType):
        return "double"
    return None


def boundary_cast(df: DataFrame) -> DataFrame:
    """Final projection normalizing the compared boundary.

    Two normalizations, mirrored on the oracle side by
    :func:`_wrap_oracle`:

    - DECIMAL columns → DOUBLE. Internal math stays exact decimal; only
      the compared boundary is float64 (bit-identical with DuckDB's
      cast of the same exact value).
    - ArrayType columns → canonical JSON string (``to_json``). The
      driver canonicalizes compared results through
      ``pandas.sort_values`` over all columns, and a list-valued cell
      is unhashable there (``TypeError: unhashable type: 'list'`` —
      the CORRECTNESS_r04 ``embedding_quantize_int8`` failure). JSON
      text of integral/string arrays is byte-identical across engines;
      fractional element types are cast to DOUBLE first and covered by
      tests/test_registry_boundary.py's cross-engine equality check.

    Returns df unchanged when no decimal/array columns exist, so plans
    of already-flat queries are untouched.
    """
    from pyspark.sql import functions as F

    exprs = []
    changed = False
    for f in df.schema.fields:
        col = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.ArrayType):
            elem = f.dataType.elementType
            if isinstance(elem, (T.DecimalType, T.FloatType)):
                col = col.cast("array<double>")
            exprs.append(F.to_json(col).alias(f.name))
            changed = True
        else:
            to = _boundary_cast_type(f.dataType)
            if to:
                exprs.append(col.cast(to).alias(f.name))
                changed = True
            else:
                exprs.append(col)
    if not changed:
        return df
    return df.select(*exprs)


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _wrap_oracle(sql: str, columns: list[tuple[str, str]]) -> str:
    """Outer SELECT mirroring :func:`boundary_cast` on the DuckDB side:
    DECIMAL→DOUBLE, HUGEINT→BIGINT, and any LIST column → canonical
    JSON text (fractional element types via DOUBLE[] first)."""
    projections = []
    needs_wrap = False
    for name, duck_type in columns:
        ident = _quote_ident(name)
        base = duck_type.upper()
        if base.endswith("[]"):
            inner = ident
            if base.startswith(("DECIMAL", "FLOAT", "REAL")):
                inner = f"CAST({ident} AS DOUBLE[])"
            projections.append(f"CAST(to_json({inner}) AS VARCHAR) AS {ident}")
            needs_wrap = True
        elif base.startswith("DECIMAL"):
            projections.append(f"CAST({ident} AS DOUBLE) AS {ident}")
            needs_wrap = True
        elif base == "HUGEINT":
            projections.append(f"CAST({ident} AS BIGINT) AS {ident}")
            needs_wrap = True
        else:
            projections.append(ident)
    if not needs_wrap:
        return sql
    return "SELECT " + ", ".join(projections) + " FROM (\n" + sql + "\n) __boundary"


_FINAL_ORACLES: dict[str, str] | None = None


def finalized_oracles() -> dict[str, str]:
    """ORACLES with the boundary-cast convention applied (cached)."""
    global _FINAL_ORACLES
    if _FINAL_ORACLES is not None and len(_FINAL_ORACLES) == len(ORACLES):
        return dict(_FINAL_ORACLES)
    import duckdb

    con = duckdb.connect()
    try:
        for t in ORACLE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SCHEMA_PROBE_DIR}/{t}.parquet')"
            )
        out: dict[str, str] = {}
        for name, sql in ORACLES.items():
            cols = [
                (r[0], r[1]) for r in con.execute("DESCRIBE " + sql).fetchall()
            ]
            out[name] = _wrap_oracle(sql, cols)
    finally:
        con.close()
    _FINAL_ORACLES = out
    return dict(out)

#: One batch timestamp for every deterministic run (SURVEY §4.4: one
#: conversion_time per batch; wall-clock is banned).
CONVERSION_TIME = dt.datetime(2026, 1, 1, 0, 0, 0)


def query(name: str, oracle: str | None):
    """Register a named query together with its DuckDB oracle SQL.

    The registered callable is wrapped with :func:`boundary_cast` so no
    query can leak DecimalType into its compared output schema (the
    oracle side gets the mirror treatment in finalized_oracles()).
    """

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return boundary_cast(fn(spark, sf_dir))

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Flagship dataflow (SURVEY §2.1-§2.4: S1, P1-P6, J1, F1-F5)
# --------------------------------------------------------------------------

# The oracle mirrors orders_src_from_tpch + convert_orders exactly:
# derived currency, incremental IS NULL filter (keys with % 10 < 8 are
# unprocessed), broadcast left join, EUR/missing-rate passthrough,
# DOUBLE-division-then-DECIMAL-cast arithmetic.
_FLAGSHIP_ORACLE = f"""
WITH src AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS order_id,
           'c' || CAST(o_custkey AS VARCHAR) || '@example.com' AS customer_email,
           o_orderdate AS order_date,
           CAST(o_totalprice AS DECIMAL(12,2)) AS amount,
           ({currency_alphabet_sql_list()})[CAST(o_orderkey % 25 AS INT) + 1] AS currency
    FROM orders
    WHERE (o_orderkey % 10) < 8
)
SELECT src.order_id,
       src.customer_email,
       src.order_date,
       src.amount AS original_amount,
       src.currency AS original_currency,
       CASE WHEN src.currency = 'EUR' THEN src.amount
            ELSE CAST(CAST(src.amount AS DOUBLE) / COALESCE(rates.rate, 1.0) AS DECIMAL(12,2))
       END AS amount_eur,
       CAST(COALESCE(rates.rate, 1.0) AS DECIMAL(16,6)) AS exchange_rate,
       TIMESTAMP '2026-01-01 00:00:00' AS exchange_rate_date
FROM src LEFT JOIN {rates_sql_values()} ON src.currency = rates.currency
"""


@query("flagship_conversion", _FLAGSHIP_ORACLE)
def flagship_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's entire hourly DAG as one shuffle-free Spark job."""
    src = orders_src_from_tpch(_t(spark, sf_dir, "orders"))
    return convert_orders(src, rates_df(spark), CONVERSION_TIME)


_INCREMENTAL_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders src
WHERE NOT EXISTS (
    SELECT 1 FROM orders snk
    WHERE snk.o_orderkey = src.o_orderkey AND (snk.o_orderkey % 10) >= 8
)
"""


@query("incremental_unprocessed", _INCREMENTAL_ORACLE)
def incremental_unprocessed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op J3: anti-join unprocessed-detection — the Spark-native
    replacement for FOR UPDATE + write-back (SURVEY §7.4). The "sink"
    here is the processed slice of the same table (keys % 10 >= 8)."""
    from pyspark.sql import functions as F

    from ..operators.incremental import unprocessed

    orders = _t(spark, sf_dir, "orders")
    sink = orders.filter(F.col("o_orderkey") % 10 >= 8).select(
        F.col("o_orderkey").alias("order_id")
    )
    src = orders.withColumn("order_id", F.col("o_orderkey"))
    return unprocessed(src, sink, key="order_id").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )


@query("incremental_unprocessed_at_scale", _INCREMENTAL_ORACLE)
def incremental_unprocessed_at_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op J3 with a fact-sized sink: the same semantics and oracle as
    `incremental_unprocessed`, but the sink keyset is never broadcast.
    The SHUFFLE_HASH hint makes a shuffled hash anti-join: both sides
    partition on the key and each task hashes only its sink slice, no
    sort. The hint is binding, so every sink partition must fit in task
    memory; `unprocessed` lets AQE choose from the measured sizes
    instead. tests/test_plan_quality.py pins the plan."""
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders")
    sink = orders.filter(F.col("o_orderkey") % 10 >= 8).select(
        F.col("o_orderkey").alias("order_id")
    )
    src = orders.withColumn("order_id", F.col("o_orderkey"))
    return src.join(sink.hint("shuffle_hash"), "order_id", "left_anti").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
