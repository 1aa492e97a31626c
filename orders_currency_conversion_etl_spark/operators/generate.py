"""Seeded order synthesis (the reference's generator DAG, Spark-native).

Mirrors reference: dags/order_generator_dag.py:62-71 — n random orders
with UUID ids, synthetic emails, a random recent order_date, a uniform
amount in [10, 1000), and a random currency — but fully deterministic
(SURVEY §7.3): every column is derived from ``md5(seed:id)`` hex
slices, never ``F.rand``. Seeded ``F.rand`` is only *rig*-deterministic
— Spark seeds it per partition index, so output changes with
``spark.range``'s partition count (driver core count / parallelism).
md5 derivation is partition-invariant AND portable to DuckDB, which
upgrades the driver's check for ``generate_orders_seeded`` from
rows-only to an exact value-hash oracle.

Distributed by construction: ``spark.range(n)`` partitions the id space
across executors; no driver-side loop, no data movement at any size.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_fn import hex_to_long_sql
from ..sources.rates import CURRENCY_ALPHABET

WEEK_SECS = 7 * 86400


def _uuid_like(h: Column) -> Column:
    """UUID-format string from an md5 hex column, laid out 8-4-4-4-12.
    Replaces ``uuid.uuid4()`` (reference: dags/order_generator_dag.py:66)
    for reproducible golden tests."""
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )


def _hash_slice(h: Column, start: int) -> Column:
    """32-bit uniform integer from 8 hex chars of an md5 column."""
    return F.conv(F.substring(h, start, 8), 16, 10).cast("bigint")


def generate_orders(
    spark: SparkSession,
    n: int = 5000,
    seed: int = 42,
    base_time: dt.datetime = dt.datetime(2026, 1, 1),
    currencies: tuple[str, ...] = CURRENCY_ALPHABET,
) -> DataFrame:
    """n synthetic source orders in the FIXTURES.md A1 shape.

    Column derivations (each an independent 32-bit md5 slice, mod'd to
    its domain) are mirrored 1:1 by :func:`generate_orders_oracle_sql`.
    """
    base = spark.range(n)  # partitioned id space, no driver materialization
    h1 = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string")))
    h2 = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string"), F.lit("b")))
    # the id gets its own md5 input, so it is unique per (seed, id) and
    # uncorrelated with the h1/h2 slices behind email, date and amount
    hu = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("id").cast("string"), F.lit("u")))
    letter_idx = (_hash_slice(h1, 1) % 26 + 1).cast("int")
    digits = _hash_slice(h1, 9) % 9000 + 1000
    age_secs = _hash_slice(h1, 17) % WEEK_SECS
    cents = _hash_slice(h1, 25) % 99000 + 1000
    cur_idx = (_hash_slice(h2, 1) % len(currencies) + 1).cast("int")
    return base.select(
        _uuid_like(hu).alias("order_id"),
        # email f"{letter}{digits}@example.com" (reference: order_generator_dag.py:67)
        F.concat(
            F.substring(F.lit("abcdefghijklmnopqrstuvwxyz"), letter_idx, 1),
            digits.cast("string"),
            F.lit("@example.com"),
        ).alias("customer_email"),
        # order_date within [base_time - 7d, base_time) (reference: :68)
        (
            F.lit(base_time).cast("timestamp") - F.make_interval(secs=age_secs)
        ).alias("order_date"),
        # uniform cents in [10.00, 1000.00) (reference: :69); exact division
        (cents.cast("decimal(12,2)") / 100).cast("decimal(12,2)").alias("amount"),
        F.element_at(F.array(*[F.lit(c) for c in currencies]), cur_idx).alias("currency"),
        F.lit(base_time).cast("timestamp").alias("created_at"),
        F.lit(None).cast("timestamp").alias("processed_at"),
    )


def generate_orders_oracle_sql(
    n: int = 5000,
    seed: int = 42,
    base_time: dt.datetime = dt.datetime(2026, 1, 1),
    currencies: tuple[str, ...] = CURRENCY_ALPHABET,
) -> str:
    """DuckDB SQL producing generate_orders' rows exactly (same md5
    slices, same mods), making the generator driver-oracle-able."""
    ts = base_time.strftime("%Y-%m-%d %H:%M:%S")
    cur_list = "[" + ", ".join(f"'{c}'" for c in currencies) + "]"
    return f"""
WITH ids AS (
    SELECT CAST(range AS BIGINT) AS id FROM range({n})
), hashed AS (
    SELECT id,
           md5('{seed}' || ':' || CAST(id AS VARCHAR) || ':' || 'u') AS hu,
           md5('{seed}' || ':' || CAST(id AS VARCHAR)) AS h1,
           md5('{seed}' || ':' || CAST(id AS VARCHAR) || ':' || 'b') AS h2
    FROM ids
)
SELECT concat_ws('-', substr(hu,1,8), substr(hu,9,4), substr(hu,13,4),
                 substr(hu,17,4), substr(hu,21,12)) AS order_id,
       substr('abcdefghijklmnopqrstuvwxyz',
              CAST({hex_to_long_sql('substr(h1,1,8)')} % 26 + 1 AS INT), 1)
         || CAST({hex_to_long_sql('substr(h1,9,8)')} % 9000 + 1000 AS VARCHAR)
         || '@example.com' AS customer_email,
       TIMESTAMP '{ts}'
         - ({hex_to_long_sql('substr(h1,17,8)')} % {WEEK_SECS}) * INTERVAL '1 second'
         AS order_date,
       CAST(CAST({hex_to_long_sql('substr(h1,25,8)')} % 99000 + 1000 AS DECIMAL(12,2))
            / 100 AS DECIMAL(12,2)) AS amount,
       ({cur_list})[CAST({hex_to_long_sql('substr(h2,1,8)')} % {len(currencies)} + 1 AS INT)]
         AS currency,
       TIMESTAMP '{ts}' AS created_at,
       CAST(NULL AS TIMESTAMP) AS processed_at
FROM hashed
"""
