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

Distributed by construction, sized by rows: ``spark.range`` partitions
the id space with one partition per ``ROWS_PER_PARTITION`` rows, capped
at the session's default parallelism. A reference-size batch of 5,000
orders is one partition, so an append writes one file, and a large n
spreads over every core; no driver-side loop and no data movement at
any size.
"""

from __future__ import annotations

import datetime as dt
import operator
import re

from pyspark.sql import DataFrame, SparkSession

from ..functions.text_fn import hex_to_long_sql
from ..sources.rates import CURRENCY_ALPHABET

WEEK_SECS = 7 * 86400


#: Rows per ``spark.range`` partition (module doc).
ROWS_PER_PARTITION = 1_000_000

#: What a currency code must look like before it is pasted into SQL.
_CURRENCY_CODE = re.compile(r"[A-Z]{3}")


def _hash_slice(h: str, start: int) -> str:
    """SQL for a 32-bit uniform integer from 8 hex chars of an md5 column."""
    return f"CAST(conv(substring({h}, {start}, 8), 16, 10) AS BIGINT)"


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
    They are two ``selectExpr`` projections, the md5 columns and then the
    derived ones: the JVM parses each SQL string in one call, while a
    tree of Column objects costs a py4j round trip per node.

    The inputs are pasted into that SQL as text, so they are checked
    first: ``seed`` must be an integer, ``base_time`` naive and in whole
    seconds (the timestamp literal, like the oracle's, has neither a
    zone nor a fraction), and every currency a three-letter upper-case
    code (currencies can come from the rates API). Anything else raises
    ``ValueError`` (``TypeError`` for a non-integer seed).
    """
    seed = operator.index(seed)
    if base_time.tzinfo is not None or base_time.microsecond:
        raise ValueError(f"base_time must be naive and in whole seconds, got {base_time!r}")
    bad = [c for c in currencies if not (isinstance(c, str) and _CURRENCY_CODE.fullmatch(c))]
    if bad:
        raise ValueError(f"currency codes must be three upper-case letters, got {bad!r}")
    parts = max(1, min(spark.sparkContext.defaultParallelism, -(-n // ROWS_PER_PARTITION)))
    ts = f"TIMESTAMP '{base_time.strftime('%Y-%m-%d %H:%M:%S')}'"
    cur_array = "array(" + ", ".join(f"'{c}'" for c in currencies) + ")"
    return spark.range(0, n, 1, parts).selectExpr(
        # the id gets its own md5 input, so it is unique per (seed, id) and
        # uncorrelated with the h1/h2 slices behind email, date and amount
        f"md5(concat_ws(':', '{seed}', CAST(id AS STRING), 'u')) AS hu",
        f"md5(concat_ws(':', '{seed}', CAST(id AS STRING))) AS h1",
        f"md5(concat_ws(':', '{seed}', CAST(id AS STRING), 'b')) AS h2",
    ).selectExpr(
        # UUID layout 8-4-4-4-12 replaces uuid.uuid4() (reference:
        # dags/order_generator_dag.py:66) for reproducible golden tests
        "concat_ws('-', substring(hu, 1, 8), substring(hu, 9, 4), substring(hu, 13, 4), "
        "substring(hu, 17, 4), substring(hu, 21, 12)) AS order_id",
        # email f"{letter}{digits}@example.com" (reference: :67)
        "concat(substring('abcdefghijklmnopqrstuvwxyz', "
        f"CAST({_hash_slice('h1', 1)} % 26 + 1 AS INT), 1), "
        f"CAST({_hash_slice('h1', 9)} % 9000 + 1000 AS STRING), '@example.com') AS customer_email",
        # order_date within [base_time - 7d, base_time) (reference: :68)
        f"{ts} - make_interval(0, 0, 0, 0, 0, 0, {_hash_slice('h1', 17)} % {WEEK_SECS}) AS order_date",
        # uniform cents in [10.00, 1000.00) (reference: :69); exact division
        f"CAST(CAST({_hash_slice('h1', 25)} % 99000 + 1000 AS DECIMAL(12,2)) / 100 AS DECIMAL(12,2)) AS amount",
        f"element_at({cur_array}, CAST({_hash_slice('h2', 1)} % {len(currencies)} + 1 AS INT)) AS currency",
        f"{ts} AS created_at",
        "CAST(NULL AS TIMESTAMP) AS processed_at",
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
