"""Exchange-rate and currency-list sources.

The reference fetches USD-based rates from the OpenExchangeRates HTTP
API once per day (reference: dags/order_currency_conversion_dag.py:33-56)
and normalizes them to an EUR base by dividing every rate by the EUR
rate (reference: dags/order_currency_conversion_dag.py:58-60). The
currency list comes from a second endpoint (reference:
dags/order_generator_dag.py:40-49).

Here the HTTP fetch is a driver-side pluggable callable (tests and the
offline driver use the deterministic fixture below); the *engine*
surface is ``rates_df`` — a tiny DataFrame that every conversion join
broadcasts. ~170 currencies is bytes, not data: it never shuffles.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from .catalog import local_table, session_memo

# Deterministic EUR-base fixture (units of currency per 1 EUR), stands in
# for the daily API payload. EUR is exactly 1.0 by construction, matching
# the normalization invariant at reference:
# dags/order_currency_conversion_dag.py:58-60.
DEFAULT_EUR_RATES: dict[str, float] = {
    "EUR": 1.0,
    "USD": 1.094571,
    "GBP": 0.854123,
    "JPY": 158.234567,
    "CHF": 0.962341,
    "CAD": 1.482315,
    "AUD": 1.652347,
    "CNY": 7.823456,
    "SEK": 11.342156,
    "NOK": 11.512349,
    "DKK": 7.456123,
    "PLN": 4.312456,
    "CZK": 24.756123,
    "HUF": 389.123456,
    "RON": 4.975612,
    "BGN": 1.955830,
    "ISK": 149.312456,
    "TRY": 35.123456,
    "INR": 91.234567,
    "BRL": 5.612345,
}

# Codes orders may carry that are intentionally ABSENT from the rates
# table, to exercise the missing-rate -> 1.0 passthrough (reference:
# dags/order_currency_conversion_dag.py:108).
UNLISTED_CURRENCIES: tuple[str, ...] = ("XAU", "XDR", "KPW", "ZWL", "MRU")

# 25-code derivation alphabet (EUR passthrough + listed + unlisted paths
# all reachable), used to key a deterministic currency off an order key.
CURRENCY_ALPHABET: tuple[str, ...] = tuple(DEFAULT_EUR_RATES) + UNLISTED_CURRENCIES


def normalize_usd_rates_to_eur(usd_rates: dict[str, float]) -> dict[str, float]:
    """Rebase a USD-based rates dict to EUR (op F4, SURVEY §2.4).

    Mirrors reference: dags/order_currency_conversion_dag.py:55-60 —
    raises if EUR is absent, divides every rate by the EUR rate so that
    the normalized EUR rate is exactly 1.0.
    """
    if "EUR" not in usd_rates:
        raise ValueError("EUR rate not found in exchange rates")
    eur = usd_rates["EUR"]
    return {cur: rate / eur for cur, rate in usd_rates.items()}


def rates_df(
    spark: SparkSession,
    rates: dict[str, float] | None = None,
    rate_date: dt.date | None = None,
) -> DataFrame:
    """Materialize the EUR-base rates map as a broadcastable DataFrame.

    The table is a JVM ``LocalRelation`` (:func:`catalog.local_table`):
    scanning or broadcasting it starts no Python worker, which every
    conversion pays for otherwise, each streaming micro-batch included.
    """
    if rates is None and rate_date is None:
        # The default (static) rates table: memoize the 20-row local
        # relation per session, so the Arrow conversion and the
        # analysis run once, not on every flagship-family invocation.
        return session_memo(
            spark,
            ("__rates_df__", "default", "default"),
            lambda: _rates_df_uncached(spark, DEFAULT_EUR_RATES, None),
        )
    return _rates_df_uncached(spark, DEFAULT_EUR_RATES if rates is None else rates, rate_date)


def _rates_df_uncached(
    spark: SparkSession, rates: dict[str, float], rate_date: dt.date | None
) -> DataFrame:
    rows = [(cur, float(rate), rate_date) for cur, rate in sorted(rates.items())]
    return local_table(spark, rows, schemas.EXCHANGE_RATES)


def currency_from_orderkey(orderkey_col):
    """Deterministic currency derivation: alphabet[(key % 25)].

    Gives the TPC-H-ish ``orders`` table a currency column without any
    randomness, so the DuckDB oracle can reproduce it exactly. Spark
    ``element_at`` and DuckDB list indexing are both 1-based.
    """
    n = len(CURRENCY_ALPHABET)
    idx = (orderkey_col % F.lit(n)).cast("int") + F.lit(1)
    return F.element_at(F.array(*[F.lit(c) for c in CURRENCY_ALPHABET]), idx)


def currency_alphabet_sql_list() -> str:
    """The same alphabet as a DuckDB list literal (oracle side)."""
    return "[" + ", ".join(f"'{c}'" for c in CURRENCY_ALPHABET) + "]"


def rates_sql_values() -> str:
    """The rates fixture as a SQL VALUES relation for the DuckDB oracle."""
    # CAST AS DOUBLE: DuckDB would otherwise parse the literal as
    # DECIMAL, whose downscale truncates instead of rounding like the
    # DOUBLE→DECIMAL cast Spark performs.
    rows = ", ".join(f"('{c}', CAST({r!r} AS DOUBLE))" for c, r in sorted(DEFAULT_EUR_RATES.items()))
    return f"(VALUES {rows}) AS rates(currency, rate)"
