"""Static tables are JVM ``LocalRelation``s, never pickled Python RDDs.

A ``spark.createDataFrame(list)`` table is a ``Scan ExistingRDD``: every
scan or broadcast of it starts Python workers to decode a handful of
rows. These tests pin the rates table's schema and values and check
that no plan-class headline query plans a Python RDD scan."""

from __future__ import annotations

import datetime as dt
import random
import struct

import pytest

import __spark_entry__  # noqa: F401 — registers every query
from bench import HEADLINE
from orders_currency_conversion_etl_spark import schemas
from orders_currency_conversion_etl_spark.plans.registry import QUERIES
from orders_currency_conversion_etl_spark.sources.rates import DEFAULT_EUR_RATES, rates_df

SF = "/root/testdata/sf0.001"

#: Headline queries that run jobs while their DataFrame is built or run
#: Python workers by design. perfbench/README.md ("Query classes") also
#: lists tfidf_top_terms_per_source, whose source count built 3 jobs
#: before it became a broadcast one-row aggregate.
EAGER_CLASS = frozenset({"pagerank_parts", "curation_pipeline_lsh", "multimodal_features"})
PLAN_CLASS = tuple(q for q in HEADLINE if q not in EAGER_CLASS)


def _random_rates() -> dict[str, float]:
    """~1,000 doubles spread over 24 orders of magnitude."""
    rng = random.Random(20261017)
    rates = {f"X{i:04d}": rng.random() * 10.0 ** rng.randint(-12, 12) for i in range(1000)}
    rates.update({"EUR": 1.0, "MIN": 5e-324, "MAX": 1.7976931348623157e308})
    return rates


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("rates", [None, "random"], ids=["default", "custom"])
@pytest.mark.parametrize("rate_date", [None, dt.date(2024, 3, 1)], ids=["undated", "dated"])
def test_rates_df_is_an_exact_local_relation(spark, rates, rate_date):
    want = DEFAULT_EUR_RATES if rates is None else _random_rates()
    df = rates_df(spark, None if rates is None else want, rate_date)
    assert df.schema == schemas.EXCHANGE_RATES
    rows = df.collect()
    assert sorted(r.currency for r in rows) == sorted(want)
    assert all(_bits(r.rate) == _bits(want[r.currency]) for r in rows)
    assert {r.rate_date for r in rows} == {rate_date}
    plan = _plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("name", PLAN_CLASS)
def test_plan_class_headline_plans_no_python_rdd(spark, name):
    """Covers the flagship conversion and the rates-history as-of join.
    Planning only: ``executedPlan`` under AQE is the initial plan, so no
    job runs."""
    assert "Scan ExistingRDD" not in _plan(QUERIES[name](spark, SF))
