"""Exact Spark work counters of the headline queries.

For every query in ``bench.HEADLINE`` the test counts, from Spark's
status store, the jobs run while the DataFrame is built (``build_jobs``)
and the jobs and stages of build plus the noop write. These counts do
not depend on the machine's speed, so any change to them is a change in
the work a query asks Spark to do: an extra eager ``count()``, a lost
shuffle reuse, a broadcast turned into a sort-merge join. Wall-clock
time is measured by the benchmark (``perfbench/``), not here.

Skipped stages, tasks and bytes are not pinned: they move with the
partition count and the data. ``perfbench/run.py --trace 1`` records
them.
"""

from __future__ import annotations

import os
import pprint

import pytest

import __spark_entry__  # noqa: F401 — registers every query
from bench import HEADLINE
from orders_currency_conversion_etl_spark.plans.registry import QUERIES
from perfbench.statusstore import StatusStore
from tests.conftest import SF_SMOKE

SF = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
PARTITIONS = "8"

#: query -> (build_jobs, jobs, stages); jobs and stages cover build and write.
EXPECTED: dict[str, tuple[int, int, int]] = {
    "flagship_conversion": (0, 2, 2),
    "agg_pricing_summary": (0, 3, 3),
    "tpch_q6_forecast_revenue": (0, 2, 2),
    "tpch_q18_large_volume_customers": (0, 6, 6),
    "agg_revenue_by_nation": (0, 7, 7),
    "join_fact_to_fact_revenue": (0, 3, 3),
    "window_running_total": (0, 2, 2),
    "topk_expensive_orders": (0, 1, 1),
    "join_asof_rates": (0, 3, 3),
    "json_extract_props": (0, 3, 3),
    "events_hourly_stats": (0, 2, 2),
    "events_session_window": (0, 2, 2),
    "dedup_exact": (0, 2, 2),
    "dedup_minhash_lsh": (0, 9, 9),
    "knn_brute_force": (0, 3, 3),
    "knn_lsh_bucketed": (0, 3, 3),
    "text_token_stats": (0, 1, 1),
    "multimodal_features": (0, 1, 1),
    "curation_pipeline_lsh": (13, 15, 15),
    "sessionize_gap_summary": (0, 3, 3),
    "cohort_retention_weekly": (0, 4, 4),
    "tfidf_top_terms_per_source": (0, 9, 9),
    "pagerank_parts": (14, 15, 15),
}


def _write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def test_headline_work_counters(spark):
    if spark.sparkContext.defaultParallelism < 2:
        # Every scan is then one partition and needs no exchange before
        # a global aggregate or sort: agg_pricing_summary runs 2 stages
        # and curation_pipeline_lsh (12, 14, 14).
        pytest.skip("the pin is for two or more cores; one core plans fewer exchanges")
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, PARTITIONS)
    store = StatusStore(spark)
    observed = {}
    try:
        # Warm pass: the once-per-session reads (file listings, schema
        # footers, the plan memo) must not land in the counted pass.
        for name in HEADLINE:
            _write(QUERIES[name](spark, SF))
        for name in HEADLINE:
            spark.catalog.clearCache()
            store.set_group(f"work-counters-{name}-build")
            df = QUERIES[name](spark, SF)
            store.set_group(f"work-counters-{name}-write")
            _write(df)
            store.clear_group()
            build = store.collect(f"work-counters-{name}-build")
            write = store.collect(f"work-counters-{name}-write")
            observed[name] = (
                build["jobs"],
                build["jobs"] + write["jobs"],
                build["stages"] + write["stages"],
            )
    finally:
        store.clear_group()
        spark.catalog.clearCache()
        spark.conf.set(key, saved)
    if observed != EXPECTED:
        pytest.fail(
            "headline work counters changed; if the change is deliberate, "
            "replace EXPECTED with:\n" + pprint.pformat(observed, sort_dicts=False)
        )
