"""r18 optimization pins: the session-scoped plan memo and the
pagerank iteration plan shape.

The memo (sources/catalog.py::session_memo) reuses the ANALYZED, lazy
DataFrame — file listing + parquet footer schema read — never any
computed data; these tests pin the reuse semantics and the keying.
The pagerank pin asserts the r18 exchange-elimination:
the per-iteration contribution aggregation must consume the persisted
dst-partitioning instead of reshuffling.
"""

from __future__ import annotations

from orders_currency_conversion_etl_spark.sources import catalog

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def test_load_table_memoizes_per_session_and_path(spark):
    a = catalog.load_table(spark, SF, "orders")
    b = catalog.load_table(spark, SF, "orders")
    assert a is b, "same (session, sf_dir, table) must reuse the analyzed plan"
    c = catalog.load_table(spark, SF2, "orders")
    assert c is not a, "a different sf_dir must build a fresh plan"
    d = catalog.load_table(spark, SF, "lineitem")
    assert d is not a


def test_load_table_parallel_memoized_separately(spark):
    plain = catalog.load_table(spark, SF, "documents")
    par1 = catalog.load_table_parallel(spark, SF, "documents")
    par2 = catalog.load_table_parallel(spark, SF, "documents")
    assert par1 is par2
    assert par1 is not plain, "parallel variant keys its own memo entry"


def test_memoized_plan_rereads_data_not_results(spark, tmp_path):
    """The memo caches METADATA, not rows: two actions on the memoized
    DataFrame must each scan parquet (same fresh count both times, and
    the count reflects the real file, not a captured result)."""
    df1 = catalog.load_table(spark, SF, "region")
    n1 = df1.count()
    df2 = catalog.load_table(spark, SF, "region")
    n2 = df2.count()
    assert df1 is df2 and n1 == n2 == 5


def test_pagerank_iteration_needs_no_exchange(spark):
    """r18 opt pin: with edges deduped through hashpartitioning(dst),
    one _pagerank_step over the persisted contribution table plans
    WITHOUT any shuffle Exchange — the groupBy(dst) aggregation reuses
    the cached distribution (broadcast exchanges are expected and
    allowed)."""
    from orders_currency_conversion_etl_spark.plans import graph

    contrib_src, ranks, n = graph._pagerank_state(spark, SF)
    try:
        # Materialize the persisted contribution table first: an
        # UNfinalized cached AdaptiveSparkPlan reports unknown
        # partitioning, so only a materialized cache lets
        # EnsureRequirements see hashpartitioning(dst) and elide.
        contrib_src.write.mode("overwrite").format("noop").save()
        step = graph._pagerank_step(contrib_src, ranks, n)
        step.write.mode("overwrite").format("noop").save()
        executed = step._jdf.queryExecution().executedPlan().toString()
        # Only the operators ABOVE the cached scan are the iteration's
        # own; the InMemoryRelation's build lineage legitimately
        # contains the one-time edge-dedup exchange.
        above_cache = executed.splitlines()
        cut = next(
            i for i, line in enumerate(above_cache) if "InMemoryTableScan" in line
        )
        shuffle_exchanges = [
            line
            for line in above_cache[:cut]
            if "Exchange" in line and "BroadcastExchange" not in line
        ]
        assert not shuffle_exchanges, (
            "pagerank iteration re-shuffles despite dst-partitioned edges:\n"
            + "\n".join(shuffle_exchanges)
        )
    finally:
        key = (spark.sparkContext.applicationId, SF)
        for df in graph._PAGERANK_PERSISTED.pop(key, ()):
            try:
                df.unpersist()
            except Exception:
                pass
