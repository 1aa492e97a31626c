"""r19 optimization pins.

Three invariants this round's restructurings rely on:

- pagerank's degree table is now derived from the dst-partitioned edge
  cache via groupBy(dst) — legal ONLY because the edge set is symmetric
  ((s,d) ∈ E ⇔ (d,s) ∈ E), so outdeg(x) == indeg(x) exactly. Pinned
  both ways: value-equality against the old groupBy(src) derivation,
  and the executed plan showing NO shuffle Exchange above the edge
  cache (the old shape reshuffled all |edges| rows on src).
- curation's final anti-join broadcasts the counted dup list under the
  DUPS_BROADCAST_MAX_ROWS gate (and only under it); survivors are
  row-identical to the ungated SMJ form.
- tfidf's df-from-tf rewrite (r18) counts the non-NULL sources of tf
  per term, which is COUNT(DISTINCT source); a fixture with NULL
  sources pins it against the oracle.

Both size gates (RANKS_BROADCAST_MAX_NODES, DUPS_BROADCAST_MAX_ROWS)
are run with the cap exactly at the observed size and one below it:
each branch must match the DuckDB oracle, and only the cap-at-size run
may carry the broadcast hint.
"""

from __future__ import annotations

import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__  # noqa: F401 — registers every query
from orders_currency_conversion_etl_spark.plans import registry
from orders_currency_conversion_etl_spark.sources import catalog
from tests.oracle_harness import TABLE_NAMES, compare_query

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def _above_cache(df) -> list[str]:
    """The executed plan's lines down to the first cached-table scan."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    cut = next(i for i, line in enumerate(lines) if "InMemoryTableScan" in line)
    return lines[:cut]


def _shuffle_exchanges_above_cache(df) -> list[str]:
    return [
        line
        for line in _above_cache(df)
        if "Exchange" in line and "BroadcastExchange" not in line
    ]


def test_pagerank_deg_symmetry_and_no_exchange(spark):
    from orders_currency_conversion_etl_spark.plans import graph

    edges, deg, contrib_src, _ranks, _n = graph._pagerank_state_build(spark, SF2)
    try:
        deg.write.mode("overwrite").format("noop").save()  # materializes edges too

        # 1. value pin: indeg-derived degrees == the r18 groupBy(src) form
        deg_old = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        assert deg.exceptAll(deg_old).count() == 0
        assert deg_old.exceptAll(deg).count() == 0

        # 2. plan pin: the deg aggregation consumes the cached
        # hashpartitioning(dst) — no shuffle Exchange above the cache
        deg_plan = (
            edges.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .select(F.col("dst").alias("src"), "outdeg")
        )
        deg_plan.write.mode("overwrite").format("noop").save()
        bad = _shuffle_exchanges_above_cache(deg_plan)
        assert not bad, "deg derivation reshuffles the edge cache:\n" + "\n".join(bad)
    finally:
        for df in (contrib_src, deg, edges):
            try:
                df.unpersist()
            except Exception:
                pass


def test_curation_anti_join_gated_broadcast(spark):
    from orders_currency_conversion_etl_spark.operators import curation

    docs = catalog.load_table(spark, SF, "documents")
    clean = docs.select("doc_id", "text")
    dups = docs.select("doc_id").filter(F.col("doc_id") % 7 == 0)

    survivors = curation._anti_join_survivors(clean, dups)
    survivors.write.mode("overwrite").format("noop").save()
    executed = survivors._jdf.queryExecution().executedPlan().toString()
    bhj_anti = re.compile(r"BroadcastHashJoin .*LeftAnti")
    assert bhj_anti.search(executed), executed[:2000]

    # value pin vs the plain (ungated) anti-join
    plain = clean.join(dups, "doc_id", "left_anti")
    assert survivors.exceptAll(plain).count() == 0
    assert plain.exceptAll(survivors).count() == 0

    # above the gate the broadcast must no longer be FORCED: the hint
    # disappears from the optimized logical plan and the strategy
    # choice returns to the planner (which may still auto-broadcast a
    # provably tiny side from its own size estimate — that estimate
    # scales with the data, the hard hint would not).
    saved = curation.DUPS_BROADCAST_MAX_ROWS
    try:
        curation.DUPS_BROADCAST_MAX_ROWS = 0
        over = curation._anti_join_survivors(clean, dups)
        optimized = over._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in optimized, optimized[:2000]
        gated = survivors._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" in gated, gated[:2000]
    finally:
        curation.DUPS_BROADCAST_MAX_ROWS = saved


def test_conv_hash_matches_portable_expansion(spark):
    """The Spark-side conv() base hash must equal the portable
    digit-expansion form the oracles inline — over the real corpus
    shingles AND the hex extremes."""
    from orders_currency_conversion_etl_spark.functions.text_fn import (
        hex_to_long_spark_sql,
        hex_to_long_sql,
    )
    from orders_currency_conversion_etl_spark.operators.dedup import _docs_shingled

    sh = _docs_shingled(spark, SF).select("doc_id", "shingles")
    both = sh.select(
        F.expr(
            "transform(shingles, s -> " + hex_to_long_sql("substr(md5(s), 1, 8)") + ")"
        ).alias("h_old"),
        F.expr(
            "transform(shingles, s -> "
            + hex_to_long_spark_sql("substr(md5(s), 1, 8)")
            + ")"
        ).alias("h_new"),
    )
    assert both.filter(F.col("h_old") != F.col("h_new")).count() == 0

    extremes = spark.createDataFrame(
        [("00000000",), ("ffffffff",), ("0123abcd",), ("deadbeef",)], ["s"]
    ).selectExpr(
        hex_to_long_sql("s") + " AS old",
        hex_to_long_spark_sql("s") + " AS new",
    )
    rows = extremes.collect()
    assert all(r["old"] == r["new"] for r in rows), rows


def test_documents_source_never_null(spark):
    """The generated fixtures carry no NULL source, so the sweeps never
    reach tfidf's NULL-source path; the fixture test below does."""
    for sf in (SF, SF2):
        docs = catalog.load_table(spark, sf, "documents")
        assert docs.filter(F.col("source").isNull()).count() == 0


def _oracle(name: str) -> str:
    return registry.finalized_oracles()[name]


def _hinted(df) -> bool:
    return "strategy=broadcast" in df._jdf.queryExecution().optimizedPlan().toString()


def test_tfidf_ignores_null_sources(spark, tmp_path):
    """NULL is not a source: it adds to neither df nor the source
    count, and a term seen only under a NULL source gets df = 0 and a
    NULL tfidf, as COUNT(DISTINCT source) gives in the oracle."""
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(os.path.join(SF, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    docs = pq.read_table(os.path.join(SF, "documents.parquet"))
    extra = pa.Table.from_pylist(
        [
            {"doc_id": 10_001, "text": "spark nullonly nullonly", "lang": "en", "source": None, "n_chars": 23},
            {"doc_id": 10_002, "text": "join nullonly", "lang": "en", "source": None, "n_chars": 13},
        ],
        schema=docs.schema,
    )
    pq.write_table(pa.concat_tables([docs, extra]), tmp_path / "documents.parquet")
    sf = str(tmp_path)

    fn = registry.QUERIES["tfidf_top_terms_per_source"]
    compare_query(spark, sf, fn, _oracle("tfidf_top_terms_per_source"))
    rows = fn(spark, sf).filter(F.col("source").isNull()).collect()
    by_term = {r.term: r for r in rows}
    assert by_term["nullonly"].df == 0 and by_term["nullonly"].tfidf is None
    assert by_term["spark"].df == 20 and by_term["spark"].tfidf is not None


@pytest.mark.parametrize("below", [0, 1], ids=["cap_at_n", "cap_at_n_minus_1"])
def test_pagerank_rank_gate_at_threshold(spark, monkeypatch, below):
    from orders_currency_conversion_etl_spark.plans import graph

    n = graph._pagerank_state(spark, SF)[2]
    monkeypatch.setattr(graph, "RANKS_BROADCAST_MAX_NODES", n - below)
    compare_query(spark, SF, registry.QUERIES["pagerank_parts"], _oracle("pagerank_parts"))

    step = graph.pagerank_loop_body(spark, SF)
    assert _hinted(step) == (below == 0)
    if below == 0:
        step.write.mode("overwrite").format("noop").save()
        assert any("BroadcastHashJoin" in line for line in _above_cache(step))


@pytest.mark.parametrize("below", [0, 1], ids=["cap_at_n", "cap_at_n_minus_1"])
def test_curation_dup_gate_at_threshold(spark, monkeypatch, below):
    from orders_currency_conversion_etl_spark.operators import curation

    n_dups = []
    real = curation._anti_join_survivors

    def counting(clean, dups):
        n_dups.append(dups.count())
        return real(clean, dups)

    fn = registry.QUERIES["curation_pipeline"]
    monkeypatch.setattr(curation, "_anti_join_survivors", counting)
    fn(spark, SF)
    monkeypatch.setattr(curation, "_anti_join_survivors", real)
    assert n_dups[0] > 0
    monkeypatch.setattr(curation, "DUPS_BROADCAST_MAX_ROWS", n_dups[0] - below)

    df = fn(spark, SF)
    compare_query(spark, SF, lambda _s, _d: df, _oracle("curation_pipeline"))
    assert _hinted(df) == (below == 0)
    if below == 0:
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"BroadcastHashJoin .*LeftAnti", executed), executed[:2000]
