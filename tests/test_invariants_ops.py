"""Invariant tests for the newest operators: properties that must hold
for ANY input, checked over the sf0.001 fixture (SURVEY §5.3 style —
the oracle parity test proves value equality; these prove the
semantics are the intended ones, not just mirrored ones)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.plans.registry import QUERIES
import __spark_entry__  # noqa: F401  (registers every query)

SF = "/root/testdata/sf0.001"


def test_funnel_stages_are_monotone_nonincreasing(spark):
    row = QUERIES["funnel_user_conversion"](spark, SF).collect()[0]
    assert (
        row["n_users"]
        >= row["stage_signup"]
        >= row["stage_view"]
        >= row["stage_click"]
        >= row["stage_purchase"]
        >= 0
    )


def test_quantization_bounds_and_error(spark):
    # The registered query serializes q_emb to canonical JSON text at
    # the compared boundary (plans/registry.py boundary_cast); parse it
    # back so the invariants run on the actual integer values.
    q = QUERIES["embedding_quantize_int8"](spark, SF).withColumn(
        "q_emb", F.from_json("q_emb", "array<int>")
    )
    bad_range = q.filter(
        F.exists("q_emb", lambda x: (x > 127) | (x < -128))
    ).count()
    assert bad_range == 0
    # dequantization error of floor-quantization is < 1 quantum = max_abs/127
    err = q.select(
        (F.size(F.col("q_emb")) == F.col("dim")).alias("dims_ok"),
        F.col("max_abs"),
    )
    assert err.filter(~F.col("dims_ok")).count() == 0
    assert q.filter(F.col("max_abs") <= 0).count() == 0


def test_repetition_fraction_in_unit_interval(spark):
    r = QUERIES["text_repetition_filter"](spark, SF)
    assert (
        r.filter(
            (F.col("dup_trigram_frac") < 0) | (F.col("dup_trigram_frac") > 1)
        ).count()
        == 0
    )
    assert (
        r.filter(F.col("keep_doc") != (F.col("dup_trigram_frac") <= 0.5)).count() == 0
    )


def test_recall_is_a_valid_ratio(spark):
    r = QUERIES["knn_recall_at_k"](spark, SF)
    assert r.filter(F.col("n_hits") > F.col("n_exact")).count() == 0
    assert (
        r.filter((F.col("recall_at_k") < 0) | (F.col("recall_at_k") > 1)).count() == 0
    )


def test_q15_ties_share_identical_revenue(spark):
    rows = QUERIES["tpch_q15_top_supplier"](spark, SF).collect()
    assert len(rows) >= 1
    assert len({r["total_revenue"] for r in rows}) == 1


def test_redaction_leaves_no_pii_pattern(spark):
    r = QUERIES["text_redact_pii"](spark, SF)
    leaked = r.filter(
        F.col("redacted").rlike(r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+")
        | F.col("redacted").rlike(r"\+?[0-9]+(-[0-9]+)+")
    ).count()
    assert leaked == 0
    assert r.filter((F.col("n_emails") < 1) | (F.col("n_phones") < 1)).count() == 0


# ---- behavior.py batch ----------------------------------------------------


def test_cohort_week0_equals_cohort_size(spark):
    """Every user is active in their own first week, so offset-0 rows
    must account for every distinct user exactly once."""
    ret = QUERIES["cohort_retention_weekly"](spark, SF)
    week0 = (
        ret.filter(F.col("week_offset") == 0)
        .agg(F.sum("active_users"))
        .collect()[0][0]
    )
    from orders_currency_conversion_etl_spark.sources import catalog

    expected = (
        catalog.load_table(spark, SF, "events").select("user_id").distinct().count()
    )
    assert week0 == expected
    assert ret.filter(F.col("week_offset") < 0).count() == 0


def test_sessions_partition_all_events(spark):
    row = QUERIES["sessionize_gap_summary"](spark, SF).collect()[0]
    from orders_currency_conversion_etl_spark.sources import catalog

    total = catalog.load_table(spark, SF, "events").count()
    assert row["n_events"] == total
    assert 1 <= row["n_sessions"] <= total
    assert row["avg_events"] * row["n_sessions"] == total


def test_scd2_intervals_are_ordered_and_versions_dense(spark):
    hist = QUERIES["scd2_priority_history"](spark, SF)
    # valid_from < valid_to whenever closed, and exactly one open row per customer
    assert (
        hist.filter(
            F.col("valid_to").isNotNull() & (F.col("valid_to") < F.col("valid_from"))
        ).count()
        == 0
    )
    open_per_cust = (
        hist.filter(F.col("valid_to").isNull())
        .groupBy("o_custkey")
        .count()
        .filter(F.col("count") != 1)
        .count()
    )
    assert open_per_cust == 0
    # versions are 1..k dense per customer
    agg = hist.groupBy("o_custkey").agg(
        F.min("version").alias("lo"), F.max("version").alias("hi"), F.count("*").alias("n")
    )
    assert agg.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0


def test_dq_expectations_clean_fixture(spark):
    rows = {r["check_name"]: r for r in QUERIES["dq_expectations_orders"](spark, SF).collect()}
    assert set(rows) == {
        "null_orderdate",
        "price_out_of_range",
        "duplicate_orderkey",
        "dangling_custkey",
    }
    # the synthetic fixture is referentially clean with unique keys
    assert rows["duplicate_orderkey"]["violations"] == 0
    assert rows["dangling_custkey"]["violations"] == 0


def test_top3_rank_bounds(spark):
    t = QUERIES["window_top3_per_customer"](spark, SF)
    assert t.filter((F.col("rn") < 1) | (F.col("rn") > 3)).count() == 0
    assert t.groupBy("o_custkey").count().filter(F.col("count") > 3).count() == 0


def test_zscore_outliers_bounded_by_chebyshev(spark):
    """|z|>2 can hold for at most 1/4 of any sample (Chebyshev)."""
    for r in QUERIES["grouped_zscore_pandas"](spark, SF).collect():
        assert r["n_outliers"] <= r["n"] / 4


def test_pagerank_mass_conserved(spark):
    """Teleport 0.15/N + damping 0.85 over a symmetric graph conserves
    total rank mass: Σrank = 1 at every iteration (up to fp noise)."""
    total = (
        QUERIES["pagerank_parts"](spark, SF)
        .agg(F.sum(F.col("rank").cast("double")))
        .collect()[0][0]
    )
    assert abs(total - 1.0) < 1e-6


def test_dau_never_exceeds_wau(spark):
    bad = (
        QUERIES["dau_wau_rolling"](spark, SF)
        .filter(F.col("dau") > F.col("wau"))
        .count()
    )
    assert bad == 0


def test_tfidf_ranks_dense_per_source(spark):
    t = QUERIES["tfidf_top_terms_per_source"](spark, SF)
    agg = t.groupBy("source").agg(
        F.min("rn").alias("lo"), F.max("rn").alias("hi"), F.count("*").alias("n")
    )
    assert agg.filter((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count() == 0
    assert t.filter(F.col("rn") > 10).count() == 0


def test_transition_count_is_events_minus_users(spark):
    """Each user with k events contributes exactly k-1 transitions."""
    from orders_currency_conversion_etl_spark.sources import catalog

    ev = catalog.load_table(spark, SF, "events")
    total = ev.count()
    users = ev.select("user_id").distinct().count()
    n_trans = (
        QUERIES["event_transition_matrix"](spark, SF).agg(F.sum("n")).collect()[0][0]
    )
    assert n_trans == total - users


def test_supplier_shares_sum_to_one_per_nation(spark):
    s = QUERIES["supplier_share_of_nation"](spark, SF)
    sums = (
        s.groupBy("n_name")
        .agg(F.sum(F.col("nation_share").cast("double")).alias("tot"))
        .collect()
    )
    for r in sums:
        assert abs(r["tot"] - 1.0) < 1e-6


def test_streaks_account_for_all_active_days(spark):
    from orders_currency_conversion_etl_spark.sources import catalog

    s = QUERIES["activity_streaks"](spark, SF)
    total_active = s.agg(F.sum("active_days")).collect()[0][0]
    expected = (
        catalog.load_table(spark, SF, "events")
        .select("user_id", F.col("ts").cast("date"))
        .distinct()
        .count()
    )
    assert total_active == expected
    assert s.filter(F.col("max_streak_days") > F.col("active_days")).count() == 0


def test_mad_outliers_are_minority(spark):
    """MAD-based outliers must be < half of each group by construction
    (more than half the points are within one MAD of the median)."""
    for r in QUERIES["events_anomaly_mad"](spark, SF).collect():
        assert r["n_outliers"] < r["n"] / 2
        assert r["mad"] >= 0


def test_pointintime_lookup_at_most_one_version_per_customer(spark):
    pit = QUERIES["scd2_pointintime_lookup"](spark, SF)
    dup = pit.groupBy("o_custkey").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_exactness_baselines_are_size_guarded(spark, monkeypatch):
    """The O(n²)/linear-scan baselines must refuse at-scale inputs
    (their LSH/IVF twins are the scale path). Shrink the bound below
    the sf0.001 corpus (500 vectors) and expect the guard to fire."""
    from orders_currency_conversion_etl_spark.operators import guards

    monkeypatch.setattr(guards, "MAX_EXACT_BASELINE_ROWS", 100)
    for name in ("dedup_embedding_cosine", "knn_brute_force"):
        with pytest.raises(guards.BaselineScaleError, match=name):
            QUERIES[name](spark, SF)


def test_kmeans_partition_is_exhaustive_and_bounded(spark):
    from orders_currency_conversion_etl_spark.operators.similarity import (
        KMEANS_K,
    )
    from orders_currency_conversion_etl_spark.sources import catalog

    cent = QUERIES["kmeans_embeddings"](spark, SF)
    n_vecs = catalog.load_table(spark, SF, "embeddings").count()
    # cluster sizes are constant across a cluster's dims, every vector
    # is assigned to exactly one live cluster, and there are <= K of them
    sizes = cent.select("cluster_id", "n_members").distinct()
    assert sizes.count() == sizes.select("cluster_id").distinct().count()
    total = sizes.agg(F.sum("n_members")).collect()[0][0]
    assert total == n_vecs
    assert sizes.count() <= KMEANS_K
    assert sizes.filter(F.col("n_members") <= 0).count() == 0


def test_exact_substring_pairs_ordered_and_positive(spark):
    pairs = QUERIES["dedup_exact_substring"](spark, SF)
    assert pairs.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0
    assert pairs.filter(F.col("n_shared_spans") <= 0).count() == 0


def test_unigram_logprob_positive_and_complete(spark):
    from orders_currency_conversion_etl_spark.sources import catalog

    d = QUERIES["text_unigram_logprob"](spark, SF)
    n_docs = catalog.load_table(spark, SF, "documents").count()
    assert d.count() == n_docs  # every doc scored
    # -ln(p) > 0 for every token since every p < 1 on a >1-token corpus
    assert d.filter(F.col("avg_token_nll") <= 0).count() == 0
    assert d.filter(F.col("n_tokens") <= 0).count() == 0


def test_temperature_mixing_flattens_toward_rare_sources(spark):
    """alpha<1 must give every source a keep-rate >= the natural-share
    mix would (for rare sources) while never exceeding availability."""
    from orders_currency_conversion_etl_spark.sources import catalog

    kept = (
        QUERIES["mix_sources_temperature"](spark, SF)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("kept_tokens"))
    )
    avail = (
        catalog.load_table(spark, SF, "documents")
        .select(
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("avail_tokens"))
    )
    j = kept.join(avail, "source").collect()
    assert len(j) > 0
    for r in j:
        assert 0 < r["kept_tokens"] <= r["avail_tokens"]


def test_weighted_sample_ranks_are_dense_and_bounded(spark):
    from orders_currency_conversion_etl_spark.plans.analytics import ES_SAMPLE_K

    s = QUERIES["sample_weighted_es"](spark, SF).collect()
    ranks = sorted(r["sample_rank"] for r in s)
    assert ranks == list(range(1, min(ES_SAMPLE_K, len(ranks)) + 1))
    assert len({r["doc_id"] for r in s}) == len(s)


def test_cross_source_matrix_cells_are_canonical(spark):
    m = QUERIES["dedup_cross_source_matrix"](spark, SF)
    assert m.filter(F.col("source_x") > F.col("source_y")).count() == 0
    assert m.filter(F.col("n_dup_pairs") <= 0).count() == 0
    assert m.filter((F.col("max_jaccard") < 0.7) | (F.col("max_jaccard") > 1.0)).count() == 0


def test_split_is_exhaustive_and_stable(spark):
    from orders_currency_conversion_etl_spark.sources import catalog

    s = QUERIES["split_train_val_test"](spark, SF)
    n_docs = catalog.load_table(spark, SF, "documents").count()
    assert s.count() == n_docs
    by = {r["split"]: r["n"] for r in s.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by) <= {"train", "val", "test"}
    # rough 80/10/10 shape (hash uniformity at 1000 docs: generous bounds)
    assert by["train"] > by.get("val", 0) and by["train"] > by.get("test", 0)


def test_corpus_shuffle_shards_balanced_dense_and_decorrelated(spark):
    """Shuffle-shard invariants: (a) every doc appears exactly once;
    (b) positions are dense 1..|shard| within each shard; (c) shard
    sizes stay near n/N_SHARDS (multinomial concentration); (d) the
    within-shard order is decorrelated from doc_id order — the whole
    point of shuffling (a sorted-by-doc_id shard would correlate
    training order with crawl order)."""
    from orders_currency_conversion_etl_spark.plans.analytics import N_SHARDS

    df = QUERIES["corpus_shuffle_shards"](spark, SF).cache()
    n = df.count()
    assert df.select("doc_id").distinct().count() == n

    per_shard = {r.shard: r.cnt for r in df.groupBy("shard").count().withColumnRenamed("count", "cnt").collect()}
    assert set(per_shard) <= set(range(N_SHARDS))
    expected = n / N_SHARDS
    assert all(abs(c - expected) < 0.5 * expected for c in per_shard.values())

    dense = df.groupBy("shard").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("pos").alias("mx"), F.min("pos").alias("mn")
    )
    assert dense.filter((F.col("mx") != F.col("cnt")) | (F.col("mn") != 1)).count() == 0

    # decorrelation: the fraction of adjacent (pos, pos+1) pairs where
    # doc_id also increases would be ~1.0 for crawl-ordered shards;
    # for a real shuffle it concentrates near 0.5.
    from pyspark.sql import Window as W

    nxt = F.lead("doc_id").over(W.partitionBy("shard").orderBy("pos"))
    frac = (
        df.withColumn("up", (nxt > F.col("doc_id")).cast("int"))
        .agg(F.avg("up").alias("f"))
        .collect()[0]["f"]
    )
    assert 0.35 < frac < 0.65
    df.unpersist()


@pytest.mark.parametrize(
    "name",
    [
        "agg_min_by_max_by",
        "corpus_shuffle_shards",
        "sample_weighted_es",
        "window_latest_order_per_customer",
        "dedup_exact",
        "kmeans_embeddings",
    ],
)
def test_result_invariant_under_shuffle_partitioning(spark, name):
    """The determinism-under-retry property the engine promises at
    100 TB, tested directly: changing the shuffle partition count
    (hence row-to-task assignment and accumulation order) must not
    change a single output row. Queries here are the tie- and
    float-sensitive ones: arg_min/max, hash sampling, window ranking,
    survivor rules, and fixed-point k-means folds."""
    fn = QUERIES[name]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = sorted(map(tuple, fn(spark, SF).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "31")
        b = sorted(map(tuple, fn(spark, SF).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_pq_adc_structure_and_recall(spark):
    """PQ-ADC returns a full top-k per query with monotone distances,
    and its neighbor sets overlap the exact brute-force top-k (ADC is
    an approximation of L2, which on these near-unit-norm embeddings
    tracks the cosine ranking brute force uses)."""
    pq = QUERIES["knn_pq_adc"](spark, SF)
    rows = pq.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, 11))
        dists = [r["adc_dist"] for r in rs]
        assert all(d >= 0 for d in dists)
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rs)
    brute = QUERIES["knn_brute_force"](spark, SF).collect()
    exact = {}
    for r in brute:
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(
        len(exact[q] & {r["neighbor_id"] for r in rs}) for q, rs in by_q.items()
    )
    assert hits / (3 * 10) >= 0.2  # approximate, but far above chance


def test_rollup_merge_is_split_invariant(spark):
    """The registered incremental_rollup_merge (plans/behavior.py)
    merges partials split at 1997-01-01; the merge must equal a
    from-scratch single-pass recompute — i.e. the answer is invariant
    to the batch boundary, the whole point of incremental aggregate
    maintenance."""
    from orders_currency_conversion_etl_spark.sources import catalog

    merged = {
        (r["o_orderpriority"], r["month_b"]): (r["n_orders"], r["revenue"])
        for r in QUERIES["incremental_rollup_merge"](spark, SF).collect()
    }
    o = catalog.load_table(spark, SF, "orders")
    full = {
        (r["o_orderpriority"], r["month_b"]): (r["n_orders"], r["revenue"])
        for r in o.groupBy(
            "o_orderpriority",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .collect()
    }
    assert merged == full


def test_vocab_encode_ids_are_bounded_and_aligned(spark):
    import json

    from orders_currency_conversion_etl_spark.operators.text import LEAD_N, VOCAB_K

    rows = QUERIES["text_vocab_encode"](spark, SF).collect()
    assert rows
    for r in rows:
        ids = json.loads(r["token_ids"])  # boundary serializes arrays to JSON
        assert len(ids) == r["n_lead_tokens"] <= LEAD_N
        assert all(0 <= i <= VOCAB_K for i in ids)
        assert sum(1 for i in ids if i == 0) == r["n_oov"]


def test_ivf_pq_is_cell_restricted_pq(spark):
    """IVF-PQ = PQ-ADC restricted to the query's cell: ranks are dense
    from 1, distances monotone, and any (query, neighbor) pair that
    also appears in the full-corpus PQ top-k must carry the SAME adc
    distance (the fine quantizer is shared; only the candidate set
    differs)."""
    ivfpq = QUERIES["knn_ivf_pq"](spark, SF).collect()
    by_q = {}
    for r in ivfpq:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists) and all(d >= 0 for d in dists)
        assert all(r["neighbor_id"] != q for r in rs)
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in QUERIES["knn_pq_adc"](spark, SF).collect()
    }
    shared = 0
    for r in ivfpq:
        key = (r["query_id"], r["neighbor_id"])
        if key in full:
            shared += 1
            assert full[key] == r["adc_dist"]
    assert shared > 0  # cells contain near neighbors, so overlap exists


def test_pagerank_materialized_equals_derived(spark, tmp_path, monkeypatch):
    """The materialized-edge path (VERDICT r5 ask #7) must produce the
    EXACT ranks of the derive-on-the-fly query, and the second run must
    reuse the written graph instead of rebuilding (mtime pinned)."""
    import os

    from orders_currency_conversion_etl_spark.plans import graph

    monkeypatch.setenv("SPARK_GRAFT_GRAPH_CACHE", str(tmp_path))
    base = {
        r["node"]: r["rank"] for r in QUERIES["pagerank_parts"](spark, SF).collect()
    }
    mat = {
        r["node"]: r["rank"]
        for r in QUERIES["pagerank_parts_materialized"](spark, SF).collect()
    }
    assert base == mat  # exact: same edges, same loop, same arithmetic

    path = graph.graph_edges_path(SF)
    stamp = os.path.getmtime(os.path.join(path, "_DONE"))
    again = {
        r["node"]: r["rank"]
        for r in QUERIES["pagerank_parts_materialized"](spark, SF).collect()
    }
    assert again == base
    assert os.path.getmtime(os.path.join(path, "_DONE")) == stamp  # no rebuild


def test_triangles_materialized_equals_derived(spark, tmp_path, monkeypatch):
    """Second consumer of the materialized graph: identical triangle
    count/edge count/max-outdeg through the cached scan path."""
    monkeypatch.setenv("SPARK_GRAFT_GRAPH_CACHE", str(tmp_path))
    a = QUERIES["triangles_parts"](spark, SF).collect()[0]
    b = QUERIES["triangles_parts_materialized"](spark, SF).collect()[0]
    assert tuple(a) == tuple(b)


def test_knn_ivf_materialized_equals_derived(spark, tmp_path, monkeypatch):
    """Materialized IVF must return the exact rows of the derive path
    (same centroids, same cells, same in-cell ranking)."""
    monkeypatch.setenv("SPARK_GRAFT_ANN_CACHE", str(tmp_path))
    a = {tuple(r) for r in QUERIES["knn_ivf"](spark, SF).collect()}
    b = {tuple(r) for r in QUERIES["knn_ivf_materialized"](spark, SF).collect()}
    assert a == b and a


def test_incremental_lsh_sides_are_disjoint_and_consistent(spark):
    """dedup_incremental_lsh: left side only batch docs (id % 10 == 0),
    right side only corpus docs, and every reported pair is also found
    by the batch-shape dedup_minhash_lsh (same bands, same threshold —
    the incremental query is a restriction, never a new pair source)."""
    rows = QUERIES["dedup_incremental_lsh"](spark, SF).collect()
    assert rows, "fixture contains cross-slice near-dups"
    assert all(r["doc_new"] % 10 == 0 for r in rows)
    assert all(r["doc_corpus"] % 10 != 0 for r in rows)
    full = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_lsh"](spark, SF).collect()
    }
    for r in rows:
        pair = tuple(sorted((r["doc_new"], r["doc_corpus"])))
        assert pair in full, pair


def test_materialize_replaces_stale_and_keeps_complete(tmp_path):
    """state_cache.materialize: a stale half-build (no _DONE) at the
    target is replaced via rename-aside (ADVICE r8 race shrink — no
    in-place rmtree of the target), a COMPLETE build is never rebuilt,
    and neither staging nor trash dirs are left behind."""
    import os

    from orders_currency_conversion_etl_spark import state_cache

    target = str(tmp_path / "state_x")

    # Stale half-build: directory exists, no _DONE marker.
    os.makedirs(target)
    with open(os.path.join(target, "stale.bin"), "w") as f:
        f.write("old")
    calls = []

    def build(tmp_dir):
        calls.append(tmp_dir)
        with open(os.path.join(tmp_dir, "part-0.parquet"), "w") as f:
            f.write("new")

    assert state_cache.materialize(target, build) == target
    assert calls and state_cache.is_materialized(target)
    assert not os.path.exists(os.path.join(target, "stale.bin"))
    assert os.path.exists(os.path.join(target, "part-0.parquet"))

    # Complete build: second materialize must not call the builder.
    def explode(tmp_dir):  # pragma: no cover - must not run
        raise AssertionError("rebuilt a complete state")

    assert state_cache.materialize(target, explode) == target

    # No staging/trash residue next to the target.
    residue = [n for n in os.listdir(tmp_path) if ".tmp." in n or ".trash." in n]
    assert residue == []


def test_materialize_failed_build_leaves_no_state(tmp_path):
    """A builder that raises must leave neither a _DONE-marked target
    nor its staging dir, and a later successful build must proceed."""
    import os

    from orders_currency_conversion_etl_spark import state_cache

    target = str(tmp_path / "state_y")

    def bad(tmp_dir):
        with open(os.path.join(tmp_dir, "half.bin"), "w") as f:
            f.write("x")
        raise RuntimeError("builder died")

    with pytest.raises(RuntimeError):
        state_cache.materialize(target, bad)
    assert not state_cache.is_materialized(target)
    assert [n for n in os.listdir(tmp_path) if ".tmp." in n] == []

    def good(tmp_dir):
        with open(os.path.join(tmp_dir, "ok.bin"), "w") as f:
            f.write("y")

    assert state_cache.materialize(target, good) == target
    assert state_cache.is_materialized(target)
