"""Enforceable ANN recall: the planted-neighbor CI gate (r6/r7 VERDICT
ask #1 — before this, recall claims were unfalsifiable because the
synthetic corpus's true neighbors sit at the cosine noise floor).

A seeded planted corpus (known near-neighbors by construction, ground
truth verified against brute force) makes recall deterministic, so the
tuned configurations can be pinned as hard assertions: if a refactor
of the bucketing/probing/centroid code silently degrades recall, this
fails — quality is now a gate, not a JSON note. The gate calls
similarity.py's kernels, the ones the registered knn_* queries run, and
reads the shipped plane count and nprobe from there.

Thresholds have margin below the measured values (seeded corpus =>
bit-stable), and scan-fraction bounds are scale-aware: SF_SMOKE
(sf0.001, 500 corpus rows) has ~11 IVF cells vs ~41 at sf0.1, so
per-cell fractions here are ~4x the ANN_EVAL.json sf0.1 numbers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.operators import ann_bench as ab
from orders_currency_conversion_etl_spark.operators import similarity as sim
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def planted(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ann_planted"))
    path, qids, truth = ab.make_planted_corpus(
        SF_SMOKE, out, n_queries=16, n_plant=10, sigma=0.04
    )
    d = ab.load_corpus(spark, path).cache()
    n = d.count()
    yield d, qids, truth, n
    d.unpersist()


def _cos_top_k(cand):
    return sim.top_k(cand, "cosine", ascending=False)


def _lsh(d, qids, probe_radius):
    """LSH candidates at the shipped plane count."""
    return sim.lsh_candidates(d, sim.LSH_PLANES, probe_radius, query_ids=qids)


def _ivf(ranked, qids, nprobe):
    """IVF candidates over each vector's own cell, probing ``nprobe``
    cells per query."""
    return sim.ivf_candidates(sim.own_cell(ranked), ranked.filter(F.col("rn") <= nprobe), qids)


def test_ground_truth_matches_brute_force(spark, planted):
    d, qids, truth, n = planted
    assert ab.recall_at_k(_cos_top_k(sim.brute_candidates(d, qids)), truth) == 1.0


def test_lsh_multiprobe_meets_recall_target(spark, planted):
    """Shipped knn_lsh_multiprobe config (LSH_PLANES planes, Hamming<=1
    probes): measured 0.894 recall at 14.0% scanned here at B=6 (0.881
    at 11.4% on the sf0.1 eval corpus). Target: >=0.8 at <=15%."""
    d, qids, truth, n = planted
    cand = _lsh(d, qids, probe_radius=1)
    assert ab.recall_at_k(_cos_top_k(cand), truth) >= 0.8
    assert ab.mean_scan_fraction(cand, n) <= 0.15


def test_lsh_single_bucket_recall_floor(spark, planted):
    """Single-bucket LSH (knn_lsh_bucketed's config) is the cheap end
    of the frontier: ~1.7-3.6% scanned. Pin a floor well above random
    (random candidates at this scan fraction would land <0.05 recall)
    so the hash provably carries signal."""
    d, qids, truth, n = planted
    cand = _lsh(d, qids, probe_radius=0)
    assert ab.recall_at_k(_cos_top_k(cand), truth) >= 0.45
    assert ab.mean_scan_fraction(cand, n) <= 0.06


def test_ivf_nprobe_meets_recall_target(spark, planted):
    """The tuned IVF config shipped as knn_ivf_nprobe (IVF_NPROBE, 2):
    measured 0.981 recall / 26.8% scanned here after the r9 lattice-
    avoidance fix (queries/plants stepped off codebook + centroid ids),
    0.855 at 5.0% scanned on sf0.1. Scan bound is scale-aware: ~11
    cells here vs ~41 at sf0.1, and 2 probed cells of 11 with uneven
    cell sizes runs ~0.27."""
    d, qids, truth, n = planted
    cand = _ivf(sim.ivf_assign(d), qids, sim.IVF_NPROBE)
    assert ab.recall_at_k(_cos_top_k(cand), truth) >= 0.85
    assert ab.mean_scan_fraction(cand, n) <= 0.30


def test_ivf_nprobe_beats_single_cell(spark, planted):
    """The reason knn_ivf_nprobe exists: single-cell IVF loses the
    neighbors that jitter across a Voronoi boundary; probing the
    second cell must recover a measurable share of them."""
    d, qids, truth, n = planted
    ranked = sim.ivf_assign(d)
    top1 = _cos_top_k(_ivf(ranked, qids, 1))
    top2 = _cos_top_k(_ivf(ranked, qids, sim.IVF_NPROBE))
    r1, r2 = ab.recall_at_k(top1, truth), ab.recall_at_k(top2, truth)
    assert r2 > r1
    assert r2 - r1 >= 0.05


def test_pq_adc_recall(spark, planted):
    """PQ-ADC at m=8: scans every CODE row (8 ints vs 64 floats =
    12.5% of the bytes) and must rank the planted neighbors first
    almost always — measured 1.0 here, 0.992 at sf0.1."""
    d, qids, truth, n = planted
    cand = sim.pq_candidates(d.select("vec_id", "embedding"), m=8, codewords=16, query_ids=qids)
    assert ab.recall_at_k(sim.top_k(cand, "adcfx", ascending=True), truth) >= 0.9


def test_registered_knn_ivf_nprobe_probes_more_than_knn_ivf(spark):
    """The registered query pair on the real corpus: knn_ivf_nprobe's
    candidate set strictly contains knn_ivf's (same assignment, more
    probed cells), so its top-k cosine at every rank is >= knn_ivf's
    for the same query."""
    base = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in sim.knn_ivf(spark, SF_SMOKE).collect()
    }
    probed = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in sim.knn_ivf_nprobe(spark, SF_SMOKE).collect()
    }
    assert probed  # non-empty
    for key, cos in base.items():
        assert key in probed
        assert probed[key] >= cos - 1e-12
