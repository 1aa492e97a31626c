"""ANN_EVAL v2: planted-neighbor recall benchmark with a measured
parameter frontier (r6/r7 VERDICT ask #1 — the enforceable-recall
harness).

Plants known nearest neighbors into the sf0.1 embeddings corpus
(seeded jitter, cosine ~0.955 vs a ~0.1-0.3 random-pair floor), then
sweeps every ANN variant's tuning surface — LSH planes x probe
radius, IVF nprobe, PQ subspaces x codewords, IVF-PQ combinations —
recording measured recall@10 against the planted ground truth AND the
measured fraction of the corpus scored per query (candidate counts
from the actual joins, not estimates). Ground truth is verified by
brute force before anything else is trusted. Every variant runs
operators/similarity.py's search kernels, the same functions the
registered knn_* queries call at their shipped constants.

Target (stated up front, judged in tests/test_ann_recall.py):
recall@10 >= 0.8 at <= 15% of the corpus scanned per query.

    python scripts/eval_ann_planted.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from orders_currency_conversion_etl_spark.operators import ann_bench as ab  # noqa: E402
from orders_currency_conversion_etl_spark.operators import similarity as sim  # noqa: E402
from orders_currency_conversion_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_EVAL_DIR", "/root/testdata/sf0.1")
N_QUERIES = 64
N_PLANT = 10
SIGMA = 0.04
EMB_DIM = 64
TARGET_RECALL = 0.8
TARGET_SCAN = 0.15


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "ANN_EVAL.json")
    work = os.path.join(REPO, ".localdata", "ann_planted")
    spark = get_spark("ann-planted-eval")
    spark.sparkContext.setLogLevel("ERROR")

    path, qids, truth = ab.make_planted_corpus(
        SF_DIR, work, n_queries=N_QUERIES, n_plant=N_PLANT, sigma=SIGMA
    )
    d = ab.load_corpus(spark, path).cache()
    n = d.count()
    e = d.select("vec_id", "embedding")

    def run(label, variant, params, fn):
        t0 = time.perf_counter()
        cand = fn()
        score = "adcfx" if "m" in params else "cosine"
        rec = ab.recall_at_k(sim.top_k(cand, score, ascending=score == "adcfx"), truth)
        sec = round(time.perf_counter() - t0, 3)
        scan = round(ab.mean_scan_fraction(cand, n), 4)
        row = {
            "variant": variant,
            "params": params,
            "recall_at_10": round(rec, 4),
            "scan_fraction": scan,
            "sec": sec,
        }
        # PQ rows are m ints, raw rows are EMB_DIM floats: byte cost of
        # the scan differs from row cost and is the reason PQ exists.
        if "m" in params:
            row["bytes_fraction"] = round(scan * params["m"] / EMB_DIM, 4)
        meets = rec >= TARGET_RECALL and scan <= TARGET_SCAN
        row["meets_target"] = meets
        print(f"{label:34s} recall={rec:.3f} scan={scan:.3f} sec={sec:.1f}"
              + (" <- target met" if meets else ""))
        return row

    frontier = []

    # ground truth sanity: brute-force top-10 must equal the planted set
    bt = sim.top_k(sim.brute_candidates(d, qids), "cosine", ascending=False)
    brute_rec = ab.recall_at_k(bt, truth)
    print(f"brute-force recall vs planted truth: {brute_rec:.4f} (must be 1.0)")
    assert brute_rec == 1.0, "planted ground truth disagrees with brute force"
    frontier.append(
        {
            "variant": "brute_force",
            "params": {},
            "recall_at_10": 1.0,
            "scan_fraction": 1.0,
            "sec": None,
            "meets_target": False,
        }
    )

    for n_planes in (4, 6, 8, 10):
        for radius in (0, 1, 2):
            frontier.append(
                run(
                    f"lsh B={n_planes} r={radius}",
                    "lsh",
                    {"n_planes": n_planes, "probe_radius": radius},
                    lambda n_planes=n_planes, radius=radius: sim.lsh_candidates(
                        d, n_planes, radius, qids
                    ),
                )
            )

    ranked = sim.ivf_assign(d)
    cells = sim.own_cell(ranked)

    def probed(nprobe):
        return ranked.filter(F.col("rn") <= nprobe)

    for nprobe in (1, 2, 4, 8):
        frontier.append(
            run(
                f"ivf nprobe={nprobe}",
                "ivf",
                {"nprobe": nprobe, "stride": sim.IVF_CENTROID_STRIDE},
                lambda nprobe=nprobe: sim.ivf_candidates(cells, probed(nprobe), qids),
            )
        )

    for m in (4, 8, 16):
        for cw in (16, 32):
            frontier.append(
                run(
                    f"pq m={m} cw={cw}",
                    "pq_adc",
                    {"m": m, "codewords": cw},
                    lambda m=m, cw=cw: sim.pq_candidates(e, m, cw, qids),
                )
            )

    for nprobe in (1, 2, 4):
        for m in (4, 8):
            frontier.append(
                run(
                    f"ivf_pq nprobe={nprobe} m={m}",
                    "ivf_pq",
                    {
                        "nprobe": nprobe,
                        "m": m,
                        "codewords": sim.PQ_CODEWORDS,
                        "stride": sim.IVF_CENTROID_STRIDE,
                    },
                    lambda nprobe=nprobe, m=m: sim.ivf_pq_candidates(
                        d, cells, probed(nprobe), m, query_ids=qids
                    ),
                )
            )

    met = [r for r in frontier if r.get("meets_target")]
    # tuned pick per variant: highest recall among target-meeting configs
    tuned = {}
    for r in met:
        v = r["variant"]
        if v not in tuned or r["recall_at_10"] > tuned[v]["recall_at_10"]:
            tuned[v] = r

    out = {
        "version": 2,
        "ground_truth": "planted",
        "sf_dir": SF_DIR,
        "corpus_rows": n,
        "n_queries": len(qids),
        "n_planted_per_query": N_PLANT,
        "jitter_sigma": SIGMA,
        "planted_cosine_note": (
            f"planted neighbors are query + N(0,{SIGMA}) jitter: cosine ~0.955 "
            "vs a random-pair floor of ~0.1-0.3 at dim 64; brute-force top-10 "
            "returns exactly the planted set (asserted above), so recall is "
            "measured against EXACT ground truth"
        ),
        "target": {"recall_at_10": TARGET_RECALL, "max_scan_fraction": TARGET_SCAN},
        "frontier": frontier,
        "tuned": tuned,
        "shipped_config_notes": {
            "knn_lsh_bucketed": "lsh B=6 r=0 row",
            "knn_lsh_multiprobe": "lsh B=6 r=1 row (shipped constants)",
            "knn_ivf / knn_ivf_materialized": "ivf nprobe=1 row (single-cell constants)",
            "knn_ivf_nprobe": "ivf nprobe=2 row — the tuned config, registered with an exact oracle",
            "knn_pq_adc": "pq m=4 cw=16 row (shipped constants)",
            "knn_ivf_pq": "ivf_pq nprobe=1 m=4 row (shipped constants)",
        },
        "ci_gate": "tests/test_ann_recall.py pins the tuned configs",
    }
    text = json.dumps(out, indent=1)
    with open(out_path, "w") as fh:
        fh.write(text + "\n")
    print(f"\nwrote {out_path}: {len(met)}/{len(frontier)} configs meet "
          f"recall>={TARGET_RECALL} at scan<={TARGET_SCAN}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
