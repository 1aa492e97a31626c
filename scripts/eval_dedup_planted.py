"""DEDUP_EVAL.json: planted-duplicate recall for the near-dup family
(the dedup analogue of the ANN planted benchmark — measured detection
quality against known ground truth, not just exact-oracled mechanics).

For each corruption band (token-replace fraction -> true TRIGRAM-
shingle Jaccard band, the engine's shingle definition: token_shingles
k=3), plants n pairs into the sf0.1 documents corpus
and runs the REGISTERED queries unchanged against the planted
directory:

- dedup_minhash_lsh: recall of planted pairs vs the analytic banding
  expectation P = 1-(1-j^4)^4 (16 hashes, 4 bands x 4 rows), plus the
  measured LSH candidate-pair count (the cost the banding bounds);
- dedup_minhash_lsh_hr: the high-recall 8x3 banding over 24 hashes
  (P = 1-(1-j^3)^8) -- the tuned operating point for the j in
  [0.5, 0.7] zone where the 4x4 S-curve gives up;
- dedup_simhash: recall under the 32-bit / Hamming<=6 / byte-block
  config;
- the frac=0.15 band is mostly a NEGATIVE control: true trigram
  Jaccard < 0.5 for ~88% of pairs, so a correct pipeline must emit
  none of those (sub_threshold_pairs_emitted pins it).

tests/test_dedup_recall.py pins the measured floors as a CI gate.

    python scripts/eval_dedup_planted.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402

from orders_currency_conversion_etl_spark.operators import dedup_bench as db  # noqa: E402
from orders_currency_conversion_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_EVAL_DIR", "/root/testdata/sf0.1")
N_PAIRS = 200
BANDS = (0.03, 0.05, 0.08, 0.15)


def _lsh_candidate_count(spark, sf_dir, k=None, n_bands=None, n_rows=None) -> int:
    """Measured LSH candidate pairs BEFORE verification (the cost the
    banding exists to bound): the registered queries' own band rows and
    band self-join, from dedup.py's shared helpers."""
    from orders_currency_conversion_etl_spark.operators import dedup as dd

    bands = dd.minhash_bands(
        dd._docs_shingled(spark, sf_dir),
        k or dd.MINHASH_K,
        n_bands or dd.LSH_BANDS,
        n_rows or dd.LSH_ROWS,
    )
    return dd.lsh_candidates(bands).count()


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "DEDUP_EVAL.json")
    q = entry_mod.queries()
    spark = get_spark("dedup-planted-eval")
    spark.sparkContext.setLogLevel("ERROR")

    import pyarrow.parquet as pq

    n_docs_base = pq.read_metadata(os.path.join(SF_DIR, "documents.parquet")).num_rows
    results = []
    for frac in BANDS:
        out_dir = os.path.join(REPO, ".localdata", "dedup_planted", f"frac{frac}")
        path, truth = db.make_planted_docs(SF_DIR, out_dir, n_pairs=N_PAIRS, replace_frac=frac)
        texts = dict(
            zip(
                pq.read_table(path).column("doc_id").to_pylist(),
                pq.read_table(path).column("text").to_pylist(),
            )
        )
        js = np.array([db.shingle_jaccard(texts[a], texts[b]) for a, b in truth])
        detectable = [p for p, j in zip(truth, js) if j >= 0.5]

        t0 = time.perf_counter()
        mh_rows = q["dedup_minhash_lsh"](spark, out_dir).collect()
        mh_sec = round(time.perf_counter() - t0, 2)
        mh_found = {(r["doc_a"], r["doc_b"]) for r in mh_rows}
        mh_recall = db.pair_recall(mh_found, detectable) if detectable else None
        false_band = [p for p, j in zip(truth, js) if j < 0.5 and p in mh_found]
        n_cand = _lsh_candidate_count(spark, out_dir)
        n_docs = n_docs_base + len(truth)

        t0 = time.perf_counter()
        hr_rows = q["dedup_minhash_lsh_hr"](spark, out_dir).collect()
        hr_sec = round(time.perf_counter() - t0, 2)
        hr_found = {(r["doc_a"], r["doc_b"]) for r in hr_rows}
        hr_recall = db.pair_recall(hr_found, detectable) if detectable else None
        hr_false = [p for p, j in zip(truth, js) if j < 0.5 and p in hr_found]
        from orders_currency_conversion_etl_spark.operators import dedup as dd
        hr_cand = _lsh_candidate_count(
            spark, out_dir, dd.MINHASH_HR_K, dd.LSH_HR_BANDS, dd.LSH_HR_ROWS
        )

        t0 = time.perf_counter()
        sim_rows = q["dedup_simhash"](spark, out_dir).collect()
        sim_sec = round(time.perf_counter() - t0, 2)
        sim_found = {(r["doc_a"], r["doc_b"]) for r in sim_rows}
        sim_recall = db.pair_recall(sim_found, truth)

        results.append(
            {
                "replace_frac": frac,
                "n_planted_pairs": len(truth),
                "true_jaccard": {
                    "mean": round(float(js.mean()), 3),
                    "min": round(float(js.min()), 3),
                    "max": round(float(js.max()), 3),
                },
                "n_detectable_at_T0.5": len(detectable),
                "minhash_lsh": {
                    "recall_of_detectable": None if mh_recall is None else round(mh_recall, 3),
                    "analytic_banding_expectation_at_mean_j": round(
                        db.banding_expectation(float(js.mean())), 3
                    ),
                    "sub_threshold_pairs_emitted": len(false_band),
                    "candidate_pairs": n_cand,
                    "candidate_fraction_of_allpairs": round(
                        n_cand / (n_docs * (n_docs - 1) / 2), 6
                    ),
                    "sec": mh_sec,
                },
                "minhash_lsh_hr": {
                    "recall_of_detectable": None if hr_recall is None else round(hr_recall, 3),
                    "analytic_banding_expectation_at_mean_j": round(
                        db.banding_expectation(float(js.mean()), rows=3, bands=8), 3
                    ),
                    "sub_threshold_pairs_emitted": len(hr_false),
                    "candidate_pairs": hr_cand,
                    "sec": hr_sec,
                },
                "simhash": {
                    "recall_of_planted": round(sim_recall, 3),
                    "sec": sim_sec,
                },
            }
        )
        print(json.dumps(results[-1]))

    out = {
        "version": 1,
        "ground_truth": "planted",
        "sf_dir": SF_DIR,
        "n_pairs_per_band": N_PAIRS,
        "shipped_configs": {
            "minhash_lsh": "16 hashes, 4 bands x 4 rows, verify Jaccard >= 0.5",
            "minhash_lsh_hr": "24 hashes, 8 bands x 3 rows, same verification",
            "simhash": "32-bit, byte-blocked candidates, Hamming <= 6",
        },
        "notes": (
            "precision is 1.0 by construction for both pipelines (every "
            "candidate is verified with exact Jaccard/Hamming before being "
            "emitted); the open quality dimensions are recall and candidate "
            "cost, measured here. dedup_ngram_jaccard is the exact all-pairs "
            "baseline (recall 1.0 at >= T by definition, size-guarded at "
            "scale). The frac=0.15 band is ~88% negative control: true trigram "
            "Jaccard < 0.5, so minhash must emit none of those pairs."
        ),
        "bands": results,
        "ci_gate": "tests/test_dedup_recall.py",
    }
    with open(out_path, "w") as fh:
        fh.write(json.dumps(out, indent=1) + "\n")
    print(f"wrote {out_path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
