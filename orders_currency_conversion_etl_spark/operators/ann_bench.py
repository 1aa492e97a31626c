"""Planted-neighbor ANN benchmark: the corpus and the recall metrics
behind the enforceable-recall gate for the similarity-search family.

The registered ANN queries in similarity.py are exact-oracled, which
proves their mechanics, but the synthetic embeddings table is
near-random: true neighbors sit at the cosine noise floor, so recall
measured there is a property of the corpus, not of the algorithm. This
module makes recall measurable:

- :func:`make_planted_corpus` plants known nearest neighbors —
  seeded-jitter replicas of chosen query vectors, with sigma sized so
  planted cosine ~0.95, far above the dim-64 noise floor ~0.3 — so
  ground truth is known by construction and verified against brute
  force;
- :func:`recall_at_k` scores a top-k frame against that truth, and
  :func:`mean_scan_fraction` counts the candidates a kernel scored per
  query, so every (recall, scanned-fraction) frontier point in
  ANN_EVAL.json is measured, not estimated.

There is no search code here. The eval and the gate run similarity.py's
kernels (``brute_candidates``, ``lsh_candidates``, ``ivf_candidates``,
``pq_candidates``, ``ivf_pq_candidates`` and ``top_k``) — the same
functions the registered ``knn_*`` queries call at their shipped
constants — with swept planes, probe radius, nprobe and (m,
codewords). scripts/eval_ann_planted.py sweeps the grid at sf0.1 and
records the frontier; tests/test_ann_recall.py pins the shipped
configurations (recall@10 >= 0.8 at <= 15% corpus scanned) as a CI
gate on a smaller planted corpus.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import catalog
from .similarity import EMB_DIM, IVF_CENTROID_STRIDE, PQ_CODEWORDS, with_norm

_PLANT_SEED = 7


# --------------------------------------------------------------------------
# Planted corpus
# --------------------------------------------------------------------------


def make_planted_corpus(
    sf_dir: str,
    out_dir: str,
    n_queries: int = 64,
    n_plant: int = 10,
    sigma: float = 0.04,
    seed: int = _PLANT_SEED,
) -> tuple[str, list[int], dict[int, set[int]]]:
    """Write ``<out_dir>/embeddings.parquet``: the sf_dir corpus plus
    ``n_queries * n_plant`` planted near-neighbors, and return
    (path, query_ids, truth: query_id -> planted neighbor ids).

    Query vectors are existing corpus rows spread evenly across the id
    range, stepped off the PQ codebook prefix (ids < codewords) and off
    the IVF centroid lattice (ids ≡ 0 mod the POST-planting adaptive
    stride) — a query or planted row ON a centroid/codeword would
    perturb the index structure itself between variants. Planted ids
    likewise skip lattice multiples. The effective stride is solved as
    a fixed point because it adapts to max(vec_id), which the planted
    rows themselves extend (similarity.IVF_CENTROID_STRIDE).
    Each planted row is query + N(0, sigma) per component, seeded per
    (query, replica) — sigma=0.04 on unit vectors gives cosine ~0.955,
    comparable to a paraphrase/near-dup embedding, while random pairs
    sit at |cos| ~ 0.1-0.3 in dim 64. Ground truth is exact by
    construction when n_plant <= top_k; eval scripts verify it against
    brute force before trusting it.

    Driver-side numpy on purpose: the base corpus is small (2k rows at
    sf0.1); at real scale planting would be one mapInPandas pass —
    the read/search side, which is what's being measured, is pure
    Spark either way.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = np.asarray(tbl["vec_id"].to_pylist(), dtype=np.int64)
    embs = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float32)
    labels = np.asarray(tbl["label"].to_pylist(), dtype=np.int32)
    n = len(ids)
    if n_queries > n:
        raise ValueError(f"corpus has {n} rows < n_queries={n_queries}")

    # The IVF stride adapts to max(vec_id) — GREATEST(64, max_id DIV
    # 64 + 1) — and planting extends max_id, so solve the effective
    # post-planting stride as a fixed point (converges in <= 2 steps:
    # skipping adds at most total/stride ids, moving max_id // 64 by
    # at most 1).
    total_plants = n_queries * n_plant
    base_max = int(ids.max())
    stride_eff = IVF_CENTROID_STRIDE
    for _ in range(8):
        skipped = total_plants // stride_eff + 2
        final_max = base_max + total_plants + skipped
        nxt = max(IVF_CENTROID_STRIDE, final_max // IVF_CENTROID_STRIDE + 1)
        if nxt == stride_eff:
            break
        stride_eff = nxt

    def _off_lattice(vec_id: int) -> bool:
        return vec_id % stride_eff != 0 and vec_id >= PQ_CODEWORDS

    # query ids: evenly spaced; each candidate steps forward until its
    # id is off the codebook prefix and off the centroid lattice
    stride = max(1, n // n_queries)
    q_idx: list[int] = []
    seen: set[int] = set()
    for i in range(n_queries):
        cand = (i * stride + stride // 2 + 33) % n
        for _ in range(n):
            if cand not in seen and _off_lattice(int(ids[cand])):
                break
            cand = (cand + 1) % n
        q_idx.append(cand)
        seen.add(cand)
    query_ids = [int(ids[i]) for i in q_idx]

    next_id = base_max + 1
    plant_ids, plant_embs, plant_labels = [], [], []
    truth: dict[int, set[int]] = {}
    for qi, idx in zip(query_ids, q_idx):
        truth[qi] = set()
        for r in range(n_plant):
            rng = np.random.default_rng((qi * 1_000_003 + r * 7919 + seed) & 0x7FFFFFFF)
            v = embs[idx] + rng.normal(0.0, sigma, EMB_DIM).astype(np.float32)
            while next_id % stride_eff == 0:  # keep plants off the lattice
                next_id += 1
            plant_ids.append(next_id)
            plant_embs.append(v.tolist())
            plant_labels.append(int(labels[idx]))
            truth[qi].add(next_id)
            next_id += 1

    # The avoidance only holds if the fixed point matched the stride
    # the engines will actually derive from the planted corpus.
    actual_stride = max(
        IVF_CENTROID_STRIDE, max(base_max, next_id - 1) // IVF_CENTROID_STRIDE + 1
    )
    assert actual_stride == stride_eff, (
        f"planted-corpus stride fixed point diverged: solved {stride_eff}, "
        f"actual {actual_stride} — lattice avoidance would be off"
    )

    out = pa.table(
        {
            "vec_id": pa.array(ids.tolist() + plant_ids, pa.int64()),
            "embedding": pa.array(
                embs.tolist() + plant_embs, pa.list_(pa.float32())
            ),
            "label": pa.array(labels.tolist() + plant_labels, pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(out, path)
    return path, query_ids, truth


def load_corpus(spark: SparkSession, path: str) -> DataFrame:
    """(vec_id, embedding, nrm) from a planted-corpus parquet."""
    return with_norm(catalog.read_parquet(spark, path).select("vec_id", "embedding"))


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------


def recall_at_k(topk: DataFrame, truth: dict[int, set[int]]) -> float:
    """Mean over queries of |retrieved ∩ truth| / |truth| (collects
    Q x top_k rows — bounded)."""
    rows = topk.select("query_id", "neighbor_id").collect()
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recs = [
        len(got.get(qid, set()) & t) / len(t) for qid, t in truth.items() if t
    ]
    return float(np.mean(recs)) if recs else 0.0


def mean_scan_fraction(cand: DataFrame, corpus_n: int) -> float:
    """Mean over queries of candidates scored / corpus size, counted
    from a kernel's candidate frame (one row per query and candidate)."""
    counts = cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_cand"))
    row = counts.agg(F.avg("n_cand").alias("a")).first()
    return float(row["a"] or 0.0) / corpus_n
