"""Planted-neighbor ANN benchmark kernels: the enforceable-recall
harness for the similarity-search family.

Why this module exists (r6/r7 VERDICT, the one unfalsifiable quality
claim left in the repo): the registered ANN queries in similarity.py
are exact-oracled — their *mechanics* are proven — but the synthetic
embeddings table is near-random, so true neighbors sit at the cosine
noise floor and recall measured there is a property of the corpus,
not the algorithm. This module makes recall measurable and CI-
enforceable:

- :func:`make_planted_corpus` plants known nearest neighbors —
  seeded-jitter replicas of chosen query vectors (the make_sf1.py
  replica machinery, with sigma sized so planted cosine ~0.95,
  far above the dim-64 noise floor ~0.3) — so ground truth is known
  by construction and verified against brute force;
- the search kernels below are PARAMETERIZED twins of the shipped
  operators (same broadcast-query / partition-restricted-corpus join
  shapes as similarity.py's registered queries; the corpus side is
  never shuffled): planes/probes for LSH, nprobe for IVF, (m,
  codewords) for PQ — the tuning surface the registered constants
  were chosen from;
- each kernel also returns per-query candidate counts, so every
  (recall, scanned-fraction) frontier point in ANN_EVAL.json is
  measured, not estimated.

scripts/eval_ann_planted.py sweeps the parameter grid at sf0.1 and
records the frontier; tests/test_ann_recall.py pins the tuned
configurations (recall@10 >= 0.8 at <= 15% corpus scanned) as a CI
gate on a smaller planted corpus.

Scale note: kernels score candidates with exact cosine after a
bucket/cell restriction, exactly like the shipped queries — at 100 TB
the restriction is a partition-pruned read (corpus written partitioned
by bucket/cid), and the query side stays a broadcast. Nothing here
collects more than Q x top_k rows.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import catalog
from .dedup import dot_cols
from .similarity import EMB_DIM, l2sq_cols

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
    from .similarity import IVF_CENTROID_STRIDE, PQ_CODEWORDS

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
    e = catalog.read_parquet(spark, path).select("vec_id", "embedding")
    return e.withColumn(
        "nrm", F.sqrt(dot_cols(F.col("embedding"), F.col("embedding")))
    )


# --------------------------------------------------------------------------
# Parameterized search kernels
# --------------------------------------------------------------------------


def _topk(cand: DataFrame, order_col: str, top_k: int, ascending: bool) -> DataFrame:
    col = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    w = Window.partitionBy("query_id").orderBy(col, F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank", order_col)
    )


def _cand_counts(cand: DataFrame) -> DataFrame:
    return cand.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_cand"))


def brute_search(
    d: DataFrame, query_ids: list[int], top_k: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Exact cosine top-k (knn_brute_force's shape, arbitrary query
    set). Returns (topk, per-query candidate counts)."""
    q = d.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    cand = d.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    return _topk(cand, "cosine", top_k, ascending=False), _cand_counts(cand)


def gen_planes(n_planes: int, seed: int = 42) -> list[list[float]]:
    """Seeded random hyperplanes (similarity.lsh_planes generalized to
    any count — seed 42 at n_planes=6 reproduces the shipped planes)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, EMB_DIM)).tolist()


def _bucket_col(emb_col: F.Column, planes: list[list[float]]) -> F.Column:
    b = None
    for i, plane in enumerate(planes):
        dot = dot_cols(emb_col, F.array(*[F.lit(v) for v in plane]))
        term = F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
        b = term if b is None else b + term
    return b


def _hamming_probes(n_planes: int, radius: int) -> list[int]:
    """XOR masks for every bucket within Hamming distance ``radius``
    (radius 0 -> [0]; 1 adds single-bit flips; 2 adds bit pairs)."""
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(n_planes)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if radius >= 3:
        raise ValueError("probe radius > 2 scans most of the corpus; use more planes")
    return masks


def lsh_search(
    d: DataFrame,
    query_ids: list[int],
    n_planes: int = 6,
    probe_radius: int = 0,
    top_k: int = 10,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Hyperplane-LSH top-k: probe_radius=0 is knn_lsh_bucketed's
    plan, 1 is knn_lsh_multiprobe's (query's bucket + every 1-bit
    flip), 2 adds 2-bit flips — the corpus keeps its single bucket
    (at scale: partitioned-by-bucket, probes = partitions read)."""
    planes = gen_planes(n_planes, seed)
    b = d.withColumn("bucket", _bucket_col(F.col("embedding"), planes))
    q = b.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    masks = _hamming_probes(n_planes, probe_radius)
    probes = q.select(
        "query_id",
        "q_emb",
        "q_nrm",
        F.explode(
            F.array(*[F.expr(f"q_bucket ^ {m}") for m in masks])
        ).alias("p_bucket"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    cand = b.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("p_bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    return _topk(cand, "cosine", top_k, ascending=False), _cand_counts(cand)


def _centroids(d: DataFrame, stride: int) -> DataFrame:
    """Adaptive-stride deterministic centroids (similarity._ivf_centroids
    with the stride as a parameter)."""
    st = d.agg(
        F.coalesce(
            F.greatest(
                F.lit(stride), F.expr(f"(MAX(vec_id) DIV {stride}) + 1")
            ),
            F.lit(stride),
        ).alias("_stride")
    )
    return (
        d.crossJoin(F.broadcast(st))
        .filter(F.col("vec_id") % F.col("_stride") == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )


def ivf_search(
    d: DataFrame,
    query_ids: list[int],
    nprobe: int = 1,
    stride: int = 64,
    top_k: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """IVF top-k with multi-cell probing: the corpus is assigned to its
    single nearest-centroid cell (knn_ivf's assignment, rn == 1); the
    QUERY probes its ``nprobe`` nearest cells — recall costs probed
    partitions, never a corpus re-shuffle (nprobe=1 is exactly the
    shipped knn_ivf plan)."""
    cent = _centroids(d, stride)
    cos_c = dot_cols(F.col("embedding"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cent_cos").desc(), F.col("cid"))
    ranked = (
        d.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", cos_c)
        .withColumn("rn", F.row_number().over(w_assign))
    )
    cell = ranked.filter(F.col("rn") == 1).select("vec_id", "embedding", "nrm", "cid")
    qprobe = (
        ranked.filter(F.col("vec_id").isin(*query_ids) & (F.col("rn") <= nprobe))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("cid").alias("q_cid"),
        )
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    cand = cell.join(
        F.broadcast(qprobe),
        (F.col("cid") == F.col("q_cid")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    return _topk(cand, "cosine", top_k, ascending=False), _cand_counts(cand)


def _pq_codes(
    e: DataFrame, query_ids: list[int], m: int, codewords: int
) -> tuple[DataFrame, DataFrame]:
    """(codes, dtab) with (m, codewords) as parameters —
    similarity._pq_parts generalized. Codebooks stay the deterministic
    corpus-prefix sample so results are reproducible without training."""
    if EMB_DIM % m:
        raise ValueError(f"m={m} must divide EMB_DIM={EMB_DIM}")
    sub = EMB_DIM // m
    m_subs = F.array(*[F.slice("embedding", i * sub + 1, sub) for i in range(m)])
    subs = e.select("vec_id", F.posexplode(m_subs).alias("m", "sub"))
    cw = subs.filter(F.col("vec_id") < codewords).select(
        "m", F.col("vec_id").alias("code"), F.col("sub").alias("cwsub")
    )
    dfx = F.floor(l2sq_cols(F.col("sub"), F.col("cwsub")) * F.lit(1e12)).cast("bigint")
    enc0 = subs.join(F.broadcast(cw), "m").select("vec_id", "m", "code", dfx.alias("dfx"))
    w_enc = Window.partitionBy("vec_id", "m").orderBy(F.col("dfx").asc(), F.col("code").asc())
    codes = (
        enc0.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    dtab = enc0.filter(F.col("vec_id").isin(*query_ids)).select(
        F.col("vec_id").alias("query_id"), "m", "code", F.col("dfx").alias("dqfx")
    )
    return codes, dtab


def pq_search(
    e: DataFrame,
    query_ids: list[int],
    m: int = 4,
    codewords: int = 16,
    top_k: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """PQ-ADC top-k (knn_pq_adc's plan, tunable subspaces/codebook).
    Candidate count is the full corpus — PQ's saving is bytes (m ints
    vs EMB_DIM floats per scanned row), reported separately by eval."""
    codes, dtab = _pq_codes(e, query_ids, m, codewords)
    cand = (
        codes.join(F.broadcast(dtab), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dqfx").alias("adcfx"))
    )
    return _topk(cand, "adcfx", top_k, ascending=True), _cand_counts(cand)


def ivf_pq_search(
    d: DataFrame,
    query_ids: list[int],
    nprobe: int = 1,
    stride: int = 64,
    m: int = 4,
    codewords: int = 16,
    top_k: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """IVF routing + PQ-ADC scoring (knn_ivf_pq's plan with nprobe/m/
    codewords tunable): ADC-score only the code rows in the query's
    nprobe nearest cells."""
    cent = _centroids(d, stride)
    cos_c = dot_cols(F.col("embedding"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cent_cos").desc(), F.col("cid"))
    ranked = (
        d.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", cos_c)
        .withColumn("rn", F.row_number().over(w_assign))
    )
    cell = ranked.filter(F.col("rn") == 1).select("vec_id", "cid")
    qcell = ranked.filter(
        F.col("vec_id").isin(*query_ids) & (F.col("rn") <= nprobe)
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("q_cid"))
    codes, dtab = _pq_codes(d.select("vec_id", "embedding"), query_ids, m, codewords)
    cand = (
        codes.join(cell, "vec_id")
        .join(
            F.broadcast(qcell),
            (F.col("cid") == F.col("q_cid")) & (F.col("vec_id") != F.col("query_id")),
        )
        .join(F.broadcast(dtab), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dqfx").alias("adcfx"))
    )
    # candidate rows = distinct (query, vec) pairs probed, i.e. the
    # group count — count pre-ADC pairs per query off the routing join
    routed = codes.filter(F.col("m") == 0).join(cell, "vec_id").join(
        F.broadcast(qcell),
        (F.col("cid") == F.col("q_cid")) & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id")
    return _topk(cand, "adcfx", top_k, ascending=True), _cand_counts(routed)


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


def mean_scan_fraction(cand_counts: DataFrame, corpus_n: int) -> float:
    """Mean over queries of candidates-scored / corpus size."""
    row = cand_counts.agg(F.avg("n_cand").alias("a")).first()
    return float(row["a"] or 0.0) / corpus_n
