"""Similarity search over the ``embeddings`` table (SURVEY L2).

Two strategies:

- brute-force top-k cosine: the exact baseline. Queries broadcast; the
  corpus never moves; per-partition top-k via window rank. Linear in
  corpus size — the right choice when Q (query count) is small.
- hyperplane-LSH buckets: the scale path. Every vector gets a bucket
  id from the sign pattern of dot products with B fixed random
  hyperplanes; search only touches the query's bucket. Expected bucket
  population n/2^B turns a 100 TB scan into a partition-pruned probe
  when the corpus is written bucket-partitioned.

The hyperplanes are generated once from a fixed seed and inlined as
literals on BOTH the Spark and the oracle side, so there is no
cross-engine randomness and the oracle check is exact (recall loss vs
brute force is a property of the *operator*, faithfully mirrored).

All dot products are sequential left folds in DOUBLE — verified
bit-identical between Spark's ``aggregate`` and DuckDB's
``list_reduce`` on real data.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import state_cache
from ..plans.registry import query
from ..sources import catalog
from .dedup import dot_cols

TOP_K = 10
QUERY_IDS = (0, 1, 2)
LSH_PLANES = 6  # 2^6 = 64 buckets; ~8 vectors/bucket at 500 rows
EMB_DIM = 64
_RNG_SEED = 42


def lsh_planes() -> list[list[float]]:
    """B fixed random hyperplanes (seeded, generated once, inlined as
    literals on both engines)."""
    rng = np.random.default_rng(_RNG_SEED)
    return rng.standard_normal((LSH_PLANES, EMB_DIM)).tolist()


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _with_norm(e: DataFrame) -> DataFrame:
    return e.withColumn("nrm", F.sqrt(dot_cols(F.col("embedding"), F.col("embedding"))))


_DUCK_EMB_CTE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings
), d AS (
    SELECT vec_id, emb,
           sqrt(list_reduce(list_transform(emb, x -> x*x), (acc,x) -> acc+x)) AS nrm
    FROM e
)"""

_DUCK_COS = (
    "list_reduce(list_transform(list_zip(q.emb, c.emb), p -> p[1]*p[2]), (acc,x) -> acc+x)"
    " / (q.nrm * c.nrm)"
)

_BRUTE_ORACLE = f"""
{_DUCK_EMB_CTE}
SELECT query_id, neighbor_id, rank, cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_DUCK_COS} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_DUCK_COS} DESC, c.vec_id) AS rank
    FROM d q JOIN d c ON c.vec_id <> q.vec_id
    WHERE q.vec_id IN {QUERY_IDS!r}
)
WHERE rank <= {TOP_K}
"""


@query("knn_brute_force", _BRUTE_ORACLE)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (tiny) query set against the
    corpus; rank per query with a deterministic vec_id tiebreak.
    Linear-scan exactness baseline — guarded: refuses corpora beyond
    guards.MAX_EXACT_BASELINE_ROWS (knn_lsh_bucketed/knn_ivf scale)."""
    import os

    from .guards import assert_parquet_baseline_size

    assert_parquet_baseline_size(
        os.path.join(sf_dir, "embeddings.parquet"),
        "knn_brute_force",
        "knn_lsh_bucketed/knn_ivf",
    )
    d = _with_norm(_emb(spark, sf_dir))
    q = d.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        d.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in plane) + "]"


def _bucket_sql(emb: str) -> str:
    """Bucket id: sum of sign bits across planes (DuckDB syntax)."""
    bits = []
    for i, plane in enumerate(lsh_planes()):
        dot = (
            f"list_reduce(list_transform(list_zip({emb}, {_plane_sql(plane)}), "
            "p -> p[1]*p[2]), (acc,x) -> acc+x)"
        )
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _lsh_oracle() -> str:
    return f"""
{_DUCK_EMB_CTE}, b AS (
    SELECT vec_id, emb, nrm, {_bucket_sql("emb")} AS bucket FROM d
)
SELECT query_id, neighbor_id, rank, cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_DUCK_COS} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_DUCK_COS} DESC, c.vec_id) AS rank
    FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id IN {QUERY_IDS!r}
)
WHERE rank <= {TOP_K}
"""


def bucket_col(emb_col: F.Column) -> F.Column:
    """Spark-side LSH bucket id for an array<float> embedding column."""
    b = None
    for i, plane in enumerate(lsh_planes()):
        dot = dot_cols(emb_col, F.array(*[F.lit(v) for v in plane]))
        term = F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
        b = term if b is None else b + term
    return b


#: Minimum centroid stride AND target cell count. The stride ADAPTS to
#: corpus size — GREATEST(64, max_id DIV 64 + 1) — so the centroid set
#: is capped at ~64 cells no matter how big the corpus gets. r5's sf3
#: decade caught the fixed-stride version: n/64 centroids made the
#: assignment cross-join QUADRATIC in corpus size (60k vectors × 937
#: centroids = 56M cosine folds, 200 s at sf3; the adaptive stride is
#: 60k × 64 = linear, and at every driver/test scale max_id DIV 64 + 1
#: < 64, so small-scale results are bit-identical to before). Both
#: engines compute the stride with the same integer arithmetic.
IVF_CENTROID_STRIDE = 64

#: Shared oracle fragment: the adaptive-stride centroid CTE chain.
_DUCK_CENT_CTE = f"""st AS (
    SELECT COALESCE(GREATEST({IVF_CENTROID_STRIDE}, (MAX(vec_id) // {IVF_CENTROID_STRIDE}) + 1), {IVF_CENTROID_STRIDE}) AS stride FROM d
), cent AS (
    SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm FROM d, st
    WHERE vec_id % stride = 0
)"""


def _ivf_centroids(d):
    """Adaptive-stride deterministic centroids (the Spark twin of
    _DUCK_CENT_CTE — one 1-row aggregate broadcast, then a filter)."""
    # coalesce: empty corpus → MAX is NULL → degrade to the constant
    # stride identically on both engines (ADVICE r5).
    st = d.agg(
        F.coalesce(
            F.greatest(
                F.lit(IVF_CENTROID_STRIDE),
                F.expr(f"(MAX(vec_id) DIV {IVF_CENTROID_STRIDE}) + 1"),
            ),
            F.lit(IVF_CENTROID_STRIDE),
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


def _ivf_oracle() -> str:
    return f"""
{_DUCK_EMB_CTE}, {_DUCK_CENT_CTE}, scored AS (
    SELECT d.vec_id, d.emb, d.nrm, c.cid,
           ROW_NUMBER() OVER (
               PARTITION BY d.vec_id
               ORDER BY list_reduce(list_transform(list_zip(d.emb, c.cemb), p -> p[1]*p[2]), (acc,x) -> acc+x)
                        / (d.nrm * c.cnrm) DESC, c.cid) AS rn
    FROM d, cent c
), cell AS (
    SELECT vec_id, emb, nrm, cid FROM scored WHERE rn = 1
)
SELECT query_id, neighbor_id, rank, cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_DUCK_COS} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_DUCK_COS} DESC, c.vec_id) AS rank
    FROM cell q JOIN cell c ON c.cid = q.cid AND c.vec_id <> q.vec_id
    WHERE q.vec_id IN {QUERY_IDS!r}
)
WHERE rank <= {TOP_K}
"""


#: Cells the query probes in knn_ivf_nprobe. Tuned on the planted-
#: neighbor benchmark (ANN_EVAL.json v2, sf0.1): nprobe=1 (knn_ivf's
#: implicit setting) measures recall@10 = 0.72; nprobe=2 = 0.855 at
#: 5.0% of the corpus scanned — past the stated >=0.8 @ <=15% target;
#: nprobe=4 = 0.959 at 9.9% for callers who want more.
IVF_NPROBE = 2


def _ivf_nprobe_oracle() -> str:
    return f"""
{_DUCK_EMB_CTE}, {_DUCK_CENT_CTE}, scored AS (
    SELECT d.vec_id, d.emb, d.nrm, c.cid,
           ROW_NUMBER() OVER (
               PARTITION BY d.vec_id
               ORDER BY list_reduce(list_transform(list_zip(d.emb, c.cemb), p -> p[1]*p[2]), (acc,x) -> acc+x)
                        / (d.nrm * c.cnrm) DESC, c.cid) AS rn
    FROM d, cent c
), cell AS (
    SELECT vec_id, emb, nrm, cid FROM scored WHERE rn = 1
), qprobe AS (
    SELECT vec_id, emb, nrm, cid FROM scored
    WHERE rn <= {IVF_NPROBE} AND vec_id IN {QUERY_IDS!r}
)
SELECT query_id, neighbor_id, rank, cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_DUCK_COS} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_DUCK_COS} DESC, c.vec_id) AS rank
    FROM qprobe q JOIN cell c ON c.cid = q.cid AND c.vec_id <> q.vec_id
)
WHERE rank <= {TOP_K}
"""


@query("knn_ivf_nprobe", _ivf_nprobe_oracle())
def knn_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with multi-cell probing — the TUNED IVF configuration from
    the planted-neighbor benchmark (ANN_EVAL.json v2): the corpus keeps
    its single nearest-centroid cell assignment, but each QUERY probes
    its IVF_NPROBE nearest cells, recovering the neighbors that
    jittered across a Voronoi boundary (the measured recall@10 gap:
    0.72 single-cell -> 0.855 at nprobe=2, 5% of the corpus scored).

    Scale shape is unchanged from knn_ivf: probing costs the query
    nprobe partition-pruned cell reads — the corpus is never
    re-shuffled and the query side stays a broadcast. Each corpus
    vector lives in exactly one cell and probe cells are distinct, so
    no (query, neighbor) pair can appear twice — no dedup step.
    CI gate: tests/test_ann_recall.py pins recall >= 0.8 at <= 15%
    scanned on a planted corpus."""
    d = _with_norm(_emb(spark, sf_dir))
    cent = _ivf_centroids(d)
    cos_c = dot_cols(F.col("embedding"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cent_cos").desc(), F.col("cid"))
    ranked = (
        d.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", cos_c)
        .withColumn("rn", F.row_number().over(w_assign))
    )
    cell = ranked.filter(F.col("rn") == 1).select("vec_id", "embedding", "nrm", "cid")
    qprobe = ranked.filter(
        F.col("vec_id").isin(*QUERY_IDS) & (F.col("rn") <= IVF_NPROBE)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("cid").alias("q_cid"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cell.join(
            F.broadcast(qprobe),
            (F.col("cid") == F.col("q_cid")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


@query("knn_ivf", _ivf_oracle())
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted-file) cells: every vector is assigned to
    its nearest centroid; a query searches only its own cell.

    Centroid selection here is a deterministic stride over vec_id (a
    k-means stand-in that keeps the oracle exact — real training would
    bake learned centroids as literals the same way). The scale story
    matches FAISS IVF: centroids broadcast (tiny), assignment is one
    map-side pass, and the corpus written partitioned-by-cell makes a
    query touch 1/n_cells of the data via partition pruning."""
    d = _with_norm(_emb(spark, sf_dir))
    cell = _ivf_cells(d)
    return _ivf_search(cell)


def _ivf_cells(d: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment: (vec_id, embedding, nrm, cid).
    The expensive IVF step — the piece build_ivf_index persists."""
    cent = _ivf_centroids(d)
    cos_c = dot_cols(F.col("embedding"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cent_cos").desc(), F.col("cid"))
    return (
        d.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", cos_c)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "nrm", "cid")
    )


def _ivf_search(cell: DataFrame) -> DataFrame:
    """In-cell exact-cosine top-k over an assigned corpus (shared by the
    derive and materialized IVF queries)."""
    q = cell.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("cid").alias("q_cid"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cell.join(
            F.broadcast(q),
            (F.col("cid") == F.col("q_cid")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ann_index_path(sf_dir: str) -> str:
    """Fingerprinted cache location for sf_dir's IVF index (the shared
    state_cache protocol: source mtime+size in the name, so stale
    state is unreachable by construction)."""
    return state_cache.fingerprint_path(
        sf_dir,
        "embeddings",
        "SPARK_GRAFT_ANN_CACHE",
        "ann_cache",
        "ivf",
        # derivation token: changing the centroid stride (or the cell
        # layout version) must invalidate the cache, not serve an
        # index built under the old parameters (r6 ADVICE).
        derivation=f"ivf_v2_stride{IVF_CENTROID_STRIDE}",
    )


def build_ivf_index(spark: SparkSession, sf_dir: str, path: str | None = None) -> str:
    """Materialize the IVF index: cell assignments written PARTITIONED
    BY cid via state_cache.materialize (atomic temp-dir + rename), so
    a query's in-cell scan is a partition-pruned read of 1/n_cells of
    the corpus — the on-disk FAISS-IVF analogue, built once per
    embedding generation."""
    import os

    path = path or ann_index_path(sf_dir)
    if state_cache.is_materialized(path):
        return path
    cell = _ivf_cells(_with_norm(_emb(spark, sf_dir)))

    def write_parts(tmp: str) -> None:
        cell.write.mode("overwrite").partitionBy("cid").parquet(os.path.join(tmp, "cells"))

    return state_cache.materialize(path, write_parts)


@query("knn_ivf_materialized", _ivf_oracle())
def knn_ivf_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the MATERIALIZED index: identical results to
    knn_ivf (same oracle), but the centroid cross-join assignment is
    paid once per embedding generation, and the index is laid out
    partitioned-by-cell so the in-cell scan arrives partition-pruned.
    Same operating-mode story as pagerank_parts_materialized — at
    100 TB the index build is the dominant cost and no production ANN
    service re-derives it per query."""
    import os

    path = build_ivf_index(spark, sf_dir)
    cell = catalog.read_parquet(spark, os.path.join(path, "cells")).select(
        "vec_id", "embedding", "nrm", "cid"
    )
    return _ivf_search(cell)


@query("knn_lsh_bucketed", _lsh_oracle())
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH bucketing: candidates share the query's
    bucket; exact cosine ranks within. At scale, write the corpus
    partitioned by bucket once, and each query reads 1/2^B of the data
    (partition pruning) instead of scanning everything."""
    d = _with_norm(_emb(spark, sf_dir)).withColumn("bucket", bucket_col(F.col("embedding")))
    q = d.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        d.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_index_path(sf_dir: str) -> str:
    """Fingerprinted cache location for sf_dir's LSH index (the shared
    state_cache protocol — source part-file mtimes+sizes in the name,
    plane count in the derivation token)."""
    return state_cache.fingerprint_path(
        sf_dir,
        "embeddings",
        "SPARK_GRAFT_ANN_CACHE",
        "ann_cache",
        "lsh",
        derivation=f"lsh_v1_planes{LSH_PLANES}",
    )


def build_lsh_index(spark: SparkSession, sf_dir: str, path: str | None = None) -> str:
    """Materialize the LSH index: the corpus (vec_id, embedding, nrm)
    written PARTITIONED BY its hyperplane bucket, once per embedding
    generation. A probe then reads only its probed buckets' partitions
    — the on-disk layout the knn_lsh_* docstrings promise at 100 TB,
    same operating mode as build_ivf_index's cells."""
    import os

    path = path or lsh_index_path(sf_dir)
    if state_cache.is_materialized(path):
        return path
    d = _with_norm(_emb(spark, sf_dir)).withColumn("bucket", bucket_col(F.col("embedding")))

    def write_parts(tmp: str) -> None:
        d.write.mode("overwrite").partitionBy("bucket").parquet(os.path.join(tmp, "buckets"))

    return state_cache.materialize(path, write_parts)


def _multiprobe_oracle() -> str:
    flips = ", ".join(f"xor(bucket, {1 << i})" for i in range(LSH_PLANES))
    return f"""
{_DUCK_EMB_CTE}, b AS (
    SELECT vec_id, emb, nrm, {_bucket_sql("emb")} AS bucket FROM d
), probes AS (
    SELECT vec_id, emb, nrm, u.pb AS p_bucket
    FROM b, unnest([bucket, {flips}]) AS u(pb)
    WHERE vec_id IN {QUERY_IDS!r}
)
SELECT query_id, neighbor_id, rank, cosine FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_DUCK_COS} AS cosine,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_DUCK_COS} DESC, c.vec_id) AS rank
    FROM probes q JOIN b c ON c.bucket = q.p_bucket AND c.vec_id <> q.vec_id
)
WHERE rank <= {TOP_K}
"""


@query("knn_lsh_materialized", _multiprobe_oracle())
def knn_lsh_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH over the MATERIALIZED bucket-partitioned index:
    identical results to knn_lsh_multiprobe (same oracle — the tuned
    config from the planted benchmark: recall 0.881 at 11.4% scanned),
    but the bucketing pass is paid once per embedding generation and
    the probe join arrives dynamically partition-pruned — each query
    reads its B+1 probed `bucket=` partitions, not the corpus. This
    completes the materialized-state family: graph edges, IVF cells,
    LSH buckets — every ANN/graph read path has a persisted operating
    mode for 100 TB (plan-asserted in tests/test_plan_quality.py)."""
    import os

    path = build_lsh_index(spark, sf_dir)
    d = catalog.read_parquet(spark, os.path.join(path, "buckets")).select(
        "vec_id", "embedding", "nrm", "bucket"
    )
    q = d.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    probes = q.select(
        "query_id",
        "q_emb",
        "q_nrm",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[F.expr(f"q_bucket ^ {1 << i}") for i in range(LSH_PLANES)],
            )
        ).alias("p_bucket"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        d.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("p_bucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


@query("knn_lsh_multiprobe", _multiprobe_oracle())
def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: probe the query's bucket PLUS every bucket at
    Hamming distance 1 (one hyperplane flipped) — the standard answer
    when single-bucket recall is too low (ANN_EVAL.json measures
    single-bucket recall@10 at 0.07 on this corpus; near-boundary
    neighbors land one sign flip away, and probing them recovers most
    of the loss for (B+1)/2^B of the corpus scanned instead of 1/2^B).

    Scale shape is unchanged from knn_lsh_bucketed: the corpus stays
    partitioned by its one bucket; only the tiny query table explodes
    B+1 ways before the broadcast join, so at 100 TB a query reads
    (B+1) partitions via pruning — probes cost partitions, never a
    full scan."""
    d = _with_norm(_emb(spark, sf_dir)).withColumn("bucket", bucket_col(F.col("embedding")))
    q = d.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    # q_bucket plus its B single-bit flips (Spark ^ = bitwise xor; the
    # oracle's xor() computes the same integer)
    probes = q.select(
        "query_id",
        "q_emb",
        "q_nrm",
        F.explode(
            F.array(
                F.col("q_bucket"),
                *[F.expr(f"q_bucket ^ {1 << i}") for i in range(LSH_PLANES)],
            )
        ).alias("p_bucket"),
    )
    cos = dot_cols(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        d.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("p_bucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# --------------------------------------------------------------------------
# Per-class centroids (the aggregation IVF "training" needs)
# --------------------------------------------------------------------------

_CENTROID_ORACLE = """
SELECT label, dim,
       CAST(CAST(SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*)
            AS DECIMAL(18,8)) AS centroid_val
FROM (
    SELECT label,
           unnest(embedding) AS val,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings
)
GROUP BY label, dim
"""


@query("embedding_centroids", _CENTROID_ORACLE)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean vector per label, computed dimension-wise: posexplode to
    (label, dim, val), hash-aggregate on (label, dim). This is how you
    average vectors on a cluster — the work distributes over
    labels x dims instead of serializing whole arrays to one reducer.

    Parity detail: the per-dimension SUM runs in DECIMAL(30,15)
    (exact and commutative, so partition/accumulation order can't
    change the result — a DOUBLE sum would). 15 fractional digits sits
    far below a float32's decimal expansion, so the element-level
    rounding both engines do before the sum can never disagree (at 8
    digits it did, by one ulp on ~6% of groups). One deterministic
    DOUBLE division at the end.

    At 100 TB this is the k-means "M step" / IVF centroid refresh:
    one shuffle of (label, dim, partial-sum) pairs after map-side
    combine, output k x 64 rows."""
    e = catalog.load_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    return e.groupBy("label", "dim").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(30,15)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("decimal(18,8)")
        .alias("centroid_val")
    )


# --------------------------------------------------------------------------
# ANN quality: recall@k of the LSH path against the exact baseline
# --------------------------------------------------------------------------

def _recall_oracle() -> str:
    return f"""
{_DUCK_EMB_CTE}, b AS (
    SELECT vec_id, emb, nrm, {_bucket_sql("emb")} AS bucket FROM d
), brute AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_DUCK_COS} DESC, c.vec_id) AS rank
        FROM d q JOIN d c ON c.vec_id <> q.vec_id
        WHERE q.vec_id IN {QUERY_IDS!r}
    ) WHERE rank <= {TOP_K}
), approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_DUCK_COS} DESC, c.vec_id) AS rank
        FROM b q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id IN {QUERY_IDS!r}
    ) WHERE rank <= {TOP_K}
)
SELECT brute.query_id,
       COUNT(*) AS n_exact,
       COUNT(approx.neighbor_id) AS n_hits,
       CAST(COUNT(approx.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
FROM brute
LEFT JOIN approx ON approx.query_id = brute.query_id
                AND approx.neighbor_id = brute.neighbor_id
GROUP BY brute.query_id
"""


@query("knn_recall_at_k", _recall_oracle())
def knn_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-evaluation of the ANN path: recall@k of LSH-bucketed search
    against the exact brute-force top-k, per query.

    This is the measurement loop an ANN deployment needs — when recall
    drifts (skewed buckets, bad plane count), you see it as a number,
    not as silently worse retrieval. Both sides are deterministic
    (seeded planes inlined as literals), so even the quality metric
    has an exact cross-engine oracle. Cost: both searches touch only
    broadcast-joined candidates; the recall join itself is on the tiny
    (queries × k) result sets.
    """
    brute = knn_brute_force(spark, sf_dir).select("query_id", "neighbor_id")
    approx = knn_lsh_bucketed(spark, sf_dir).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
    )
    hit = brute.join(
        approx,
        (F.col("query_id") == F.col("a_query_id"))
        & (F.col("neighbor_id") == F.col("a_neighbor_id")),
        "left",
    )
    return hit.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("a_neighbor_id").alias("n_hits"),
        (F.count("a_neighbor_id").cast("double") / F.count(F.lit(1))).alias("recall_at_k"),
    )


# --------------------------------------------------------------------------
# Embedding quantization (int8) — training-data compression prep
# --------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings
), m AS (
    SELECT vec_id, emb,
           list_reduce(list_transform(emb, x -> abs(x)), (a, x) -> CASE WHEN x > a THEN x ELSE a END)
             AS max_abs
    FROM e
)
SELECT vec_id,
       max_abs,
       list_transform(emb, x -> CAST(floor(x * 127.0 / max_abs) AS INT)) AS q_emb,
       len(emb) AS dim
FROM m
"""


@query("embedding_quantize_int8", _QUANT_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale by 127/max|x| and
    floor. Floor (not round) keeps the map portable — round() on
    DOUBLE diverges between engines at ties, floor never does. The
    per-vector max is a fold over the array, so the whole op is one
    narrow map pass: at 100 TB it quantizes at scan speed with zero
    shuffle, cutting embedding storage 4x before an ANN index build.
    """
    e = _emb(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    max_abs = F.aggregate(
        F.transform("emb", lambda x: F.abs(x)),
        F.lit(0.0),
        lambda a, x: F.when(x > a, x).otherwise(a),
    )
    m = e.withColumn("max_abs", max_abs)
    return m.select(
        "vec_id",
        "max_abs",
        F.transform(
            "emb", lambda x: F.floor(x * F.lit(127.0) / F.col("max_abs")).cast("int")
        ).alias("q_emb"),
        F.size("emb").alias("dim"),
    )


# --------------------------------------------------------------------------
# Vector norm statistics per label
# --------------------------------------------------------------------------

_NORM_STATS_ORACLE = """
WITH elems AS (
    SELECT vec_id, label, unnest(embedding) AS x FROM embeddings
),
sq AS (
    SELECT vec_id, label,
           SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(30,15))) AS ss
    FROM elems GROUP BY 1, 2
),
norms AS (
    SELECT label, sqrt(CAST(ss AS DOUBLE)) AS norm FROM sq
)
SELECT label,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(norm AS DECIMAL(30,15))) AS DOUBLE) / COUNT(*)
            AS DECIMAL(18,12)) AS avg_norm,
       CAST(MIN(norm) AS DECIMAL(18,12)) AS min_norm,
       CAST(MAX(norm) AS DECIMAL(18,12)) AS max_norm
FROM norms GROUP BY 1
"""


@query("embedding_norm_stats", _NORM_STATS_ORACLE)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution per label — the sanity check before any
    cosine math (unnormalized vectors silently break dot-product
    similarity).

    Parity recipe (SURVEY §4.3 family): each squared element is pinned
    to DECIMAL(30,15) so the per-row sum is EXACT and independent of
    accumulation order on both engines (decimal SUM is a fixed-type,
    order-free monoid — unlike F.aggregate's fold, whose decimal
    addition drifts scale (38,15)+(30,15)→(38,14) every step). sqrt of
    the identical double is correctly rounded on both engines; the
    per-label average again sums decimals, not doubles.
    """
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    sq = emb.select(
        "vec_id",
        "label",
        F.explode("embedding").alias("x"),
    ).select(
        "vec_id",
        "label",
        (F.col("x").cast("double") * F.col("x").cast("double"))
        .cast("decimal(30,15)")
        .alias("x2"),
    )
    ss = sq.groupBy("vec_id", "label").agg(F.sum("x2").alias("ss"))
    norms = ss.select("label", F.sqrt(F.col("ss").cast("double")).alias("norm"))
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("norm").cast("decimal(30,15)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("decimal(18,12)")
        .alias("avg_norm"),
        F.min("norm").cast("decimal(18,12)").alias("min_norm"),
        F.max("norm").cast("decimal(18,12)").alias("max_norm"),
    )


# --------------------------------------------------------------------------
# K-means (fixed Lloyd iterations — the iterative-ML capability class)
# --------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2


def _km_iter_sql(cent: str, out: str) -> str:
    """One Lloyd iteration as SQL CTEs: assign every vector to its
    nearest centroid (exact-decimal distance, deterministic tiebreak),
    then recompute centroids as dimension-wise means."""
    return f"""
asgn_{out} AS (
    SELECT vec_id, cid FROM (
        SELECT d.vec_id, d.cid,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.dist ASC, d.cid ASC) AS rn
        FROM (
            SELECT v.vec_id, c.cid,
                   SUM(CAST(floor((v.x - c.val) * (v.x - c.val) * 1e12) AS BIGINT)) AS dist
            FROM vx v JOIN {cent} c ON v.dim = c.dim
            GROUP BY v.vec_id, c.cid
        ) d
    ) r WHERE rn = 1
), {out} AS (
    SELECT a.cid, v.dim,
           (CAST(SUM(CAST(floor(v.x * 1e6) AS BIGINT)) AS DOUBLE) / 1000000.0) / COUNT(*) AS val,
           COUNT(*) AS n_members
    FROM asgn_{out} a JOIN vx v ON a.vec_id = v.vec_id
    GROUP BY a.cid, v.dim
)"""


_KMEANS_ORACLE = f"""
WITH vx AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
), cent0 AS (
    SELECT vec_id AS cid, dim, x AS val
    FROM vx
    WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K})
),{_km_iter_sql("cent0", "cent1")},{_km_iter_sql("cent1", "cent2")}
SELECT cid AS cluster_id, dim, val AS centroid_val, n_members
FROM cent{KMEANS_ITERS}
"""


@query("kmeans_embeddings", _KMEANS_ORACLE)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embedding table: {KMEANS_ITERS} fixed Lloyd
    iterations from a deterministic init (the K lowest vec_ids), output
    the final centroids dimension-wise with cluster sizes.

    The iterative-ML sibling of pagerank_parts: E-step = broadcast the
    tiny centroid table (K x D rows) into the exploded vector table
    (map-side, no shuffle), aggregate squared-distance per (vector,
    centroid), pick argmin with a deterministic (dist, cid) tiebreak;
    M-step = dimension-wise mean per cluster — the same exact-decimal
    recipe as embedding_centroids. At 100 TB the only wide data is the
    exploded vectors (rows x dims); every per-iteration join is
    broadcast or key-partitioned on vec_id, and the centroid state is
    K x D rows regardless of corpus size. Fixed iteration count keeps
    the oracle expressible as unrolled CTEs (convergence-stopped
    variants add a driver-side delta check per loop, same plan).

    Parity: centroids flow as DOUBLE end-to-end (float32 -> double is
    exact). All cross-engine folds are FLOOR-based fixed-point, never
    double->DECIMAL rounding: distances sum floor(sq * 1e12) and the
    M-step mean sums floor(x * 1e6), both as exact BIGINTs. floor of
    an identical IEEE double is bit-identical on both engines, while
    double->DECIMAL rounding is engine-specific near the last ulp
    (Spark rounds the exact binary expansion, DuckDB's cast behaves
    like rounding the shortest repr — measured divergence at scale 15
    AND a residual 1-element hit at scale 9 on sf0.1; same reason
    embedding_quantize_int8 floors). The 1e-6 quantization biases each
    mean by <1e-6 — immaterial to clustering and applied identically
    on both engines; argmin ties break on cid over exact integers.
    """
    vx = catalog.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "dim", F.col("x").cast("double").alias("x"))

    init_ids = (
        catalog.load_table(spark, sf_dir, "embeddings")
        .select("vec_id").orderBy("vec_id").limit(KMEANS_K)
    )
    cent = (
        vx.join(F.broadcast(init_ids), "vec_id")
        .select(F.col("vec_id").alias("cid"), "dim", F.col("x").alias("val"))
    )
    for _ in range(KMEANS_ITERS):
        sq = (F.col("x") - F.col("val")) * (F.col("x") - F.col("val"))
        dist = (
            vx.join(F.broadcast(cent.select("cid", "dim", "val")), "dim")
            .groupBy("vec_id", "cid")
            .agg(F.sum(F.floor(sq * F.lit(1e12)).cast("bigint")).alias("dist"))
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cid").asc())
        asgn = (
            dist.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid")
        )
        cent = (
            asgn.join(vx, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                (
                    F.sum(F.floor(F.col("x") * F.lit(1e6)).cast("bigint")).cast("double")
                    / F.lit(1000000.0)
                    / F.count(F.lit(1))
                ).alias("val"),
                F.count(F.lit(1)).alias("n_members"),
            )
        )
    return cent.select(
        F.col("cid").alias("cluster_id"), "dim", F.col("val").alias("centroid_val"), "n_members"
    )


# --------------------------------------------------------------------------
# Product quantization + asymmetric distance (PQ-ADC, the FAISS IVF-PQ
# residual-free variant)
# --------------------------------------------------------------------------

PQ_M = 4                      # subspaces
PQ_SUB = EMB_DIM // PQ_M      # dims per subspace (16)
PQ_CODEWORDS = 16             # codewords per subspace => codes fit in 4 bits


def l2sq_cols(x: F.Column, y: F.Column) -> F.Column:
    """Sequential left-fold squared-L2 distance in DOUBLE — same fold
    shape as :func:`~..operators.dedup.dot_cols` (0.0 + x1 is exactly
    x1, so the init-carrying Spark fold matches DuckDB's init-free
    list_reduce bit-for-bit)."""
    return F.aggregate(
        F.zip_with(
            x, y, lambda p, q: (p.cast("double") - q.cast("double"))
            * (p.cast("double") - q.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_oracle() -> str:
    sub = PQ_SUB
    l2 = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])), (acc,x) -> acc+x)"
    )
    return f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings
), subs AS (
    SELECT e.vec_id, t.m, list_slice(e.emb, t.m*{sub}+1, t.m*{sub}+{sub}) AS sub
    FROM e, range({PQ_M}) t(m)
), cw AS (
    SELECT m, vec_id AS code, sub AS cwsub FROM subs WHERE vec_id < {PQ_CODEWORDS}
), enc0 AS (
    SELECT s.vec_id, s.m, c.code,
           CAST(floor({l2.format(a='s.sub', b='c.cwsub')} * 1e12) AS BIGINT) AS dfx
    FROM subs s JOIN cw c ON c.m = s.m
), codes AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dfx, code) AS rn
        FROM enc0
    ) WHERE rn = 1
), dtab AS (
    SELECT vec_id AS query_id, m, code, dfx AS dqfx FROM enc0
    WHERE vec_id IN {QUERY_IDS!r}
), adc AS (
    SELECT d.query_id, codes.vec_id AS neighbor_id, SUM(d.dqfx) AS adcfx
    FROM codes JOIN dtab d ON d.m = codes.m AND d.code = codes.code
    WHERE codes.vec_id <> d.query_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rank, CAST(adcfx AS DOUBLE) / 1e12 AS adc_dist FROM (
    SELECT query_id, neighbor_id, adcfx,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adcfx, neighbor_id) AS rank
    FROM adc
)
WHERE rank <= {TOP_K}
"""




def _pq_parts(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared PQ machinery: (codes, dtab).

    codes  — every vector's per-subspace nearest-codeword id
             (vec_id, m, code): the M-int compressed corpus.
    dtab   — the query-side asymmetric distance table
             (query_id, m, code, dqfx): fixed-point squared-L2 from
             each query subvector to every codeword, Q x M x K rows,
             broadcastable.
    """
    m_subs = F.array(
        *[F.slice("embedding", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )
    subs = e.select("vec_id", F.posexplode(m_subs).alias("m", "sub"))
    cw = (
        subs.filter(F.col("vec_id") < PQ_CODEWORDS)
        .select("m", F.col("vec_id").alias("code"), F.col("sub").alias("cwsub"))
    )
    dfx = F.floor(l2sq_cols(F.col("sub"), F.col("cwsub")) * F.lit(1e12)).cast("bigint")
    enc0 = subs.join(F.broadcast(cw), "m").select(
        "vec_id", "m", "code", dfx.alias("dfx")
    )
    w_enc = Window.partitionBy("vec_id", "m").orderBy(
        F.col("dfx").asc(), F.col("code").asc()
    )
    codes = (
        enc0.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "code")
    )
    dtab = enc0.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "m", "code", F.col("dfx").alias("dqfx")
    )
    return codes, dtab


@query("knn_pq_adc", _pq_oracle())
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization with asymmetric distance (ADC).

    Every vector is split into PQ_M=4 subvectors of 16 dims; each
    subvector is encoded as the id of its nearest codeword (squared
    L2), giving a 4-byte code per vector (4-bit codes packed would be
    2). A query is NOT encoded: it precomputes a distance table
    (query-subvector -> every codeword, Q x M x K = tiny) and
    approximate distance is the sum of M table lookups over the codes.
    Codebooks here are a deterministic corpus sample (vec_id <
    PQ_CODEWORDS) so the oracle is exact — real
    training would bake k-means codebooks as literals the same way
    (kmeans_embeddings is that trainer).

    100 TB story (the reason PQ exists): the scanned state is the CODE
    table — 4 small ints/vector vs 64 floats raw (4 B vs 256 B packed,
    64x) —
    and scoring is a broadcast hash join of the tiny LUT onto the codes
    followed by a map-side partial SUM: one narrow scan, no raw-vector
    I/O at query time. Encoding is a one-off map-side pass (codebooks
    broadcast). Combine with the IVF cells of knn_ivf (route queries to
    cells, PQ-score within the cell) for FAISS-IVFPQ semantics; both
    halves are independently oracled here.

    Cross-engine parity: all distances flow as floor(l2sq * 1e12)
    BIGINTs (the kmeans_embeddings fixed-point recipe — double->DECIMAL
    rounding diverges near the last ulp, floor of an identical double
    never does); ADC sums BIGINTs exactly; ties break on (code) for
    encoding and (neighbor_id) for ranking.
    """
    codes, dtab = _pq_parts(_emb(spark, sf_dir))
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adcfx").asc(), F.col("neighbor_id").asc()
    )
    return (
        codes.join(F.broadcast(dtab), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dqfx").alias("adcfx"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            (F.col("adcfx").cast("double") / F.lit(1e12)).alias("adc_dist"),
        )
    )


def _ivf_pq_oracle() -> str:
    sub = PQ_SUB
    l2 = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (p[1]-p[2])*(p[1]-p[2])), (acc,x) -> acc+x)"
    )
    return f"""
{_DUCK_EMB_CTE}, {_DUCK_CENT_CTE}, assign AS (
    SELECT d.vec_id, c.cid,
           ROW_NUMBER() OVER (
               PARTITION BY d.vec_id
               ORDER BY list_reduce(list_transform(list_zip(d.emb, c.cemb), p -> p[1]*p[2]), (acc,x) -> acc+x)
                        / (d.nrm * c.cnrm) DESC, c.cid) AS rn
    FROM d, cent c
), cell AS (
    SELECT vec_id, cid FROM assign WHERE rn = 1
), subs AS (
    SELECT e.vec_id, t.m, list_slice(e.emb, t.m*{sub}+1, t.m*{sub}+{sub}) AS sub
    FROM e, range({PQ_M}) t(m)
), cw AS (
    SELECT m, vec_id AS code, sub AS cwsub FROM subs WHERE vec_id < {PQ_CODEWORDS}
), enc0 AS (
    SELECT s.vec_id, s.m, c.code,
           CAST(floor({l2.format(a='s.sub', b='c.cwsub')} * 1e12) AS BIGINT) AS dfx
    FROM subs s JOIN cw c ON c.m = s.m
), codes AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dfx, code) AS rn
        FROM enc0
    ) WHERE rn = 1
), dtab AS (
    SELECT vec_id AS query_id, m, code, dfx AS dqfx FROM enc0
    WHERE vec_id IN {QUERY_IDS!r}
), qcell AS (
    SELECT vec_id AS query_id, cid FROM cell WHERE vec_id IN {QUERY_IDS!r}
), adc AS (
    SELECT q.query_id, codes.vec_id AS neighbor_id, SUM(t.dqfx) AS adcfx
    FROM codes
    JOIN cell ON cell.vec_id = codes.vec_id
    JOIN qcell q ON q.cid = cell.cid AND codes.vec_id <> q.query_id
    JOIN dtab t ON t.query_id = q.query_id AND t.m = codes.m AND t.code = codes.code
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rank, CAST(adcfx AS DOUBLE) / 1e12 AS adc_dist FROM (
    SELECT query_id, neighbor_id, adcfx,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adcfx, neighbor_id) AS rank
    FROM adc
)
WHERE rank <= {TOP_K}
"""


@query("knn_ivf_pq", _ivf_pq_oracle())
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-IVFPQ semantics as one Catalyst plan: IVF cells route each
    query to its own centroid's cell (knn_ivf's coarse quantizer), PQ
    asymmetric distance scores ONLY that cell's code rows (knn_pq_adc's
    fine quantizer). Both halves keep their independently-oracled exact
    parity recipes (cosine routing with (cos DESC, cid) ties;
    floor(l2^2*1e12) BIGINT ADC), so the composition is exact too.

    100 TB story — this is the shape that makes billion-vector ANN a
    Spark job: the corpus at query time is the CODE table partitioned
    by cell (write partitioned-by-cid → partition pruning reads 1/n_cells
    of 4-int rows, no raw vectors); the query side is two broadcast
    lookups (cell routing table Q rows, distance LUT Q x M x K rows)
    feeding a map-side partial SUM. Encoding and cell assignment are
    one-off broadcast-join passes, exactly the knn_ivf / knn_pq_adc
    plans they reuse."""
    d = _with_norm(_emb(spark, sf_dir))
    cent = _ivf_centroids(d)
    cos_c = dot_cols(F.col("embedding"), F.col("cemb")) / (F.col("nrm") * F.col("cnrm"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cent_cos").desc(), F.col("cid"))
    cell = (
        d.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", cos_c)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    codes, dtab = _pq_parts(_emb(spark, sf_dir))
    qcell = cell.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("cid").alias("q_cid")
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("adcfx").asc(), F.col("neighbor_id").asc()
    )
    return (
        codes.join(cell, "vec_id")
        .join(
            F.broadcast(qcell),
            (F.col("cid") == F.col("q_cid")) & (F.col("vec_id") != F.col("query_id")),
        )
        .join(F.broadcast(dtab), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dqfx").alias("adcfx"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            (F.col("adcfx").cast("double") / F.lit(1e12)).alias("adc_dist"),
        )
    )
