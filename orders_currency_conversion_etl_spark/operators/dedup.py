"""Deduplication operators over ``documents`` / ``embeddings``
(SURVEY L1 + the north-star training-data-pipeline mandate).

Five strategies, each the standard scale shape:

- exact          hash-groupBy on md5(text); one shuffle on the hash.
- n-gram Jaccard shingle-explode + equi-join on shingle; exact but the
                 join can explode on hot shingles — the LSH variant is
                 its 100 TB replacement.
- MinHash + LSH  k=16 portable min-hashes → 4 bands × 4 rows; equal
                 band => candidate; candidates verified with true
                 Jaccard. Join cost ∝ collisions, not |pairs|².
- SimHash        32-bit sign-aggregated token-hash sketch; candidate
                 pairs share ≥1 of 4 bytes (pigeonhole: Hamming ≤ 6
                 over 32 bits guarantees one equal byte); verified by
                 bit_count(xor) ≤ 6.
- embedding cos  exact pairwise cosine ≥ τ; the LSH-bucketed form for
                 scale is in operators/similarity.py.

The near-dup pair stages are public helpers over a (doc_id, shingles)
frame, each with a DuckDB twin that the oracles are built from, so
every query (and operators/curation.py) runs the same code:

- shingle_join_pairs / shingle_join_pairs_sql: the exact shingle join;
- minhash_bands / minhash_bands_sql: signature + LSH band rows;
- lsh_candidates: the band self-join;
- jaccard_verify / jaccard_verify_sql: exact-Jaccard check of
  candidate pairs;
- lsh_pairs / lsh_pairs_sql: bands (persisted) → candidates → verify.

Determinism across engines: all hashing is md5-prefix based (identical
hex both sides); all float folds are sequential left folds (verified
bit-identical Spark vs DuckDB).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_fn import (
    SHINGLES_SQL,
    hex_to_long_spark_sql,
    hex_to_long_sql,
    token_shingles,
)
from ..plans.registry import query
from ..sources import catalog

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # MINHASH_K = LSH_BANDS * LSH_ROWS
JACCARD_T = 0.5
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 6
COSINE_DUP_T = 0.45

_TOK_CTE = r"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sh AS (
    SELECT doc_id, {shingles} AS shingles FROM tok
)""".format(shingles=SHINGLES_SQL)


def _docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles): the distinct 3-token shingles of each
    document (scan spread across all cores — shingling is CPU-bound,
    see load_table_parallel)."""
    docs = catalog.load_table_parallel(spark, sf_dir, "documents")
    return (
        docs.withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .withColumn("shingles", F.array_distinct(token_shingles("toks", k=3)))
        .select("doc_id", "shingles")
    )


def _shared(df: DataFrame) -> DataFrame:
    """Persist a diamond-shaped intermediate that downstream joins read
    more than once. The 100 TB analog is materializing the signature
    table once (write-then-read) instead of recomputing the shingle +
    hash pipeline per consumer; locally MEMORY_AND_DISK does the same
    with LRU eviction bounding footprint."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT md5(text) AS content_md5,
       MIN(doc_id) AS doc_id_kept,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@query("dedup_exact", _EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on content hash, keep the smallest doc_id —
    a deterministic survivor rule (min is associative, so map-side
    partial aggregation applies; one shuffle of (hash, id))."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("doc_id_kept"), F.count(F.lit(1)).alias("n_copies"))
    )


# --------------------------------------------------------------------------
# N-gram Jaccard (exact pairwise via shingle join)
# --------------------------------------------------------------------------

def shingle_join_pairs(sh: DataFrame) -> DataFrame:
    """Exact near-dup pairs of a (doc_id, shingles) frame: explode the
    shingles, equi-join on the shingle, count the shared shingles of
    each (doc_a < doc_b) pair and keep Jaccard >= JACCARD_T as
    (doc_a, doc_b, jaccard). Reads ``sh`` twice, so callers persist it.
    Shuffles once on the shingle; hot shingles are the scale risk that
    lsh_pairs bounds."""
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    sc = sh.select("doc_id", F.size("shingles").alias("n"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca, cb = sc.alias("ca"), sc.alias("cb")
    jac = F.col("n_common").cast("double") / (
        F.col("ca.n") + F.col("cb.n") - F.col("n_common")
    )
    return (
        common.join(ca, F.col("ca.doc_id") == F.col("doc_a"))
        .join(cb, F.col("cb.doc_id") == F.col("doc_b"))
        .filter(jac >= JACCARD_T)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def shingle_join_pairs_sql(src: str) -> str:
    """DuckDB twin of :func:`shingle_join_pairs` over the relation
    ``src`` of (doc_id, shingles): CTEs (leading comma) ending in
    ``pairs(doc_a, doc_b, jaccard)``."""
    jac = "CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common)"
    return f"""
, shingle_rows AS (SELECT doc_id, unnest(shingles) AS s FROM {src}),
shingle_counts AS (SELECT doc_id, len(shingles) AS n FROM {src}),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM shingle_rows a JOIN shingle_rows b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
), pairs AS (
    SELECT doc_a, doc_b, {jac} AS jaccard
    FROM common
    JOIN shingle_counts ca ON ca.doc_id = doc_a
    JOIN shingle_counts cb ON cb.doc_id = doc_b
    WHERE {jac} >= {JACCARD_T!r}
)"""


_JACCARD_ORACLE = _TOK_CTE + shingle_join_pairs_sql("sh") + "\nSELECT * FROM pairs\n"


@query("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs: Jaccard over distinct 3-token shingles
    (shingle_join_pairs over the whole corpus)."""
    return shingle_join_pairs(_shared(_docs_shingled(spark, sf_dir)))


# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------


MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def _minhash_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """k affine-transform parameters (a, b), fixed-seed, inlined on
    both engines. h_i(s) = (a*base + b) mod p over the 32-bit md5-prefix
    base hash — ONE md5 per shingle instead of k (the classic
    a*x+b universal-hash family). The same seed generates every k, so
    a larger family (the high-recall banding below) is a strict
    superset of the shipped 16 and the two oracles can never drift."""
    import random

    rng = random.Random(20260813)
    return [(rng.randrange(1, 1 << 20), rng.randrange(0, 1 << 20)) for _ in range(k)]


#: base-hash of one shingle: 32-bit integer from the md5 prefix —
#: computed ONCE per shingle into a `hashes` array, then each of the k
#: min-hashes is a cheap affine pass over that array. The portable
#: digit-expansion form is what the ORACLES inline (DuckDB has no
#: conv); the Spark side uses the value-identical conv() twin
#: (r19 opt — see functions/text_fn.hex_to_long_spark_sql).
_BASE_HASH_SQL = hex_to_long_sql("substr(md5(s), 1, 8)")
_BASE_HASH_SPARK_SQL = hex_to_long_spark_sql("substr(md5(s), 1, 8)")


def minhash_bands(
    sh: DataFrame, k: int = MINHASH_K, n_bands: int = LSH_BANDS, n_rows: int = LSH_ROWS
) -> DataFrame:
    """LSH band rows (doc_id, band_idx, band_val) of a (doc_id, shingles)
    frame: one base hash per shingle, k affine min-hashes over it, and
    n_bands bands of n_rows min-hashes joined with '|'. Two documents
    are candidates when they share a (band_idx, band_val). Not
    persisted: a caller that reads the bands twice persists them, one
    that filters them (dedup_incremental_lsh) lets the filter push below
    the explode.

    Documents with no shingles (fewer than 3 tokens) get no band rows.
    Their min-hashes would be NULL, concat_ws would skip the NULLs, and
    every such document would share the band value "" and then divide
    0 by 0 in verification."""
    sig = sh.filter(F.size("shingles") > 0).withColumn(
        "hashes", F.expr(f"transform(shingles, s -> {_BASE_HASH_SPARK_SQL})")
    ).select(
        "doc_id",
        *[
            F.array_min(
                F.expr(f"transform(hashes, h -> ({a} * h + {b}) % {MINHASH_PRIME})")
            ).alias(f"mh{i}")
            for i, (a, b) in enumerate(_minhash_params(k))
        ],
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat_ws("|", *[F.col(f"mh{b * n_rows + r}") for r in range(n_rows)]).alias(
                "band_val"
            ),
        )
        for b in range(n_bands)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("band")).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )


def lsh_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs, doc_a < doc_b, that share a band:
    the band self-join, before verification."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_verify(
    cand: DataFrame, sh: DataFrame, left: str = "doc_a", right: str = "doc_b"
) -> DataFrame:
    """Keep the candidate pairs (left, right) whose exact shingle-set
    Jaccard, looked up in ``sh`` (doc_id, shingles), is >= JACCARD_T:
    (left, right, jaccard). Every MinHash-LSH pair passes this check,
    so precision is 1.0 by construction."""
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    union = F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - inter
    jac = inter.cast("double") / union
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col(left))
        .join(sb, F.col("sb.doc_id") == F.col(right))
        .filter(jac >= JACCARD_T)
        .select(left, right, jac.alias("jaccard"))
    )


def lsh_pairs(
    sh: DataFrame, k: int = MINHASH_K, n_bands: int = LSH_BANDS, n_rows: int = LSH_ROWS
) -> DataFrame:
    """MinHash-LSH near-dup pairs (doc_a, doc_b, jaccard) of a persisted
    (doc_id, shingles) frame: bands, candidate self-join, verify. The
    shipped (16, 4x4) and high-recall (24, 8x3) queries and the LSH
    curation pipeline are all this function, at two operating points
    of the same measured S-curve (DEDUP_EVAL.json).

    The band table feeds both sides of the self-join, and only the
    scan-level exchange is reused between them, so without the persist
    the md5 + k-minhash signature pipeline runs twice (once for the
    broadcast build, once for the probe). Persisting the band rows
    halves the signature compute (measured 1.13-1.20 s -> 0.94 s for
    dedup_minhash_lsh at sf0.1, identical pairs); at 100 TB this is the
    same "materialize the signature table once" move as _shared."""
    bands = _shared(minhash_bands(sh, k, n_bands, n_rows))
    return jaccard_verify(lsh_candidates(bands), sh)


def minhash_bands_sql(
    src: str, k: int = MINHASH_K, n_bands: int = LSH_BANDS, n_rows: int = LSH_ROWS
) -> str:
    """DuckDB twin of :func:`minhash_bands` over the relation ``src`` of
    (doc_id, shingles): the ``hs``, ``sig`` and ``bands`` CTEs, with a
    leading comma. It needs no empty-shingle filter: ``list_min([])`` is
    NULL and ``||`` propagates it, so a shingle-less document gets NULL
    bands that join nothing."""
    mh_cols = ",\n       ".join(
        f"list_min(list_transform(hashes, h -> ({a} * h + {b}) % {MINHASH_PRIME})) AS mh{i}"
        for i, (a, b) in enumerate(_minhash_params(k))
    )
    bands_union = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, "
        + " || '|' || ".join(f"mh{b * n_rows + r}" for r in range(n_rows))
        + " AS band_val FROM sig"
        for b in range(n_bands)
    )
    return f"""
, hs AS (
    SELECT doc_id, list_transform(shingles, s -> {_BASE_HASH_SQL}) AS hashes FROM {src}
), sig AS (
    SELECT doc_id,
       {mh_cols}
    FROM hs
), bands AS (
{bands_union}
)"""


def jaccard_verify_sql(src: str, left: str = "doc_a", right: str = "doc_b") -> str:
    """DuckDB twin of :func:`jaccard_verify`: a SELECT of (left, right,
    jaccard) over the ``cand`` CTE, shingles looked up in ``src``."""
    inter = "len(list_intersect(sa.shingles, sb.shingles))"
    jac = f"CAST({inter} AS DOUBLE) / (len(sa.shingles) + len(sb.shingles) - {inter})"
    return f"""SELECT {left}, {right}, {jac} AS jaccard
FROM cand
JOIN {src} sa ON sa.doc_id = {left}
JOIN {src} sb ON sb.doc_id = {right}
WHERE {jac} >= {JACCARD_T!r}"""


def lsh_pairs_sql(
    src: str, k: int = MINHASH_K, n_bands: int = LSH_BANDS, n_rows: int = LSH_ROWS
) -> str:
    """DuckDB twin of :func:`lsh_pairs`: CTEs (leading comma) over
    ``src`` ending in ``pairs(doc_a, doc_b, jaccard)``."""
    return (
        minhash_bands_sql(src, k, n_bands, n_rows)
        + f"""
, cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
), pairs AS (
{jaccard_verify_sql(src)}
)"""
    )


def _minhash_lsh_oracle(k: int = MINHASH_K, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> str:
    return _TOK_CTE + lsh_pairs_sql("sh", k, bands, rows) + "\nSELECT * FROM pairs\n"


@query("dedup_minhash_lsh", _minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures + LSH banding: candidates are pairs sharing a
    full band (4 of 16 min-hashes); each candidate verified with true
    shingle-set Jaccard. This is THE 100 TB near-dup shape: cost is
    O(collisions), never O(n²), and each stage is a plain shuffle.

    Banding math: P(candidate) = 1 - (1 - j^4)^4 — ≥ 0.87 at j = 0.8,
    but only ~0.37 at j = 0.57, so recall near the verification
    threshold is low BY DESIGN (the S-curve's cheap operating point).
    The planted-duplicate benchmark (DEDUP_EVAL.json) measures exactly
    this curve — engine recall tracks the analytic expectation within
    a few points at every corruption band — and `dedup_minhash_lsh_hr`
    below is the measured high-recall operating point for pipelines
    that need the near-threshold dups too. The oracle replicates the
    same bands, making the check exact."""
    return lsh_pairs(_shared(_docs_shingled(spark, sf_dir)))


#: High-recall banding: 24 hashes as 8 bands x 3 rows. P(candidate) =
#: 1-(1-j^3)^8 = 0.92 at j=0.64 and 0.81 at j=0.57 (vs 0.52 / 0.37 for
#: the shipped 4x4) — recall where the 4x4 S-curve gives up, at a
#: measured 1.1-1.4x candidate volume (DEDUP_EVAL.json).
MINHASH_HR_K = 24
LSH_HR_BANDS = 8
LSH_HR_ROWS = 3


@query("dedup_minhash_lsh_hr", _minhash_lsh_oracle(MINHASH_HR_K, LSH_HR_BANDS, LSH_HR_ROWS))
def dedup_minhash_lsh_hr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-recall MinHash LSH: same pipeline as dedup_minhash_lsh,
    banded 8x3 over 24 hashes instead of 4x4 over 16 — the tuned
    operating point from the planted-duplicate benchmark for the
    j ∈ [0.5, 0.7] near-dup zone the 4x4 curve misses (measured
    recall at the j≈0.57 band: 0.81 expected vs 0.37 for 4x4;
    DEDUP_EVAL.json records both, tests/test_dedup_recall.py gates).

    Same 100 TB shape — narrower bands mean more candidate collisions
    (measured 1.1-1.4x on the planted corpus: random pairs rarely
    collide at either banding, so extra candidates are mostly true
    dups), and cost stays O(collisions): banding trades candidate
    volume for recall, never reintroducing the n² scan. The affine
    hash family is a seeded superset of the shipped 16, so the two
    signatures share base hashes and the oracles cannot drift."""
    sh = _shared(_docs_shingled(spark, sf_dir))
    return lsh_pairs(sh, MINHASH_HR_K, LSH_HR_BANDS, LSH_HR_ROWS)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def _simhash_oracle() -> str:
    h = hex_to_long_sql("substr(md5(tok), 1, 8)")
    sums = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    pack = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(SIMHASH_BITS))
    bytes_sel = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {k} AS byte_idx, (simhash >> {8 * k}) & 255 AS byte_val FROM sim"
        for k in range(4)
    )
    return rf"""
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
), hashed AS (
    SELECT doc_id, {h} AS h FROM tok
), sums AS (
    SELECT doc_id,
       {sums}
    FROM hashed GROUP BY doc_id
), sim AS (
    SELECT doc_id, {pack} AS simhash FROM sums
), by AS (
{bytes_sel}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM by a JOIN by b
      ON a.byte_idx = b.byte_idx AND a.byte_val = b.byte_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       bit_count(xor(sa.simhash, sb.simhash)) AS hamming
FROM cand
JOIN sim sa ON sa.doc_id = doc_a
JOIN sim sb ON sb.doc_id = doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


@query("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup pairs, byte-blocked.

    Hamming ≤ 6 over 32 bits ⇒ the 4 bytes can't all differ... not
    quite (6 errors can touch 4 bytes) — byte blocking here is the
    standard recall/cost trade, exactly mirrored by the oracle, so the
    comparison is still exact. Two shuffles total: token→doc
    aggregation and the byte-bucket self-join.

    Scale note: SimHash over unigrams is PERMUTATION-INVARIANT, so a
    corpus with k bag-of-words-identical copies of a document emits
    all k·(k-1)/2 pairs — the pair LIST is quadratic in duplicate-
    cluster size even though the banded join itself never goes O(n²).
    The 10x-replicated local sf1 fixture (token-permuted replicas)
    makes every cluster size 10 and produces 91.5M pairs: fine
    distributed (dedup_connected_components and the cluster histogram
    consume this stream and pass the sf1 oracle sweep), but not
    collectable — which is why the sf1 sweep record excludes this
    query's driver-side full-pair comparison. At 100 TB, consume the
    pair stream with the cluster/survivor operators, never a driver
    collect; order-sensitive near-dup (shingled MinHash, n-gram
    Jaccard) does not have this cluster-blowup shape."""
    docs = catalog.load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    # r19 opt: Spark-side conv() hash (the oracle keeps the portable
    # digit expansion) — one builtin per token instead of 8 substr/instr
    # chains on the per-token hot path.
    hashed = tok.withColumn("h", F.expr(hex_to_long_spark_sql("substr(md5(tok), 1, 8)")))
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h div {1 << b}) % 2") == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    pack = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        pack = term if pack is None else pack + term
    sim = _shared(sums.select("doc_id", pack.alias("simhash")))
    byte_structs = [
        F.struct(
            F.lit(k).alias("byte_idx"),
            F.expr(f"shiftright(simhash, {8 * k}) & 255").alias("byte_val"),
        )
        for k in range(4)
    ]
    by = sim.select("doc_id", F.explode(F.array(*byte_structs)).alias("p")).select(
        "doc_id", F.col("p.byte_idx").alias("byte_idx"), F.col("p.byte_val").alias("byte_val")
    )
    a, b = by.alias("a"), by.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.byte_idx") == F.col("b.byte_idx"))
            & (F.col("a.byte_val") == F.col("b.byte_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa, sb = sim.alias("sa"), sim.alias("sb")
    hamming = F.bit_count(F.expr("sa.simhash ^ sb.simhash"))
    return (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(hamming <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
    )


# --------------------------------------------------------------------------
# Dedup cluster formation: connected components over near-dup pairs
# --------------------------------------------------------------------------

_CC_MAX_ITERS = 25


def connected_components(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Min-label propagation to a fixed point: every node ends with the
    smallest doc_id reachable from it — the canonical cluster
    representative a dedup pipeline keeps.

    Each iteration is one shuffle (join on the edge endpoint + min-agg
    per node); iterations needed = graph diameter (near-dup clusters
    are shallow, so a handful). localCheckpoint between rounds
    truncates the lineage that would otherwise grow per iteration —
    the thing that kills iterative Spark jobs at scale."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()
    labels = sym.select("u").distinct().withColumn("label", F.col("u"))
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    sym.count()

    for _ in range(_CC_MAX_ITERS):
        # candidate labels: own label ∪ neighbours' labels
        neighbour_labels = (
            sym.join(labels.withColumnRenamed("u", "v"), on="v")
            .select("u", "label")
        )
        new_labels = (
            labels.unionByName(neighbour_labels)
            .groupBy("u")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)  # cut lineage each round
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="u")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(F.col("u").alias("doc_id"), F.col("label").alias("cluster_id"))


def _cc_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT u AS n FROM edges),
reach(n, m) AS (
    SELECT n, n FROM nodes
    UNION
    SELECT e.u, r.m FROM edges e JOIN reach r ON r.n = e.v
)
SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
"""


@query("dedup_connected_components", _cc_oracle())
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster formation over the exact near-dup pairs: the step after
    pairwise detection — transitive closure so "A~B, B~C" lands A,B,C
    in one cluster with the min doc_id as representative. The oracle is
    a recursive-CTE transitive closure over the same pairs."""
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    return connected_components(pairs, src="doc_a", dst="doc_b")


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (exact pairwise; LSH path in similarity.py)
# --------------------------------------------------------------------------

_COSINE_DUP_ORACLE = f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings
), d AS (
    SELECT vec_id, emb,
           sqrt(list_reduce(list_transform(emb, x -> x*x), (acc,x) -> acc+x)) AS nrm
    FROM e
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_reduce(list_transform(list_zip(a.emb, b.emb), p -> p[1]*p[2]), (acc,x) -> acc+x)
            / (a.nrm * b.nrm) AS cosine
FROM d a JOIN d b ON a.vec_id < b.vec_id
WHERE list_reduce(list_transform(list_zip(a.emb, b.emb), p -> p[1]*p[2]), (acc,x) -> acc+x)
      / (a.nrm * b.nrm) >= {COSINE_DUP_T!r}
"""


def dot_cols(x: F.Column, y: F.Column) -> F.Column:
    """Sequential left-fold dot product in DOUBLE — bit-identical to
    DuckDB's list_reduce fold (verified empirically on real data)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@query("dedup_embedding_cosine", _COSINE_DUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise cosine near-dup over embeddings. O(n²) by design
    (the baseline); the LSH-bucketed variant in similarity.py is the
    scale path. The n² here is a crossJoin Catalyst executes as
    BroadcastNestedLoopJoin with the smaller side broadcast. Guarded:
    refuses inputs beyond guards.MAX_EXACT_BASELINE_ROWS."""
    import os

    from .guards import assert_parquet_baseline_size

    assert_parquet_baseline_size(
        os.path.join(sf_dir, "embeddings.parquet"),
        "dedup_embedding_cosine",
        "dedup_minhash_lsh",
    )
    e = catalog.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = e.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_cols(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a, b = d.alias("a"), d.alias("b")
    cos = dot_cols(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(cos >= COSINE_DUP_T)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Dedup observability: cluster-size histogram
# --------------------------------------------------------------------------


def _cluster_stats_oracle() -> str:
    return f"""
WITH cc AS ({_cc_oracle()})
SELECT cluster_size, COUNT(*) AS n_clusters
FROM (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
GROUP BY cluster_size
ORDER BY cluster_size
"""


@query("dedup_cluster_histogram", _cluster_stats_oracle())
def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph — the dedup
    run's health metric: a sudden giant component means the similarity
    threshold collapsed (boilerplate bridging unrelated docs), a
    histogram of all-2s means it's too strict. Two tiny aggregations
    on top of the (already iterative) components output; at 100 TB the
    histogram domain is ≤ max cluster size, so the final agg is free.
    """
    cc = dedup_connected_components(spark, sf_dir)
    return (
        cc.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# Exact-substring containment (L1, the "shared exact span" detector)
# --------------------------------------------------------------------------

#: Span width in tokens. 20 tokens ≈ the scale of spans the
#: exact-substring dedup literature targets (long enough that a match
#: is never coincidence, short enough to catch partial copies).
SPAN_K = 20
#: Spans appearing in more than this many documents are boilerplate
#: (headers, licence blocks) — excluded from pair generation, which
#: also bounds the self-join fan-out per span at scale.
SPAN_MAX_DF = 50

_SUBSTR_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sp AS (
    SELECT DISTINCT doc_id, md5(array_to_string(toks[i:i+{SPAN_K - 1}], ' ')) AS h
    FROM tok, unnest(range(1, greatest(len(toks) - {SPAN_K} + 2, 1))) AS u(i)
), keep AS (
    SELECT h FROM sp GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {SPAN_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_spans
FROM sp a JOIN keep USING (h) JOIN sp b USING (h)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@query("dedup_exact_substring", _SUBSTR_ORACLE)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of documents sharing at least one EXACT 20-token span —
    containment detection (one doc quoting a chunk of another), which
    threshold-similarity dedup (Jaccard/MinHash) structurally misses
    when the containing doc is much longer than the contained span.

    Shape: sliding K-token windows per doc → md5 per span (32-hex
    string, so the join key is fixed-width regardless of K) → distinct
    (doc, span) → document-frequency filter 2..SPAN_MAX_DF → self-join
    on span hash → per-pair span count. The DF filter does double
    duty: spans in >50 docs are boilerplate, not copying — and
    dropping them caps the equi-join fan-out per key, so the pair
    stream is ≤ C(50,2) per surviving span at any corpus size (the
    hot-shingle mitigation the Jaccard variant documents). One shuffle
    for the distinct, one for the DF filter, one for the pair agg.
    """
    docs = catalog.load_table_parallel(spark, sf_dir, "documents")
    sp = (
        docs.withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .select(
            "doc_id",
            F.explode(token_shingles("toks", k=SPAN_K)).alias("span"),
        )
        .select("doc_id", F.md5("span").alias("h"))
        .distinct()
    )
    sp = _shared(sp)  # read by the DF filter AND both sides of the pair join
    keep = (
        sp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= SPAN_MAX_DF))
        .select("h")
    )
    a = sp.alias("a").join(keep, "h")
    b = sp.select(F.col("h").alias("h"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "h")
        .filter(F.col("doc_id") < F.col("doc_b"))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


# --------------------------------------------------------------------------
# Longest duplicated substring (suffix-array-grade containment, L1)
# --------------------------------------------------------------------------

_LONGEST_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
), sp AS (
    SELECT doc_id, i AS pos, md5(array_to_string(toks[i:i+{SPAN_K - 1}], ' ')) AS h
    FROM tok, unnest(range(1, greatest(len(toks) - {SPAN_K} + 2, 1))) AS u(i)
), keep AS (
    SELECT h FROM sp GROUP BY h
    HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND {SPAN_MAX_DF}
), m AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pa, a.pos - b.pos AS diag
    FROM sp a JOIN keep USING (h) JOIN sp b USING (h)
    WHERE a.doc_id < b.doc_id
), isl AS (
    SELECT doc_a, doc_b, diag,
           pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
    FROM m
), runs AS (
    SELECT doc_a, doc_b, COUNT(*) AS run_len
    FROM isl GROUP BY doc_a, doc_b, diag, grp
)
SELECT doc_a, doc_b,
       MAX(run_len) + {SPAN_K - 1} AS longest_dup_tokens,
       COUNT(*) AS n_runs
FROM runs GROUP BY doc_a, doc_b
"""


@query("dedup_longest_substring", _LONGEST_ORACLE)
def dedup_longest_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest EXACT duplicated substring per document pair — the
    variable-length upgrade of dedup_exact_substring. The standard is
    longest-duplicate-substring via suffix arrays (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better" — public
    method); a literal distributed suffix array is a poor fit for the
    DataFrame model, so this is the equivalent distributed shape:

      positional span table  doc → (pos, md5(K-token span))
      → DF filter (2..SPAN_MAX_DF distinct docs, boilerplate cap)
      → pair join on span hash, keeping BOTH positions
      → run-length merge: matches on one alignment share a diagonal
        (pa - pb); consecutive pa values on a diagonal are one run
        (gaps-and-islands: grp = pa - row_number over the diagonal)
      → a run of L consecutive matching K-spans is one shared
        substring of exactly L + K - 1 tokens.

    Reports, per pair: the longest shared substring (in tokens) and the
    number of distinct maximal shared runs across all alignments —
    lengths the fixed-window variant cannot see (it counts spans, so a
    50-token quote and fifty scattered 20-token matches look alike).

    Scale: inherits the span-table bounds (DF cap ≤ {SPAN_MAX_DF} docs
    per span ⇒ bounded pair fan-out); the merge adds one window shuffle
    partitioned by (pair, diagonal) — keys are fine-grained, skew-free
    by construction (a diagonal holds at most min(len_a, len_b) spans).
    Positions ride along the existing exchanges, so the plan is the
    fixed-window plan plus exactly one extra shuffle.
    """
    from pyspark.sql import Window

    docs = catalog.load_table_parallel(spark, sf_dir, "documents")
    sp = (
        docs.withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .select(
            "doc_id",
            F.posexplode(token_shingles("toks", k=SPAN_K)).alias("pos", "span"),
        )
        .select("doc_id", "pos", F.md5("span").alias("h"))
    )
    sp = _shared(sp)  # read by the DF filter AND both sides of the pair join
    keep = (
        sp.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= SPAN_MAX_DF))
        .select("h")
    )
    a = sp.join(keep, "h").select(
        "h", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = sp.select("h", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"))
    m = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        (F.max("run_len") + F.lit(SPAN_K - 1)).alias("longest_dup_tokens"),
        F.count(F.lit(1)).alias("n_runs"),
    )


# --------------------------------------------------------------------------
# Cross-source near-duplication matrix (corpus contamination diagnostic)
# --------------------------------------------------------------------------

_XSOURCE_ORACLE = f"""
SELECT least(da.source, db.source) AS source_x,
       greatest(da.source, db.source) AS source_y,
       COUNT(*) AS n_dup_pairs,
       MAX(p.jaccard) AS max_jaccard
FROM ({_minhash_lsh_oracle()}) p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY least(da.source, db.source), greatest(da.source, db.source)
"""


@query("dedup_cross_source_matrix", _XSOURCE_ORACLE)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources near-duplicate which: the MinHash+LSH duplicate
    pairs rolled up to an unordered source×source matrix with pair
    counts and the strongest overlap per cell — the standard corpus
    diagnostic for cross-source contamination (e.g. the same page
    crawled by two pipelines) before mixing weights are chosen.

    Composition, not reimplementation: the pair stream IS
    dedup_minhash_lsh (same shingle/signature/band constants), so the
    scale argument carries over unchanged; the rollup adds two joins
    against the 2-column (doc_id, source) projection and a ≤|sources|²
    aggregation. The projection joins are estimate-driven (r9 — no
    forced broadcast): fixture-small projections broadcast, and at
    corpus scale Catalyst flips them to shuffle, where the
    collision-bounded pair side is the smaller build. max_jaccard
    (order-free) rather than an avg keeps the double column
    deterministic under any partitioning.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir)
    src = catalog.load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("a_src"))
    sb = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("b_src"))
    return (
        pairs.join(sa, F.col("a_id") == F.col("doc_a"))
        .join(sb, F.col("b_id") == F.col("doc_b"))
        .groupBy(
            F.least("a_src", "b_src").alias("source_x"),
            F.greatest("a_src", "b_src").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Semantic dedup via cluster-then-pair (the SemDeDup recipe)
# --------------------------------------------------------------------------

#: Minimum cluster count. The effective k ADAPTS to corpus size —
#: GREATEST(SEM_K, max_id DIV SEM_TARGET_CLUSTER + 1) — so cluster
#: sizes stay bounded near SEM_TARGET_CLUSTER and the within-cluster
#: pairing stays Σ|cluster|² ≈ n × target, LINEAR in the corpus.
#: r5's sf3 decade caught the fixed-k version: 60k vectors / 8
#: clusters = 7.5k-vector clusters and ~225M within-cluster cosine
#: folds (>9.5 min, vs quadratic growth forever). At every driver/test
#: scale (max_id < 3584) the formula returns SEM_K, so small-scale
#: results are bit-identical to before. Both engines compute k with
#: the same integer arithmetic.
SEM_K = 8
SEM_TARGET_CLUSTER = 512


def _sem_asgn_oracle() -> str:
    """Nearest-centroid assignment CTEs (shared recipe with the k-means
    oracle in operators/similarity.py: exact fixed-point distances,
    deterministic (dist, cid) argmin tiebreak)."""
    return f"""
vx AS (
    SELECT vec_id,
           generate_subscripts(embedding, 1) - 1 AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
), cent0 AS (
    SELECT vec_id AS cid, dim, x AS val
    FROM vx
    WHERE vec_id IN (
        SELECT vec_id FROM embeddings ORDER BY vec_id
        LIMIT (SELECT COALESCE(GREATEST({SEM_K}, (MAX(vec_id) // {SEM_TARGET_CLUSTER}) + 1), {SEM_K}) FROM embeddings)
    )
), asgn AS (
    SELECT vec_id, cid FROM (
        SELECT d.vec_id, d.cid,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY d.dist ASC, d.cid ASC) AS rn
        FROM (
            SELECT v.vec_id, c.cid,
                   SUM(CAST(floor((v.x - c.val) * (v.x - c.val) * 1e12) AS BIGINT)) AS dist
            FROM vx v JOIN cent0 c ON v.dim = c.dim
            GROUP BY v.vec_id, c.cid
        ) d
    ) r WHERE rn = 1
)"""


_SEM_DOT = "list_reduce(list_transform(list_zip(a.emb, b.emb), p -> p[1]*p[2]), (acc,x) -> acc+x)"

_SEMANTIC_ORACLE = f"""
WITH {_sem_asgn_oracle()}, e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings
), dn AS (
    SELECT e.vec_id, e.emb, g.cid,
           sqrt(list_reduce(list_transform(e.emb, x -> x*x), (acc,x) -> acc+x)) AS nrm
    FROM e JOIN asgn g ON g.vec_id = e.vec_id
)
SELECT a.cid AS cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_SEM_DOT} / (a.nrm * b.nrm) AS cosine
FROM dn a JOIN dn b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {_SEM_DOT} / (a.nrm * b.nrm) >= {COSINE_DUP_T!r}
"""


def semantic_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid): nearest of SEM_K deterministic centroids (the K
    lowest vec_ids' embeddings), exact fixed-point distances — one
    broadcast join into the exploded vectors, one shuffle on vec_id."""
    from pyspark.sql.window import Window

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    vx = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "dim", F.col("x").cast("double").alias("x"))
    # Adaptive k (see SEM_K note): one driver-side scalar, the same
    # single-action pattern as pagerank's node count.
    # coalesce: on an EMPTY embeddings table MAX is NULL and the whole
    # expression must degrade to the legacy constant on BOTH engines
    # (ADVICE r5) — not to None/engine-specific NULL handling.
    k = int(
        emb.agg(
            F.coalesce(
                F.greatest(
                    F.lit(SEM_K),
                    F.expr(f"(MAX(vec_id) DIV {SEM_TARGET_CLUSTER}) + 1"),
                ),
                F.lit(SEM_K),
            )
        ).first()[0]
    )
    init_ids = emb.select("vec_id").orderBy("vec_id").limit(k)
    cent = vx.join(F.broadcast(init_ids), "vec_id").select(
        F.col("vec_id").alias("cid"), "dim", F.col("x").alias("val")
    )
    sq = (F.col("x") - F.col("val")) * (F.col("x") - F.col("val"))
    dist = (
        vx.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cid")
        .agg(F.sum(F.floor(sq * F.lit(1e12)).cast("bigint")).alias("dist"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cid").asc())
    return (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )


@query("dedup_semantic_clustered", _SEMANTIC_ORACLE)
def dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-pair semantic dedup (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest of SEM_K
    fixed centroids, then emit cosine-duplicate pairs WITHIN each
    cluster only. This is the scale path that replaces the guarded
    O(n²) `dedup_embedding_cosine` baseline: candidate pairs are
    bounded per cluster, and the pairing join is an equi-join that
    shuffles on cluster_id — never all-pairs.

    100 TB shape: the centroid table is K×D rows (broadcast); the
    assignment is one map-side broadcast join over the exploded
    vectors plus one shuffle on vec_id (the argmin); the pairing
    shuffles on cluster_id. With k ∝ corpus size, per-cluster pair
    counts stay bounded, so cost is Σ|cluster|² « n². Recall
    trade-off (inherent to SemDeDup): near-dup pairs split across a
    cluster boundary are missed — tests pin pairs ⊆ the exact
    baseline's.

    Cross-engine parity: assignment distances use the same FLOOR-based
    fixed-point folds as kmeans_embeddings (bit-identical on both
    engines); cosine is the sequential left fold (dot_cols) verified
    bit-identical vs DuckDB's list_reduce.
    """
    asgn = semantic_cluster_assign(spark, sf_dir)
    emb = catalog.load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # localCheckpoint: the pairing is a self-join and Catalyst does not
    # reuse the assignment exchange across its two sides (measured: 0
    # ReusedExchange, the argmin window planned twice) — materialize
    # the assigned table ONCE so both sides scan it (same reasoning as
    # triangles_parts' oriented edges).
    d = (
        emb.select(
            "vec_id",
            "embedding",
            F.sqrt(dot_cols(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        )
        .join(asgn, "vec_id")
        .localCheckpoint(eager=True)
    )
    a, b = d.alias("a"), d.alias("b")
    cos = dot_cols(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(cos >= COSINE_DUP_T)
        .select(
            F.col("a.cid").alias("cluster_id"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
    )


# --------------------------------------------------------------------------
# Leakage-safe train/val/test split (cluster-aware assignment)
# --------------------------------------------------------------------------

SPLIT_TRAIN_PM = 800  # per-mille boundaries: 80% train, 10% val, 10% test
SPLIT_VAL_PM = 900

#: md5 of the CLUSTER representative -> first 4 hex chars -> bucket in
#: [0, 1000). Portable across engines (substr/instr arithmetic), same
#: recipe as sample_stratified_hash in plans/analytics.py.
_SPLIT_BUCKET = (
    "(" + hex_to_long_sql("substr(md5(CAST(cluster_id AS STRING)), 1, 4)", 4) + " % 1000)"
)
_SPLIT_BUCKET_DUCK = _SPLIT_BUCKET.replace("AS STRING", "AS VARCHAR")

_SPLIT_ORACLE = f"""
WITH cc AS ({_cc_oracle()}),
rep AS (
    SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_TRAIN_PM} THEN 'train'
            WHEN {_SPLIT_BUCKET_DUCK} < {SPLIT_VAL_PM} THEN 'val'
            ELSE 'test' END AS split
FROM rep
"""


@query("split_leakage_safe", _SPLIT_ORACLE)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: every document is assigned by
    the md5-bucket of its NEAR-DUP CLUSTER representative (the min
    doc_id reachable in the duplicate graph), not of its own id — so a
    near-duplicate pair can never straddle the train/eval boundary,
    the standard contamination guard when splitting a training corpus
    (singleton docs are their own representative).

    Deterministic and shuffle-minimal: cluster formation is the
    already-iterative connected_components over the exact near-dup
    pairs; the assignment itself adds ONE equi-join of documents
    against the (doc_id, cluster_id) labels — NOT broadcast, because
    at web scale duplicate-cluster membership can be a large fraction
    of the corpus — plus a pure per-row hash predicate (no shuffle, no
    rand(): reproducible across engines, retries, and partitionings).
    """
    cc = dedup_connected_components(spark, sf_dir)
    return split_from_dup_clusters(spark, sf_dir, cc)


def split_from_dup_clusters(spark: SparkSession, sf_dir: str, cc: DataFrame) -> DataFrame:
    """The split itself, over ANY (doc_id, cluster_id) duplicate-graph
    labeling. The registered query feeds it the EXACT-Jaccard clusters
    (recall 1.0, pair stream quadratic in hot-shingle df — the
    documented baseline; r5's sf3 decade measured 436 s). The 100 TB
    composition feeds it the MinHash/LSH pair stream instead
    (`connected_components(dedup_minhash_lsh(...))` — bounded banded
    candidates: 27 vs 436 s at the sf3 decade (16x), scaling 3.0x at
    3x data vs the baseline's 8.4x, with the identical no-straddle
    guarantee for every pair LSH surfaces;
    tests/test_llm_ops.py pins that invariant end-to-end)."""
    docs = catalog.load_table(spark, sf_dir, "documents").select("doc_id")
    rep = docs.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
    bucket = F.expr(_SPLIT_BUCKET)
    return rep.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < SPLIT_TRAIN_PM, F.lit("train"))
        .when(bucket < SPLIT_VAL_PM, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def split_leakage_safe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path composition: leakage-safe split over MinHash/LSH
    duplicate clusters (banded candidates — linear pair stream)."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return split_from_dup_clusters(spark, sf_dir, cc)


# --------------------------------------------------------------------------
# Incremental near-dedup: new batch vs the persisted corpus index
# --------------------------------------------------------------------------

#: deterministic "arriving batch": every 10th doc_id. Portable integer
#: predicate, so both engines split the corpus identically.
_INCR_NEW_MOD = 10


_INCREMENTAL_LSH_ORACLE = (
    _TOK_CTE
    + minhash_bands_sql("sh")
    + f"""
, cand AS (
    SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_corpus
    FROM bands n JOIN bands c
      ON n.band_idx = c.band_idx AND n.band_val = c.band_val
     AND n.doc_id % {_INCR_NEW_MOD} = 0 AND c.doc_id % {_INCR_NEW_MOD} <> 0
)
"""
    + jaccard_verify_sql("sh", "doc_new", "doc_corpus")
)


@query("dedup_incremental_lsh", _INCREMENTAL_LSH_ORACLE)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dedup: which documents of an ARRIVING batch are
    near-duplicates of the EXISTING corpus — the incremental shape a
    production pipeline runs on every delivery, where re-pairing the
    whole corpus (dedup_minhash_lsh's batch shape) would be O(corpus)
    per batch instead of O(batch).

    The batch is the deterministic doc_id % 10 == 0 slice (a portable
    stand-in for "today's delivery"); candidates come from joining
    ONLY the batch's band rows against the corpus band table, then
    true-Jaccard verification — cost ∝ batch collisions. At 100 TB
    the corpus band table is persisted state (the state_cache pattern
    pagerank/IVF materialize; bands append-only as batches commit),
    and this query is the read path: new signatures probe the index,
    never rebuild it. The anti-join idempotency redesign (S6) then
    drops the flagged docs from the ingest — same contract as
    incremental_unprocessed, at near-dup rather than exact-key
    granularity."""
    sh = _shared(_docs_shingled(spark, sf_dir))
    bands = minhash_bands(sh)
    new_b = bands.filter(F.col("doc_id") % _INCR_NEW_MOD == 0).alias("n")
    corp_b = bands.filter(F.col("doc_id") % _INCR_NEW_MOD != 0).alias("c")
    cand = (
        new_b.join(
            corp_b,
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_val") == F.col("c.band_val")),
        )
        .select(F.col("n.doc_id").alias("doc_new"), F.col("c.doc_id").alias("doc_corpus"))
        .distinct()
    )
    return jaccard_verify(cand, sh, "doc_new", "doc_corpus")
