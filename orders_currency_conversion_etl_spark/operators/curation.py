"""The composed training-data curation pipeline — the north-star
use-case run end-to-end as ONE Catalyst plan:

    documents
      → quality filter        (score >= 0.54; C4/Gopher-style heuristic)
      → exact dedup           (keep min doc_id per md5(text))
      → decontamination       (drop docs sharing a 3-gram with the
                               benchmark blocklist)
      → near-dedup            (Jaccard >= 0.5; drop the higher doc_id
                               of each duplicate pair)
      → chunking              (50-token windows, stride 40)

The two registered queries share everything but the near-dedup stage.
_clean builds the persisted front (quality → exact dedup →
decontaminate), _curated adds the dup anti-join (_anti_join_survivors)
and the chunker (text.chunk_windows); curation_pipeline plugs in the
exact shingle join (dedup.shingle_join_pairs), curation_pipeline_lsh the
MinHash-LSH pairs (dedup.lsh_pairs). The oracles mirror that:
_curation_oracle wraps the same CTE chain around
dedup.shingle_join_pairs_sql or dedup.lsh_pairs_sql.

Scale shape at 100 TB: quality filter + decontamination are map-side
(no shuffle, run inside the scan's codegen stage); exact dedup is one
hash shuffle of (md5, id); the Jaccard self-join is the known hot spot
and the LSH pairs replace it in the same position; chunking is
executor-side explode. The diamond-shaped survivor set is persisted
once and read by both the pair stage and the final chunker.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text_fn import SHINGLES_SQL, token_shingles
from ..plans.registry import query
from ..sources import catalog
from .dedup import _shared, lsh_pairs, lsh_pairs_sql, shingle_join_pairs, shingle_join_pairs_sql
from .text import (
    CONTAMINATION_BLOCKLIST,
    QUALITY_SCORE_SQL,
    chunk_windows,
    chunk_windows_sql,
    quality_score_col,
    with_tokens,
)

QUALITY_THRESHOLD = 0.54

#: Broadcast the duplicate-id list into the final anti-join while it
#: stays under this cap, shuffle (SMJ) beyond it. Same pattern as
#: graph.py's RANKS_BROADCAST_MAX_NODES: the driver KNOWS the dup count
#: exactly (dups is persisted and counted — the count also materializes
#: the cache, so the expensive LSH/pair pipeline still runs once), so
#: the choice is made with perfect information. 2 M single-long rows is
#: a ~100 MB hash relation — comfortably inside any executor; past the
#: cap the plan falls back to the exchange-both-sides SMJ, which is the
#: only tenable shape once a high-duplication corpus makes |dups|
#: O(corpus) at 100 TB (the unbounded-broadcast risk r18 declined to
#: take with a hard hint is exactly what the gate removes).
DUPS_BROADCAST_MAX_ROWS = 2_000_000


def _anti_join_survivors(clean: DataFrame, dups: DataFrame) -> DataFrame:
    """clean LEFT ANTI dups with a size-gated broadcast (r19 opt,
    guide §3.1): materialize + count the dup list, broadcast it while
    it fits. Measured paired at sf0.1: curation_pipeline_lsh
    2.74→2.36 s (the SMJ exchanged BOTH sides on doc_id; the broadcast
    form leaves the survivor side unshuffled for the chunker).
    localCheckpoint, not persist: the dup pipeline runs once either
    way, but the checkpoint truncates lineage so the final plan (and
    the plan-lint exchange tally) doesn't re-print the whole LSH
    pipeline under the broadcast build — the same reasoning as the
    pagerank loop's checkpoints."""
    dups = dups.localCheckpoint(eager=True)
    n_dups = dups.count()
    dup_side = F.broadcast(dups) if n_dups <= DUPS_BROADCAST_MAX_ROWS else dups
    return clean.join(dup_side, "doc_id", "left_anti")


_CLEAN_CTES = rf"""
WITH tok AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks FROM documents
), scored AS (
    SELECT doc_id, text, toks FROM tok WHERE {QUALITY_SCORE_SQL} >= {QUALITY_THRESHOLD!r}
), exact AS (
    SELECT doc_id, toks FROM scored
    WHERE doc_id IN (SELECT MIN(doc_id) FROM scored GROUP BY md5(text))
), shingled AS (
    SELECT doc_id, toks, {SHINGLES_SQL} AS shingles FROM exact
), clean AS (
    SELECT doc_id, toks, shingles FROM shingled
    WHERE len(list_intersect(shingles, {list(CONTAMINATION_BLOCKLIST)!r})) = 0
)"""


def _curation_oracle(pairs_ctes: str) -> str:
    """The curation CTE chain: the ``clean`` front, then ``pairs_ctes``
    (near-dup CTEs over ``clean`` ending in ``pairs``), then drop the
    higher doc_id of each pair and chunk the survivors."""
    return (
        _CLEAN_CTES
        + pairs_ctes
        + """
, dups AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
), survivors AS (
    SELECT doc_id, toks FROM clean
    WHERE doc_id NOT IN (SELECT doc_id FROM dups)
)
"""
        + chunk_windows_sql("survivors")
    )


def _clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter → exact dedup → decontamination, persisted as
    (doc_id, toks, shingles): the diamond that the near-dup stage and
    the chunker both read."""
    d = with_tokens(catalog.load_table_parallel(spark, sf_dir, "documents"))

    # 1. quality filter (map-side, fused into the scan)
    d = d.filter(quality_score_col() >= QUALITY_THRESHOLD)

    # 2. exact dedup: deterministic survivor = min doc_id per content hash
    # window form, not groupBy+semi-join: the semi-join creates a
    # diamond that recomputes the (CPU-heavy) tokenize+score stage for
    # both the agg and the probe side — measured 2.2x slower at sf0.1.
    # One shuffle on the content hash either way; the window keeps it
    # single-pass.
    wmin = Window.partitionBy(F.md5("text"))
    d = (
        d.withColumn("_min_id", F.min("doc_id").over(wmin))
        .filter(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )

    # 3. decontamination (map-side set intersection vs broadcast list)
    blocked = F.array(*[F.lit(s) for s in CONTAMINATION_BLOCKLIST])
    clean = (
        d.withColumn("shingles", F.array_distinct(token_shingles("toks", k=3)))
        .filter(F.size(F.array_intersect("shingles", blocked)) == 0)
        .select("doc_id", "toks", "shingles")
    )
    return _shared(clean)


def _curated(
    spark: SparkSession, sf_dir: str, near_dup_pairs: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """The whole pipeline with ``near_dup_pairs`` as its near-dedup
    stage: drop the higher doc_id of each pair, chunk the survivors."""
    clean = _clean(spark, sf_dir)
    dups = near_dup_pairs(clean).select(F.col("doc_b").alias("doc_id")).distinct()
    return chunk_windows(_anti_join_survivors(clean, dups))


@query("curation_pipeline", _curation_oracle(shingle_join_pairs_sql("clean")))
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → exact-dedup → decontaminate → near-dedup →
    chunk, composed lazily so Catalyst optimizes across stage
    boundaries (the quality filter and decontamination fuse into the
    scan stage; column pruning drops `text` as soon as `toks` exists).
    The near-dedup stage is the exact n-gram Jaccard shingle join."""
    return _curated(spark, sf_dir, shingle_join_pairs)


@query("curation_pipeline_lsh", _curation_oracle(lsh_pairs_sql("clean")))
def curation_pipeline_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation_pipeline with the near-dedup stage swapped for
    MinHash + LSH banding: candidates are pairs sharing a full band,
    verified with exact shingle Jaccard — so pair-join cost is
    O(band collisions) instead of O(shared-shingle pairs). On the
    synthetic corpus (tiny vocabulary => nearly every 3-gram repeats)
    this is the difference between a quadratic-ish shingle join and a
    bounded one; at 100 TB it is the only viable shape, which is why
    THIS variant is the benched headline."""
    return _curated(spark, sf_dir, lsh_pairs)
