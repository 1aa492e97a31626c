"""Iterative graph analytics on DataFrames: PageRank over the part
co-occurrence graph.

The reference has no graph surface (SURVEY §0); this is EXT, the
iterative-algorithm capability class (alongside
dedup_connected_components in operators/dedup.py). The pattern is the
idiomatic Spark one: a driver-side loop over a *persisted* edge list,
each iteration one join + one aggregation — no RDDs, no collect of
anything but the node count.

Scale notes (100 TB):
- edges and degrees are computed ONCE and persisted — every iteration
  reuses them (the diamond-reuse lesson from operators/dedup.py:
  recomputing the edge derivation per iteration multiplies the
  dominant cost by the iteration count).
- each iteration shuffles on dst exactly once (the contribution agg);
  rank state is |nodes| rows, far smaller than edges.
- fixed iteration count keeps the plan finite and the oracle
  expressible as unrolled CTEs; convergence-tested variants stop on a
  driver-side delta check (same loop, one extra agg per iteration).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import state_cache
from ..sources import catalog
from .registry import query

DAMPING = 0.85
ITERATIONS = 3


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return catalog.load_table(spark, sf_dir, name)


def _iter_cte(prev: str, out: str) -> str:
    return f"""
{out} AS (
    SELECT e.dst AS node,
           0.15 / (SELECT n FROM nn) + 0.85 * SUM({prev}.rank / deg.outdeg) AS rank
    FROM edges e
    JOIN {prev} ON e.src = {prev}.node
    JOIN deg ON e.src = deg.src
    GROUP BY e.dst
)"""


_PAGERANK_ORACLE = f"""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
),
deg AS (
    SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1
),
nn AS (
    SELECT COUNT(*) AS n FROM deg
),
r0 AS (
    SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg
),{_iter_cte("r0", "r1")},{_iter_cte("r1", "r2")},{_iter_cte("r2", "r3")}
SELECT node, CAST(rank AS DECIMAL(18,12)) AS rank
FROM r3
"""


@query("pagerank_parts", _PAGERANK_ORACLE)
def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank (damping 0.85) over the undirected part
    co-occurrence graph (parts linked when they share an order).

    The graph is symmetric, so every node with an out-edge has an
    in-edge — no dangling-mass correction needed. Ranks are pure
    double arithmetic whose accumulated cross-engine noise is ~1e-15;
    DECIMAL(18,12) output is far from any rounding boundary.
    """
    contrib_src, ranks, n = _pagerank_state(spark, sf_dir)
    for _ in range(ITERATIONS):
        # Truncate lineage every iteration: without this the final plan
        # nests every prior iteration's joins (measured: 116 exchanges
        # after 3 iterations vs 2 with the checkpoint) and the optimizer
        # re-plans the whole history each round. On a cluster this is
        # checkpoint() to reliable storage; locally the block-manager
        # variant is equivalent.
        ranks = _pagerank_step(contrib_src, ranks, n).localCheckpoint(eager=True)
    return ranks.select("node", F.col("rank").cast("decimal(18,12)").alias("rank"))


#: (applicationId, sf_dir) -> the previous build's persisted
#: DataFrames. _pagerank_state persists three DataFrames per build;
#: without cleanup every extra caller (dump_plans, pagerank_loop_body
#: after pagerank_parts already ran) leaks a fresh generation of
#: cached RDDs for the session lifetime. Memoizing the state instead
#: is NOT safe: DataFrame.is_cached is a local flag that stays True
#: after catalog.clearCache() (bench clears between timed runs), so a
#: memo would silently reuse evicted state and recompute the edge
#: build once per iteration (measured: 3.7 s -> 5.2 s at sf0.1).
_PAGERANK_PERSISTED: dict[tuple[str, str], tuple] = {}


def _pagerank_state(spark, sf_dir: str):
    """Loop-invariant PageRank state: (contrib_src, initial ranks, n).

    Always builds fresh persisted state, releasing the previous
    generation for this (session, sf_dir) first — repeated invocations
    hold at most one generation of cached RDDs instead of stacking."""
    key = (spark.sparkContext.applicationId, sf_dir)
    for df in _PAGERANK_PERSISTED.pop(key, ()):
        try:
            df.unpersist()
        except Exception:
            pass  # session stopped or already evicted; nothing to free
    edges, deg, contrib_src, ranks, n = _pagerank_state_build(spark, sf_dir)
    _PAGERANK_PERSISTED[key] = (edges, deg, contrib_src)
    return contrib_src, ranks, n


def _pagerank_state_build(spark, sf_dir: str):
    # Edge build: group each order's parts into a set and explode the
    # pairs — ONE shuffle on l_orderkey (collect_set also dedups the
    # (order, part) multiplicity, so no pre-distinct) plus the final
    # edge distinct, versus distinct + self-join + distinct (two extra
    # exchanges; measured 2.2s -> 1.8s at sf0.1). Per-order part sets
    # are small (bounded lineitems/order), so the in-set quadratic
    # explode is cheap and skew-safe at 100 TB. A/B'd alternative
    # (r5): emit canonical least/greatest pairs, distinct HALF the
    # volume, mirror after — identical edge set, but locally slower
    # (1.12 vs 1.03 s at sf0.1: the nested-lambda CPU outweighs the
    # halved shuffle on local[N]); worth revisiting only on a
    # network-bound cluster shuffle.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    # r18 opt: route the edge-dedup shuffle through hashpartitioning(dst)
    # instead of the default (src,dst). hashpartitioning(dst) satisfies
    # the distinct's ClusteredDistribution({src,dst}) (subset rule), so
    # the aggregate still needs no further exchange — and the persisted
    # edge list (hence contrib_src below, whose broadcast join preserves
    # the streamed side's partitioning) comes out partitioned by dst,
    # which is exactly the distribution every iteration's contribution
    # aggregation requires. Measured plan diff: the per-iteration
    # Exchange hashpartitioning(dst) disappears from _pagerank_step — 3
    # exchanges of the edge-scale contribution stream per query become
    # 0 (guide §2.4 "two operations keyed the same way share one
    # exchange"). The lost map-side pre-dedup below the distinct is
    # negligible on this graph (2.399M pre-distinct pairs vs 2.392M
    # edges, measured sf0.1).
    edges = (
        sets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .repartition("dst")
        .distinct()
        .persist()
    )
    # r19 opt: degrees from groupBy(dst), not groupBy(src). The edge set
    # is symmetric by construction ((s,d) ∈ E ⇔ (d,s) ∈ E: the explode
    # emits both orientations of every basket pair and distinct keeps
    # both), so outdeg(x) == indeg(x) exactly — and the persisted edge
    # list is ALREADY hashpartitioned(dst), so the indeg aggregation
    # needs NO exchange where the old groupBy(src) reshuffled all
    # |edges| rows (guide §2.4; measured: state build 2.5 s → ~1.2 s at
    # sf0.1, the src-exchange of 2.39 M rows and its job pass gone).
    deg = (
        edges.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .select(F.col("dst").alias("src"), "outdeg")
        .persist()
    )
    n = deg.count()  # the only driver-side scalar; also materializes the persists

    ranks = deg.select(F.col("src").alias("node"), (F.lit(1.0) / n).alias("rank"))
    # Degrees (|nodes| rows) broadcast into the edge list ONCE; the
    # result is persisted because all iterations reuse it verbatim.
    contrib_src = edges.join(F.broadcast(deg), "src").persist()
    return edges, deg, contrib_src, ranks, n


#: Broadcast the rank table while |nodes| stays under this cap, shuffle
#: beyond it. The driver KNOWS n exactly (the one collected scalar), so
#: the choice is made with perfect information instead of a hint-always
#: or hint-never policy. History: r4 always-hinted; r5 removed the hint
#: citing loaded-machine measurements (hint losing 6.0 vs 5.2 s at
#: 200k, 27.6 vs 19.9 s at 600k); r6's QUIET paired A/B showed those
#: numbers were load artifacts — the hint WINS at both measured sizes
#: (3-iter loop: 3.5 vs 4.5 s at 200k; 6.3 vs 11.0 s at 600k nodes) —
#: and the r5 change was a real +15% full-query regression at sf1.
#: The cap is what makes the hint safe at 100 TB: 2M (node,double)
#: rows ≈ a ~130 MB hash relation, comfortably inside any executor;
#: past it, ranks (still the SMALL side) shuffle to the persisted
#: edges and AQE decides per-stage.
RANKS_BROADCAST_MAX_NODES = 2_000_000


def _pagerank_step(contrib_src: DataFrame, ranks: DataFrame, n: int) -> DataFrame:
    """One PageRank iteration (the loop body pagerank_parts runs 3×).

    Rank side: broadcast below RANKS_BROADCAST_MAX_NODES (measured
    winner at every in-rig size), shuffle above (the only tenable shape
    once |nodes| outgrows executor memory)."""
    rank_side = F.broadcast(ranks) if n <= RANKS_BROADCAST_MAX_NODES else ranks
    return (
        contrib_src.join(rank_side, F.col("src") == F.col("node"))
        .select("dst", (F.col("rank") / F.col("outdeg")).alias("contrib"))
        .groupBy("dst")
        .agg((F.lit(0.15) / n + F.lit(DAMPING) * F.sum("contrib")).alias("rank"))
        .select(F.col("dst").alias("node"), "rank")
    )


def pagerank_loop_body(spark, sf_dir: str) -> DataFrame:
    """One UN-truncated iteration, for plan audits (PLANS.md): the
    per-iteration exchange claim — one hash exchange (the dst agg),
    ranks broadcast below RANKS_BROADCAST_MAX_NODES / shuffled above
    (see the cap's comment for the r6 measured history), edges never
    reshuffled — is inspectable here, where pagerank_parts itself only
    shows the post-checkpoint scan."""
    contrib_src, ranks, n = _pagerank_state(spark, sf_dir)
    return _pagerank_step(contrib_src, ranks, n)


# --------------------------------------------------------------------------
# Materialized edge table (the documented 100 TB path, VERDICT r5 ask #7)
# --------------------------------------------------------------------------
#
# At sf1 the edge build (collect_set + explode + distinct over the fact
# table) costs ~28 s while the 3 PageRank iterations cost ~5 s — the
# query is dominated by re-deriving a graph that never changes between
# runs. The cluster answer is to materialize the edge list ONCE and
# let every graph query read it back: the build cost amortizes over
# all subsequent runs and the fact table is never rescanned.

#: root for materialized graph state; overridable so tests/driver
#: runs land it somewhere writable regardless of cwd.
_GRAPH_CACHE_ENV = "SPARK_GRAFT_GRAPH_CACHE"


def graph_edges_path(sf_dir: str) -> str:
    """Deterministic cache location for sf_dir's materialized edges
    (the shared state_cache protocol: source fingerprint in the path,
    so stale state is unreachable by construction)."""
    return state_cache.fingerprint_path(
        sf_dir,
        "lineitem",
        _GRAPH_CACHE_ENV,
        "graph_cache",
        "edges",
        # derivation token: bump the version string whenever the
        # edge-build logic or the persisted layout changes, so an old
        # cache can't be served to new code (r6 ADVICE).
        derivation="edges_v3_contrib_deg_oriented",
    )


def build_graph_edges(spark: SparkSession, sf_dir: str, path: str | None = None) -> str:
    """Materialize the part co-occurrence graph: writes two parquet
    tables under ``path`` — ``contrib`` (src, dst, outdeg: the
    loop-invariant join input) and ``deg`` (src, outdeg: the node
    table, for rank init and |nodes|) — via state_cache.materialize
    (atomic temp-dir + rename: a killed build can never leave a
    half-graph a later run trusts). On a real cluster this is the
    nightly `INSERT OVERWRITE graph.edges` job; the reader below is
    exactly what any downstream graph query does."""
    path = path or graph_edges_path(sf_dir)
    if state_cache.is_materialized(path):
        return path
    edges, deg, contrib_src, _ranks, _n = _pagerank_state_build(spark, sf_dir)

    def write_parts(tmp: str) -> None:
        contrib_src.write.mode("overwrite").parquet(os.path.join(tmp, "contrib"))
        deg.write.mode("overwrite").parquet(os.path.join(tmp, "deg"))
        # Oriented adjacency for the triangle family (r6 VERDICT ask:
        # the warm triangles headline must be linear, not linear-after-
        # decomposition). Persisting the degree-ORIENTED edge list and
        # its out-neighbor arrays moves the whole orientation stage —
        # canonical collapse, two degree joins, the adjacency groupBy —
        # into the once-per-generation build; the warm query is then
        # two linear joins + a JVM-side array intersection. deg's
        # outdeg IS the undirected degree (the edge list is symmetric).
        canonical = edges.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        d = deg.select(F.col("src").alias("node"), F.col("outdeg").alias("d"))
        oriented = _orient_edges(canonical, d)
        oriented.write.mode("overwrite").parquet(os.path.join(tmp, "oriented"))
        # Derive adj from the just-written parquet, not oriented's
        # lineage — otherwise the orientation joins execute a second
        # time for this write (r7 ADVICE).
        oriented_persisted = catalog.read_parquet(spark, os.path.join(tmp, "oriented"))
        adj = oriented_persisted.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
        adj.write.mode("overwrite").parquet(os.path.join(tmp, "adj"))

    try:
        return state_cache.materialize(path, write_parts)
    finally:
        for df in (edges, deg, contrib_src):
            try:
                df.unpersist()
            except Exception:
                pass  # best-effort: state dies with the session anyway


@query("pagerank_parts_materialized", _PAGERANK_ORACLE)
def pagerank_parts_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the MATERIALIZED edge table: identical ranks to
    `pagerank_parts` (same oracle, hash-compared), but the dominant
    state_build cost is paid once per dataset generation instead of
    once per run — the 100 TB operating mode for every graph query.

    The read path touches only the two small graph tables (edges ∪
    degrees), never the fact table; the per-iteration plan is the same
    one `pagerank_loop_body` audits."""
    path = build_graph_edges(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir, "materialized")
    for df in _PAGERANK_PERSISTED.pop(key, ()):
        try:
            df.unpersist()
        except Exception:
            pass  # session stopped or already evicted; nothing to free
    contrib_src = catalog.read_parquet(spark, os.path.join(path, "contrib")).persist()
    deg = catalog.read_parquet(spark, os.path.join(path, "deg"))
    n = deg.count()  # |nodes|: the only driver scalar, off the tiny node table
    _PAGERANK_PERSISTED[key] = (contrib_src,)
    ranks = deg.select(F.col("src").alias("node"), (F.lit(1.0) / n).alias("rank"))
    for _ in range(ITERATIONS):
        ranks = _pagerank_step(contrib_src, ranks, n).localCheckpoint(eager=True)
    return ranks.select("node", F.col("rank").cast("decimal(18,12)").alias("rank"))


# --------------------------------------------------------------------------
# Triangle counting with degree orientation (the bounded-wedge trick)
# --------------------------------------------------------------------------

_TRIANGLES_ORACLE = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node
),
oriented AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS ddst
    FROM edges e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
)
SELECT COUNT(*) AS n_triangles,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM oriented GROUP BY src)) AS max_outdeg
FROM (
    SELECT w1.dst AS v, w2.dst AS w
    FROM oriented w1 JOIN oriented w2
      ON w1.src = w2.src AND (w1.ddst, w1.dst) < (w2.ddst, w2.dst)
) wedge
JOIN oriented t ON t.src = wedge.v AND t.dst = wedge.w
"""


@query("triangles_parts", _TRIANGLES_ORACLE)
def triangles_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-occurrence graph via DEGREE
    orientation + adjacency-list intersection: every undirected edge
    points from its lower-(degree, id) endpoint to the higher one, and
    n_triangles = Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)|.

    Orientation is the scale story: out-degree under degree
    orientation is O(sqrt(edges)) regardless of hub size (a naive
    wedge count explodes quadratically on the hottest node) —
    max_outdeg in the output is the witness (90 vs sqrt(115k)≈340 at
    sf0.01). The intersection formulation is the join-shape story: the
    classic wedge self-join materializes Σ outdeg² wedge ROWS and
    shuffles them to the closing-edge probe, while intersecting the
    two endpoints' sorted out-neighbor arrays moves the same data as
    |edges| rows (one array join per endpoint, intersection JVM-side,
    no third shuffle). Same bytes, 1/outdeg the rows — measured 7.9 s
    (wedge join) vs 2.5 s (intersection) on identical checkpointed
    inputs at sf0.1, identical count 1,884,488. The oracle keeps the
    wedge formulation, so the two derivations cross-check each other.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    # localCheckpoint, not persist: edges feeds deg/oriented/n_edges and
    # oriented is read FOUR times (both wedge sides, the closing probe,
    # max_outdeg) — without lineage truncation the re-nested build plans
    # 66 exchanges (cap 20). Same reasoning as the pagerank loop.
    edges = (
        sets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return _count_triangles(edges, deg)


def _orient_edges(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-orient canonical (u<v) edges: every undirected edge points
    from its lower-(degree, id) endpoint to the higher one. `edges`
    must be distinct canonical pairs, `deg` the undirected degrees."""
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ku = F.struct(F.col("du"), F.col("u"))
    kv = F.struct(F.col("dv"), F.col("v"))
    return (
        edges.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )


def _triangles_from_oriented(oriented: DataFrame, adj: DataFrame) -> DataFrame:
    """Sum per-edge adjacency intersections over an already-oriented
    edge list (the shared counting core of the derive and materialized
    triangle queries). Out-neighbor arrays (sqrt-bounded per node
    under degree orientation) are joined onto each oriented edge's
    BOTH endpoints; the per-edge intersection closes the triangle
    without ever materializing wedges. array_intersect is
    set-semantic — exact here because the oriented edge list is
    distinct by construction.

    Both adjacency joins are hinted SHUFFLE_HASH: sort-merge would
    SORT 12M+ rows carrying ~outdeg-element array payloads twice —
    measured 81.6 vs 9.8 s cold at sf1 (12M edges, fresh session,
    parquet inputs) — while the hash build side is only the adjacency
    table's per-partition slice (|nodes|·avg_deg/shuffle_partitions
    entries), which stays executor-bounded at any scale because
    partitions scale with the cluster. This is the standard
    vertex-table join shape for graph engines on Spark."""
    a_src = adj.select("src", F.col("nbrs").alias("nu")).hint("SHUFFLE_HASH")
    a_dst = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nv")).hint(
        "SHUFFLE_HASH"
    )
    tri = (
        oriented.join(a_src, "src")
        .join(a_dst, "dst")
        .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
        .agg(F.sum("c").cast("bigint").alias("n_triangles"))
    )
    n_edges = oriented.agg(F.count(F.lit(1)).alias("n_edges"))
    max_out = adj.select(F.size("nbrs").alias("c")).agg(F.max("c").alias("max_outdeg"))
    return tri.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(max_out))


def _count_triangles(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-orient canonical (u<v) edges and sum per-edge adjacency
    intersections (the derive-path composition; `edges` must be
    distinct, `deg` the undirected degree table)."""
    # localCheckpoint: oriented feeds three readers (both join sides
    # via adj, the closing probe, n_edges/max_outdeg) — truncate for
    # the same fan-out reasons as the pagerank loop.
    oriented = _orient_edges(edges, deg).localCheckpoint(eager=True)
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    return _triangles_from_oriented(oriented, adj)


@query("triangles_parts_materialized", _TRIANGLES_ORACLE)
def triangles_parts_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the MATERIALIZED graph: the second consumer
    of build_graph_edges' state — the actual argument for
    materializing (one build amortizes across every graph query, not
    just reruns of one). The cache's directed symmetric edge list
    collapses to canonical u<v pairs, and its out-degree table IS the
    undirected degree table (symmetry); the counting core and oracle
    are shared verbatim with `triangles_parts`, so the two derivations
    cross-check each other on top of different scan paths."""
    path = build_graph_edges(spark, sf_dir)
    # The state carries the degree-ORIENTED edge list and its adjacency
    # arrays (r7): the warm query is the counting core alone — two
    # linear joins + JVM-side intersection over parquet scans, no
    # canonical collapse, no degree joins, no adjacency groupBy, no
    # checkpoint. That is what makes the warm headline itself linear
    # in |edges| (SCALE_TRI record), not linear-after-decomposition.
    oriented = catalog.read_parquet(spark, os.path.join(path, "oriented"))
    adj = catalog.read_parquet(spark, os.path.join(path, "adj"))
    return _triangles_from_oriented(oriented, adj)
