"""Data-layout optimization: Z-order (Morton) interleaved sort keys.

The reference has no storage-layout surface (its sink is a row-store
Postgres table — `/root/reference/dags/order_currency_conversion_dag.py:126-135`);
this is EXT, the capability class a 100 TB parquet lake actually needs:
multi-dimensional data clustering so that a filter on ANY of the
clustered columns prunes most files/row-groups, not just a filter on
the single sort prefix.

Why Z-order and not a plain compound sort: sorting by (a, b) clusters
perfectly on `a` but scatters `b` — a filter on `b` alone touches every
file. The Morton curve interleaves the bits of both dimensions, so a
range predicate on EITHER column maps to a bounded number of z-ranges
and the parquet row-group min/max stats skip the rest. This is the same
layout trick Delta/Iceberg expose as `OPTIMIZE ... ZORDER BY`; here it
is built from first principles on open Spark primitives:

    normalize dims to 16-bit ints  (pure integer arithmetic)
    -> spread bits (5 shift-and-mask steps, the standard magic numbers)
    -> interleave (sx | sy << 1)
    -> repartitionByRange + sortWithinPartitions on the z-key

Scale notes (100 TB):
- the z-key is a narrow per-row map — no shuffle to compute;
- `repartitionByRange` on the z-key is ONE range shuffle (sampled
  boundaries), the same cost as any global sort, paid once at write
  time to make every later scan cheaper;
- min/max normalization bounds come from one tiny aggregate that
  broadcasts (4 bigints); on an append-only lake these are maintained
  per-partition instead of recomputed;
- effectiveness is MEASURED, not asserted: tests/test_layout.py writes
  the same table z-ordered vs round-robin and counts the files a
  selective filter actually touches on both layouts.

Cross-engine exactness: every step is integer arithmetic (subtract,
multiply, integral division, shift, and/or) — bit-identical between
Spark and DuckDB, so the registered query hash-matches its oracle with
no float boundary anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.pandas_fn import map_rows
from ..plans.registry import query
from ..sources import catalog

#: Bits per dimension. 16 bits x 2 dims -> 32-bit z-key; plenty of
#: resolution for file/row-group pruning (a 100 TB table has ~1e5-1e6
#: row groups — 2^32 distinct cells is 4 orders of magnitude finer).
BITS = 16
MAX_CELL = (1 << BITS) - 1  # 65535

#: The standard bit-spread chain for up to 32-bit inputs: after these
#: five shift-and-mask steps the i-th input bit sits at position 2i.
#: One table drives BOTH engines (Spark Column ops and oracle SQL), so
#: the two implementations cannot drift.
_SPREAD_STEPS: tuple[tuple[int, int], ...] = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_col(col: Column) -> Column:
    x = col
    for shift, mask in _SPREAD_STEPS:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def _normalize(vname: str, mn: str, mx: str) -> Column:
    """Map vname in [mn, mx] to an integer cell in [0, MAX_CELL].

    Pure BIGINT arithmetic (`DIV`, not `/`) so Spark and DuckDB agree
    bit-for-bit; GREATEST guards the degenerate constant column."""
    return F.expr(
        f"CAST((({vname} - {mn}) * {MAX_CELL}) DIV GREATEST({mx} - {mn}, 1) AS BIGINT)"
    )


def morton_key(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Attach `_zkey`: the Morton interleave of the two columns.

    Normalization bounds come from one broadcast 1-row aggregate of the
    input (4 bigints crossing the wire — the canonical tiny-dimension
    broadcast, same shape as the flagship's rate table)."""
    bounds = df.agg(
        F.min(col_x).cast("bigint").alias("_mn_x"),
        F.max(col_x).cast("bigint").alias("_mx_x"),
        F.min(col_y).cast("bigint").alias("_mn_y"),
        F.max(col_y).cast("bigint").alias("_mx_y"),
    )
    with_bounds = df.crossJoin(F.broadcast(bounds))
    nx = _normalize(col_x, "_mn_x", "_mx_x")
    ny = _normalize(col_y, "_mn_y", "_mx_y")
    z = _spread_col(nx).bitwiseOR(F.shiftleft(_spread_col(ny), 1))
    return with_bounds.withColumn("_zkey", z).drop(
        "_mn_x", "_mx_x", "_mn_y", "_mx_y"
    )


def write_zordered(
    df: DataFrame, col_x: str, col_y: str, path: str, n_files: int
) -> None:
    """Write df as `n_files` parquet files clustered on the Morton key.

    One range shuffle (sampled boundaries on `_zkey`) + an in-partition
    sort; the z-key itself is dropped from the stored schema — its whole
    job is deciding row placement so parquet's per-row-group min/max on
    the REAL columns become selective."""
    keyed = morton_key(df, col_x, col_y)
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def files_touched(df: DataFrame) -> int:
    """Number of distinct files contributing at least one row to df.

    The pruning metric: with row-group statistics doing their job, a
    selective predicate over a z-ordered layout draws its matches from
    few files; over a scattered layout every file contributes."""
    return (
        df.select(F.input_file_name().alias("f")).distinct().count()
    )


# --------------------------------------------------------------------------
# Registered query: per-z-bucket locality statistics
# --------------------------------------------------------------------------

def _spread_sql_ctes() -> tuple[str, str]:
    """CTE chain applying _SPREAD_STEPS to BOTH normalized dims —
    generated from the same step table as the Spark side, so the two
    implementations cannot drift. Each step rewrites nx and ny in place
    via DuckDB's `SELECT * REPLACE`."""
    lines = []
    prev = "norm"
    for i, (shift, mask) in enumerate(_SPREAD_STEPS):
        cur = f"spread{i}"
        lines.append(
            f"{cur} AS (SELECT * REPLACE ("
            f"((nx | (nx << {shift})) & {mask}) AS nx, "
            f"((ny | (ny << {shift})) & {mask}) AS ny"
            f") FROM {prev})"
        )
        prev = cur
    return ",\n".join(lines), prev


_SPREAD_CTES, _SPREAD_LAST = _spread_sql_ctes()

_ZORDER_ORACLE = f"""
WITH ext AS (
    SELECT CAST(MIN(l_partkey) AS BIGINT) AS mn_x,
           CAST(MAX(l_partkey) AS BIGINT) AS mx_x,
           CAST(MIN(l_suppkey) AS BIGINT) AS mn_y,
           CAST(MAX(l_suppkey) AS BIGINT) AS mx_y
    FROM lineitem
),
norm AS (
    SELECT l_partkey, l_suppkey,
           ((l_partkey - mn_x) * {MAX_CELL}) // GREATEST(mx_x - mn_x, 1) AS nx,
           ((l_suppkey - mn_y) * {MAX_CELL}) // GREATEST(mx_y - mn_y, 1) AS ny
    FROM lineitem, ext
),
{_SPREAD_CTES},
z AS (
    SELECT l_partkey, l_suppkey, (nx | (ny << 1)) AS zkey FROM {_SPREAD_LAST}
)
SELECT CAST(zkey >> 26 AS BIGINT) AS z_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       CAST(MAX(l_partkey) AS BIGINT) AS max_part,
       CAST(MIN(l_suppkey) AS BIGINT) AS min_supp,
       CAST(MAX(l_suppkey) AS BIGINT) AS max_supp
FROM z
GROUP BY 1
"""


@query("layout_zorder_stats", _ZORDER_ORACLE)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-z-bucket locality profile of lineitem clustered on
    (l_partkey, l_suppkey).

    The top 6 z-key bits = the interleaved top 3 bits of each
    normalized dimension, so each of the <=64 buckets is a bounded
    rectangle in (part, supp) space — visible in the min/max spans this
    query returns, and the reason range predicates on either column
    prune whole buckets. Every step is integer arithmetic: the oracle
    hash-matches exactly.
    """
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    keyed = morton_key(li, "l_partkey", "l_suppkey")
    return (
        keyed.groupBy(
            F.shiftright("_zkey", 26).cast("bigint").alias("z_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
            F.min("l_suppkey").cast("bigint").alias("min_supp"),
            F.max("l_suppkey").cast("bigint").alias("max_supp"),
        )
    )


# --------------------------------------------------------------------------
# File-level min/max manifest + manifest-driven pruned reads
# --------------------------------------------------------------------------

def build_file_manifest(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    """Per-file statistics table: (file, n_rows, <c>_min, <c>_max ...).

    The table-format trick (Iceberg manifests / Delta file stats)
    rebuilt from open primitives: ONE scan of the dataset grouped by
    ``input_file_name()``. Parquet row-group stats prune *within* a
    file only after its footer is opened; this manifest is what lets a
    planner skip the file (and its listing/footer/task cost) entirely.

    Scale: output is |files| rows (~1e5-1e6 at 100 TB — tiny). On an
    append-only lake the manifest is maintained incrementally by
    running this over new files and unioning, not recomputed.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (
        catalog.read_parquet(spark, path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
    )


def read_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Scan only the files whose [min, max] overlaps [lo, hi].

    The surviving file list is collected driver-side — bounded by
    |files|, the same driver-side scale every table-format planner
    accepts — and handed to the reader as explicit paths, so skipped
    files cost nothing: no task, no footer read. The residual predicate
    is still applied (overlap is necessary, not sufficient).
    """
    keep = [
        r["file"]
        for r in manifest.filter(
            ~((F.col(f"{col}_max") < lo) | (F.col(f"{col}_min") > hi))
        ).select("file").collect()
    ]
    if not keep:
        # Nothing overlaps: keep the schema (one footer read), zero rows.
        first = manifest.select("file").first()
        if first is None:
            raise ValueError("empty manifest")
        return catalog.read_parquet(spark, first["file"]).filter(F.lit(False))
    return catalog.read_parquet(spark, *keep).filter(F.col(col).between(lo, hi))


# --------------------------------------------------------------------------
# Hilbert curve: the no-seam alternative to Morton
# --------------------------------------------------------------------------
#
# The Z-order curve takes long diagonal jumps at power-of-two seams, so
# a few buckets straddle distant regions; the Hilbert curve visits every
# cell of each 2^k x 2^k block before leaving it, giving strictly
# contiguous locality — the layout Databricks' liquid clustering and
# most modern lakehouse optimizers prefer. Same engine contract as the
# Morton path: pure integer arithmetic, one range shuffle at write
# time, exact DuckDB oracle.
#
# Per level s = 2^(BITS-1) ... 1 (the standard xy->d walk):
#   rx = (x & s) != 0;  ry = (y & s) != 0
#   d += s*s * ((3*rx) XOR ry)        -- quadrant in {0,1,2,3}
#   if ry == 0: (flip if rx) then swap x,y
# The three implementations (Python reference, Spark Columns, oracle
# CTE chain) share this loop structure and are pinned equal by
# tests/test_layout.py (hypothesis property + fixed-batch bridge +
# oracle hash-match).


def hilbert_ref(x: int, y: int, bits: int = BITS) -> int:
    """Pure-Python reference xy->d (the testing ground truth)."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def _hilbert_fold(df: DataFrame) -> DataFrame:
    """Run the BITS-level xy->d walk over columns `_hx`, `_hy`, `_hd`.

    One Project per level: every level's expressions reference the
    PREVIOUS level's output attributes (not inlined sub-expressions).
    Inlining the chain into one Column blows up ~3^BITS expression
    nodes — measured to OOM the driver at BITS=16 — while the
    per-level projection keeps the plan linear in BITS; Catalyst's
    CollapseProject leaves it alone because each alias is referenced
    several times by non-cheap CASE expressions."""
    for i in range(BITS):
        s = 1 << (BITS - 1 - i)
        rx = F.col("_hx").bitwiseAND(F.lit(s)) != 0
        ry = F.col("_hy").bitwiseAND(F.lit(s)) != 0
        quadrant = F.when(~rx & ~ry, 0).when(~rx, 1).when(ry, 2).otherwise(3)
        df = df.withColumns(
            {
                "_hd": F.col("_hd") + F.lit(s * s).cast("bigint") * quadrant,
                "_hx": F.when(ry, F.col("_hx"))
                .when(rx, F.lit(s - 1) - F.col("_hy"))
                .otherwise(F.col("_hy")),
                "_hy": F.when(ry, F.col("_hy"))
                .when(rx, F.lit(s - 1) - F.col("_hx"))
                .otherwise(F.col("_hx")),
            }
        )
    return df


def hilbert_key(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Attach `_hkey`: the Hilbert distance of the two columns
    (normalized exactly as :func:`morton_key` normalizes)."""
    bounds = df.agg(
        F.min(col_x).cast("bigint").alias("_mn_x"),
        F.max(col_x).cast("bigint").alias("_mx_x"),
        F.min(col_y).cast("bigint").alias("_mn_y"),
        F.max(col_y).cast("bigint").alias("_mx_y"),
    )
    seeded = (
        df.crossJoin(F.broadcast(bounds))
        .withColumns(
            {
                "_hx": _normalize(col_x, "_mn_x", "_mx_x"),
                "_hy": _normalize(col_y, "_mn_y", "_mx_y"),
                "_hd": F.lit(0).cast("bigint"),
            }
        )
        .drop("_mn_x", "_mx_x", "_mn_y", "_mx_y")
    )
    return (
        _hilbert_fold(seeded)
        .withColumnRenamed("_hd", "_hkey")
        .drop("_hx", "_hy")
    )


def write_hilbert_ordered(
    df: DataFrame, col_x: str, col_y: str, path: str, n_files: int
) -> None:
    """Write df as `n_files` parquet files clustered on the Hilbert key
    (same single-range-shuffle cost as :func:`write_zordered`)."""
    keyed = hilbert_key(df, col_x, col_y)
    (
        keyed.repartitionByRange(n_files, "_hkey")
        .sortWithinPartitions("_hkey")
        .drop("_hkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def _hilbert_sql_ctes() -> tuple[str, str]:
    """Oracle CTE chain mirroring :func:`_hilbert_fold` level by level
    (generated from the same loop, so the engines cannot drift)."""
    lines = []
    prev = "norm"
    for i in range(BITS):
        s = 1 << (BITS - 1 - i)
        cur = f"hlev{i}"
        quadrant = (
            f"CASE WHEN (nx & {s}) = 0 AND (ny & {s}) = 0 THEN 0 "
            f"WHEN (nx & {s}) = 0 THEN 1 "
            f"WHEN (ny & {s}) <> 0 THEN 2 ELSE 3 END"
        )
        new_x = (
            f"CASE WHEN (ny & {s}) <> 0 THEN nx "
            f"WHEN (nx & {s}) <> 0 THEN {s - 1} - ny ELSE ny END"
        )
        new_y = (
            f"CASE WHEN (ny & {s}) <> 0 THEN ny "
            f"WHEN (nx & {s}) <> 0 THEN {s - 1} - nx ELSE nx END"
        )
        lines.append(
            f"{cur} AS (SELECT * REPLACE ("
            f"d + {s * s}::BIGINT * ({quadrant}) AS d, "
            f"({new_x}) AS nx, ({new_y}) AS ny"
            f") FROM {prev})"
        )
        prev = cur
    return ",\n".join(lines), prev


_HILBERT_CTES, _HILBERT_LAST = _hilbert_sql_ctes()

_HILBERT_ORACLE = f"""
WITH ext AS (
    SELECT CAST(MIN(l_partkey) AS BIGINT) AS mn_x,
           CAST(MAX(l_partkey) AS BIGINT) AS mx_x,
           CAST(MIN(l_suppkey) AS BIGINT) AS mn_y,
           CAST(MAX(l_suppkey) AS BIGINT) AS mx_y
    FROM lineitem
),
norm AS (
    SELECT l_partkey, l_suppkey, CAST(0 AS BIGINT) AS d,
           ((l_partkey - mn_x) * {MAX_CELL}) // GREATEST(mx_x - mn_x, 1) AS nx,
           ((l_suppkey - mn_y) * {MAX_CELL}) // GREATEST(mx_y - mn_y, 1) AS ny
    FROM lineitem, ext
),
{_HILBERT_CTES}
SELECT CAST(d >> 26 AS BIGINT) AS h_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(l_partkey) AS BIGINT) AS min_part,
       CAST(MAX(l_partkey) AS BIGINT) AS max_part,
       CAST(MIN(l_suppkey) AS BIGINT) AS min_supp,
       CAST(MAX(l_suppkey) AS BIGINT) AS max_supp
FROM {_HILBERT_LAST}
GROUP BY 1
"""


@query("layout_hilbert_stats", _HILBERT_ORACLE)
def layout_hilbert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-Hilbert-bucket locality profile of lineitem clustered on
    (l_partkey, l_suppkey).

    The top 6 bits of the Hilbert distance index the depth-3 cell walk,
    so each of the <=64 buckets is exactly one 1/8 x 1/8 square —
    contiguous along the curve, unlike Morton's seam-straddling
    buckets. Integer arithmetic end to end: the oracle hash-matches.
    """
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    keyed = hilbert_key(li, "l_partkey", "l_suppkey")
    return (
        keyed.groupBy(
            F.shiftright("_hkey", 26).cast("bigint").alias("h_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").cast("bigint").alias("min_part"),
            F.max("l_partkey").cast("bigint").alias("max_part"),
            F.min("l_suppkey").cast("bigint").alias("min_supp"),
            F.max("l_suppkey").cast("bigint").alias("max_supp"),
        )
    )


# --------------------------------------------------------------------------
# Row-group introspection (late r13): the footer-only tier UNDER the
# per-file manifest. build_file_manifest answers "which FILES can a
# predicate skip" with one data scan; rowgroup_manifest answers "which
# ROW GROUPS inside each file would it skip" — the statistics the
# parquet reader itself prunes with — by reading ONLY footers, never
# column data. At 100 TB that is the difference between scanning the
# lake to profile it and reading ~1e5-1e6 footers (a few KiB each): a
# physical-layout health check ("are my row groups aligned with my
# cluster key?") must not cost a full scan.
# --------------------------------------------------------------------------


def _rowgroup_schema(cols: "list[str]"):
    from pyspark.sql import types as T

    fields = [
        T.StructField("file", T.StringType()),
        T.StructField("row_group", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("total_bytes", T.LongType()),
    ]
    for c in cols:
        fields += [
            T.StructField(f"{c}_min", T.StringType()),
            T.StructField(f"{c}_max", T.StringType()),
            T.StructField(f"{c}_nulls", T.LongType()),
        ]
    return T.StructType(fields)


def rowgroup_manifest(spark: SparkSession, path: str, cols: "list[str]") -> DataFrame:
    """Row-group-level statistics table, one row per (file, row group):
    ``(file, row_group, n_rows, total_bytes, <c>_min, <c>_max,
    <c>_nulls ...)`` with min/max rendered as strings (the
    DuckDB-``parquet_metadata()``-compatible rendering; casts are the
    caller's).

    Execution shape: the FILE LIST is resolved driver-side through the
    Hadoop FS glob (one listing — the same machinery every read of the
    path pays), then the footer walks fan out as an Arrow-batched
    ``mapInPandas`` over the path list — each task opens its files with
    pyarrow and reads the footer metadata only, so the job moves
    O(files) paths and O(row-groups) stat rows, never column data.
    Filesystem honesty (the file_queue posture): the listing is
    Hadoop-FS-portable, but the executor-side footer OPEN is pyarrow
    over a local/POSIX path in this implementation — an object-store
    deployment passes a pyarrow filesystem at the marked seam.
    """
    jvm = spark._jvm
    pattern = path if path.endswith(".parquet") else os.path.join(path, "*.parquet")
    glob = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = glob.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(glob)
    paths = sorted(
        st.getPath().toUri().getPath() for st in (statuses or [])
    )  # scheme-stripped: the pyarrow-open seam (local/POSIX here)
    if not paths:
        raise ValueError(f"no parquet files under {path!r}")
    schema = _rowgroup_schema(cols)
    files_df = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(min(len(paths), 64))

    def _walk(p):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
        missing = [c for c in cols if c not in idx]
        if missing:
            raise ValueError(f"columns {missing} not in parquet schema of {p}")
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            rec = [os.path.basename(p), g, rg.num_rows, rg.total_byte_size]
            for c in cols:
                st = rg.column(idx[c]).statistics
                if st is None:
                    rec += [None, None, None]
                else:
                    rec += [
                        str(st.min) if st.has_min_max else None,
                        str(st.max) if st.has_min_max else None,
                        int(st.null_count) if st.has_null_count else None,
                    ]
            yield rec

    return map_rows(files_df, _walk, schema)


_LAKE_ROWGROUP_ORACLE = """
WITH ordered AS (
    SELECT doc_id, n_chars,
           row_number() OVER (ORDER BY doc_id) - 1 AS rn
    FROM documents
)
SELECT CAST(rn // 512 AS INT) AS row_group,
       COUNT(*) AS n_rows,
       MIN(doc_id) AS doc_id_min,
       MAX(doc_id) AS doc_id_max,
       MIN(n_chars) AS n_chars_min,
       MAX(n_chars) AS n_chars_max
FROM ordered
GROUP BY 1
"""


@query("lake_rowgroup_stats", _LAKE_ROWGROUP_ORACLE)
def lake_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-truth check, oracled from first principles: write documents
    doc_id-sorted into a single parquet file with a FIXED 512-row row-
    group size (pyarrow writer — Spark's own writer sizes groups by
    bytes, which is non-deterministic across runs), then read the
    stats BACK through the footer-only :func:`rowgroup_manifest` and
    report per-group n_rows / doc_id and n_chars min+max. Because the
    write order and group size are pinned, every reported number is
    recomputable relationally (row_number // 512), so the physical
    footer walk gets an exact SQL oracle — the build-then-independently-
    parse pattern of the archive queries, applied to parquet itself."""
    docs = (
        catalog.load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        # repartition(1) + sortWithinPartitions, NOT orderBy+coalesce:
        # a global sort followed by coalesce(1) is an optimizer-
        # reorderable pair, this form pins one sorted stream
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    from ..streaming.file_queue import _scratch_dir

    work = _scratch_dir("lake_rowgroups_")
    target = os.path.join(work, "documents_sorted.parquet")

    def _write(batches):
        import pandas as pd

        parts = [p for p in batches if len(p)]
        yield pd.DataFrame(
            {"dummy": [_write_sorted_parquet(parts, target)]}
        )

    # one task holds the sorted stream end-to-end (fixture-scale file;
    # at 100 TB this is one file PER range partition, same contract)
    docs.mapInPandas(_write, "dummy long").collect()
    mf = rowgroup_manifest(spark, target, ["doc_id", "n_chars"])
    return mf.select(
        F.col("row_group"),
        F.col("n_rows"),
        F.col("doc_id_min").cast("bigint").alias("doc_id_min"),
        F.col("doc_id_max").cast("bigint").alias("doc_id_max"),
        F.col("n_chars_min").cast("bigint").alias("n_chars_min"),
        F.col("n_chars_max").cast("bigint").alias("n_chars_max"),
    )


def _write_sorted_parquet(parts: "list", target: str) -> int:
    """Write the concatenated batches as ONE parquet file with a fixed
    512-row row-group size (executor-side pyarrow writer)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.concat(parts, ignore_index=True)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, target, row_group_size=512)
    return len(pdf)


def surviving_rowgroups(
    manifest: DataFrame, col: str, lo, hi, cast: str = "bigint"
) -> "dict[str, list[int]]":
    """{file: [row groups]} whose [min, max] overlaps [lo, hi] —
    collected driver-side (bounded by |row groups|, the driver-side
    scale every table-format planner accepts). Min/max strings cast
    with ``cast`` for the comparison — the manifest stores
    DuckDB-compatible string renderings."""
    rows = (
        manifest.filter(
            ~(
                (F.col(f"{col}_max").cast(cast) < lo)
                | (F.col(f"{col}_min").cast(cast) > hi)
            )
        )
        .groupBy("file")
        .agg(F.sort_array(F.collect_list("row_group")).alias("groups"))
        .collect()
    )
    return {r["file"]: list(r["groups"]) for r in rows}


def read_pruned_rowgroups(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
    cast: str = "bigint",
) -> DataFrame:
    """Scan only the ROW GROUPS whose stats overlap [lo, hi] — the
    granularity below :func:`read_pruned`\'s file skipping.

    The surviving (file, groups) plan comes from
    :func:`surviving_rowgroups`; it fans out as one task per surviving
    FILE whose executor calls pyarrow\'s ``read_row_groups`` — the
    reader seeks straight to the selected groups\' column chunks, so a
    skipped row group costs nothing: no page read, no decode. The
    residual ``BETWEEN`` predicate is still applied (min/max overlap
    is necessary, not sufficient). Schema comes from one footer, the
    rowgroup_manifest convention; like the manifest, the executor-side
    open is pyarrow over a local/POSIX path (the marked object-store
    seam)."""
    import json as _json

    from pyspark.sql import types as T

    plan = surviving_rowgroups(manifest, col, lo, hi, cast)
    base_dir = path if not path.endswith(".parquet") else os.path.dirname(path)

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if path.endswith(".parquet"):
        any_file = path
    else:
        any_row = manifest.select("file").first()
        if any_row is None:
            raise ValueError("empty manifest")
        any_file = os.path.join(base_dir, any_row["file"])
    schema = from_arrow_schema(pq.read_schema(any_file))
    if not plan:
        return spark.createDataFrame([], schema)
    tasks = [
        (os.path.join(base_dir, f), _json.dumps(groups))
        for f, groups in sorted(plan.items())
    ]
    tasks_df = spark.createDataFrame(
        tasks, "path string, groups string"
    ).repartition(min(len(tasks), 64))

    def _read(batches):
        import pyarrow.parquet as _pq

        for pdf in batches:
            for fpath, groups_json in zip(pdf["path"], pdf["groups"]):
                pf = _pq.ParquetFile(fpath)
                table = pf.read_row_groups(_json.loads(groups_json))
                yield table.to_pandas()

    out = tasks_df.mapInPandas(_read, schema=schema)
    return out.filter(F.col(col).cast(cast).between(lo, hi))
