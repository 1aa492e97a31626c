"""Scale guards for exactness-baseline operators.

Two registered queries are intentionally non-scalable exactness
baselines (their LSH/IVF twins are the 100 TB path): the O(n²)
pairwise-cosine dedup and the linear-scan brute-force kNN. Nothing in
Catalyst stops a user from pointing them at a billion-row corpus —
they plan as broadcast nested-loop joins, not CartesianProduct, so the
plan lint can't catch it either. This guard does: any invocation above
the row threshold fails fast with a pointer to the scale path.

The size check is metadata-only where possible: for a parquet table the
row count comes from the file footer (pyarrow, cached per path), so
plan-only consumers (plan lint, dump_plans, the no-decimal lint) never
trigger a Spark count job just by *building* the guarded query — the
round-2 guard ran an eager df.count() per invocation, which both taxed
schema-only callers and double-scanned when the query then executed.
"""

from __future__ import annotations

import functools
import os

#: Upper bound for exact all-pairs / linear-scan baselines. Above
#: this, the quadratic candidate space (~5e9 pairs at the limit) stops
#: being "verification baseline" and starts being a cluster-melter.
MAX_EXACT_BASELINE_ROWS = 100_000


class BaselineScaleError(RuntimeError):
    """Raised when an exactness baseline is invoked beyond its bound."""


def _stat_fingerprint(path: str) -> int:
    """Freshness key for the row-count cache: a rewritten or grown file
    changes (size, mtime_ns), so a stale count can never re-admit an
    over-limit corpus within a long-lived driver."""
    if os.path.isdir(path):
        sig = []
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(root, f))
                    sig.append((f, st.st_size, st.st_mtime_ns))
        return hash(tuple(sig))
    st = os.stat(path)
    return hash((st.st_size, st.st_mtime_ns))


@functools.lru_cache(maxsize=64)
def _row_count_cached(path: str, fingerprint: int) -> int:
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        return total
    return pq.ParquetFile(path).metadata.num_rows


def parquet_row_count(path: str) -> int:
    """Row count from parquet footer metadata — no Spark job, no scan.

    Accepts a single file or a directory of part files (sums footers).
    Local paths are cached keyed on (path, size, mtime) so rewritten
    fixtures invalidate; remote URIs (s3://, hdfs://) resolve through
    pyarrow.fs uncached (no cheap freshness key exists there).
    """
    if os.path.exists(path):
        return _row_count_cached(path, _stat_fingerprint(path))

    import pyarrow.fs as pafs
    import pyarrow.parquet as pq

    fs, rel = pafs.FileSystem.from_uri(path)
    info = fs.get_file_info(rel)
    if info.type == pafs.FileType.Directory:
        total = 0
        for fi in fs.get_file_info(pafs.FileSelector(rel, recursive=True)):
            if fi.is_file and fi.path.endswith(".parquet"):
                total += pq.ParquetFile(fs.open_input_file(fi.path)).metadata.num_rows
        return total
    return pq.ParquetFile(fs.open_input_file(rel)).metadata.num_rows


def _fail(op: str, n: int, scale_path: str) -> None:
    raise BaselineScaleError(
        f"{op} is an exactness baseline bounded to "
        f"{MAX_EXACT_BASELINE_ROWS} input rows (got {n}); at scale "
        f"use {scale_path} instead"
    )


def assert_parquet_baseline_size(path: str, op: str, scale_path: str) -> None:
    """Guard using parquet footer metadata (action-free, any filesystem
    pyarrow.fs can resolve)."""
    n = parquet_row_count(path)
    if n > MAX_EXACT_BASELINE_ROWS:
        _fail(op, n, scale_path)

