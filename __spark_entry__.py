"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
the first 50 ``queries()`` at sf=0.01 and compares each against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json). Those 50 are
the static ``WINDOW`` list below.

All real logic lives in ``orders_currency_conversion_etl_spark``; this
module imports the modules that register queries and adapts the
package's query registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# Make the repo importable for THIS process and for Spark's Python
# workers (the pyspark daemon inherits PYTHONPATH at first-UDF time;
# driver-side sys.path alone is invisible to workers when the driver
# runs from another cwd).
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
if _REPO_ROOT not in os.environ.get("PYTHONPATH", ""):
    os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import DataFrame, SparkSession

from orders_currency_conversion_etl_spark.plans import registry

# Importing submodules for their @query registration side effects.
from orders_currency_conversion_etl_spark.plans import relational  # noqa: F401
from orders_currency_conversion_etl_spark.plans import relational_ext  # noqa: F401
from orders_currency_conversion_etl_spark.plans import analytics  # noqa: F401
from orders_currency_conversion_etl_spark.plans import reports  # noqa: F401
from orders_currency_conversion_etl_spark.plans import behavior  # noqa: F401
from orders_currency_conversion_etl_spark.plans import graph  # noqa: F401
from orders_currency_conversion_etl_spark.operators import (  # noqa: F401
    archive as _archive,
    curation as _curation,
    dedup as _dedup,
    layout as _layout,
    merge as _merge,
    mixing as _mixing,
    similarity as _similarity,
    sketches as _sketches,
    skew as _skew,
    text as _text,
    multimodal as _multimodal,
)
from orders_currency_conversion_etl_spark.functions import pandas_fn as _pandas_fn  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import attribution as _attribution  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import dedup_stream as _dedup_stream  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import events_stream as _events_stream  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import file_queue as _file_queue  # noqa: F401
from orders_currency_conversion_etl_spark.streaming import queue_source as _queue_source  # noqa: F401

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from orders_currency_conversion_etl_spark.session import tune_existing

    tune_existing(spark)
    return registry.QUERIES["flagship_conversion"](spark, SMOKE_SF_DIR)


# The driver's correctness gate checks the FIRST 50 entries of
# ``queries()`` in dict order. ``WINDOW`` fixes those 50: the ten
# operator-family anchors (flagship through multimodal_features), then
# forty more names that span the archive, dedup, join, multimodal,
# queue, sketch, text and window families.
WINDOW = [
    "flagship_conversion",
    "incremental_unprocessed",
    "window_running_total",
    "join_asof_rates",
    "events_hourly_stats",
    "tpch_q6_forecast_revenue",
    "pagerank_parts",
    "dedup_minhash_lsh",
    "knn_lsh_bucketed",
    "multimodal_features",
    "multimodal_audio_info",
    "multimodal_image_dims",
    "archive_tar_members",
    "archive_warc_records",
    "archive_zip_members",
    "case_bucket_totalprice",
    "cast_matrix",
    "dedup_cross_source_matrix",
    "dedup_exact",
    "dedup_exact_substring",
    "dedup_incremental_lsh",
    "dedup_longest_substring",
    "dedup_stream_first_delivery",
    "dq_expectations_orders",
    "filter_empty_shortcircuit",
    "funnel_user_conversion",
    "grouped_zscore_pandas",
    "higher_order_array_funcs",
    "hll_segment_overlap",
    "join_anti_customers_without_orders",
    "join_full_outer_nation_counts",
    "join_interval_attribution",
    "join_salted_skew",
    "knn_ivf_materialized",
    "knn_lsh_multiprobe",
    "map_column_access",
    "multimodal_mp4_dims",
    "multimodal_tiff_dims",
    "null_handling_functions",
    "quantile_sketch_accuracy",
    "quantile_sketch_rolling",
    "queue_compacted_drain",
    "queue_lag_report",
    "set_except_segments",
    "set_intersect_segments",
    "string_functions",
    "text_bpe_token_count",
    "triangles_parts_materialized",
    "window_ntile_percent_rank",
    "window_range_frame",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query: the ``WINDOW`` names first, in that
    order, then the rest in registration order."""
    ordered = {name: registry.QUERIES[name] for name in WINDOW}
    for name, fn in registry.QUERIES.items():
        ordered.setdefault(name, fn)
    return ordered


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted => rows-only).

    Oracles are finalized with the cross-engine boundary convention:
    compared DECIMAL columns cast to DOUBLE, HUGEINT sums to BIGINT —
    mirroring the boundary_cast applied to every Spark-side query."""
    return registry.finalized_oracles()
