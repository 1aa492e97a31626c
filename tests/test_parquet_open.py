"""Opening parquet without a schema-inference job.

``sources.catalog.read_parquet`` reads one data file's footer on the
driver and hands the schema to ``spark.read.schema(...)``. These tests
pin that its schema is the one ``spark.read.parquet`` infers, on every
fixture table and on each layout the package reads (queue partition
directories, ``batch=N`` outputs, Spark-written multi-file directories),
that a path with no data file raises Spark's own error, and that opening
the catalog's tables runs no Spark job.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.sources import catalog
from orders_currency_conversion_etl_spark.streaming.file_queue import queue_append
from perfbench.statusstore import StatusStore
from tests.conftest import SF_SMOKE

TESTDATA = os.path.dirname(SF_SMOKE)
SCALES = ("sf0.001", "sf0.01", "sf0.1")
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _same_as_inference(spark, *paths: str, **options) -> None:
    reader = spark.read.options(**options)
    assert catalog.read_parquet(spark, *paths, **options).schema == reader.parquet(*paths).schema


@pytest.mark.parametrize("scale", SCALES)
def test_schema_matches_inference_on_every_table(spark, scale):
    sf = os.path.join(TESTDATA, scale)
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    for name in catalog.TABLE_NAMES:
        _same_as_inference(spark, os.path.join(sf, f"{name}.parquet"))


def test_schema_matches_inference_on_package_layouts(spark, tmp_path):
    orders = catalog.load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    # file queue: partition=N/seq=NNNNNNNN.parquet
    q_dir = str(tmp_path / "queue")
    for part in (0, 1):
        queue_append(orders.filter(F.col("o_orderkey") % 2 == part), q_dir, part)
    _same_as_inference(spark, os.path.join(q_dir, "partition=0"))
    _same_as_inference(spark, os.path.join(q_dir, "partition=*"))
    segments = [os.path.join(q_dir, f"partition={p}", "seq=00000000.parquet") for p in (0, 1)]
    _same_as_inference(spark, *segments, basePath=q_dir)
    # foreachBatch sinks: out/batch=N, each a Spark-written directory
    out = tmp_path / "out"
    for bid in (0, 1, 2):
        orders.filter(F.col("o_orderkey") % 3 == bid).write.parquet(str(out / f"batch={bid}"))
    _same_as_inference(spark, str(out / "batch=*"))
    # a Spark-written multi-file directory (_SUCCESS, .crc files beside the parts)
    multi = str(tmp_path / "multi")
    orders.repartition(3).write.parquet(multi)
    _same_as_inference(spark, multi)


def _write(path, cols) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({c: [1] for c in cols}), path)


def test_first_file_in_sparks_path_order(spark, tmp_path):
    """Files of different schemas: both readers open the same one."""
    part = tmp_path / "partitioned"
    _write(str(part / "k=b" / "f.parquet"), ["x"])
    _write(str(part / "k=b-c" / "f.parquet"), ["x", "y"])  # '-' < '/': sorts first
    _write(str(part / "_hidden" / "f.parquet"), ["h"])
    _write(str(part / ".dot.parquet"), ["h"])
    _same_as_inference(spark, str(part))
    assert catalog.read_parquet(spark, str(part)).columns == ["x", "y", "k"]
    _same_as_inference(spark, str(part / "k=b"), str(part / "k=b-c"))
    # no k=v directory: only the files directly in the root are listed
    flat = tmp_path / "flat"
    _write(str(flat / "b" / "f.parquet"), ["z"])
    _write(str(flat / "x.parquet"), ["a"])
    _same_as_inference(spark, str(flat))
    assert catalog.read_parquet(spark, str(flat)).columns == ["a"]


@pytest.mark.parametrize("layout", ["empty", "missing", "hidden_only", "nested_only", "empty_glob"])
def test_no_data_file_raises_sparks_error(spark, tmp_path, layout):
    path = str(tmp_path / "t")
    if layout == "empty":
        os.makedirs(path)
    elif layout == "hidden_only":
        os.makedirs(path)
        open(os.path.join(path, "_SUCCESS"), "w").close()
    elif layout == "nested_only":
        _write(os.path.join(path, "sub", "f.parquet"), ["x"])
    elif layout == "empty_glob":
        os.makedirs(path)
        path = os.path.join(path, "batch=*")
    assert catalog.parquet_footer(spark, path) is None
    with pytest.raises(AnalysisException) as expected:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as got:
        catalog.read_parquet(spark, path)
    assert got.value.getCondition() == expected.value.getCondition()
    assert str(got.value) == str(expected.value)


def test_opening_every_table_runs_no_spark_job(spark, tmp_path):
    """Cold open: a path the plan memo has never seen, so every table's
    file listing and footer are read. Inference would run one job per
    table; the control read shows the counter sees such a job."""
    sf = str(tmp_path / "sf")
    os.symlink(os.path.join(TESTDATA, "sf0.01"), sf)
    store = StatusStore(spark)
    try:
        store.set_group("cold-open")
        for name in catalog.TABLE_NAMES:
            catalog.load_table(spark, sf, name)
        store.set_group("cold-open-inferred")
        spark.read.parquet(os.path.join(sf, "orders.parquet"))
    finally:
        store.clear_group()
    assert store.collect("cold-open")["jobs"] == 0
    assert store.collect("cold-open-inferred")["jobs"] == 1


def _events_file(sf_dir, ts_type: pa.DataType) -> None:
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    ts = pa.array(ns if ts_type.unit == "ns" else [v // 1000 for v in ns], pa.int64())
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": ts.cast(ts_type),
                "user_id": pa.array([7, 8], pa.int64()),
                "event_type": ["click", "view"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        ),
        os.path.join(sf_dir, "events.parquet"),
    )


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_nanos_conf_only_for_a_nanos_file(spark, tmp_path, unit):
    _events_file(str(tmp_path), pa.timestamp(unit))
    spark.conf.unset(NANOS_AS_LONG)
    try:
        df = catalog._load_table_uncached(spark, str(tmp_path), "events")
        assert spark.conf.get(NANOS_AS_LONG) == ("true" if unit == "ns" else "false")
        assert dict(df.dtypes)["ts"] == "timestamp"
        micros = [r[0] for r in df.select(F.unix_micros("ts")).orderBy("event_id").collect()]
        assert micros == [1_700_000_000_123_456, 1_700_000_100_000_000]
    finally:
        spark.conf.unset(NANOS_AS_LONG)
