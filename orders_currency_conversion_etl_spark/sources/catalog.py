"""Parquet table catalog.

One function the whole engine goes through to read a table, so that
scan-level decisions (schema enforcement, column pruning via downstream
``select``, partition sizing) live in one place.

At 100 TB the same call works unchanged: ``spark.read.parquet`` splits
files into tasks of ``spark.sql.files.maxPartitionBytes`` (128 MB
default) and Catalyst pushes filters/projections into the scan — we
never materialize whole tables on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas

TABLE_NAMES = tuple(schemas.TABLES)


#: (applicationId, abspath(sf_dir), name, variant) -> analyzed DataFrame.
#: A DataFrame is an immutable lazy plan — memoizing it reuses the
#: file listing + parquet-footer schema read (a ~75-115 ms DRIVER-side
#: cost per spark.read.parquet, measured r18; the headline bench pays
#: it ~29x per pass), never any computed data: every action still
#: scans parquet. The 100 TB analog is a real catalog's cached table
#: metadata instead of re-listing the table's files per query
#: (guide §6 file-listing / §7.3 driver-side planning). Keyed by
#: applicationId so a new session (partition-invariance audits, fresh
#: driver processes) never sees another session's plans; entries from
#: a previous application are dropped on first access from a new one.
_PLAN_MEMO: dict[tuple[str, str, str, str], DataFrame] = {}


def session_memo(spark: SparkSession, key: tuple[str, str, str], build) -> DataFrame:
    """Memoize an analyzed (lazy, data-free) DataFrame per session."""
    app = spark.sparkContext.applicationId
    full = (app, *key)
    df = _PLAN_MEMO.get(full)
    if df is None:
        if _PLAN_MEMO and next(iter(_PLAN_MEMO))[0] != app:
            _PLAN_MEMO.clear()  # one application's plans at a time
        df = build()
        _PLAN_MEMO[full] = df
    return df


def local_table(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """A small static table built in the JVM as a ``LocalRelation``.

    ``createDataFrame(list)`` would make a pickled Python RDD (``Scan
    ExistingRDD``), so every scan or broadcast of it starts Python
    workers to decode a few rows. An Arrow table under
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation`` instead (``LocalTableScan``, no Python worker).
    The Arrow schema is derived from ``schema`` (a ``StructType`` or a
    DDL string), so the result carries exactly that schema, nullability
    included; doubles pass through bit for bit, a datetime in a date
    column keeps its date, and naive datetimes are read as UTC, the
    session zone.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema=schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table; schema is validated, never inferred."""
    return session_memo(
        spark,
        (os.path.abspath(sf_dir), name, "plain"),
        lambda: _load_table_uncached(spark, sf_dir, name),
    )


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in schemas.TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as two parquet encodings across driver
        # testdata generations; normalize BOTH to the same TimestampType
        # every downstream query sees:
        #  - TIMESTAMP(NANOS): Spark 4 refuses it outright
        #    ([PARQUET_TYPE_ILLEGAL]) — read nanos as int64 and truncate
        #    to microseconds, exactly what DuckDB's µs TIMESTAMP does.
        #  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads it
        #    as TIMESTAMP_NTZ (inferTimestampNTZ), which breaks
        #    TZ-typed functions like unix_micros — cast to TIMESTAMP,
        #    preserving the wall clock bit-for-bit (the same naive value
        #    DuckDB reads). The NTZ→TZ cast is only wall-clock-exact
        #    because the session zone is UTC, which session.get_spark /
        #    tune_existing pin unconditionally — NOT here, so loading
        #    events never mutates session-wide semantics mid-stream.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    df = spark.read.parquet(path)
    # Parquet is self-describing; assert the columns we promise downstream.
    expected = [f.name for f in schemas.TABLES[name].fields]
    missing = [c for c in expected if c not in df.columns]
    if missing:
        raise ValueError(f"table {name!r} at {path} missing columns {missing}")
    return df


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table and guarantee the scan feeds every core.

    CPU-heavy per-row operators (hashing, shingling, Arrow UDFs) are
    bottlenecked by scan parallelism, and a small parquet file arrives
    as ONE task. Round-robin repartition to ``defaultParallelism`` fixes
    that; when the scan already has enough partitions — always true at
    100 TB, where maxPartitionBytes yields thousands of tasks — this is
    a no-op with no shuffle."""
    def build() -> DataFrame:
        df = load_table(spark, sf_dir, name)
        target = spark.sparkContext.defaultParallelism
        # df.rdd.getNumPartitions() compiles the plan to an RDD — a
        # ~40 ms driver cost (measured r18); memoized with the result.
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
        return df

    return session_memo(spark, (os.path.abspath(sf_dir), name, "parallel"), build)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register temp views so queries can also be expressed in spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
