"""SparkSession factory.

Determinism and scale defaults applied once, here, so every entry point
(tests, bench, driver) runs with identical semantics:

- ``spark.sql.session.timeZone=UTC``: the reference stores naive
  TIMESTAMPs (reference: init/postgres-1/init.sql:4,7,8); pinning the
  session zone makes timestamp literals reproducible across hosts.
- AQE on: runtime coalescing of shuffle partitions and skew-join
  splitting. AQE splits a join partition only when it is above both
  ``skewedPartitionThresholdInBytes`` (256 MB, left at Spark's default)
  and 5x the median partition, so a hot key under 256 MB per partition
  keeps its straggler (operators/skew.py has the measurement).
- AQE picks the shuffled join from measured sizes:
  ``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold=64MB``.
  Once a join's shuffles have run, AQE replaces a planned sort-merge
  join with a shuffled hash join when every post-shuffle partition is
  at most 64 MB; larger partitions keep the sort-merge join, which can
  spill. Spark honours the setting only when it is at least
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (64 MB default),
  so 64 MB is its lowest working value. The join it is for is the
  incremental anti-join (operators/incremental.unprocessed) when both
  its keysets exceed the broadcast threshold; it would otherwise sort
  every sink key on every batch. A source keyset under the threshold
  takes the semi-join reduction instead and shuffles nothing. Before
  that reduction, on the perfbench ``etl_cycles`` workload (800k-row
  sink, ``local[2]`` on a 4-CPU VM, 3 traced runs each, rates table
  already JVM-local) the sink append
  took a median 1.88 s a cycle with this setting against 2.92 s
  without, and executor CPU fell from 4.05 to 3.31 s. The setting is
  session-wide, so other small shuffled joins switch too; the
  ``query_mix`` workload (tpch_q18, pagerank_parts, the flagship)
  used the same CPU (median 4.43 vs 4.42 s over 10 paired runs).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on
  a real cluster this is overridden by AQE's coalescing anyway.
- Arrow enabled: every Pandas-UDF boundary (similarity/multimodal ops)
  moves columnar batches, never pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: AQE turns a planned sort-merge join into a shuffled hash join when
#: every post-shuffle partition is at most this size (module doc).
SHUFFLED_HASH_JOIN_MAX_PARTITION = "64MB"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "orders-currency-conversion-etl-spark") -> SparkSession:
    cpus = default_parallelism()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", SHUFFLED_HASH_JOIN_MAX_PARTITION)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Align Spark's whole-stage-codegen fallback with HotSpot's real
        # JIT ceiling: the JVM never JIT-compiles methods over 8 KB of
        # bytecode (-XX:-DontCompileHugeMethods default), so a fused
        # stage whose generated method lands between 8 KB and Spark's
        # 65535-byte default limit runs INTERPRETED — the worst of both
        # worlds. Measured on the 16-level Hilbert fold (17 fused
        # projections): 4.8 s default vs 1.9 s with the fallback at
        # sf0.1 (2.5x), with every small-method stage unaffected
        # (headline bench flat).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Local-rig scan sizing: test parquet is one file per table, so
        # the default 128 MB split gives a 100 MB sf1 lineitem scan ONE
        # task on a 32-core box. 16 MB matters twice: it SPLITS large
        # single files and it stops small files from being PACKED into
        # too few tasks (maxPartitionBytes also caps multi-file
        # coalescing). Round-4 A/B on the sf0.1 headline set, identical
        # machine state, pagerank excluded (it was independently
        # perturbed during the runs): 16m 15.4 s, 32m 15.6 s, 128m
        # 21.5 s — 128 MB under-parallelizes at every local SF, so the
        # r3 bench regression was ambient load, not this knob. A real
        # cluster (thousands of 128 MB-ish files at 100 TB) should
        # override back via this env var.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable determinism/perf conf to a session we did
    not create (the driver passes its own SparkSession to ``entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:
        pass  # static conf on some builds; harmless
    # AQE's runtime shuffled-hash-join selection (see module doc).
    spark.conf.set(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", SHUFFLED_HASH_JOIN_MAX_PARTITION
    )
    try:
        # JIT-ceiling alignment (see get_spark): runtime-settable.
        spark.conf.set("spark.sql.codegen.hugeMethodLimit", "8000")
    except Exception:
        pass
    return spark
