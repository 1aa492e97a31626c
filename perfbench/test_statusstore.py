"""Tests of the status-store collector against jobs with known shapes.

Run from the repository root:  python -m pytest perfbench/test_statusstore.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from statusstore import StatusStore, summarize  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    # local[2,2]: two cores, and a failed task is retried once.
    session = (
        SparkSession.builder.master("local[2,2]")
        .appName("perfbench-statusstore-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def _traced(store: StatusStore, group: str, fn):
    store.set_group(group)
    try:
        fn()
    finally:
        store.clear_group()
    return store.collect(group)


def test_known_groupby_job(spark):
    from pyspark.sql import functions as F

    store = StatusStore(spark)
    df = spark.range(10_000, numPartitions=4).groupBy((F.col("id") % 7).alias("k")).count()
    got = _traced(store, "known", df.collect)
    # map stage: 4 range partitions; reduce stage: 3 shuffle partitions
    assert got["jobs"] == 1
    assert got["stages"] == 2
    assert got["tasks"] == 4 + 3
    assert got["task_retries"] == 0
    assert got["skipped_stages"] == 0
    assert got["shuffle_write_bytes"] > 0
    assert got["shuffle_read_bytes"] == got["shuffle_write_bytes"]


def test_skipped_stage_not_counted(spark):
    store = StatusStore(spark)
    rdd = spark.sparkContext.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(
        lambda a, b: a + b
    )
    first = _traced(store, "skip-1", rdd.collect)
    second = _traced(store, "skip-2", rdd.collect)
    assert (first["stages"], first["tasks"], first["skipped_stages"]) == (2, 8, 0)
    # the map stage's shuffle output is reused: only the result stage runs
    assert (second["stages"], second["tasks"], second["skipped_stages"]) == (1, 4, 1)
    assert second["shuffle_write_bytes"] == 0
    # a window that was already collected adds nothing
    assert store.collect("skip-1", "skip-2")["stages"] == 0


def test_retried_task_counted_once(spark):
    # Nested, so the workers receive it by value rather than by import.
    def _fail_first_attempt(it):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("injected task failure")
        return it

    store = StatusStore(spark)
    rdd = spark.sparkContext.parallelize(range(100), 4).mapPartitions(_fail_first_attempt)
    got = _traced(store, "retry", rdd.count)
    assert got["stages"] == 1
    assert got["tasks"] == 4 + 1
    assert got["task_retries"] == 1


def _attempt(stage, attempt, status, done, failed=0):
    a = {"stageId": stage, "attemptId": attempt, "status": status}
    a.update(numCompleteTasks=done, numFailedTasks=failed, numKilledTasks=0)
    a.update(executorRunTime=10, executorCpuTime=5, jvmGcTime=1, inputBytes=0, outputBytes=0)
    a.update(shuffleReadBytes=0, shuffleWriteBytes=100, diskBytesSpilled=0)
    return a


def test_retried_stage_attempt_counts_one_stage():
    # stage 7 lost an executor's output: attempt 0 failed after 2 tasks,
    # attempt 1 re-ran 2 tasks. Stage 8 was skipped.
    attempts = [
        _attempt(7, 0, "FAILED", 2, failed=1),
        _attempt(7, 1, "COMPLETE", 2),
        _attempt(8, 0, "SKIPPED", 0),
    ]
    counted: set = set()
    got = summarize(attempts, jobs=1, counted=counted)
    assert got["stages"] == 1
    assert got["skipped_stages"] == 1
    assert got["tasks"] == 5
    assert got["task_retries"] == 1 + 2
    assert got["shuffle_write_bytes"] == 200
    # the same attempts listed again by a later job are not re-counted
    again = summarize(attempts, jobs=1, counted=counted)
    assert (again["stages"], again["tasks"], again["shuffle_write_bytes"]) == (0, 0, 0)
