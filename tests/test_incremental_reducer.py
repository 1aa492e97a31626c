"""The semi-join-reduced anti-join of ``incremental.unprocessed``.

When the source keyset fits the broadcast threshold and the sink's does
not, ``unprocessed`` scans the sink's keys against a broadcast of the
source keys and anti-joins the source against that (small) result
instead of shuffling the whole sink. These tests pin that it returns
the plain anti-join's rows in every edge case, which plan each size
regime gets, where the threshold flips the choice, and that the reduced
path shuffles nothing however large the sink is. The generator's
row-sized partitioning is pinned here too: it decides how many files
each ingest append writes.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from orders_currency_conversion_etl_spark.operators import generate
from orders_currency_conversion_etl_spark.operators.incremental import unprocessed
from perfbench.statusstore import StatusStore

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def _threshold(spark, value: int):
    saved = spark.conf.get(THRESHOLD)
    spark.conf.set(THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(THRESHOLD, saved)


def _estimate(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _frame(spark, keys: list, pad: int):
    """``(k, v)`` rows for ``keys``, ``v`` the key's position, over a
    range ``pad`` rows longer that a filter cuts back. Size-only
    statistics do not shrink through a filter, so the padding sets the
    frame's size estimate without adding rows."""
    lits = ", ".join("CAST(NULL AS STRING)" if k is None else f"'{k}'" for k in keys)
    # an empty frame still needs a key the optimizer cannot fold away
    key = f"element_at(array({lits}), CAST(id AS INT) + 1)" if keys else "CAST(id AS STRING)"
    return (
        spark.range(len(keys) + pad)
        .filter(F.col("id") < len(keys))
        .selectExpr(f"{key} AS k", "id AS v")
    )


def _sorted(rows) -> list:
    return sorted((tuple(r) for r in rows), key=lambda t: tuple((x is None, x) for x in t))


CASES = {
    "null_keys_both_sides": (["a", None, "b", "c"], ["b", None, "z"]),
    "duplicate_source_keys": (["a", "a", "b", "b", "c"], ["a", "x"]),
    "empty_sink": (["a", None, "b"], []),
    "empty_source": ([], ["a", "b"]),
    "keys_only_in_sink": (["a", "b"], ["x", "y", "z"]),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_reduced_anti_join_matches_plain_and_set_difference(spark, case):
    src_keys, sink_keys = CASES[case]
    source = _frame(spark, src_keys, pad=20)
    sink = _frame(spark, sink_keys, pad=200).select("k")
    plain = _sorted(source.join(sink, on="k", how="left_anti").collect())
    in_sink = {k for k in sink_keys if k is not None}
    expected = _sorted((k, i) for i, k in enumerate(src_keys) if k is None or k not in in_sink)
    # the threshold admits the source keyset and not the sink's
    with _threshold(spark, _estimate(source.select("k"))):
        out = unprocessed(source, sink, key="k")
        plan = _plan(out)
        got = _sorted(out.collect())
    assert "LeftSemi" in plan, plan
    assert got == plain == expected


def test_reduced_anti_join_honours_watermark_and_batch_limit(spark):
    source = _frame(spark, ["a", "b", "c", "d", None], pad=20)
    sink = _frame(spark, ["b"], pad=200).select("k")
    with _threshold(spark, _estimate(source.select("k"))):
        out = unprocessed(source, sink, key="k", watermark=F.col("v") >= 2)
        assert "LeftSemi" in _plan(out)
        assert _sorted(out.collect()) == [("c", 2), ("d", 3), (None, 4)]
        assert len(unprocessed(source, sink, key="k", batch_limit=2).collect()) == 2


def test_plan_regimes_and_threshold_flip(spark):
    """Sink fits: Catalyst's plan, untouched. Source fits: two broadcasts
    and no hash exchange. The flip happens exactly at the source estimate
    N: N takes the reduction, N-1 the plain join. (The threshold at -1 is
    test_plan_quality's shuffled-hash-join test.)"""
    source = spark.range(1_000).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    sink = spark.range(0, 100_000, 7).selectExpr("CAST(id AS STRING) AS k")
    n = _estimate(source.select("k"))
    assert n < _estimate(sink)

    with _threshold(spark, _estimate(sink)):
        plain = source.join(sink.select("k"), on="k", how="left_anti")
        same = unprocessed(source, sink, key="k")
        assert _optimized(same) == _optimized(plain)
        assert "BroadcastHashJoin" in _plan(same)

    with _threshold(spark, n):
        reduced = _plan(unprocessed(source, sink, key="k"))
    assert "Exchange hashpartitioning" not in reduced, reduced
    assert reduced.count("BroadcastExchange") == 2, reduced
    assert "LeftSemi" in reduced and "LeftAnti" in reduced

    with _threshold(spark, n - 1):
        plain_path = _plan(unprocessed(source, sink, key="k"))
    assert "LeftSemi" not in plain_path, plain_path
    assert "Exchange hashpartitioning" in plain_path, plain_path


def test_reduced_shuffle_does_not_grow_with_sink(spark):
    """One batch against a sink of K and of 4K keys, the source under the
    threshold and neither sink: the reduced join writes no shuffle bytes
    at either size, while the plain shuffled join's bytes grow."""
    source = spark.range(0, 40_000, 20).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    store = StatusStore(spark)
    expected = {1: 1_500, 4: 0}  # source keys below the sink's range end
    shuffled = {}
    try:
        for mult in (1, 4):
            sink = spark.range(0, 10_000 * mult).selectExpr("CAST(id AS STRING) AS k")
            for label, threshold in (("reduced", _estimate(source.select("k"))), ("plain", -1)):
                group = f"reducer-{label}-{mult}"
                with _threshold(spark, threshold):
                    out = unprocessed(source, sink, key="k")
                    # a noop write: count() would add its own exchange
                    store.set_group(group)
                    out.write.mode("overwrite").format("noop").save()
                    store.clear_group()
                    assert out.count() == expected[mult], (label, mult)
                shuffled[label, mult] = store.collect(group)["shuffle_write_bytes"]
    finally:
        store.clear_group()
    assert shuffled["reduced", 1] == shuffled["reduced", 4] == 0, shuffled
    assert 0 < shuffled["plain", 1] < shuffled["plain", 4], shuffled


def test_generator_partitions_follow_rows(spark):
    """A reference-size batch is one partition (one file per append); a
    large n keeps one partition per ROWS_PER_PARTITION rows, up to the
    default parallelism. Reading the partition count runs no job."""
    assert generate.generate_orders(spark, n=5000).rdd.getNumPartitions() == 1
    n = 2 * generate.ROWS_PER_PARTITION + 1
    cores = spark.sparkContext.defaultParallelism
    parts = generate.generate_orders(spark, n=n).rdd.getNumPartitions()
    assert parts == min(cores, 3)
    if cores > 1:
        assert parts > 1


def test_only_a_source_with_few_files_takes_the_reduction(spark, tmp_path):
    """The choice reads the optimizer's size estimate, which counts a
    file source's bytes on disk, not its rows. A watermark cuts rows,
    not files, so a source whose files exceed the threshold keeps the
    plain join however few rows the watermark leaves; a directory that
    holds only the new files takes the reduction. Both give the same
    rows."""
    old, new = str(tmp_path / "old"), str(tmp_path / "new")
    rows = spark.range(20_000).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    rows.filter("v < 15000").write.parquet(old)
    rows.filter("v >= 15000").write.parquet(new)
    everything = spark.read.parquet(old, new)
    recent = spark.read.parquet(new)
    sink = spark.range(0, 200_000, 3).selectExpr("CAST(id AS STRING) AS k")
    fits = _estimate(recent.select("k"))
    assert fits < _estimate(everything.select("k")) < _estimate(sink)

    with _threshold(spark, fits):
        watermarked = unprocessed(everything, sink, key="k", watermark=F.col("v") >= 15_000)
        assert "LeftSemi" not in _plan(watermarked)
        reduced = unprocessed(recent, sink, key="k")
        assert "LeftSemi" in _plan(reduced)
        want = sorted(str(i) for i in range(15_000, 20_000) if i % 3)
        assert sorted(r.k for r in watermarked.collect()) == want
        assert sorted(r.k for r in reduced.collect()) == want


def test_jdbc_source_never_takes_the_reduction(spark):
    """A JDBC relation reports no size, so its estimate is derived from
    Spark's default size (``Long.MaxValue``) and no threshold admits it:
    a JDBC source always gets the plain anti-join."""
    from orders_currency_conversion_etl_spark.sources.jdbc import jdbc_incremental_reader

    url = "jdbc:derby:memory:reducer_jdbc;create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        stmt.execute("CREATE TABLE orders (order_id VARCHAR(16), processed_at TIMESTAMP)")
        stmt.execute("INSERT INTO orders VALUES ('1', NULL), ('2', NULL), ('x', NULL)")
    finally:
        conn.close()
    source = jdbc_incremental_reader(
        spark,
        url=url,
        table="orders",
        columns=("order_id", "processed_at"),
        properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
    ).load()
    sink = spark.range(0, 100_000).selectExpr("CAST(id AS STRING) AS order_id")
    assert _estimate(source.select("order_id")) > 2**62
    with _threshold(spark, 2**62):
        out = unprocessed(source, sink)
        assert "LeftSemi" not in _plan(out)
        assert [r[0] for r in out.collect()] == ["x"]  # Derby upper-cases names
