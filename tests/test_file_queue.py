"""Partitioned-offset file queue (r11): producer atomicity, consumer
exactly-once across a mid-stream crash/restart with multiple source
partitions, offset resume on late appends, and per-partition ordering."""

from __future__ import annotations

import os
import re
import tempfile
import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from orders_currency_conversion_etl_spark.streaming.file_queue import (
    next_offset,
    queue_append,
    queue_offsets,
    queue_partition_dir,
    read_queue_stream,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("payload", T.StringType()),
        T.StructField("partition", T.IntegerType()),
    ]
)


def _segment_df(spark, partition_id: int, seq: int, n: int = 10):
    """n rows with globally unique ids: (partition, seq) baked in so the
    consumer-side assertions can attribute every row."""
    base = (partition_id * 1000 + seq) * 100
    return spark.range(base, base + n).select(
        F.col("id"),
        F.concat(F.lit(f"p{partition_id}s{seq}r"), F.col("id")).alias("payload"),
    )


def test_producer_offsets_and_atomic_publish(spark):
    with tempfile.TemporaryDirectory() as q:
        assert queue_offsets(q) == {}
        assert queue_append(_segment_df(spark, 0, 0), q, 0) == 0
        assert queue_append(_segment_df(spark, 0, 1), q, 0) == 1
        assert queue_append(_segment_df(spark, 1, 0), q, 1) == 0
        assert queue_offsets(q) == {0: 2, 1: 1}
        assert next_offset(q, 7) == 0  # empty partition
        # only fully renamed segments are visible — no temp dirs linger
        for d in os.listdir(q):
            files = os.listdir(os.path.join(q, d))
            assert all(re.fullmatch(r"seq=\d{8}\.parquet", f) for f in files), files


def test_queue_exactly_once_across_crash_restart(spark):
    """The VERDICT r10 'done' bar: exactly-once effect across a
    mid-stream crash with >= 2 source partitions. The stream checkpoint
    is the consumer-group offset store; an idempotent batch=N sink
    turns replay into exactly-once."""
    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")
        marker = os.path.join(work, "crashed_once")

        expected = []
        for part in range(3):  # 3 partitions, 3 segments each
            for seq in range(3):
                seg = _segment_df(spark, part, seq)
                queue_append(seg, q_dir, part)
                expected += [(r.id, r.payload, part) for r in seg.collect()]
        assert queue_offsets(q_dir) == {0: 3, 1: 3, 2: 3}

        def sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

        CRASH_BATCH = 2

        def crashing_sink(batch_df, batch_id):
            if batch_id == CRASH_BATCH and not os.path.exists(marker):
                with open(marker, "w") as fh:
                    fh.write("injected")
                raise RuntimeError("injected queue-consumer crash")
            sink(batch_df, batch_id)

        stream = read_queue_stream(spark, q_dir, SCHEMA)
        q1 = (
            stream.writeStream.outputMode("append")
            .foreachBatch(crashing_sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        deadline = time.time() + 180
        while q1.isActive and time.time() < deadline:
            time.sleep(0.3)
        assert not q1.isActive, "stream never hit the injected crash"
        assert "injected" in str(q1.exception())

        # restart from the same checkpoint: the failed offset replays
        # under the same batch_id, everything after follows, nothing
        # before repeats
        q2 = (
            read_queue_stream(spark, q_dir, SCHEMA)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()

        got = [
            (r.id, r.payload, r.partition)
            for r in spark.read.parquet(os.path.join(out, "batch=*")).collect()
        ]
        assert sorted(got) == sorted(expected)  # zero dup, zero missing
        assert len(set(got)) == len(expected)
        assert os.path.exists(marker)  # the crash really happened
        # one segment per micro-batch -> 9 batch dirs, ids 0..8
        batches = sorted(os.listdir(out))
        assert len(batches) == 9


def test_queue_resumes_from_committed_offsets(spark):
    """Late appends: a second run against the same checkpoint consumes
    ONLY segments published after the first drain (offset resume), and
    new partitions appearing mid-lifetime are picked up."""
    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")
        for part in (0, 1):
            queue_append(_segment_df(spark, part, 0), q_dir, part)

        def run():
            rows_before = set()
            if os.path.isdir(out):
                rows_before = {
                    r.id for r in spark.read.parquet(os.path.join(out, "batch=*")).collect()
                }
            q = (
                read_queue_stream(spark, q_dir, SCHEMA)
                .writeStream.outputMode("append")
                .foreachBatch(
                    lambda df, bid: df.write.mode("overwrite").parquet(
                        os.path.join(out, f"batch={bid}")
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            rows_after = {
                r.id for r in spark.read.parquet(os.path.join(out, "batch=*")).collect()
            }
            return rows_after - rows_before

        first = run()
        assert len(first) == 20  # 2 segments x 10 rows

        # publish more: a new offset on partition 0 AND a brand-new partition 2
        queue_append(_segment_df(spark, 0, 1), q_dir, 0)
        queue_append(_segment_df(spark, 2, 0), q_dir, 2)
        second = run()
        assert len(second) == 20  # only the new segments
        assert {r // 100 for r in second} == {1, 2000}  # p0s1 and p2s0 bases


def test_queue_partition_column_and_per_partition_order(spark):
    """The directory key surfaces as a real `partition` column, and
    within each partition offsets are consumed in seq order (the queue
    ordering contract; cross-partition order is unspecified)."""
    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        ckpt = os.path.join(work, "ckpt")
        for part in (0, 1):
            for seq in range(4):
                queue_append(_segment_df(spark, part, seq, n=3), q_dir, part)

        consumed: list[tuple[int, int, int]] = []  # (batch_id, partition, seq)

        def sink(batch_df, batch_id):
            rows = batch_df.select("partition", "file_path").distinct().collect()
            for r in rows:
                seq = int(re.search(r"seq=(\d+)\.parquet", r.file_path).group(1))
                consumed.append((batch_id, r.partition, seq))

        # _metadata must be projected on the file-source stream itself
        # (inside foreachBatch the frame is already detached from the scan)
        q = (
            read_queue_stream(spark, q_dir, SCHEMA)
            .select("*", F.col("_metadata.file_path").alias("file_path"))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        assert len(consumed) == 8
        assert {p for _, p, _ in consumed} == {0, 1}
        by_part: dict[int, list[int]] = {}
        for bid, part, seq in sorted(consumed):
            by_part.setdefault(part, []).append(seq)
        for part, seqs in by_part.items():
            assert seqs == sorted(seqs), f"partition {part} consumed out of order: {seqs}"
            assert seqs == [0, 1, 2, 3]


def test_flagship_conversion_through_queue(spark):
    """The queue source drives the reference's core pipeline: orders
    published as queue segments across 2 partitions, consumed through
    convert_stream (the same stream-static broadcast join the file
    staging uses), must produce exactly the batch flagship's rows."""
    from orders_currency_conversion_etl_spark.plans.registry import (
        CONVERSION_TIME,
        QUERIES,
        boundary_cast,
    )
    from orders_currency_conversion_etl_spark.sources import catalog
    from orders_currency_conversion_etl_spark.streaming.orders_stream import (
        convert_stream,
        dual_sink,
    )

    sf = "/root/testdata/sf0.001"
    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        out = os.path.join(work, "out")
        orders = catalog.load_table(spark, sf, "orders")
        # split the fact across 2 queue partitions, 2 segments each
        for part in (0, 1):
            half = orders.filter(F.col("o_orderkey") % 2 == part)
            for seq in (0, 1):
                quarter = (F.col("o_orderkey") % 4).cast("int")
                queue_append(half.filter((quarter - quarter % 2) / 2 == seq), q_dir, part)

        schema = spark.read.parquet(os.path.join(q_dir, "partition=0")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(q_dir, "partition=*"))
        )
        q = (
            convert_stream(stream, spark, CONVERSION_TIME)
            .writeStream.outputMode("append")
            .foreachBatch(dual_sink(out))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        streamed = boundary_cast(
            spark.read.parquet(os.path.join(out, "orders_eur", "batch=*"))
        )
        batch = QUERIES["flagship_conversion"](spark, sf)
        s = sorted(tuple(r) for r in streamed.collect())
        b = sorted(tuple(r) for r in batch.collect())
        assert len(s) == len(b) > 0
        assert s == b


def _scan_num_files(df) -> int:
    """Files the plan's scan references — pruning happens at relation
    construction now, so inputFiles IS the exact scanned set."""
    return len(df.inputFiles())


def test_queue_batch_backfill_prunes_files_at_plan_time(spark):
    """read_queue_batch must prune FILES, not rows: both the partition
    restriction and the offset floors select segments before the scan
    (asserted on the scan's numFiles metric — the r11 metadata-column
    filter read every segment and discarded rows post-scan)."""
    from orders_currency_conversion_etl_spark.streaming.file_queue import (
        read_queue_batch,
    )

    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        for part in range(3):
            for seq in range(3):
                queue_append(_segment_df(spark, part, seq, n=4), q_dir, part)

        # full replay: all 9 segments
        full = read_queue_batch(spark, q_dir, SCHEMA)
        assert full.count() == 36
        assert _scan_num_files(full) == 9

        # one-partition backfill: correct rows AND exactly 3 files read
        one = read_queue_batch(spark, q_dir, SCHEMA, partitions=[1])
        rows = one.collect()
        assert len(rows) == 12 and all(r.partition == 1 for r in rows)
        assert _scan_num_files(one) == 3

        # offset slice: partition 0 from seq 2, partition 1 from seq 1,
        # partition 2 absent -> replays from 0; 1 + 2 + 3 files
        sliced = read_queue_batch(
            spark, q_dir, SCHEMA, from_offsets={0: 2, 1: 1}
        )
        got = {(r.partition, r.id) for r in sliced.collect()}
        assert len([x for x in got if x[0] == 0]) == 4   # seq 2 only
        assert len([x for x in got if x[0] == 1]) == 8   # seqs 1,2
        assert len([x for x in got if x[0] == 2]) == 12  # all
        # ids confirm WHICH segments survived, not just how many
        assert {i for p, i in got if p == 0} == set(range(200, 204))
        assert _scan_num_files(sliced) == 6

        # compose both: partition 1 from offset 2 -> a single file
        both = read_queue_batch(spark, q_dir, SCHEMA, partitions=[1], from_offsets={1: 2})
        assert {r.id for r in both.collect()} == set(range(100200, 100204))
        assert _scan_num_files(both) == 1

        # empty selection: valid empty frame with the right schema
        none = read_queue_batch(spark, q_dir, SCHEMA, partitions=[9])
        assert none.count() == 0 and none.schema == SCHEMA


def test_queue_append_duplicate_offset_fails_loudly(spark, monkeypatch):
    """r12 ADVICE fix: two producers racing on one partition both read
    the same next_offset; the loser must error (EEXIST via the
    no-replace hard link), never silently overwrite the winner's
    committed segment."""
    import orders_currency_conversion_etl_spark.streaming.file_queue as fq

    with tempfile.TemporaryDirectory() as q:
        queue_append(_segment_df(spark, 0, 0), q, 0)
        seg = os.path.join(q, "partition=0", "seq=00000000.parquet")
        winner_ids = sorted(r.id for r in spark.read.parquet(seg).collect())

        # simulate the race: the loser computed the same offset
        monkeypatch.setattr(fq, "next_offset", lambda *a: 0)
        with pytest.raises(RuntimeError, match="single-producer"):
            fq.queue_append(_segment_df(spark, 0, 1), q, 0)

        # winner's segment intact; loser's temp dir cleaned up
        assert sorted(r.id for r in spark.read.parquet(seg).collect()) == winner_ids
        assert os.listdir(os.path.join(q, "partition=0")) == ["seq=00000000.parquet"]


def test_min_watermarks_across_consumer_groups():
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    assert fq.min_watermarks() == {}
    assert fq.min_watermarks({0: 3, 1: 2}) == {0: 3, 1: 2}
    # slower group pins the watermark; a partition missing from any
    # group's map pins that partition to 0
    assert fq.min_watermarks({0: 3, 1: 2}, {0: 1, 1: 5, 2: 4}) == {0: 1, 1: 2, 2: 0}


def test_queue_retention_after_committed_offsets(spark):
    """r12 (VERDICT r11 ask #3): checkpoint-high-watermark-driven GC.
    A consumer crashes mid-queue; checkpoint_committed_offsets reads
    its committed position; queue_retain deletes exactly the segments
    below it; the retained suffix replays IDENTICALLY via
    read_queue_batch(from_offsets=...), and the restarted consumer
    group still finishes the queue exactly-once."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        out = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")
        marker = os.path.join(work, "crashed_once")

        expected = []
        seg_rows = {}
        for part in (0, 1):
            for seq in range(3):
                seg = _segment_df(spark, part, seq)
                queue_append(seg, q_dir, part)
                rows = [(r.id, r.payload, part) for r in seg.collect()]
                seg_rows[(part, seq)] = rows
                expected += rows

        def crashing_sink(batch_df, batch_id):
            if batch_id == 3 and not os.path.exists(marker):
                with open(marker, "w") as fh:
                    fh.write("injected")
                raise RuntimeError("injected queue-consumer crash")
            batch_df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

        q1 = (
            read_queue_stream(spark, q_dir, SCHEMA)
            .writeStream.outputMode("append")
            .foreachBatch(crashing_sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        deadline = time.time() + 180
        while q1.isActive and time.time() < deadline:
            time.sleep(0.3)
        assert not q1.isActive, "stream never hit the injected crash"

        # committed position: 3 batches x 1 segment committed
        w = fq.checkpoint_committed_offsets(ckpt)
        assert sum(w.values()) == 3
        committed = sorted(
            (r.id, r.payload, r.partition)
            for r in spark.read.parquet(os.path.join(out, "batch=*")).collect()
        )
        below = sorted(
            row for (p, s), rows in seg_rows.items() if s < w.get(p, 0) for row in rows
        )
        assert committed == below  # the watermark names exactly the committed segments

        # replay-equivalence across GC
        before = sorted(
            (r.partition, r.id)
            for r in fq.read_queue_batch(spark, q_dir, SCHEMA, from_offsets=w).collect()
        )
        deleted = fq.queue_retain(q_dir, w)
        assert sorted((p, s) for p, seqs in deleted.items() for s in seqs) == sorted(
            (p, s) for p in w for s in range(w[p])
        )
        after = sorted(
            (r.partition, r.id)
            for r in fq.read_queue_batch(spark, q_dir, SCHEMA, from_offsets=w).collect()
        )
        assert after == before

        # idempotent retry: a second GC at the same watermark is a no-op
        assert fq.queue_retain(q_dir, w) == {}

        # the consumer group finishes the remaining segments exactly once
        q2 = (
            read_queue_stream(spark, q_dir, SCHEMA)
            .writeStream.outputMode("append")
            .foreachBatch(
                lambda df, bid: df.write.mode("overwrite").parquet(
                    os.path.join(out, f"batch={bid}")
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        got = [
            (r.id, r.payload, r.partition)
            for r in spark.read.parquet(os.path.join(out, "batch=*")).collect()
        ]
        assert sorted(got) == sorted(expected)
        assert len(set(got)) == len(expected)


def test_queue_publish_batch_idempotent_and_gapped(spark):
    """r12 (VERDICT r11 ask #4): batch-id-keyed segments — a replayed
    publish overwrites exactly its own segment; batches with no rows
    for a partition leave offset gaps consumers ignore."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as q:
        df = spark.range(0, 21).select(
            F.col("id"), (F.col("id") % 3).cast("int").alias("partition")
        )
        assert fq.queue_publish_batch(df, q, 0) == [0, 1, 2]
        # replayed micro-batch: same batch id -> same segments, no growth
        assert fq.queue_publish_batch(df, q, 0) == [0, 1, 2]
        assert queue_offsets(q) == {0: 1, 1: 1, 2: 1}

        # batch 1 only has rows for partition 1 -> gaps elsewhere
        df2 = spark.range(100, 104).select(
            F.col("id"), F.lit(1).cast("int").alias("partition")
        )
        assert fq.queue_publish_batch(df2, q, 1) == [1]
        assert queue_offsets(q) == {0: 1, 1: 2, 2: 1}

        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("partition", T.IntegerType())]
        )
        rows = [(r.id, r.partition) for r in fq.read_queue_batch(spark, q, schema).collect()]
        assert len(rows) == 25 and len(set(rows)) == 25  # 21 + 4, no dupes


def test_queue_to_queue_crash_restart_exactly_once(spark):
    """r12 (VERDICT r11 ask #4 done-bar): queue -> transform -> queue
    with a crash AFTER a successful publish but BEFORE the checkpoint
    commit — the replayed batch republishes under its original batch_id
    and overwrites itself, so the downstream queue holds exactly the
    input rows."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as work:
        in_q = os.path.join(work, "in")
        out_q = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")
        marker = os.path.join(work, "crashed_once")

        expected = []
        for part in (0, 1):
            for seq in (0, 1):
                seg = _segment_df(spark, part, seq)
                queue_append(seg, in_q, part)
                expected += [(r.id, r.payload, part) for r in seg.collect()]

        def crashing_publish(batch_df, batch_id):
            fq.queue_publish_batch(batch_df, out_q, batch_id)  # publish SUCCEEDS
            if batch_id == 1 and not os.path.exists(marker):
                with open(marker, "w") as fh:
                    fh.write("injected")
                raise RuntimeError("crash after publish, before commit")

        q1 = (
            read_queue_stream(spark, in_q, SCHEMA)
            .writeStream.outputMode("append")
            .foreachBatch(crashing_publish)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        deadline = time.time() + 180
        while q1.isActive and time.time() < deadline:
            time.sleep(0.3)
        assert not q1.isActive, "stream never hit the injected crash"
        assert os.path.exists(marker)

        q2 = fq.queue_publish_stream(
            read_queue_stream(spark, in_q, SCHEMA), out_q, ckpt
        )
        q2.awaitTermination()

        got = [
            (r.id, r.payload, r.partition)
            for r in fq.read_queue_batch(spark, out_q, SCHEMA).collect()
        ]
        assert sorted(got) == sorted(expected)  # batch 1 published twice, stored once
        assert len(set(got)) == len(expected)


def test_queue_drain_microbatch_plan_is_zero_shuffle_broadcast(spark):
    """r12: pin what VERDICT r11 read from code — every micro-batch of
    the queue drain compiles to the batch flagship's plan shape: a
    stream-static BroadcastHashJoin with ZERO shuffle exchanges (the
    broadcast exchange of the tiny rates side is the join's build
    mechanism, not a shuffle)."""
    from orders_currency_conversion_etl_spark.plans.registry import CONVERSION_TIME
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq
    from orders_currency_conversion_etl_spark.streaming.orders_stream import convert_stream

    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        fq._publish_orders_queue(spark, "/root/testdata/sf0.001", q_dir)
        schema = spark.read.parquet(os.path.join(q_dir, "partition=0")).schema
        plans = []

        import threading

        handle_ready = threading.Event()

        def sink(df, bid):
            # the foreachBatch df is a sink-boundary RDD scan; the join
            # lives in the STREAMING query's incremental plan — capture
            # it per micro-batch via explainInternal (wait for the
            # start() assignment: batch 0 can fire before it returns)
            df.count()
            assert handle_ready.wait(60)
            plans.append(query._jsq.explainInternal(True))

        query = (
            convert_stream(
                fq.read_queue_stream(spark, q_dir, schema, max_segments_per_trigger=2),
                spark,
                CONVERSION_TIME,
            )
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        handle_ready.set()
        query.awaitTermination()

        assert len(plans) >= 2  # 4 segments / maxFilesPerTrigger=2
        for plan in plans:
            assert "BroadcastHashJoin" in plan, plan[:1200]
            assert not re.search(
                r"Exchange (hash|range)partitioning", plan
            ), plan[:1200]


def test_queue_lag_and_one_call_gc(spark):
    """r12: queue_lag composes producer high-watermarks with a group's
    committed offsets; queue_gc is the one-call N-group retention —
    only segments EVERY group committed past are deleted."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as work:
        q_dir = os.path.join(work, "queue")
        out = os.path.join(work, "out")
        fast, slow = os.path.join(work, "ckpt_fast"), os.path.join(work, "ckpt_slow")
        for part in (0, 1):
            for seq in range(3):
                queue_append(_segment_df(spark, part, seq), q_dir, part)

        def run(ckpt, max_files):
            q = (
                read_queue_stream(spark, q_dir, SCHEMA)
                .writeStream.outputMode("append")
                .foreachBatch(lambda df, bid: df.count())
                .option("checkpointLocation", ckpt)
                .option("maxFilesPerTrigger", max_files)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run(fast, 6)  # fast group drains everything
        lag_fast = fq.queue_lag(q_dir, fast)
        assert lag_fast == {
            0: {"end": 3, "committed": 3, "lag": 0},
            1: {"end": 3, "committed": 3, "lag": 0},
        }

        # slow group: never started -> full lag, and GC over BOTH groups
        # must delete nothing (min watermark is 0 everywhere)
        lag_slow = fq.queue_lag(q_dir, slow)
        assert all(v["lag"] == v["end"] for v in lag_slow.values())
        assert fq.queue_gc(q_dir, fast, slow) == {}
        assert fq.queue_gc(q_dir) == {}  # no groups -> no deletion

        # once the slow group catches up, GC reclaims everything
        run(slow, 6)
        deleted = fq.queue_gc(q_dir, fast, slow)
        assert deleted == {0: [0, 1, 2], 1: [0, 1, 2]}
        # producer continuity: the persisted log-start floor keeps
        # next_offset monotonic even when GC emptied the partition
        # (without it a new append would reuse offset 0 and corrupt
        # offset arithmetic everywhere)
        assert queue_offsets(q_dir) == {0: 3, 1: 3}
        assert queue_append(_segment_df(spark, 0, 3), q_dir, 0) == 3
        assert fq.queue_lag(q_dir, fast) == {
            0: {"end": 4, "committed": 3, "lag": 1},
            1: {"end": 3, "committed": 3, "lag": 0},
        }
        # GC retry at the same watermarks: nothing left below them
        assert fq.queue_gc(q_dir, fast, slow) == {}


def test_queue_dedup_drain_state_spans_batches(spark, tmp_path):
    """r12: streaming dropDuplicates over the queue must drop a
    duplicate whose copies arrive in DIFFERENT micro-batches and
    different queue partitions — the cross-batch state-store path,
    forced with a constructed corpus (the sf0.01 fixture has no exact
    dups; sf0.1+ do)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from orders_currency_conversion_etl_spark.plans import registry

    # doc_ids chosen so copies of "dup-A" land in (partition 0, seq 0),
    # (partition 1, seq 0) and (partition 0, seq 1): 3 copies, and
    # "dup-B" twice within one partition across seqs
    texts = {
        0: "dup-A", 1: "dup-A", 2: "dup-A",       # parts 0,1,0 / seqs 0,0,1
        3: "dup-B", 5: "dup-B",                    # part 1 seq 0, part 1 seq 1... 
        4: "only-4", 6: "only-6", 7: "only-7",
    }
    table = pa.table(
        {
            "doc_id": pa.array(sorted(texts), type=pa.int64()),
            "text": [texts[k] for k in sorted(texts)],
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": pa.array([len(texts[k]) for k in sorted(texts)], type=pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))

    out = registry.QUERIES["queue_dedup_drain"](spark, str(tmp_path))
    hashes = [r.content_md5 for r in out.collect()]
    assert len(hashes) == len(set(hashes)) == 5  # A, B, three singletons

    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')"
        )
        oracle = {r[0] for r in con.execute(registry.ORACLES["queue_dedup_drain"]).fetchall()}
    finally:
        con.close()
    assert set(hashes) == oracle


def test_queue_publish_batch_rejects_null_partition(spark):
    """r13 ADVICE fix (medium): a null partition value used to land in
    partition=__HIVE_DEFAULT_PARTITION__, get skipped by the digit
    match, and vanish with the tmp dir — silent loss in the
    exactly-once publish path. It must raise instead."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as q:
        df = spark.createDataFrame(
            [(1, "a", 0), (2, "b", None)], "id long, payload string, partition int"
        )
        with pytest.raises(ValueError, match="non-integer"):
            fq.queue_publish_batch(df, q, batch_id=0)
        # nothing half-published, no leaked tmp dir
        assert queue_offsets(q) == {}
        assert [d for d in os.listdir(q) if d.startswith(".publish-tmp")] == []


def test_queue_compact_latest_per_key(spark):
    """r13 (VERDICT r12 ask #2): Kafka compacted-topic contract —
    latest record per key per partition survives (segment offset, then
    row position within the segment, breaks ties), offsets are
    preserved, fully superseded segments are deleted, and the
    producer's next offset is unchanged."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as q:
        mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
        # partition 0 / seq 0: within-segment duplicate of key a — the
        # LATER row (higher row_index) must win among seq-0 copies
        queue_append(mk([("a", 1), ("b", 1), ("a", 2)]), q, 0)
        # partition 0 / seq 1: b superseded cross-segment; c fresh
        queue_append(mk([("b", 2), ("c", 1)]), q, 0)
        # partition 1: seq 0 fully superseded by seq 1 -> file removed
        queue_append(mk([("d", 1)]), q, 1)
        queue_append(mk([("d", 2)]), q, 1)

        stats = fq.queue_compact(spark, q, ["k"])
        assert stats[0] == {"kept": 3, "dropped": 2, "removed_segments": 0}
        assert stats[1] == {"kept": 1, "dropped": 1, "removed_segments": 1}

        # offsets preserved: partition 0 keeps both files, partition 1
        # keeps only seq=1 and still hands out offset 2 next
        assert sorted(os.listdir(queue_partition_dir(q, 0)))[:2] == [
            "seq=00000000.parquet",
            "seq=00000001.parquet",
        ]
        assert [
            f
            for f in sorted(os.listdir(queue_partition_dir(q, 1)))
            if f.endswith(".parquet")
        ] == ["seq=00000001.parquet"]
        assert next_offset(q, 1) == 2

        schema = T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("v", T.LongType()),
                T.StructField("partition", T.IntegerType()),
            ]
        )
        got = {
            (r["partition"], r["k"]): r["v"]
            for r in fq.read_queue_batch(spark, q, schema).collect()
        }
        assert got == {(0, "a"): 2, (0, "b"): 2, (0, "c"): 1, (1, "d"): 2}
        # survivors stayed in their ORIGINAL segments: a in seq0, b/c in seq1
        seq0 = spark.read.parquet(
            os.path.join(queue_partition_dir(q, 0), "seq=00000000.parquet")
        )
        assert [tuple(r) for r in seq0.collect()] == [("a", 2)]

        # idempotent: a second compaction is a no-op on content
        stats2 = fq.queue_compact(spark, q, ["k"])
        assert all(s["dropped"] == 0 for s in stats2.values())
        got2 = {
            (r["partition"], r["k"]): r["v"]
            for r in fq.read_queue_batch(spark, q, schema).collect()
        }
        assert got2 == got


def test_queue_compact_respects_horizon(spark):
    """up_to excludes segments at/after the horizon from both the read
    and the rewrite — the active-segment exclusion knob."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as q:
        mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
        queue_append(mk([("a", 1)]), q, 0)
        queue_append(mk([("a", 2)]), q, 0)
        # horizon 1: only seq 0 is compactable; the seq-1 supersession
        # is invisible, so nothing changes
        stats = fq.queue_compact(spark, q, ["k"], up_to={0: 1})
        assert stats == {0: {"kept": 1, "dropped": 0, "removed_segments": 0}}
        schema = T.StructType(
            [
                T.StructField("k", T.StringType()),
                T.StructField("v", T.LongType()),
                T.StructField("partition", T.IntegerType()),
            ]
        )
        vs = sorted(
            r["v"] for r in fq.read_queue_batch(spark, q, schema).collect()
        )
        assert vs == [1, 2]

        with pytest.raises(ValueError, match="not in queue schema"):
            fq.queue_compact(spark, q, ["missing_col"])


def test_queue_gc_max_age_time_retention(spark):
    """r13 (VERDICT r12 ask #4): Kafka's delete policy — a segment
    older than max_age is garbage even when an abandoned group never
    committed past it, while an ACTIVE group's fresh unconsumed
    segments are never touched."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as q, tempfile.TemporaryDirectory() as ck:
        queue_append(_segment_df(spark, 0, 0), q, 0)
        queue_append(_segment_df(spark, 0, 1), q, 0)
        # abandoned consumer group: a checkpoint dir with no commits
        abandoned = os.path.join(ck, "never-ran")
        # age out seq=0 only
        old = time.time() - 7200
        seg0 = os.path.join(queue_partition_dir(q, 0), "seq=00000000.parquet")
        os.utime(seg0, (old, old))

        # fresh segments with no aged floor: nothing deleted
        assert fq.queue_gc(q, abandoned, max_age=86400) == {}
        # aged floor overrides the abandoned group's zero progress
        deleted = fq.queue_gc(q, abandoned, max_age=3600)
        assert deleted == {0: [0]}
        assert not os.path.exists(seg0)
        # the fresh seq=1 survives and offsets stay monotonic
        assert next_offset(q, 0) == 2
        # pure time-based GC needs no checkpoint dirs at all
        assert fq.queue_gc(q, max_age=3600) == {}


def test_queue_lag_report_zero_lag_partition(spark):
    """The helper's left-join path: a fully-caught-up partition reports
    rows_behind = 0, not a missing row."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq

    with tempfile.TemporaryDirectory() as work:
        q = os.path.join(work, "q")
        ck = os.path.join(work, "ck")
        sink = os.path.join(work, "sink")
        queue_append(_segment_df(spark, 0, 0, n=5), q, 0)
        queue_append(_segment_df(spark, 1, 0, n=7), q, 1)
        stream = read_queue_stream(spark, q, SCHEMA, max_segments_per_trigger=4)
        sq = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        sq.awaitTermination()
        # partition 1 gets one more unconsumed segment
        queue_append(_segment_df(spark, 1, 1, n=3), q, 1)
        report = fq.queue_lag_report(spark, q, ck, SCHEMA)
        rep = {
            r["partition"]: (r["end_offset"], r["committed_offset"], r["lag"], r["rows_behind"])
            for r in report.collect()
        }
        assert rep == {0: (1, 1, 0, 0), 1: (2, 1, 1, 3)}
        # the offset table is a LocalRelation, not a pickled Python RDD
        plan = report._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" not in plan, plan


def test_maintenance_paths_work_through_hadoop_fs_scheme(spark):
    """r14 (VERDICT r13 ask #4): retention / GC / offsets / lag /
    checkpoint parsing dispatch through streaming/fsio.py — a
    ``file://``-scheme path exercises the real Hadoop FileSystem
    branch against local disk, proving the maintenance tier is
    object-store-portable while the atomic-publish trio guards loudly
    on genuinely remote schemes."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq
    from orders_currency_conversion_etl_spark.streaming import fsio

    with tempfile.TemporaryDirectory() as q:
        for part, n_segs in {0: 3, 1: 2}.items():
            for seq in range(n_segs):
                queue_append(_segment_df(spark, part, seq), q, part)
        fscheme = "file://" + q

        # listings agree across branches
        assert queue_offsets(fscheme) == queue_offsets(q) == {0: 3, 1: 2}
        assert next_offset(fscheme, 0) == 3

        # retention through the FS branch: deletes + lowwater marker
        deleted = fq.queue_retain(fscheme, {0: 2})
        assert deleted == {0: [0, 1]}
        assert sorted(
            f for f in os.listdir(queue_partition_dir(q, 0))
            if f.startswith("seq=")
        ) == ["seq=00000002.parquet"]
        # the marker written via Hadoop FS is readable via both branches
        assert fq._low_watermark(queue_partition_dir(fscheme, 0)) == 2
        assert fq._low_watermark(queue_partition_dir(q, 0)) == 2
        assert next_offset(fscheme, 0) == 3

        # age-based GC through the FS branch (mtime via FileStatus)
        deleted2 = fq.queue_gc(fscheme, max_age=0.0)
        assert deleted2 == {0: [2], 1: [0, 1]}
        assert next_offset(q, 0) == 3 and next_offset(q, 1) == 2

    # checkpoint parsing through the FS branch: identical to os-level
    with tempfile.TemporaryDirectory() as ck:
        os.makedirs(os.path.join(ck, "commits"))
        open(os.path.join(ck, "commits", "0"), "w").write("{}")
        sdir = os.path.join(ck, "sources", "0")
        os.makedirs(sdir)
        with open(os.path.join(sdir, "0"), "w") as fh:
            fh.write("v1\n")
            fh.write(
                '{"path":"file:///q/partition=0/seq=00000001.parquet",'
                '"timestamp":1,"batchId":0}\n'
            )
        plain = fq.checkpoint_committed_offsets(ck)
        schemed = fq.checkpoint_committed_offsets("file://" + ck)
        assert plain == schemed == {0: 2}

    # the atomic-publish trio refuses remote schemes loudly
    with pytest.raises(NotImplementedError, match="atomic rename/link"):
        queue_append(_segment_df(spark, 0, 0), "s3a://bucket/q", 0)
    with pytest.raises(NotImplementedError, match="atomic rename/link"):
        fq.queue_compact(spark, "s3a://bucket/q", ["id"])
    with pytest.raises(NotImplementedError, match="atomic rename/link"):
        fq.queue_publish_batch(_segment_df(spark, 0, 0), "s3a://bucket/q", 1)

    # fsio primitives roundtrip on the FS branch
    with tempfile.TemporaryDirectory() as d:
        p = "file://" + os.path.join(d, "marker.txt")
        fsio.write_text_atomic(p, "42")
        assert fsio.read_text(p) == "42"
        assert fsio.read_text(os.path.join(d, "marker.txt")) == "42"
        assert abs(fsio.mtime(p) - time.time()) < 120
        fsio.delete(p)
        with pytest.raises(FileNotFoundError):
            fsio.read_text(p)


def test_queue_drain_session_amortizes_across_publishes(spark):
    """r14 (VERDICT r13 ask #5): one long-lived QueueDrainSession
    consumes successive publishes exactly-once — each wait_caught_up
    returns only when the consumer checkpoint has COMMITTED through
    the producer high-watermark, so the read-back after each round is
    complete and duplicate-free without restarting the stream."""
    import tempfile as _tf

    from orders_currency_conversion_etl_spark.streaming.drain import (
        QueueDrainSession,
    )

    with _tf.TemporaryDirectory() as q, _tf.TemporaryDirectory() as work:
        queue_append(_segment_df(spark, 0, 0), q, 0)
        with QueueDrainSession(spark, q, SCHEMA, work) as d:
            committed = d.wait_caught_up()
            assert committed.get(0, 0) >= 1
            assert d.result_df().count() == 10

            # two more publish rounds against the SAME running stream
            queue_append(_segment_df(spark, 0, 1), q, 0)
            queue_append(_segment_df(spark, 1, 0), q, 1)
            d.wait_caught_up()
            assert d.result_df().count() == 30

            queue_append(_segment_df(spark, 1, 1), q, 1)
            d.wait_caught_up()
            got = d.result_df()
            assert got.count() == 40
            # exactly-once: every (partition, seq, row) distinct
            assert got.select("id").distinct().count() == 40


def test_fsio_marker_write_is_rename_based_on_real_filesystems(spark):
    """ADVICE r15: on real filesystems (file://, hdfs://) the marker
    write must NOT truncate the destination in place — a concurrent
    _low_watermark reader of a fully-GC'd partition would parse the
    empty/partial file, fall back to floor 0, and hand out an
    already-used offset. The FS branch writes a dot-named temp sibling
    and renames it into place; temp residue would be a failed rename."""
    import tempfile as _tf

    from orders_currency_conversion_etl_spark.streaming import fsio

    with _tf.TemporaryDirectory() as d:
        p = "file://" + os.path.join(d, ".lowwater")
        fsio.write_text_atomic(p, "7")
        fsio.write_text_atomic(p, "8000")  # overwrite of a LIVE marker
        assert fsio.read_text(p) == "8000"
        # rename-based: no temp sibling survives (Hadoop's checksummed
        # LocalFileSystem adds a .crc sidecar for the FINAL name only —
        # a lingering *.tmp-* entry would mean a failed rename)
        assert [f for f in os.listdir(d) if ".tmp-" in f] == []
        assert ".lowwater" in os.listdir(d)
        # object-store schemes keep the single-PUT branch (their atomic
        # unit); the rename path must not be forced onto them
        assert fsio._scheme("s3a://b/k") in fsio._OBJECT_STORE_SCHEMES
        assert fsio._scheme("hdfs://nn/p") not in fsio._OBJECT_STORE_SCHEMES


def test_fsio_strip_file_scheme_rejects_malformed_authority():
    """ADVICE r15: file://host/p silently dropped the host (pointing
    the broker at a DIFFERENT machine's path) and file://x raised a
    bare IndexError. Both are now loud ValueErrors; the legal forms
    still strip exactly."""
    from orders_currency_conversion_etl_spark.streaming import fsio

    assert fsio.strip_file_scheme("file:///q/p") == "/q/p"
    assert fsio.strip_file_scheme("file://localhost/q/p") == "/q/p"
    assert fsio.strip_file_scheme("file:/q/p") == "/q/p"
    assert fsio.strip_file_scheme("/q/p") == "/q/p"
    with pytest.raises(ValueError, match="remote authority"):
        fsio.strip_file_scheme("file://otherhost/q/p")
    with pytest.raises(ValueError, match="no path"):
        fsio.strip_file_scheme("file://x")


def test_fsio_list_dir_tolerates_stray_regular_file():
    """ADVICE r15: maintenance helpers no-op when a stray regular file
    sits where a partition directory is expected (the pre-r14
    os.path.isdir guard semantics), instead of NotADirectoryError."""
    import tempfile as _tf

    from orders_currency_conversion_etl_spark.streaming import file_queue as fq
    from orders_currency_conversion_etl_spark.streaming import fsio

    with _tf.TemporaryDirectory() as d:
        stray = os.path.join(d, "partition=0")
        with open(stray, "w") as fh:
            fh.write("not a directory")
        assert fsio.list_dir(stray) == []
        assert fsio.list_dir(os.path.join(d, "absent")) == []
        # and the queue-level maintenance helpers stay no-op too
        assert fq.queue_offsets(d) == {0: 0}


def test_fsio_filecontext_overwrite_rename_path(spark):
    """The HDFS fallback inside write_text_atomic: plain
    FileSystem.rename refuses an existing destination there, and the
    code falls back to FileContext.rename(..., Rename.OVERWRITE).
    Local rename happens to succeed, so exercise the fallback DIRECTLY
    against an existing destination — it must atomically replace."""
    import tempfile as _tf

    from orders_currency_conversion_etl_spark.streaming import fsio

    with _tf.TemporaryDirectory() as d:
        dst = "file://" + os.path.join(d, "marker")
        src = "file://" + os.path.join(d, ".marker.tmp-x")
        fsio.write_text_atomic(dst, "old")
        fsio.write_text_atomic(src, "new")
        fs, jdst, jvm = fsio._fs(dst)
        _, jsrc, _ = fsio._fs(src)
        fsio._rename_overwrite(jvm, fs, jsrc, jdst)
        assert fsio.read_text(dst) == "new"
        assert not fs.exists(jsrc)


def test_fsio_strip_file_scheme_properties():
    """Property pins (hypothesis): scheme-less paths are identity;
    file:/p and file:///p strip to /p; any non-localhost authority is
    a loud ValueError, never a silent host drop or IndexError."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from orders_currency_conversion_etl_spark.streaming import fsio

    segment = st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127
        ),
        min_size=1,
        max_size=8,
    )

    @given(st.lists(segment, min_size=1, max_size=4))
    @settings(max_examples=50, deadline=None)
    def roundtrip(parts):
        p = "/" + "/".join(parts)
        assert fsio.strip_file_scheme(p) == p
        assert fsio.strip_file_scheme("file:" + p) == p
        assert fsio.strip_file_scheme("file://" + p) == p
        assert fsio.strip_file_scheme("file://localhost" + p) == p

    @given(segment, st.lists(segment, min_size=1, max_size=3))
    @settings(max_examples=50, deadline=None)
    def bad_authority(host, parts):
        if host == "localhost":
            return
        p = f"file://{host}/" + "/".join(parts)
        with pytest.raises(ValueError):
            fsio.strip_file_scheme(p)

    roundtrip()
    bad_authority()


def test_fsio_list_dir_stray_file_parity_on_fs_branch(spark):
    """r15 review fix: the Hadoop FS branch must answer [] for a stray
    regular file where a directory is expected — listStatus on a FILE
    returns the file's own status, which would surface the stray as
    its own child and break local/remote parity."""
    import tempfile as _tf

    from orders_currency_conversion_etl_spark.streaming import fsio

    with _tf.TemporaryDirectory() as d:
        stray = os.path.join(d, "partition=0")
        with open(stray, "w") as fh:
            fh.write("not a directory")
        assert fsio.list_dir("file://" + stray) == []
        assert fsio.list_dir(stray) == []  # local branch parity
        assert fsio.list_dir("file://" + os.path.join(d, "absent")) == []


def _full_log_offsets(ckpt: str) -> dict[int, int]:
    """Committed offsets from EVERY file of the source log, the reference
    the bounded read must equal."""
    import json

    hi = max(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())
    src = os.path.join(ckpt, "sources", "0")
    out: dict[int, int] = {}
    for f in os.listdir(src):
        base = f.removesuffix(".compact")
        if not base.isdigit() or int(base) > hi:
            continue
        with open(os.path.join(src, f)) as fh:
            entries = [json.loads(line) for line in fh if line.startswith("{")]
        for entry in entries:
            m = re.search(r"partition=(\d+)/seq=(\d+)\.parquet$", entry["path"])
            if entry["batchId"] <= hi:
                p, s = int(m.group(1)), int(m.group(2))
                out[p] = max(out.get(p, 0), s + 1)
    return out


def test_committed_offsets_read_from_newest_compaction(spark, monkeypatch):
    """checkpoint_committed_offsets starts at the newest N.compact at or
    below the last commit: the same offsets as a scan of the whole log,
    from at most compactInterval files."""
    from orders_currency_conversion_etl_spark.streaming import file_queue as fq
    from orders_currency_conversion_etl_spark.streaming import fsio

    key, interval = "spark.sql.streaming.fileSource.log.compactInterval", 3
    saved = spark.conf.get(key)
    spark.conf.set(key, str(interval))
    try:
        with tempfile.TemporaryDirectory() as work:
            q_dir, ckpt = os.path.join(work, "queue"), os.path.join(work, "ckpt")
            for part in (0, 1):
                for seq in range(4):
                    queue_append(_segment_df(spark, part, seq, n=2), q_dir, part)
            q = (
                read_queue_stream(spark, q_dir, SCHEMA)
                .writeStream.foreachBatch(lambda df, bid: None)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            log = os.listdir(os.path.join(ckpt, "sources", "0"))
            assert {"2.compact", "5.compact"} <= set(log), sorted(log)

            reads = []
            read_text = fsio.read_text
            monkeypatch.setattr(fsio, "read_text", lambda p: reads.append(p) or read_text(p))
            # batches 0..7 committed; then the last commit before (5) and
            # between (4) compactions, as a consumer that crashed there
            for last, expected_files in ((7, 3), (5, 1), (4, 3)):
                for f in os.listdir(os.path.join(ckpt, "commits")):
                    if f.isdigit() and int(f) > last:
                        os.remove(os.path.join(ckpt, "commits", f))
                reads.clear()
                got = fq.checkpoint_committed_offsets(ckpt)
                assert got == _full_log_offsets(ckpt)
                assert sum(got.values()) == last + 1
                assert len(reads) == expected_files <= interval
    finally:
        spark.conf.set(key, saved)
