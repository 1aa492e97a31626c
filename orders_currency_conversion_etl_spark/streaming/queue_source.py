"""The file queue as a REAL Spark data source (late r13): PySpark 4's
Python DataSource API (`pyspark.sql.datasource`) lets the queue expose
Kafka-shaped offset semantics to the engine directly, instead of
approximating them with the file stream source's file log.

What this buys over `read_queue_stream` (streaming/file_queue.py):

- **Engine-visible offsets.** `initialOffset`/`latestOffset`/
  `partitions(start, end)` speak ``{queue_partition: next_seq}`` — the
  offset log in the checkpoint stores the queue's OWN coordinates, so
  ``startingOffsets`` (earliest / explicit JSON, the Kafka option) and
  exact replay ranges come from the engine, not from re-deriving them
  out of a file-source log after the fact.
- **Throttled micro-batches** via ``maxSegmentsPerTrigger`` — the
  `maxOffsetsPerTrigger` analogue, applied at offset-planning time.
- **Consumer-group progress as a side effect of `commit`** — the
  engine calls ``commit(end)`` when a micro-batch is durably complete;
  with a ``group`` option the source writes the committed offsets to
  ``<queue>/_consumers/<group>.json`` (atomic tmp+replace), which is
  exactly the watermark `queue_retain` needs — no checkpoint parsing.

Execution shape (100 TB posture): offset planning is ONE directory
listing per trigger (the same metadata fetch a Kafka consumer pays);
each InputPartition is one committed segment, read executor-side as
pyarrow RECORD BATCHES (the vectorized fast path through the Python
data source — no Python row loop anywhere); driver state is the tiny
``{partition: next_seq}`` map. Schema is read from ONE segment footer
at plan time (O(footer), never a data scan) and every segment must
match it — the queue contract. Like the broker-side maintenance in
file_queue.py, listing/commit here are os-level: the source runs
against a local/POSIX broker volume (module docstring there states the
object-store boundary; reads themselves are pyarrow over local paths).

Reference parity: none — the reference's "stream" is an hourly cron
re-run (reference: dags/order_currency_conversion_dag.py:14); this is
EXT surface. ``queue_source_roundtrip`` checks the writer and reader
end to end against an exact oracle.
"""

from __future__ import annotations

import json
import os
import re
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from ..plans.registry import query
from ..sources import catalog

_SEG_RE = re.compile(r"^seq=(\d+)\.parquet$")
_PART_RE = re.compile(r"^partition=(\d+)$")

FORMAT_NAME = "orders_queue"


def _list_segments(queue_dir: str) -> "dict[int, list[tuple[int, str]]]":
    """One listing pass -> {partition: [(seq, abs_path), ...] sorted}.
    Only committed (fully hard-linked) segments are visible — the
    producer's temp files live outside the partition dirs."""
    out: dict[int, list[tuple[int, str]]] = {}
    if not os.path.isdir(queue_dir):
        return out
    for d in os.listdir(queue_dir):
        m = _PART_RE.match(d)
        if not m:
            continue
        part = int(m.group(1))
        segs = []
        pdir = os.path.join(queue_dir, d)
        for f in os.listdir(pdir):
            sm = _SEG_RE.match(f)
            if sm:
                segs.append((int(sm.group(1)), os.path.join(pdir, f)))
        out[part] = sorted(segs)
    return out


def _end_offsets(segs: "dict[int, list[tuple[int, str]]]") -> "dict[str, int]":
    """Kafka's end offset: one past the highest committed seq."""
    return {str(p): (s[-1][0] + 1 if s else 0) for p, s in segs.items()}


class _SegmentPartition(InputPartition):
    def __init__(self, path: str, queue_partition: int):
        self.path = path
        self.queue_partition = queue_partition


def _read_segment_batches(path: str, queue_partition: int) -> Iterator:
    """Vectorized segment read: parquet -> arrow record batches with
    the `partition` column appended (the directory key surfaced as
    data, matching the file-source read path's output)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    part_col = pa.array([queue_partition] * table.num_rows, pa.int32())
    table = table.append_column("partition", part_col)
    yield from table.to_batches()


class QueueBatchReader(DataSourceReader):
    def __init__(self, options):
        self._dir = options["path"]
        self._start = json.loads(options.get("startingoffsets", "{}") or "{}")
        end = options.get("endingoffsets")
        self._end = json.loads(end) if end else None

    def partitions(self):
        segs = _list_segments(self._dir)
        parts = []
        for p, seg_list in segs.items():
            lo = int(self._start.get(str(p), 0))
            hi = int(self._end.get(str(p), 1 << 62)) if self._end else (1 << 62)
            parts.append(
                [
                    _SegmentPartition(path, p)
                    for seq, path in seg_list
                    if lo <= seq < hi
                ]
            )
        flat = [x for sub in parts for x in sub]
        # zero-partition plans are rejected by the engine; an empty
        # slice still needs one no-op partition
        return flat or [_SegmentPartition("", -1)]

    def read(self, partition):
        if partition.queue_partition < 0:
            return
        yield from _read_segment_batches(
            partition.path, partition.queue_partition
        )


class QueueStreamReader(DataSourceStreamReader):
    """Offsets are ``{str(partition): next_seq}``. A partition that
    appears mid-stream enters the map at its first `latestOffset`
    sighting and replays from 0 — a new Kafka partition's semantics."""

    def __init__(self, options):
        self._dir = options["path"]
        start = options.get("startingoffsets", "earliest")
        self._start_opt = start
        self._max_segs = int(options.get("maxsegmentspertrigger", 0)) or None
        self._group = options.get("group")
        if self._max_segs and not self._group:
            # Without a consumer group there is no durable restart-safe
            # throttle base, so the FIRST planned batch after every
            # (re)start is UNCAPPED (correctness over throttling — see
            # latestOffset). That must be an explicit choice, not a
            # surprise when a restart ingests the whole backlog at once.
            import warnings

            warnings.warn(
                "orders_queue: maxSegmentsPerTrigger is set without a "
                "'group' option — the first micro-batch after any "
                "restart is uncapped (no durable throttle base). Set "
                ".option('group', <name>) to keep the cap across "
                "restarts.",
                stacklevel=2,
            )
        self._prev_end: "dict[str, int] | None" = None

    def initialOffset(self):
        if self._start_opt == "latest":
            # Kafka's default: a fresh query begins at the current end
            # and sees only segments committed after it started
            first = _end_offsets(_list_segments(self._dir))
        elif self._start_opt and self._start_opt != "earliest":
            first = json.loads(self._start_opt)
        else:
            first = {str(p): 0 for p in _list_segments(self._dir)}
        self._prev_end = dict(first)
        return first

    def latestOffset(self):
        latest = _end_offsets(_list_segments(self._dir))
        if self._prev_end is None:
            # The engine's FIRST call in a run is latestOffset, before
            # initialOffset (MicroBatchExecution lists available
            # offsets before resolving the batch start) — and after a
            # RESTART initialOffset is never called at all, so at this
            # point the engine's committed offset is unknown. Capping
            # against a base derived from startingOffsets here was the
            # r13 duplicate bug (ADVICE r14): on restart the capped end
            # could regress BELOW the checkpointed end, the engine
            # records the regressed offset, and the ratcheting batches
            # re-read still-on-disk segments the sink already has. The
            # only durable restart-safe base is the consumer group's
            # committed marker (written by `commit`, trails the true
            # committed end by at most one throttled batch, so
            # base + max_segs >= committed end — never a regression);
            # without a group the first planned batch of a run is
            # UNCAPPED (correctness over throttling), and throttling
            # resumes from the second trigger once partitions(start,
            # end) / this return have seeded the base from real
            # engine-visible offsets.
            seeded = self._restart_throttle_base()
            if seeded is None:
                for p, o in self._carry_base().items():
                    latest[p] = max(latest.get(p, 0), o)
                self._prev_end = dict(latest)
                return latest
            self._prev_end = seeded
        # carry forward partitions the listing no longer shows
        # (fully GC'd dirs) so offsets stay monotonic
        for p, o in self._prev_end.items():
            latest[p] = max(latest.get(p, 0), o)
        if self._max_segs:
            for p in latest:
                floor = self._prev_end.get(p, 0)
                latest[p] = min(latest[p], floor + self._max_segs)
        self._prev_end = dict(latest)
        return latest

    def _carry_base(self) -> "dict[str, int]":
        """startingOffsets as a carry-forward floor (GC'd partitions
        stay monotonic even on the uncapped first call)."""
        if self._start_opt and self._start_opt not in ("earliest", "latest"):
            return {str(k): int(v) for k, v in json.loads(self._start_opt).items()}
        return {}

    def _restart_throttle_base(self) -> "dict[str, int] | None":
        """Durable throttle base for the first latestOffset of a run,
        or None when no restart-safe base exists (then the first batch
        is uncapped). The group marker is elementwise-maxed with any
        explicit startingOffsets so a marker older than the requested
        start can't widen the first batch below it."""
        if not self._group:
            return None
        try:
            progress = read_group_progress(self._dir, self._group)
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        base = {str(p): int(o) for p, o in progress.items()}
        for p, o in self._carry_base().items():
            base[p] = max(base.get(p, 0), o)
        if self._start_opt == "latest":
            # a FRESH 'latest' query starts at the current end; a
            # stale group marker below it must not cap the end under
            # the initial offset (that would later re-plan segments
            # 'latest' asked to skip) — floor the base at the listing
            # end, which is also >= any restart's committed end
            for p, o in _end_offsets(_list_segments(self._dir)).items():
                base[p] = max(base.get(p, 0), o)
        return base

    def partitions(self, start, end):
        # replay source of truth is the engine's offset log; keep the
        # throttle base in sync with it across restarts
        self._prev_end = dict(end)
        segs = _list_segments(self._dir)
        out = []
        for p_str, hi in end.items():
            lo = int(start.get(p_str, 0))
            for seq, path in segs.get(int(p_str), []):
                if lo <= seq < int(hi):
                    out.append(_SegmentPartition(path, int(p_str)))
        return out or [_SegmentPartition("", -1)]

    def read(self, partition):
        if partition.queue_partition < 0:
            return
        yield from _read_segment_batches(
            partition.path, partition.queue_partition
        )

    def commit(self, end):
        # Engine contract (pinned in tests): commit(end) for batch N
        # fires when the engine constructs batch N+1 — so on an IDLE
        # queue the group's durable progress trails the sink by one
        # batch until new data arrives. That is Kafka's own consumer
        # semantics (commits ride the poll loop); retention driven by
        # this marker is therefore conservative, never premature.
        if not self._group:
            return
        cdir = os.path.join(self._dir, "_consumers")
        os.makedirs(cdir, exist_ok=True)
        merged = {str(k): int(v) for k, v in end.items()}
        # the marker is documented MONOTONIC progress (retention and
        # lag reads key on it) — elementwise-max with the existing
        # file so no code path can move the watermark backwards
        try:
            with open(os.path.join(cdir, f"{self._group}.json")) as f:
                for k, v in json.load(f).items():
                    merged[str(k)] = max(merged.get(str(k), 0), int(v))
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        tmp = os.path.join(cdir, f".{self._group}.tmp")
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, os.path.join(cdir, f"{self._group}.json"))


def read_group_progress(queue_dir: str, group: str) -> "dict[int, int]":
    """The committed offsets `commit` persisted for a consumer group —
    the `queue_retain` watermark input, no checkpoint parsing."""
    path = os.path.join(queue_dir, "_consumers", f"{group}.json")
    with open(path) as f:
        return {int(k): int(v) for k, v in json.load(f).items()}


class QueueDataSource(DataSource):
    """`spark.read.format("orders_queue").option("path", dir)` — see
    the module docstring. Schema = first segment's footer schema plus
    the appended int `partition` column; pass a `schema` to `.load()`
    only if the queue may be empty at plan time."""

    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql import types as T

        import pyarrow.parquet as pq

        segs = _list_segments(self.options["path"])
        first = next((s[0][1] for s in segs.values() if s), None)
        if first is None:
            raise ValueError(
                f"queue {self.options['path']!r} has no committed segments; "
                "pass an explicit schema to read an empty queue"
            )
        base = from_arrow_schema(pq.read_schema(first))
        return T.StructType(
            base.fields + [T.StructField("partition", T.IntegerType())]
        )

    def reader(self, schema):
        return QueueBatchReader(self.options)

    def streamReader(self, schema):
        return QueueStreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError(
                "orders_queue is an append-only log; overwrite would "
                "rewrite committed offsets — use mode('append')"
            )
        return QueueBatchWriter(self.options, schema)

    def streamWriter(self, schema, overwrite):
        return QueueStreamWriter(self.options, schema)


def register_queue_source(spark) -> None:
    """Idempotent registration of the `orders_queue` format."""
    spark.dataSource.register(QueueDataSource)


# --------------------------------------------------------------------------
# The WRITE half (late r13): `df.write.format("orders_queue")` and
# `writeStream.format("orders_queue")`. Executors stage parquet temp
# files per queue partition (`_staging/`); the DRIVER's commit assigns
# sequential offsets and hard-links segments into place — offset
# assignment is serialized through the single commit call, so the
# single-producer-per-partition contract holds even though the data
# was written by many tasks in parallel. The streaming writer is
# exactly-once under micro-batch REPLAY via a two-phase commit: an
# INTENT file (planned {partition: offsets}) written before any link,
# and a MARKER file written after all links — a replayed commit reuses
# the intent's assignment (tolerating already-linked segments as its
# own) or no-ops on the marker. Input contract: the DataFrame carries
# an int `partition` column (the reader's appended column — write(read(q))
# roundtrips); it is stripped from the stored segments.
# --------------------------------------------------------------------------


class _QueueWriteMessage(WriterCommitMessage):
    """Picklable commit message:
    [(queue_partition, tmp_path, n_rows, content_fingerprint)]."""

    def __init__(self, files):
        self.files = files


def _fingerprint_table(table) -> str:
    """Order-insensitive content identity of a staged payload table —
    the key the exactly-once sink uses to pair a REPLAY's freshly
    staged temps with the crashed attempt's planned offsets (r14, per
    ADVICE: positional pairing over random uuid temp names assigned
    content to offsets differently across attempts). Row hashes are
    vectorized (`pandas.util.hash_pandas_object`, fixed siphash key —
    process-stable), sorted so task-internal row order doesn't matter,
    then digested; duplicate rows still shift the digest (multiset
    semantics). Columns are canonicalized by name. Types pandas can't
    hash natively (nested lists/maps) fall back to their string form —
    deterministic for equal values, which is all pairing needs."""
    import hashlib

    import numpy as np
    import pandas as pd

    df = table.select(sorted(table.column_names)).to_pandas()
    try:
        row_hashes = pd.util.hash_pandas_object(df, index=False)
    except TypeError:
        row_hashes = pd.util.hash_pandas_object(df.astype(str), index=False)
    arr = np.sort(row_hashes.to_numpy(dtype="uint64"))
    return hashlib.md5(arr.tobytes()).hexdigest()[:16]


def _fingerprint_file(path: str) -> str:
    """Fingerprint of an already-linked segment (FileExistsError
    verification path only — replays are rare, so the extra read is
    off the hot path)."""
    import pyarrow.parquet as pq

    return _fingerprint_table(pq.read_table(path))


def _stage_rows(queue_dir: str, schema, iterator):
    """Row-iterator staging: split this task's rows by `partition` and
    stage one temp parquet per queue partition. The ENGINE writers use
    the vectorized :func:`_stage_arrow` instead; this form takes
    `Row`s + an explicit schema for direct/manual publishes and the
    replay-simulation tests (the commit logic is staging-agnostic —
    both produce identical messages)."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql import types as T

    payload_fields = [f for f in schema.fields if f.name != "partition"]
    if len(payload_fields) == len(schema.fields):
        raise ValueError(
            "orders_queue writer needs an int `partition` column "
            "(the queue partition key; the reader appends the same column)"
        )
    arrow_schema = to_arrow_schema(T.StructType(payload_fields))
    names = [f.name for f in payload_fields]
    by_part: dict = {}
    for row in iterator:
        d = row.asDict()
        p = d.get("partition")
        if p is None:
            raise ValueError("null `partition` value in orders_queue write")
        by_part.setdefault(int(p), []).append({k: d[k] for k in names})
    staging = os.path.join(queue_dir, "_staging")
    os.makedirs(staging, exist_ok=True)
    files = []
    for p, rows in sorted(by_part.items()):
        tmp = os.path.join(staging, f"{_uuid.uuid4().hex}-p{p}.parquet")
        tbl = pa.Table.from_pylist(rows, schema=arrow_schema)
        pq.write_table(tbl, tmp)
        files.append((p, tmp, len(rows), _fingerprint_table(tbl)))
    return _QueueWriteMessage(files)


def _collect_staged(messages) -> "dict[int, list[tuple[str, str]]]":
    """{queue_partition: [(fingerprint, tmp_path), ...]} sorted by
    (fingerprint, path) — fingerprint-first so the order is the SAME
    across attempts that stage the same content under different random
    temp names (the exactly-once pairing key; path only tie-breaks
    duplicate-content temps, which are interchangeable)."""
    by_part: dict[int, list[tuple[str, str]]] = {}
    for m in messages:
        if m is None:
            continue
        for p, tmp, _n, fp in m.files:
            by_part.setdefault(p, []).append((fp, tmp))
    return {p: sorted(ts) for p, ts in by_part.items()}


def _cleanup_staged(messages) -> None:
    for m in messages or []:
        if m is None:
            continue
        for _p, tmp, _n, _fp in m.files:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass


def _stage_arrow(queue_dir: str, iterator):
    """Executor side, VECTORIZED (DataSourceArrowWriter): the engine
    hands Arrow record batches; splitting by `partition` and writing
    the temp parquets is all arrow-compute — no Python row loop on
    the write path, matching the read path's posture."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    batches = list(iterator)
    if not batches:
        return _QueueWriteMessage([])
    table = pa.Table.from_batches(batches)
    if "partition" not in table.column_names:
        raise ValueError(
            "orders_queue writer needs an int `partition` column "
            "(the queue partition key; the reader appends the same column)"
        )
    part_col = table.column("partition")
    if part_col.null_count:
        raise ValueError("null `partition` value in orders_queue write")
    staging = os.path.join(queue_dir, "_staging")
    os.makedirs(staging, exist_ok=True)
    files = []
    for p_scalar in pc.unique(part_col).sort():
        p = int(p_scalar.as_py())
        sub = table.filter(pc.equal(part_col, p_scalar)).drop_columns(["partition"])
        tmp = os.path.join(staging, f"{_uuid.uuid4().hex}-p{p}.parquet")
        pq.write_table(sub, tmp)
        files.append((p, tmp, sub.num_rows, _fingerprint_table(sub)))
    return _QueueWriteMessage(files)


class QueueBatchWriter(DataSourceArrowWriter):
    """Batch `df.write.format("orders_queue").option("path", dir)`.
    Append-only (the queue contract — `mode("overwrite")` is rejected
    at `writer()`); one segment per (task, queue partition)."""

    def __init__(self, options, schema):
        self._dir = options["path"]
        self._schema = schema

    def write(self, iterator):
        return _stage_arrow(self._dir, iterator)

    def commit(self, messages):
        from .file_queue import next_offset, queue_partition_dir

        for p, pairs in sorted(_collect_staged(messages).items()):
            pdir = queue_partition_dir(self._dir, p)
            os.makedirs(pdir, exist_ok=True)
            off = next_offset(self._dir, p)
            for _fp, tmp in pairs:
                os.link(tmp, os.path.join(pdir, f"seq={off:08d}.parquet"))
                off += 1
        _cleanup_staged(messages)

    def abort(self, messages):
        _cleanup_staged(messages)


class QueueStreamWriter(DataSourceStreamArrowWriter):
    """Streaming `writeStream.format("orders_queue")` — exactly-once
    under micro-batch replay (two-phase: intent -> links -> marker; see
    the section comment). ``publishId`` (option, default "default")
    namespaces the marker/intent files so several independent sink
    queries can feed one queue."""

    def __init__(self, options, schema):
        self._dir = options["path"]
        self._schema = schema
        self._publish_id = options.get("publishid", "default")

    def write(self, iterator):
        return _stage_arrow(self._dir, iterator)

    def _meta(self, kind: str, batch_id: int) -> str:
        d = os.path.join(self._dir, "_publishes")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{self._publish_id}={batch_id}.{kind}")

    def commit(self, messages, batchId):
        # Two-phase commit, CONTENT-DETERMINISTIC (r14, per ADVICE):
        # the intent records (offset, fingerprint) per planned segment,
        # not bare offsets — temp names are random uuid4 per attempt,
        # so a replay's fresh temps are paired with the crashed
        # attempt's offsets by row-content fingerprint, never by
        # position among random paths. A replay whose task layout
        # groups the rows DIFFERENTLY (fingerprint multiset mismatch):
        # if no planned segment was linked yet the stale intent is
        # discarded and the batch re-planned from the live staging
        # (safe — nothing is visible to readers); if any link exists
        # it fails loudly, because linked segments are already
        # reader-visible and cannot be rewritten.
        from .file_queue import next_offset, queue_partition_dir

        marker = self._meta("done", batchId)
        if os.path.exists(marker):  # replayed, fully published batch
            _cleanup_staged(messages)
            return
        intent_path = self._meta("intent", batchId)
        staged = _collect_staged(messages)  # {p: [(fp, tmp)] fp-sorted}
        plan = None  # {p: [(off, fp)] fp-sorted}
        if os.path.exists(intent_path):
            with open(intent_path) as f:
                raw = json.load(f)
            plan = {
                int(k): sorted(((int(o), fp) for o, fp in v),
                               key=lambda t: (t[1], t[0]))
                for k, v in raw.items()
            }
            same_shape = set(plan) == set(staged) and all(
                [fp for _o, fp in plan[p]] == [fp for fp, _t in staged[p]]
                for p in plan
            )
            if not same_shape:
                linked = [
                    (p, off)
                    for p, entries in plan.items()
                    for off, _fp in entries
                    if os.path.exists(
                        os.path.join(
                            queue_partition_dir(self._dir, p),
                            f"seq={off:08d}.parquet",
                        )
                    )
                ]
                if linked:
                    raise RuntimeError(
                        f"orders_queue batch {batchId}: replay staged a "
                        f"different content grouping than the crashed "
                        f"attempt's intent and segments {linked} are "
                        f"already published (reader-visible, cannot be "
                        f"rewritten) — inspect {intent_path!r} against "
                        f"the partition dirs to resolve"
                    )
                os.remove(intent_path)  # nothing linked: re-plan fresh
                plan = None
        if plan is None:
            plan = {}
            for p, pairs in sorted(staged.items()):
                base = next_offset(self._dir, p)
                plan[p] = [(base + i, fp) for i, (fp, _t) in enumerate(pairs)]
            tmp_intent = intent_path + ".tmp"
            with open(tmp_intent, "w") as f:
                json.dump({str(k): v for k, v in plan.items()}, f)
            os.replace(tmp_intent, intent_path)
        for p, pairs in sorted(staged.items()):
            pdir = queue_partition_dir(self._dir, p)
            os.makedirs(pdir, exist_ok=True)
            # both sides fingerprint-sorted: zip pairs equal content
            # (duplicate-content temps are interchangeable)
            for (fp, tmp), (off, _pfp) in zip(pairs, plan[p]):
                dest = os.path.join(pdir, f"seq={off:08d}.parquet")
                try:
                    os.link(tmp, dest)
                except FileExistsError:
                    # linked by this batch's earlier attempt — verify
                    # it really is OUR content before treating the
                    # link as done (a foreign writer racing this
                    # offset must fail loudly, not be adopted)
                    if _fingerprint_file(dest) != fp:
                        raise RuntimeError(
                            f"orders_queue batch {batchId}: existing "
                            f"segment {dest!r} does not match the "
                            f"intent fingerprint {fp} — offset "
                            f"collision with another writer"
                        ) from None
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as f:
            f.write("published\n")
        os.replace(tmp_marker, marker)
        try:
            os.remove(intent_path)
        except FileNotFoundError:
            pass
        _cleanup_staged(messages)

    def abort(self, messages, batchId):
        _cleanup_staged(messages)


def queue_gc_groups(queue_dir: str, *groups: str) -> "dict[int, list[int]]":
    """Retention keyed on the data-source commit markers: delete every
    segment that EVERY named consumer group's engine-committed progress
    (``_consumers/<group>.json``, written by
    :meth:`QueueStreamReader.commit`) has passed — the
    ``file_queue.queue_gc`` twin for orders_queue consumers, with no
    checkpoint parsing. A group whose marker does not exist yet pins
    the whole queue (progress {} -> elementwise-min watermark 0), the
    conservative default for a consumer that registered but has not
    committed a batch."""
    from .file_queue import min_watermarks, queue_retain

    maps = []
    for g in groups:
        try:
            maps.append(read_group_progress(queue_dir, g))
        except FileNotFoundError:
            maps.append({})
    return queue_retain(queue_dir, min_watermarks(*maps))


def prune_publish_markers(
    queue_dir: str, publish_id: str = "default", keep_last: int = 100
) -> "list[str]":
    """Bound the exactly-once sink's metadata growth: the two-phase
    commit leaves one ``<publish_id>=<batchId>.done`` marker per
    micro-batch forever. Replay protection only ever needs markers the
    engine can still replay — Spark retains on the order of 100
    checkpoint entries (``minBatchesToRetain``) — so everything below
    the newest ``keep_last`` batch ids is dead metadata (Kafka bounds
    its producer-id snapshots the same way). Returns the deleted
    marker filenames. Orphaned ``.intent`` files BELOW the pruned
    horizon are removed too (an intent at or above it may belong to an
    in-flight commit and is never touched)."""
    d = os.path.join(queue_dir, "_publishes")
    if not os.path.isdir(d):
        return []
    done_re = re.compile(re.escape(publish_id) + r"=(\d+)\.done$")
    intent_re = re.compile(re.escape(publish_id) + r"=(\d+)\.intent$")
    done = sorted(
        (int(m.group(1)), f)
        for f in os.listdir(d)
        if (m := done_re.fullmatch(f))
    )
    if len(done) <= keep_last:
        horizon = done[0][0] if done else 0
    else:
        horizon = done[-keep_last][0]
    deleted = []
    for f in os.listdir(d):
        m = done_re.fullmatch(f) or intent_re.fullmatch(f)
        if m and int(m.group(1)) < horizon:
            os.remove(os.path.join(d, f))
            deleted.append(f)
    return sorted(deleted)


_QUEUE_SOURCE_ORACLE = """
SELECT CAST(o_orderkey % 2 AS INT) AS partition,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS total_price
FROM orders
GROUP BY 1
"""


@query("queue_source_roundtrip", _QUEUE_SOURCE_ORACLE)
def queue_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders written INTO a queue through the native
    ``df.write.format("orders_queue")`` writer (driver-commit offset
    assignment) and read back through the native reader (engine-
    visible offsets, arrow record batches), then aggregated per queue
    partition — the whole Python DataSource surface under one exact
    oracle. Eager staging in a scratch dir (the flagship_queue_drain
    pattern); at scale the identical plan runs against a persistent
    broker volume."""
    from .file_queue import _scratch_dir

    register_queue_source(spark)
    q = _scratch_dir("queue_source_rt_")
    orders = catalog.load_table(spark, sf_dir, "orders")
    (
        orders.withColumn(
            "partition", (F.col("o_orderkey") % 2).cast("int")
        )
        .repartition(4)
        .write.format("orders_queue")
        .mode("append")
        .option("path", q)
        .save()
    )
    back = spark.read.format("orders_queue").option("path", q).load()
    return back.groupBy("partition").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("total_price"),
    )
