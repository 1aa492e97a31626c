"""Incremental / idempotent processing primitives.

The reference guarantees each order is converted once via
``SELECT ... FOR UPDATE`` row locks, a ``processed_at`` write-back
UPDATE, and ordered commits (reference:
dags/order_currency_conversion_dag.py:87-95,142-157). None of that
exists in Spark's execution model — the idiomatic redesign (SURVEY
§7.4) recomputes "unprocessed" declaratively:

    unprocessed = source LEFT ANTI JOIN sink ON order_id

Re-runs see already-written ids and produce nothing: idempotency
without any UPDATE to the source. In streaming mode the same contract
comes from checkpointed offsets (streaming/events_stream.py).

The anti-join's cost follows whichever side fits Spark's broadcast
threshold (``spark.sql.autoBroadcastJoinThreshold``, tested against the
optimizer's size estimate of each keyset, as Catalyst's ``JoinSelection``
does). There are three regimes:

- The sink keyset fits. Catalyst broadcasts it and the source streams
  through a hash probe; nothing shuffles.
- The source keyset fits and the sink's does not. A left anti-join can
  only build its hash table on its right side, the sink, so Catalyst
  would shuffle the whole sink keyset every batch. A semi-join
  reduction does what the planner cannot: the sink is scanned once, for
  its key column only, and probed against a broadcast hash set of the
  source keys (``seen``, at most as many keys as the source); the
  source is then anti-joined against a broadcast of ``seen``. Both
  joins are broadcast hash joins, so nothing is hash-partitioned and the
  cost is one sink key scan plus O(batch) memory.
- Both keysets are large. Catalyst plans a sort-merge join; once the
  shuffles have run, AQE re-plans it as a shuffled hash join
  (``LeftAnti, BuildRight``) whenever every post-shuffle partition is at
  most ``spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold``
  (64 MB, session.py), so the sink's keys are hashed, never sorted. A
  sink partition above the threshold keeps the sort-merge plan, which
  can spill. The threshold at ``-1`` (broadcast off) always lands here.

Only a source that is small *on disk* takes the reduction: the size
estimate of a file source counts its files' bytes, not its rows. That is
a source bounded in storage, such as a directory holding only the new
ingest files or a staging table emptied after each batch (a commit log
of the converted files would give the pipeline one). A row filter,
``watermark`` included, does not shrink the estimate. The reference
pipeline never marks its source, so its source only grows: a parquet
source fed 30,000 orders a cycle (the reference's hourly rate) over
perfbench's layout fits for 21 cycles and flips back to the plain join
on the 22nd. A JDBC source reports no size, so its estimate comes from
Spark's default (``Long.MaxValue``) and it never takes the reduction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` is within the
    session's broadcast threshold: ``JoinSelection``'s own test. Reads
    plan statistics only; runs no job."""
    jsession = df.sparkSession._jsparkSession
    threshold = jsession.sessionState().conf().autoBroadcastJoinThreshold()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= threshold


def unprocessed(
    source: DataFrame,
    sink: DataFrame,
    key: str = "order_id",
    batch_limit: int | None = None,
    watermark: Column | None = None,
) -> DataFrame:
    """Rows of ``source`` whose key is absent from ``sink`` (op J3).

    A NULL key never matches, so a NULL-keyed source row is kept. When
    the source keyset fits the broadcast threshold and the sink's does
    not, the join is semi-join reduced (module doc)."""
    sink_keys = sink.select(key)
    if watermark is not None:
        source = source.filter(watermark)
    src_keys = source.select(key)
    if not _fits_broadcast(sink_keys) and _fits_broadcast(src_keys):
        seen = sink_keys.join(F.broadcast(src_keys), on=key, how="left_semi")
        out = source.join(F.broadcast(seen), on=key, how="left_anti")
    else:
        out = source.join(sink_keys, on=key, how="left_anti")
    if batch_limit is not None:
        out = out.limit(batch_limit)
    return out


#: Below this many sink keys the bitmap buys nothing: Catalyst would
#: broadcast the keyset itself (10 MB default threshold ~ 10^5-10^6
#: keys) and a broadcast anti-join already moves zero fact rows. The
#: default sits an order of magnitude above that boundary so "auto"
#: never taxes a small join with the extra scan + Arrow stage that
#: BLOOM_AB_r15.json measured as a single-node wall-clock LOSS.
BLOOM_MIN_SINK_KEYS = 10_000_000


def unprocessed_at_scale(
    source: DataFrame,
    sink: DataFrame,
    key: str = "order_id",
    batch_limit: int | None = None,
    watermark: Column | None = None,
    bloom: str = "auto",
    bloom_fpp: float = 0.01,
    sink_n_keys: int | None = None,
) -> DataFrame:
    """:func:`unprocessed` in its 100 TB form: the sink keyset is
    fact-sized, so broadcasting it (what AQE/Catalyst picks at fixture
    scale, flagged in PLANCHECK_BROADCASTS.json) would ship the whole
    processed-id set to every executor. The SHUFFLE_HASH hint forces a
    shuffled hash anti-join instead: both sides partition on the key,
    each task builds a hash set over only its sink slice — no
    broadcast, no sort. The hint is binding: AQE keeps the shuffled
    hash join even when a sink partition exceeds
    ``maxShuffledHashJoinLocalMapThreshold`` and never falls back to
    sort-merge. On a skewed key it splits only the streamed source
    side (``ShuffledHashJoin(skew=true)``); a left anti-join cannot
    split its build side, so every sink partition must fit in task
    memory. Size ``spark.sql.shuffle.partitions`` for that, or use
    :func:`unprocessed`, where AQE chooses the join from the measured
    partition sizes.

    Steady-state zero-shuffle layout: write BOTH source and sink
    bucketed by ``key`` into the warehouse (``.write.bucketBy(n, key)
    .sortBy(key).saveAsTable(...)``) — then every incremental batch
    anti-joins bucket-to-bucket with no exchange at all; this function
    is the drop-in for plain-parquet pipelines where bucketing isn't
    owned by this job.

    ``bloom`` adds Bloom-bypass routing in FRONT of the anti-join
    (operators/bloom.py:anti_join_with_bloom_bypass): source rows whose
    key fails the membership test are definitely unprocessed and skip
    the exchange entirely; only the "might be processed" fraction
    (matches + ~``bloom_fpp`` of non-matches) shuffles into the exact
    anti-join. Exactness-preserving by the no-false-negative guarantee
    (pinned in tests/test_bloom.py). Modes:

    - ``"off"`` — the plain shuffled-hash anti-join.
    - ``"on"`` — always route through the bitmap (the 100 TB plan
      form; what the registered `incremental_unprocessed_at_scale`
      pins so the sweep/driver exercise it every round).
    - ``"auto"`` — route only when the sink keyset is big enough that
      the bitmap can matter: ``sink_n_keys`` (counted if not given —
      pass it from a catalog stat to avoid the extra scan) must exceed
      ``BLOOM_MIN_SINK_KEYS``. Below that, Catalyst's own broadcast
      anti-join is already shuffle-free for the fact side and the
      bypass's extra scan is pure overhead (the measured single-node
      loss in BLOOM_AB_r15.json's protocol note).

    Snapshot semantics (bloom on/auto, ADVICE r16): the bitmap is
    built EAGERLY at DataFrame-construction time and freezes the sink
    keyset as of this call, while the exact anti-join branch re-reads
    the sink at each action. A key appended to the sink BETWEEN
    constructing and executing the returned frame fails the stale
    membership probe and routes to the definitely-new bypass,
    re-emitting an already-processed row — a divergence the plain
    ``bloom='off'`` form does not have. Construct-then-execute within
    one batch (the incremental pattern this operator exists for), or
    rebuild the frame after any sink mutation — the same determinism
    precondition documented on ``anti_join_with_bloom_bypass``.
    """
    if bloom not in ("off", "auto", "on"):
        raise ValueError(f"bloom must be off|auto|on, got {bloom!r}")
    sink_keys = sink.select(key)
    if watermark is not None:
        source = source.filter(watermark)

    counted = None  # set only when counted IN-FUNCTION (trustworthy)

    def _count_sink_keys() -> int:
        return sink_keys.where(F.col(key).isNotNull()).distinct().count()

    use_bloom = bloom == "on"
    if bloom == "auto":
        if sink_n_keys is None:
            sink_n_keys = counted = _count_sink_keys()
        use_bloom = sink_n_keys > BLOOM_MIN_SINK_KEYS

    if use_bloom:
        from .bloom import anti_join_with_bloom_bypass, bloom_params, build_bloom

        # The empty-sink shortcut (skip the join entirely) is taken
        # ONLY on an in-function count: a stale catalog stat of 0 with
        # a non-empty sink would silently re-emit processed rows — a
        # correctness flip, unlike a wrong-but-positive stat, which
        # merely degrades the fp rate (r16 review). Caller-supplied
        # zero/None therefore triggers a recount.
        if counted is None:
            counted = (
                sink_n_keys
                if sink_n_keys is not None and sink_n_keys > 0
                else _count_sink_keys()
            )
        if counted > 0:
            num_bits, k = bloom_params(counted, bloom_fpp)
            bitmap = build_bloom(sink_keys, key, num_bits, k)
            out = anti_join_with_bloom_bypass(
                source, sink_keys, key, bitmap, num_bits, k,
                join_hint="shuffle_hash",
            )
        else:
            out = source  # verified-empty sink: nothing is processed
    else:
        out = source.join(
            sink_keys.hint("shuffle_hash"), on=key, how="left_anti"
        )
    if batch_limit is not None:
        out = out.limit(batch_limit)
    return out


def mark_processed(source: DataFrame, processed_keys: DataFrame, key: str, ts_col: Column) -> DataFrame:
    """Functional stand-in for the reference's write-back UPDATE
    (reference: dags/order_currency_conversion_dag.py:143-150): returns
    ``source`` with ``processed_at`` stamped for the given keys.

    Spark DataFrames are immutable — callers overwrite/merge the result
    into a transactional table format; in plain-parquet pipelines prefer
    :func:`unprocessed` and never mutate the source at all.
    """
    marked = processed_keys.select(key).withColumn("__hit", F.lit(True))
    return (
        source.join(F.broadcast(marked), on=key, how="left")
        .withColumn(
            "processed_at",
            F.when(F.col("__hit") & F.col("processed_at").isNull(), ts_col).otherwise(
                F.col("processed_at")
            ),
        )
        .drop("__hit")
    )
