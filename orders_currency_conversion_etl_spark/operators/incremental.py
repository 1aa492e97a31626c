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
