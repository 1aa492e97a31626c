"""The benchmark workloads and the tracer that measures their layers.

Each workload is a closed loop with one client: it runs one unit of work
(a pass over its queries, an ETL cycle, or a publish-and-drain round),
waits for it to finish, and starts the next. The tracer wraps every call
the loop makes into the package; on traced units it also runs each call
under its own Spark job group and reads that group's work counters from
the status store.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

from statusstore import StatusStore

#: Plan-class headline queries: their time goes to scheduling, shuffles
#: and planning; the DataFrame is built lazily and the noop write runs
#: all of it. Two of the 19 in bench.py: the flagship conversion join
#: and a multi-join aggregate.
PLAN_MIX = (
    "flagship_conversion",
    "tpch_q18_large_volume_customers",
)

#: Eager-class headline queries: Spark runs jobs while the DataFrame is
#: built (persist, count, localCheckpoint), or the plan runs Python
#: workers. perfbench/classify.py measures the split. One of bench.py's
#: four: the costliest, whose eager state build is ROADMAP item 5.
EAGER_MIX = ("pagerank_parts",)

#: The tables those queries read.
QUERY_TABLES = ("orders", "lineitem", "customer")

#: Noop passes after the warm-up pass that fetches the results. The JIT
#: compiler keeps working for many passes (1-4 CPU seconds a pass), but
#: the program's own CPU seconds a pass, which the benchmark reports,
#: level off after the cold pass and one more; the cheapest of the
#: measured passes after these is taken.
WARMUP_PASSES = 1

#: Status-store counters summed into ``spark.<name>`` per unit of work.
SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_retries",
    "exec_run_ms",
    "exec_cpu_ms",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)

#: Orders per generated batch and ingest appends per ETL cycle, and the
#: conversion batch size: the reference generates 5,000 orders every
#: 10 minutes and converts up to 30,000 per hourly run.
BATCH_ORDERS = 5_000
APPENDS_PER_CYCLE = 6
CONVERT_LIMIT = 30_000


def descendants(pid: int) -> list[int]:
    """Every process below ``pid``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str) -> int:
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0  # a worker or thread that exited since it was listed
    return int(fields[11]) + int(fields[12])


def _jit_ticks(jvm: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (run.py keeps them
    alive for the JVM's lifetime)."""
    ticks = 0
    for task in glob.glob(f"/proc/{jvm}/task/*"):
        try:
            with open(f"{task}/comm") as f:
                if "Compiler" not in f.read():
                    continue
        except OSError:
            continue
        ticks += _ticks(f"{task}/stat")
    return ticks


def cpu_seconds(spark) -> tuple[float, float]:
    """User + system CPU seconds used so far by this process, the JVM
    behind ``spark`` and the JVM's Python workers, as (program, jit):
    the JVM's JIT compiler threads are counted apart, as how much they
    compile in a given pass depends on timing, not on the program."""
    jvm = spark.sparkContext._gateway.proc.pid
    ticks = sum(_ticks(f"/proc/{pid}/stat") for pid in [os.getpid(), jvm] + descendants(jvm))
    jit = _jit_ticks(jvm)
    return (ticks - jit) / _TICK, jit / _TICK


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"p": None, "value": None, "n": n}
    p = 1.0 - 10.0 / n
    return {"p": round(100 * p, 1), "value": sorted(xs)[int(p * n) - 1], "n": n}


class Tracer:
    """Times calls into the package; on traced units, also their Spark work."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.on = False
        self.units: list[dict] = []
        self._cur: dict = {}
        self._n = 0
        self.store = StatusStore(spark) if enabled else None
        if enabled:
            self._wrap_catalog()

    def _wrap_catalog(self) -> None:
        from orders_currency_conversion_etl_spark.sources import catalog

        load, uncached = catalog.load_table, catalog._load_table_uncached

        def load_table(*args, **kwargs):
            if not self.on:
                return load(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return load(*args, **kwargs)
            finally:
                self.add("catalog.load_s", time.perf_counter() - t0)
                self.add("catalog.load_calls", 1)

        def load_table_uncached(*args, **kwargs):
            if self.on:
                self.add("catalog.load_misses", 1)
            return uncached(*args, **kwargs)

        catalog.load_table = load_table
        catalog._load_table_uncached = load_table_uncached

    def add(self, key: str, value: float) -> None:
        self._cur[key] = self._cur.get(key, 0) + value

    @contextlib.contextmanager
    def unit(self, traced: bool):
        """One unit of work; traced units keep their layer totals."""
        self._cur = defaultdict(float)
        self.on = traced and self.enabled
        try:
            yield self._cur
        finally:
            if self.on:
                self.units.append(self._cur)
            self.on = False

    @contextlib.contextmanager
    def span(self, name: str, *groups: str):
        """Time one call into a layer. On a traced unit the call runs in
        its own job group, its Spark counters are stored in the yielded
        record and added to the unit's ``spark.*`` totals. ``groups``
        names other job groups whose new jobs belong to this call."""
        rec: dict = {}
        group = None
        if self.on:
            self._n += 1
            group = f"perfbench-{self._n}"
            self.store.set_group(group)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if group is not None:
                self.store.clear_group()
                rec.update(self.store.collect(group, *groups))
                rec["exec_cpu_ms"] = rec.pop("exec_cpu_ns") / 1e6
                self.add(name + "_s", rec["s"])
                for k in SPARK_COUNTERS:
                    self.add("spark." + k, rec[k])

    def layer(self, key: str) -> float:
        return median([u.get(key, 0.0) for u in self.units])


class Workload:
    """One closed-loop workload. Subclasses define the unit of work."""

    name = ""

    def __init__(self, ctx, spark):
        self.ctx = ctx
        self.spark = spark
        self.tr: Tracer | None = None  # set once the final session is up
        self.rng = random.Random(ctx.seed)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.untraced: list[float] = []  # seconds per untraced unit
        self.traced: list[float] = []
        self.untraced_cpu: list[float] = []  # CPU seconds per untraced unit
        self.untraced_jit: list[float] = []  # of which JIT compiling, apart

    def fail(self, what: str, count: int = 1) -> None:
        self.failed += count
        self.problems.append(what)
        print(f"perfbench: {self.name}: {what}", file=sys.stderr)

    def build_state(self) -> None:
        """Build the state every run starts from, on a fresh session."""

    def warmup(self) -> None:
        """Run every code path once before measuring."""
        raise NotImplementedError

    def run_unit(self, traced: bool) -> None:
        raise NotImplementedError

    def measure(self, seconds: float, min_units: int) -> None:
        """Run units until ``seconds`` have passed and each kind has at
        least ``min_units`` samples. With tracing, units alternate
        between untraced and traced, starting and (at the minimum)
        ending untraced, so a drift over the run biases neither kind."""
        t_end = time.perf_counter() + seconds
        i = 0
        while True:
            traced = self.tr.enabled and i % 2 == 1
            (c0, j0), t0 = cpu_seconds(self.spark), time.perf_counter()
            self.run_unit(traced)
            (self.traced if traced else self.untraced).append(time.perf_counter() - t0)
            if not traced:
                c1, j1 = cpu_seconds(self.spark)
                self.untraced_cpu.append(c1 - c0)
                self.untraced_jit.append(j1 - j0)
            i += 1
            enough = len(self.untraced) >= min_units and (
                not self.tr.enabled
                or (len(self.traced) >= min_units and len(self.untraced) >= 2)
            )
            if enough and time.perf_counter() >= t_end:
                return

    def check(self) -> None:
        """Verify the outputs (outside every timed region)."""

    def close(self) -> None:
        """Stop what the workload started."""

    def metrics(self) -> dict:
        """End-to-end figures, from untraced units only."""
        raise NotImplementedError

    def layers(self) -> dict:
        """Per-layer figures, from traced units only."""
        return {}


class QueryMix(Workload):
    """Three of bench.py's 23 headline queries, each built and written to
    the noop sink; a pass runs every query once in a seed-shuffled order."""

    name = "query_mix"
    queries = PLAN_MIX + EAGER_MIX

    def __init__(self, ctx, spark):
        super().__init__(ctx, spark)
        from orders_currency_conversion_etl_spark.plans import registry
        from orders_currency_conversion_etl_spark.sources import catalog

        self.registry, self.catalog = registry, catalog
        self.build: dict[str, list[float]] = {q: [] for q in self.queries}
        self.action: dict[str, list[float]] = {q: [] for q in self.queries}
        self.per_query: dict[str, list[dict]] = {q: [] for q in self.queries}

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def build_state(self) -> None:
        """Open the tables the queries read: the catalog lists each
        table's files and reads its footers once per session, and later
        reads reuse the plan."""
        for t in QUERY_TABLES:
            self.catalog.load_table(self.spark, self.ctx.data_dir, t)

    def warmup(self) -> None:
        """One pass that fetches every result, then ``WARMUP_PASSES``
        passes to the noop sink. The fetched results are checked
        afterwards against DuckDB running the registered oracles."""
        self.fetched, self.warmup_s = {}, {}
        for q in self._order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                self.fetched[q] = self.registry.QUERIES[q](self.spark, self.ctx.data_dir).toArrow()
                self.warmup_s[q] = time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                self.fail(f"{q} raised in the warm-up pass")
        for _ in range(WARMUP_PASSES):
            for q in self._order():
                self.attempted += 1
                try:
                    df = self.registry.QUERIES[q](self.spark, self.ctx.data_dir)
                    df.write.mode("overwrite").format("noop").save()
                except Exception:
                    traceback.print_exc()
                    self.fail(f"{q} raised in a warm-up pass")

    def run_unit(self, traced: bool) -> None:
        with self.tr.unit(traced):
            for q in self._order():
                self.attempted += 1
                try:
                    with self.tr.span("registry.build") as b:
                        df = self.registry.QUERIES[q](self.spark, self.ctx.data_dir)
                    with self.tr.span("registry.action") as a:
                        df.write.mode("overwrite").format("noop").save()
                except Exception:
                    traceback.print_exc()
                    self.fail(f"{q} raised")
                    continue
                if traced:
                    self.per_query[q].append({"build": b, "action": a})
                    self.tr.add("registry.build_jobs", b["jobs"])
                else:
                    self.build[q].append(b["s"])
                    self.action[q].append(a["s"])

    def check(self) -> None:
        from check import digest

        expected = self.ctx.expected
        for q, table in self.fetched.items():
            got = digest(table)
            if got != expected[q]:
                self.fail(f"{q} output differs from its DuckDB oracle: {got} vs {expected[q]}")

    def metrics(self) -> dict:
        """Each query's best measured execution (build + noop write)."""
        build, action = {}, {}
        for q in self.queries:
            build[q], action[q] = min(zip(self.build[q], self.action[q]), key=sum)
        latency = {q: build[q] + action[q] for q in self.queries}

        def build_share(queries) -> float:
            return sum(build[q] for q in queries) / sum(latency[q] for q in queries)

        return {
            "pass_s": sum(latency.values()),
            "step_geomean_s": geomean(latency.values()),
            "detail": {
                "query_geomean_s": geomean(latency.values()),
                "passes": len(self.untraced),
                "plan_class_pass_s": sum(latency[q] for q in PLAN_MIX),
                "eager_class_pass_s": sum(latency[q] for q in EAGER_MIX),
                "plan_class_build_share": build_share(PLAN_MIX),
                "eager_class_build_share": build_share(EAGER_MIX),
                "query_best_s": latency,
                "query_median_s": {
                    q: median([b + a for b, a in zip(self.build[q], self.action[q])])
                    for q in self.queries
                },
                "query_warmup_s": self.warmup_s,
            },
        }

    def layers(self) -> dict:
        out = {}
        for q, recs in self.per_query.items():
            out[f"q.{q}.build_s"] = median([r["build"]["s"] for r in recs])
            out[f"q.{q}.action_s"] = median([r["action"]["s"] for r in recs])
            out[f"q.{q}.stages"] = median(
                [r["build"]["stages"] + r["action"]["stages"] for r in recs]
            )
            out[f"q.{q}.shuffle_bytes"] = median(
                [r["build"]["shuffle_write_bytes"] + r["action"]["shuffle_write_bytes"] for r in recs]
            )
            out[f"q.{q}.build_jobs"] = median([r["build"]["jobs"] for r in recs])
        return out


# ----------------------------------------------------------------------
# etl_cycles
# ----------------------------------------------------------------------

#: The sink holds this many already-converted orders before the first
#: cycle, so the anti-join's sink side stays above Spark's default
#: 10 MB broadcast threshold for the whole run.
BASE_SINK_ROWS = 800_000
BASE_SINK_FILES = 8
BASE_TIME = dt.datetime(2026, 1, 1)

_CONVERT_SQL = """
SELECT o.order_id, o.customer_email, o.order_date,
       o.amount AS original_amount, o.currency AS original_currency,
       CASE WHEN o.currency = 'EUR' THEN o.amount
            ELSE CAST(CAST(o.amount AS DOUBLE) / COALESCE(rates.rate, 1.0) AS DECIMAL(12,2))
       END AS amount_eur,
       CAST(CASE WHEN o.currency = 'EUR' THEN 1.0 ELSE COALESCE(rates.rate, 1.0) END
            AS DECIMAL(16,6)) AS exchange_rate,
       TIMESTAMP '2026-01-01 00:00:00' AS exchange_rate_date
FROM ({orders}) o LEFT JOIN {rates} ON o.currency = rates.currency
"""


def convert_sql(orders_sql: str) -> str:
    """DuckDB form of ``convert_orders`` (EUR passthrough, missing rate
    -> 1.0, DOUBLE quotient cast to DECIMAL(12,2))."""
    from orders_currency_conversion_etl_spark.sources.rates import rates_sql_values

    return _CONVERT_SQL.format(orders=orders_sql, rates=rates_sql_values())


def write_base_sink(out_dir: str) -> None:
    """The pre-seeded sink: converted orders with ids prefixed ``base-``,
    written by DuckDB and pyarrow with the column types Spark writes."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from orders_currency_conversion_etl_spark.operators.generate import generate_orders_oracle_sql

    gen = generate_orders_oracle_sql(n=BASE_SINK_ROWS, seed=1, base_time=BASE_TIME)
    orders = f"SELECT 'base-' || order_id AS order_id, * EXCLUDE (order_id) FROM ({gen})"
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        table = con.execute(convert_sql(orders)).fetch_arrow_table()
    finally:
        con.close()
    for name in ("order_date", "exchange_rate_date"):  # naive UTC -> zoned, as Spark writes
        i = table.schema.get_field_index(name)
        table = table.set_column(i, name, table.column(i).cast(pa.timestamp("us", tz="UTC")))
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // BASE_SINK_FILES)
    for k in range(BASE_SINK_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(tmp, f"part-base-{k:03d}.parquet"))
    os.rename(tmp, out_dir)


def _parquet_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in _parquet_files(path))


def _queue_schema():
    from pyspark.sql import types as T

    from orders_currency_conversion_etl_spark import schemas

    return T.StructType(schemas.ORDERS.fields + [T.StructField("partition", T.IntegerType())])


class EtlCycles(Workload):
    """The reference's dataflow, batch and streaming. A cycle appends six
    seeded 5,000-order batches to the source, converts one batch of at
    most 30,000 unprocessed orders into the sink, then publishes one
    seeded 5,000-order segment to the file queue and waits until the
    long-lived drain session has committed it."""

    name = "etl_cycles"

    def __init__(self, ctx, spark):
        super().__init__(ctx, spark)
        from orders_currency_conversion_etl_spark.operators import convert, generate, incremental
        from orders_currency_conversion_etl_spark.plans.registry import CONVERSION_TIME
        from orders_currency_conversion_etl_spark.sources.rates import rates_df
        from orders_currency_conversion_etl_spark.streaming import drain, file_queue, orders_stream

        self.generate, self.incremental, self.convert = generate, incremental, convert
        self.drain, self.file_queue, self.orders_stream = drain, file_queue, orders_stream
        self.conversion_time = CONVERSION_TIME
        self.rates_df = rates_df
        self.root = os.path.join(ctx.run_dir, "etl")
        self.source = os.path.join(self.root, "source")
        self.sink = os.path.join(self.root, "sink")
        self.queue = os.path.join(self.root, "queue")
        self.work = os.path.join(self.root, "drain")
        self.cycle = 0
        self.segment = 0
        self.session = None
        self.sink_rows = BASE_SINK_ROWS
        self.sink_broadcast = None
        self.cycles: dict[str, list[float]] = defaultdict(list)

    def build_state(self) -> None:
        """The pre-seeded sink, an empty source, and a running drain
        session over a queue holding one published segment (the file
        source fixes its schema from the partition directories it sees
        at start)."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.sink)
        os.makedirs(self.work)
        for f in _parquet_files(self.ctx.base_sink):
            os.link(os.path.join(self.ctx.base_sink, f), os.path.join(self.sink, f))
        self.sink_start_bytes = _dir_bytes(self.sink)
        self._publish()
        self.session = self.drain.QueueDrainSession(
            self.spark,
            self.queue,
            _queue_schema(),
            self.work,
            transform=lambda s: self.orders_stream.convert_stream(s, self.spark, self.conversion_time),
        )
        self.run_id = str(self.spark.streams.active[0].runId)

    def batch(self, i: int):
        """One generated batch with ids no other batch of the run has.

        ``generate_orders`` derives ``order_id`` from the range id alone,
        so every seed yields the same 5,000 ids; the prefix makes them
        disjoint, as in tests/test_incremental_e2e.py."""
        from pyspark.sql import functions as F

        gen_seed = self.ctx.seed * 100_000 + self.cycle * APPENDS_PER_CYCLE + i
        df = self.generate.generate_orders(
            self.spark, n=BATCH_ORDERS, seed=gen_seed, base_time=BASE_TIME
        )
        prefix = f"r{self.ctx.seed}-c{self.cycle}-b{i}-"
        return df.withColumn("order_id", F.concat(F.lit(prefix), F.col("order_id")))

    def segment_df(self):
        """Seeded orders in the TPC-H ``orders`` shape, keyed
        ``segment * 5000 + i`` so no two segments share a key."""
        from pyspark.sql import functions as F

        first = self.segment * BATCH_ORDERS
        h = F.md5(F.concat_ws(":", F.lit(str(self.ctx.seed)), F.col("id").cast("string")))

        def u32(start: int):
            return F.conv(F.substring(h, start, 8), 16, 10).cast("bigint")

        def pick(values, start: int):
            idx = (u32(start) % len(values) + 1).cast("int")
            return F.element_at(F.array(*[F.lit(v) for v in values]), idx)

        return self.spark.range(first, first + BATCH_ORDERS, numPartitions=1).select(
            F.col("id").alias("o_orderkey"),
            (u32(1) % 15_000).alias("o_custkey"),
            pick(("F", "O", "P"), 9).alias("o_orderstatus"),
            ((u32(17) % 49_900_000 + 100_000) / 100).alias("o_totalprice"),
            F.timestamp_seconds(F.lit(788_918_400) + u32(25) % 2404 * 86_400).alias("o_orderdate"),
            pick(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 13).alias(
                "o_orderpriority"
            ),
        )

    def _publish(self) -> None:
        self.file_queue.queue_append(self.segment_df(), self.queue, 0)
        self.segment += 1

    def _commits(self) -> int:
        d = os.path.join(self.work, "ckpt", "commits")
        return sum(1 for f in os.listdir(d) if f.isdigit()) if os.path.isdir(d) else 0

    def run_unit(self, traced: bool) -> None:
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tr.unit(traced):
            try:
                steps = self._cycle()
            except Exception:
                traceback.print_exc()
                self.fail(f"cycle {self.cycle} raised")
                steps = None
        if not traced and steps is not None:
            self.cycles["cycle_s"].append(time.perf_counter() - t0)
            for k, v in steps.items():
                self.cycles[k].append(v)
        self.cycle += 1

    def warmup(self) -> None:
        """One full cycle, after the drain has caught up with the segment
        published at set-up."""
        self.session.wait_caught_up()
        self.attempted += 1
        self._cycle()
        self.cycle += 1

    def _cycle(self) -> dict[str, float]:
        """One cycle; returns each step's seconds and the rows converted."""
        with self.tr.span("generate") as ingest:
            for i in range(APPENDS_PER_CYCLE):
                self.batch(i).write.mode("append").parquet(self.source)
        with self.tr.span("incremental") as plan:
            src = self.spark.read.parquet(self.source)
            sink = self.spark.read.parquet(self.sink)
            todo = self.incremental.unprocessed(src, sink, key="order_id", batch_limit=CONVERT_LIMIT)
            out, obs = self.convert.convert_orders_observed(todo, self.rates_df(self.spark), self.conversion_time)
        if self.cycle == 0:
            # the plan chosen before execution (AQE may still re-plan)
            physical = todo._jdf.queryExecution().executedPlan().toString()
            self.sink_broadcast = "BroadcastExchange" in physical
        files0, bytes0 = len(_parquet_files(self.sink)), _dir_bytes(self.sink)
        with self.tr.span("sinks.write") as write:
            out.write.mode("append").parquet(self.sink)
        got = obs.get
        rows = got["processed_orders"]
        if self.tr.on:
            self.tr.add("incremental.sink_keys_per_row", self.sink_rows / max(rows, 1))
            self.tr.add("convert.rows", rows)
            self.tr.add("convert.eur_passthrough", got["eur_passthrough"])
            self.tr.add("sinks.files", len(_parquet_files(self.sink)) - files0)
            self.tr.add("sinks.bytes_per_row", (_dir_bytes(self.sink) - bytes0) / max(rows, 1))
        self.sink_rows += rows
        commits = self._commits()
        with self.tr.span("file_queue.publish") as pub:
            self._publish()
        with self.tr.span("drain.wait", self.run_id) as wait:
            self.session.wait_caught_up()
        if self.tr.on:
            self.tr.add("drain.batches_per_publish", self._commits() - commits)
        return {
            "ingest_s": ingest["s"],
            "convert_s": plan["s"] + write["s"],
            "rows_per_s": rows / (plan["s"] + write["s"]),
            "publish_s": pub["s"],
            "lag_s": wait["s"],
            "drain_s": pub["s"] + wait["s"],
        }

    def close(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def check(self) -> None:
        from check import duck

        for step in (self._check_sink, self._check_drain):
            con = duck(self.ctx.data_dir, ())
            try:
                step(con)
            finally:
                con.close()

    def _check_sink(self, con) -> None:
        """Every generated order is in the sink exactly once, converted as
        DuckDB converts it; the pre-seeded rows are untouched."""
        con.execute(f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.source}/*.parquet')")
        con.execute(f"CREATE VIEW snk AS SELECT * FROM read_parquet('{self.sink}/*.parquet')")
        con.execute(f"CREATE VIEW want AS {convert_sql('SELECT * FROM src')}")
        n_src, n_snk, n_ids = con.execute(
            "SELECT (SELECT count(*) FROM src), count(*), count(DISTINCT order_id) FROM snk"
        ).fetchone()
        if n_snk != n_src + BASE_SINK_ROWS or n_ids != n_snk:
            self.fail(
                f"sink holds {n_snk} rows / {n_ids} ids for {n_src} generated + "
                f"{BASE_SINK_ROWS} pre-seeded orders",
                count=self.cycle,
            )
            return
        cols = "order_id, order_date, original_amount, original_currency, amount_eur, exchange_rate"
        bad = con.execute(
            f"""SELECT count(DISTINCT split_part(order_id, '-', 2)) FROM (
                (SELECT {cols} FROM snk WHERE order_id NOT LIKE 'base-%'
                 EXCEPT ALL SELECT {cols} FROM want)
                UNION ALL
                (SELECT {cols} FROM want
                 EXCEPT ALL SELECT {cols} FROM snk WHERE order_id NOT LIKE 'base-%'))"""
        ).fetchone()[0]
        if bad:
            self.fail(f"{bad} cycles converted rows that differ from DuckDB", count=bad)
        s_got, s_want = con.execute(
            "SELECT (SELECT sum(amount_eur) FROM snk WHERE order_id NOT LIKE 'base-%'), "
            "(SELECT sum(amount_eur) FROM want)"
        ).fetchone()
        if s_got != s_want:  # cycles already counted above if rows differ
            self.fail(f"sum(amount_eur) {s_got} differs from DuckDB's {s_want}", count=0 if bad else self.cycle)

    def _check_drain(self, con) -> None:
        """The drained output equals the flagship conversion, run by
        DuckDB, of every published order."""
        from orders_currency_conversion_etl_spark.plans.registry import _FLAGSHIP_ORACLE

        self.close()
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{self.queue}/partition=*/seq=*.parquet', hive_partitioning=false)"
        )
        con.execute(
            f"CREATE VIEW got AS SELECT * FROM read_parquet('{self.work}/out/batch=*/*.parquet', "
            "hive_partitioning=false)"
        )
        con.execute(f"CREATE VIEW drained AS {_FLAGSHIP_ORACLE}")
        cols = "order_id, order_date, original_amount, original_currency, amount_eur, exchange_rate"
        bad = con.execute(
            f"""SELECT count(DISTINCT CAST(order_id AS BIGINT) // {BATCH_ORDERS}) FROM (
                (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM drained)
                UNION ALL
                (SELECT {cols} FROM drained EXCEPT ALL SELECT {cols} FROM got))"""
        ).fetchone()[0]
        if bad:
            self.fail(f"{bad} segments drained rows that differ from DuckDB", count=bad)

    def metrics(self) -> dict:
        """The best measured cycle, and the best of each step."""
        c = self.cycles
        return {
            "pass_s": min(c["cycle_s"]),
            "step_geomean_s": geomean([min(c["ingest_s"]), min(c["convert_s"]), min(c["drain_s"])]),
            "detail": {
                "cycle_p50_s": median(c["cycle_s"]),
                "cycle_tail_s": tail(c["cycle_s"]),
                "convert_rows_per_s": median(c["rows_per_s"]),
                "ingest_p50_s": median(c["ingest_s"]),
                "convert_p50_s": median(c["convert_s"]),
                "publish_p50_s": median(c["publish_s"]),
                "drain_lag_p50_s": median(c["lag_s"]),
                "drain_lag_tail_s": tail(c["lag_s"]),
                "cycles": len(c["cycle_s"]),
                "sink_start_rows": BASE_SINK_ROWS,
                "sink_start_bytes": self.sink_start_bytes,
                "sink_side_broadcast": self.sink_broadcast,
            },
        }

    def layers(self) -> dict:
        keys = (
            "generate_s",
            "sinks.write_s",
            "incremental.sink_keys_per_row",
            "convert.rows",
            "convert.eur_passthrough",
            "sinks.files",
            "sinks.bytes_per_row",
            "file_queue.publish_s",
            "drain.wait_s",
            "drain.batches_per_publish",
        )
        out = {k: self.tr.layer(k) for k in keys}
        out["generate.s"] = out.pop("generate_s")
        return out


WORKLOADS = {w.name: w for w in (QueryMix, EtlCycles)}
