"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
and writes the same line to .localdata/bench_last.json. ``value`` is the
sum of the in-process best-of-3 timings.

Each query executes end-to-end through the noop sink (full computation,
no driver collect, no disk write)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# __spark_entry__ is the single registration point — importing it pulls
# in every @query module, so bench can never drift from the registry.
import __spark_entry__  # noqa: F401

from orders_currency_conversion_etl_spark.plans import registry
from orders_currency_conversion_etl_spark.session import get_spark

#: The queries whose wall-clock defines the headline metric — one per
#: operator family (scan+join, agg, window, as-of, dedup exact/LSH,
#: knn, text, json, sessionize, multimodal UDF, behavioral windows,
#: iterative graph).
HEADLINE = (
    "flagship_conversion",
    "agg_pricing_summary",
    "tpch_q6_forecast_revenue",
    "tpch_q18_large_volume_customers",
    "agg_revenue_by_nation",
    "join_fact_to_fact_revenue",
    "window_running_total",
    "topk_expensive_orders",
    "join_asof_rates",
    "json_extract_props",
    "events_hourly_stats",
    "events_session_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "knn_brute_force",
    "knn_lsh_bucketed",
    "text_token_stats",
    "multimodal_features",
    "curation_pipeline_lsh",
    "sessionize_gap_summary",
    "cohort_retention_weekly",
    "tfidf_top_terms_per_source",
    "pagerank_parts",
)


#: Locally generated 10x fixtures (scripts/make_sf1.py); when present,
#: bench also records an sf1 pass so BENCH_r{N} carries measured
#: sf0.1 -> sf1 scaling evidence instead of extrapolation.
SF1_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".localdata", "sf1")

#: The full JSON line of the last run (gitignored with .localdata/).
LAST_RUN = os.path.join(os.path.dirname(SF1_DIR), "bench_last.json")


def _run_headline(spark, sf_dir: str, runs: int) -> dict[str, float]:
    # Untimed warmup pass: run every headline query once so JVM JIT +
    # whole-stage-codegen compilation + python-worker spin-up (one-time
    # session costs, ~3 s for the most complex plans) don't land in the
    # timed pass; the baseline envelope is steady-state throughput.
    for name in HEADLINE:
        registry.QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    spark.catalog.clearCache()  # warmup must not donate cached data

    # best-of-N: run-to-run variance at sf0.1 is ~2x on the lightest
    # queries (GC pauses, page cache); the minimum is the steady-state
    # cost, making round-over-round BENCH comparisons signal.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = registry.QUERIES[name]
        best = float("inf")
        for _ in range(runs):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    return timings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    # Ambient load BEFORE any Spark work: sampled at the end it mostly
    # measures the bench's own 32 threads, not the machine state the
    # numbers should be attributed to.
    ambient_load = round(os.getloadavg()[0], 1)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    timings = _run_headline(spark, sf_dir, runs=3)
    total = round(sum(timings.values()), 3)

    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Ambient-load context: r4 measured the same code at 21.5 s
        # under concurrent load vs 14.78 s quiet — without this field
        # a round-over-round delta can't be attributed (SCALE.md
        # §Session defaults). 1-min load average at bench START
        # (pre-warmup; sampled at the end it would measure the bench's
        # own threads).
        "load_avg_1m": ambient_load,
    }

    # Secondary sf1 pass (best-of-2: the scaling RATIO needs less
    # precision than the headline, and the pass is 10x the data).
    # Only when the primary pass ran at the default sf0.1: the scaling
    # ratio is sf1/sf0.1 (10 = perfectly linear in data size), and a
    # quick sf0.01 iteration shouldn't pay ~90 s of fixture generation
    # plus a 10x bench pass.  The fixtures are gitignored and die with
    # the machine (a mid-round reboot deleted them once); regenerate on
    # demand so the sf1 scaling evidence never silently drops out of
    # BENCH_r{N}.  make_sf1 writes temp-dir-then-rename, so SF1_DIR
    # either holds a complete fixture set or doesn't exist.
    # Generation chatter goes to stderr — stdout is one JSON line.
    # The whole sf1 block is best-effort: a failure there must never
    # lose the sf0.1 headline JSON (degraded bench beats no bench).
    if abs(sf - 0.1) < 1e-9 and os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        try:
            if not os.path.isdir(SF1_DIR):
                import contextlib

                sys.path.insert(
                    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
                )
                import make_sf1

                with contextlib.redirect_stdout(sys.stderr):
                    make_sf1.main()
            sf1_timings = _run_headline(spark, SF1_DIR, runs=2)
            result["sf1_queries"] = sf1_timings
            result["sf1_total"] = round(sum(sf1_timings.values()), 3)
            # per-query sf1/sf0.1 ratio; 10 = perfectly linear
            result["sf1_scaling"] = {
                n: round(sf1_timings[n] / timings[n], 2) if timings[n] > 0 else None
                for n in sf1_timings
            }
        except Exception as exc:
            print(f"sf1 pass failed (headline unaffected): {exc}", file=sys.stderr)

    spark.stop()

    line = json.dumps(result)
    print(line)
    # The driver truncates captured stdout to its last ~2000 chars,
    # which amputates the headline "value" once sf1_* fields are
    # present; keep the full line in a gitignored file.
    try:
        os.makedirs(os.path.dirname(LAST_RUN), exist_ok=True)
        with open(LAST_RUN, "w") as fh:
            fh.write(line + "\n")
    except OSError as exc:
        print(f"local bench copy failed: {exc}", file=sys.stderr)


if __name__ == "__main__":
    main()
