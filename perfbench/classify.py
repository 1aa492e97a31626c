"""Measure which headline queries are eager-class.

    python3 perfbench/classify.py

A query is eager when Spark runs jobs while its DataFrame is built, or
when its executed plan contains a Python execution node. The script runs
each headline query once to warm up, then once traced, and prints one
JSON line per query plus the assignment it implies next to the lists in
perfbench/workloads.py.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from statusstore import StatusStore
from workloads import EAGER_MIX, PLAN_MIX

#: Physical operators that run Python workers.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)


def main() -> int:
    run_dir = os.path.join(run.WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    run.configure_environment(run_dir)
    sys.path[:0] = [run.ROOT]
    data_dir = run.ensure_dataset()
    os.environ["SPARK_GRAFT_SCHEMA_DIR"] = data_dir
    import __spark_entry__  # noqa: F401

    from orders_currency_conversion_etl_spark.plans import registry
    from orders_currency_conversion_etl_spark.session import get_spark

    spark = get_spark("perfbench-classify")
    spark.sparkContext.setLogLevel("ERROR")
    mismatched = []
    try:
        store = StatusStore(spark)
        for q in PLAN_MIX + EAGER_MIX:
            registry.QUERIES[q](spark, data_dir).write.mode("overwrite").format("noop").save()
            store.set_group(f"classify-{q}-build")
            df = registry.QUERIES[q](spark, data_dir)
            store.set_group(f"classify-{q}-action")
            df.write.mode("overwrite").format("noop").save()
            store.clear_group()
            build = store.collect(f"classify-{q}-build")
            plan = df._jdf.queryExecution().executedPlan().toString()
            python = sorted({n for n in PYTHON_NODES if n in plan})
            eager = build["jobs"] > 0 or bool(python)
            listed = "eager" if q in EAGER_MIX else "plan"
            measured = "eager" if eager else "plan"
            if listed != measured:
                mismatched.append(q)
            print(json.dumps({"query": q, "build_jobs": build["jobs"], "python_nodes": python,
                              "measured": measured, "listed": listed}))
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"mismatched": mismatched}))
    return 1 if mismatched else 0


if __name__ == "__main__":
    sys.exit(main())
