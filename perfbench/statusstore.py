"""Per-call Spark work counters read from the driver's status store.

Works with ``spark.ui.enabled=false``: the status store behind the UI is
still kept by the driver. A traced call runs under its own job group;
afterwards :meth:`StatusStore.collect` reads the jobs of that group (and
of any extra groups, such as a streaming query's run id) that it has not
seen before, and sums the metrics of their stage attempts.

Counting rules, applied by :func:`summarize`:

- a stage counts once, however many attempts it took and however many
  jobs of the window list it; a stage already counted in an earlier
  window is never counted again;
- a SKIPPED stage (its shuffle output was reused) ran no tasks and is
  counted only as ``skipped_stages``;
- ``tasks`` counts task attempts (completed, failed and killed);
  ``task_retries`` counts the failed and killed attempts plus every task
  re-run by a later attempt of the same stage.
"""

from __future__ import annotations

import json

#: Additive stage metrics, summed over counted stage attempts:
#: output name -> status-store field.
SUMMED = {
    "exec_run_ms": "executorRunTime",
    "exec_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def summarize(attempts: list[dict], jobs: int, counted: set[tuple[int, int]]) -> dict:
    """Sum stage attempts into one counter record.

    ``counted`` holds the (stageId, attemptId) pairs already counted by
    earlier windows; it is updated in place so that no attempt is ever
    counted twice."""
    out = {"jobs": jobs, "stages": 0, "skipped_stages": 0, "tasks": 0, "task_retries": 0}
    out.update({k: 0 for k in SUMMED})
    stage_ids = set()
    for a in attempts:
        key = (a["stageId"], a["attemptId"])
        if key in counted:
            continue
        counted.add(key)
        if a["status"] == "SKIPPED":
            out["skipped_stages"] += 1
            continue
        stage_ids.add(a["stageId"])
        done, failed = a["numCompleteTasks"], a["numFailedTasks"] + a["numKilledTasks"]
        out["tasks"] += done + failed
        out["task_retries"] += failed + (done if a["attemptId"] > 0 else 0)
        for name, field in SUMMED.items():
            out[name] += a[field]
    out["stages"] = len(stage_ids)
    return out


class StatusStore:
    """Reads job and stage records of one SparkContext through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._tracker = sc._jsc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._seen_jobs: set[int] = set()
        self._counted: set[tuple[int, int]] = set()

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc._jsc.clearJobGroup()

    def _attempts(self, stage_id: int) -> list[dict]:
        seq = self._store.stageData(stage_id, False, self._no_tasks, False, self._no_quantiles)
        return json.loads(self._mapper.writeValueAsString(seq))

    def collect(self, *groups: str) -> dict:
        """Counters of the not-yet-seen jobs of ``groups``."""
        # Listener events are delivered asynchronously; drain the bus so
        # the store holds every stage of the jobs that just ended.
        self._bus.waitUntilEmpty()
        jobs = []
        for g in groups:
            jobs += [j for j in self._tracker.getJobIdsForGroup(g) if j not in self._seen_jobs]
        self._seen_jobs.update(jobs)
        stage_ids = set()
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds())
        attempts = [a for s in sorted(stage_ids) for a in self._attempts(s)]
        return summarize(attempts, len(jobs), self._counted)
