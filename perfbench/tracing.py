"""Per-layer tracing from outside the program.

`Tracer` wraps the public calls `jobs.dedup.main` makes and records one span
per call:

- `StageRunner.run`: one span per stage. The wrapper sets the calling
  thread's Spark job group to `<run tag>:<stage>`. PySpark pins each Python
  thread to one JVM thread, so the tier threads' stages get their own groups.
  After a stage, the thread's group becomes `<run tag>:job_tail`, which
  labels the jobs `main()` runs after its last stage.
- `clusterbreak_spark` as bound in `jobs.dedup`: its returned round counts.
- `connected_components` as bound in `operators.clusterbreak`: the wall time
  and rounds of every call, inside the `clusters` stage.

`fold_event_log` reads Spark's event log after the session stops and sums the
`SparkListenerTaskEnd` metrics of each job group.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Counters folded from the event log, per job group.
TASK_COUNTERS = ("cpu_s", "run_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                 "shuffle_records", "spill_mb", "task_max_s", "task_median_s",
                 "failed_tasks")


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.lock = threading.Lock()
        self.spans: list[dict] = []
        self.calls: dict[str, list] = defaultdict(list)

    def _span(self, **span):
        with self.lock:
            self.spans.append(span)

    @contextmanager
    def installed(self, tag: str):
        """Wrap the job's calls for one `main()` run labelled `tag`."""
        import jobs.dedup as dedup
        from dynaalign_spark.operators import clusterbreak
        from dynaalign_spark.stages import StageRunner

        sc, orig_run = self.sc, StageRunner.run
        orig_cb, orig_cc = dedup.clusterbreak_spark, clusterbreak.connected_components

        def run(runner, name, fn):
            sc.setJobGroup(f"{tag}:{name}", name)
            t0 = time.perf_counter()
            try:
                return orig_run(runner, name, fn)
            finally:
                self._span(tag=tag, name=name, t0=t0, t1=time.perf_counter(),
                           thread=threading.current_thread().name)
                sc.setJobGroup(f"{tag}:job_tail", "job_tail")

        def clusterbreak_spark(*a, **kw):
            res = orig_cb(*a, **kw)
            with self.lock:
                self.calls["clusterbreak"].append(
                    (tag, res["cc_rounds"], res["distributed_rounds"]))
            return res

        def connected_components(*a, **kw):
            t0 = time.perf_counter()
            comp, rounds = orig_cc(*a, **kw)
            with self.lock:
                self.calls["components"].append((tag, time.perf_counter() - t0, rounds))
            return comp, rounds

        StageRunner.run = run
        dedup.clusterbreak_spark = clusterbreak_spark
        clusterbreak.connected_components = connected_components
        try:
            yield
        finally:
            StageRunner.run = orig_run
            dedup.clusterbreak_spark = orig_cb
            clusterbreak.connected_components = orig_cc
            sc.setLocalProperty("spark.jobGroup.id", None)

    def spans_of(self, tag: str) -> list[dict]:
        return [s for s in self.spans if s["tag"] == tag]

    def calls_of(self, kind: str, tag: str) -> list[tuple]:
        return [c[1:] for c in self.calls[kind] if c[0] == tag]


def fold_event_log(path: str) -> dict[str, dict[str, float]]:
    """Event log -> {job group: {counter: value}} over every task that ran
    in a stage of a job of that group. A stage shared by two jobs counts for
    the group of the first job that submitted it."""
    stage_group: dict[int, str] = {}
    tasks: dict[str, list] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group:
                    tasks[group].append((ev["Task Info"], ev.get("Task Metrics") or {},
                                         ev.get("Task End Reason") or {}))
    return {g: _fold(ts) for g, ts in tasks.items()}


def _fold(tasks) -> dict[str, float]:
    out = dict.fromkeys(TASK_COUNTERS, 0.0)
    durations = []
    for info, m, reason in tasks:
        durations.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        if info.get("Failed") or reason.get("Reason", "Success") != "Success":
            out["failed_tasks"] += 1
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
        out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        out["shuffle_records"] += sw.get("Shuffle Records Written", 0)
        out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    if durations:
        out["task_max_s"] = max(durations)
        out["task_median_s"] = statistics.median(durations)
    return out
