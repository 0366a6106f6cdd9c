"""Spans around layer calls, per-span Spark job counts, and the
executor metrics of Spark's event log.

The benchmark measures layers from outside: each call into a layer's
public function is wrapped in :meth:`Tracer.span`. A span records its
name, start, end, parent and operation id; while it is open its Spark
jobs run under a job group named after the span, so their job, stage
and task counts are read back from ``statusTracker()``. Job groups do
not nest: a job counts toward the innermost open span only. Spans stay
in memory and are written once at exit. With tracing off ``span`` only
yields.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op = None  # id of the workload operation being traced
        self.sc = None
        self.counts: dict[str, float] = defaultdict(float)

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec.update(self._job_counts(f"span-{rec['id']}"))
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _job_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is not None:
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}

    def finish(self) -> None:
        """Add each span's self time: its duration minus the time its
        direct children cover (children run one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        for s in self.spans:
            s["dur_s"] = s["end"] - s["start"]
            s["self_s"] = s["dur_s"] - child[s["id"]]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

    def layer_totals(self) -> dict:
        """Sum of span duration and self time per span name."""
        out: dict[str, dict] = {}
        for s in self.spans:
            d = out.setdefault(s["name"], {"calls": 0, "span_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["span_s"] += s["dur_s"]
            d["self_s"] += s["self_s"]
        return out


def spark_submit_args(work: str, trace: bool) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the benchmark's JVM: temp files stay
    in the work directory; the event log is on only when tracing, so
    ``get_spark``'s own settings are untouched."""
    args = [f"--driver-java-options -Djava.io.tmpdir={work}/tmp"]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
        ]
    return " ".join(args + ["pyspark-shell"])


def event_log_metrics(work: str, windows: list[tuple[float, float]]) -> dict:
    """Executor metrics of the tasks that ended inside ``windows``
    (epoch-second intervals), from the newest event log under
    ``work/eventlog``; read after the SparkContext stopped, when the
    log is complete. ``driver.no_task_s`` is the wall time of the
    windows with no task running."""
    logs = sorted(glob.glob(os.path.join(work, "eventlog", "*")), key=os.path.getmtime)
    if not logs:
        return {}
    tot = defaultdict(float)
    spans = []
    for line in open(logs[-1]):
        if '"SparkListenerTaskEnd"' not in line:
            continue
        ev = json.loads(line)
        info = ev["Task Info"]
        launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
        if not any(a <= finish <= b for a, b in windows):
            continue
        spans.append((launch, finish))
        m = ev.get("Task Metrics") or {}
        run_ms = m.get("Executor Run Time", 0)
        tot["exec.run_s"] += run_ms / 1e3
        tot["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        tot["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics", {})
        tot["exec.shuffle_read_mb"] += (
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        ) / 2**20
        tot["exec.shuffle_write_mb"] += (
            m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
        )
        tot["exec.spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / 2**20
        # the Spark UI's scheduler delay: task wall time not spent
        # deserializing, running, serializing or fetching the result
        delay_ms = (
            (finish - launch) * 1e3
            - m.get("Executor Deserialize Time", 0)
            - run_ms
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0)
        )
        tot["sched.delay_s"] += max(delay_ms, 0) / 1e3
    tot["driver.no_task_s"] = sum(b - a for a, b in windows) - _covered(spans, windows)
    return dict(tot)


def _covered(intervals, windows) -> float:
    """Length of the union of ``intervals`` clipped to ``windows``."""
    total = 0.0
    for a, b in windows:
        cur_end = a
        for s, e in sorted(intervals):
            s, e = max(s, cur_end), min(e, b)
            if e > s:
                total += e - s
                cur_end = e
    return total
