"""Tracing for the benchmark: in-memory spans plus Spark's own counters.

Spans are recorded from the benchmark's files around each call into an
engine layer (no engine code is touched).  Spark counters come from two
places: ``SparkContext.statusTracker()`` (jobs, stages, tasks per job
group; one group per measured operation) and the Spark event log (task
metrics per stage, attributed to operations through the job group).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self, op_ids: set[int] | None = None) -> dict[str, float]:
        """Seconds of self time per layer: a span's duration minus the part
        its children cover (children run one after another)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if op_ids is None or s.op_id in op_ids:
                out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{"id": i, **asdict(s)} for i, s in enumerate(self.spans)], fh)


@contextlib.contextmanager
def event_log_into(directory: str):
    """Point ``spark.eventLog.dir`` at ``directory`` for sessions built in
    this block.  ``zcurve_spark.session`` pins the directory to
    /tmp/spark-events; the benchmark keeps every file inside its own work
    directory, so each ``SparkSession.Builder.config`` call is followed by
    a re-set of the event-log directory."""
    from pyspark.sql import SparkSession

    os.makedirs(directory, exist_ok=True)
    orig = SparkSession.Builder.config

    def config(self, *args, **kwargs):
        orig(self, *args, **kwargs)
        return orig(self, "spark.eventLog.dir", "file://" + os.path.abspath(directory))

    SparkSession.Builder.config = config
    try:
        yield
    finally:
        SparkSession.Builder.config = orig


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status store and event log hold the jobs that already returned."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # older/newer internals: fall back to a short wait
        time.sleep(1.0)


def status_counts(spark, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages run, tasks run, failed tasks) of one job group, from
    the status tracker.  Skipped stages (reused shuffle output) run no
    task and are not counted."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    seen = set()
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            si = st.getStageInfo(sid)
            if si is None:
                continue
            ran = si.numCompletedTasks + si.numFailedTasks
            if ran:
                stages += 1
                tasks += ran
                failed += si.numFailedTasks
    return len(jobs), stages, tasks, failed


EVENT_METRICS = (
    "executor_run_ms",
    "executor_cpu_ms",
    "jvm_gc_ms",
    "scheduler_wait_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
)


def event_log_by_group(directory: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group from the event log(s) in
    ``directory``.  Scheduler wait is a task's wall time not spent
    deserializing, running or serializing its result."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    ti = ev.get("Task Info", {})
                    run = tm.get("Executor Run Time", 0)
                    busy = run + tm.get("Executor Deserialize Time", 0) + tm.get("Result Serialization Time", 0)
                    wall = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    srm = tm.get("Shuffle Read Metrics", {})
                    acc = out.setdefault(group, dict.fromkeys(EVENT_METRICS, 0.0))
                    acc["executor_run_ms"] += run
                    acc["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    acc["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
                    acc["scheduler_wait_ms"] += max(0, wall - busy)
                    acc["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    acc["shuffle_read_bytes"] += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                    acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    acc["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    return out
