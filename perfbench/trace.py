"""Tracing for the traced run: harness spans around every public call
into a layer, and the per-op join of Spark's own event log.

Spans are kept in memory. Each has a name, start, end, an op id shared
by every span of one op, and the id of the span that was open when it
started (its parent). Spark's event log (``spark.eventLog.enabled``,
uncompressed) is parsed with the stdlib after the session stops; its
jobs are attributed to ops by submission time, which works because a
single client runs one op at a time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    op: int | None
    name: str
    start: float  # time.time(), the clock the event log uses
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(
            len(self.spans), self._stack[-1] if self._stack else None,
            self.op, name, time.time(),
        )
        self.spans.append(s)
        self._stack.append(s.span_id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.time()

    def total(self, name: str, ops: set[int]) -> float:
        return sum(s.seconds for s in self.spans if s.name == name and s.op in ops)

    def op_windows(self) -> dict[int, tuple[float, float]]:
        return {s.op: (s.start, s.end) for s in self.spans if s.name == "op"}


# -- Spark event log ---------------------------------------------------------

ACC_TO_PY = "data sent to Python workers"
ACC_FROM_PY = "data returned from Python workers"


def _events(log_dir: str):
    """Events of every application log under ``log_dir``. Spark 4 rolls
    each log into ``eventlog_v2_<app>/events_<n>_<app>`` files."""
    paths = glob.glob(f"{log_dir}/*") + glob.glob(f"{log_dir}/*/events_*")
    for path in sorted(p for p in paths if os.path.isfile(p)):
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def event_log_metrics(log_dir: str, windows: dict[int, tuple[float, float]]) -> dict:
    """Per-op scheduler, executor, shuffle and Python-boundary totals
    from the event log, for jobs submitted inside an op window.

    A skipped stage is one an op's jobs list, never submit, and whose
    RDD ran before, outside that op: its shuffle output came from an
    earlier op or the warm-up, i.e. the op was served by a reused plan.
    Adaptive execution runs each query stage as its own job and the
    query's final job lists a new, never-submitted stage over the same
    RDD; those ran moments before in the same op and are not skipped.
    Nor is a listed stage whose RDD never ran at all: a shuffle with no
    input partitions (a filter that keeps nothing) has no map work, so
    the scheduler lists it and skips it. The stage floor
    is
    a stage's wall time minus its longest task: the time the stage took
    beyond its slowest piece of work."""
    bounds = sorted((a * 1000.0, b * 1000.0, op) for op, (a, b) in windows.items())

    def op_at(ms: float):
        for a, b, op in bounds:
            if a <= ms <= b:
                return op
        return None

    stage_op: dict[int, int] = {}
    listed: dict[int, dict[int, int]] = {}  # op -> {stage id: its RDD id}
    submitted: set[int] = set()
    rdd_ran_in: dict[int, int | None] = {}
    stage_wall: dict[int, float] = {}
    longest_task: dict[int, float] = {}
    tot = dict.fromkeys((
        "jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_w",
        "shuffle_r", "spill", "to_py", "from_py",
    ), 0.0)
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            op = op_at(ev["Submission Time"])
            if op is None:
                continue
            tot["jobs"] += 1
            for info in ev["Stage Infos"]:
                sid = info["Stage ID"]
                stage_op[sid] = op
                listed.setdefault(op, {})[sid] = info["RDD Info"][0]["RDD ID"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted.add(info["Stage ID"])
            rdd_ran_in.setdefault(
                info["RDD Info"][0]["RDD ID"], op_at(info.get("Submission Time", -1))
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_op and "Completion Time" in info:
                tot["stages"] += 1
                stage_wall[sid] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_op:
                continue
            tot["tasks"] += 1
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            longest_task[sid] = max(
                longest_task.get(sid, 0.0), ti["Finish Time"] - ti["Launch Time"]
            )
            tot["run_ms"] += tm.get("Executor Run Time", 0)
            tot["cpu_ns"] += tm.get("Executor CPU Time", 0)
            tot["gc_ms"] += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            tot["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["shuffle_w"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            tot["spill"] += tm.get("Disk Bytes Spilled", 0)
            for acc in ti.get("Accumulables", []):
                if acc.get("Name") == ACC_TO_PY:
                    tot["to_py"] += float(acc.get("Update", 0))
                elif acc.get("Name") == ACC_FROM_PY:
                    tot["from_py"] += float(acc.get("Update", 0))
    skipped = sum(
        1
        for op, stages in listed.items()
        for sid, rdd in stages.items()
        if sid not in submitted and rdd in rdd_ran_in and rdd_ran_in[rdd] != op
    )
    floors = [stage_wall[s] - longest_task.get(s, 0.0) for s in stage_wall]
    n = max(1, len(windows))
    mb = 1e6
    return {
        "scheduler.jobs": tot["jobs"] / n,
        "scheduler.stages": tot["stages"] / n,
        "scheduler.tasks": tot["tasks"] / n,
        "scheduler.skipped_stages": skipped / n,
        "scheduler.stage_floor_s": statistics.median(floors) / 1000.0 if floors else 0.0,
        "executor.run_s": tot["run_ms"] / 1000.0 / n,
        "executor.cpu_s": tot["cpu_ns"] / 1e9 / n,
        "executor.gc_s": tot["gc_ms"] / 1000.0 / n,
        "shuffle.write_mb": tot["shuffle_w"] / mb / n,
        "shuffle.read_mb": tot["shuffle_r"] / mb / n,
        "spill.mb": tot["spill"] / mb / n,
        "python.bytes_to_worker_mb": tot["to_py"] / mb / n,
        "python.bytes_from_worker_mb": tot["from_py"] / mb / n,
    }


# -- StreamingQuery.recentProgress -------------------------------------------

PHASES = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.get_batch_ms": "getBatch",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


def progress_metrics(progress: list[dict], n_ops: int) -> dict:
    """Per-op phase durations and state-store figures from the
    micro-batch progress reports of the traced ops."""
    n = max(1, n_ops)
    out = {
        name: sum(p.get("durationMs", {}).get(key, 0) for p in progress) / n
        for name, key in PHASES.items()
    }
    states = [s for p in progress for s in p.get("stateOperators", [])]
    out["state.rows_total"] = sum(s.get("numRowsTotal", 0) for s in states) / n
    out["state.memory_mb"] = sum(s.get("memoryUsedBytes", 0) for s in states) / 1e6 / n
    out["state.commit_ms"] = sum(s.get("commitTimeMs", 0) for s in states) / n
    return out
