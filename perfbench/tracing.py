"""Spans around calls into the library, and Spark's own event log read
back as per-span counters.

A span is (id, name, layer, kind, parent, start, end, run_id). While a
span is open its tag is set on the SparkContext, so every Spark job the
call submits carries it in the event log's ``spark.job.tags``. After the
session stops, ``EventLog`` attributes each job (and through it each
stage, task and SQL execution) to the innermost open span, which gives
jobs, stages, shuffle and spill bytes, task-time skew, GC time, broadcast
and scanned file bytes per span without instrumenting the library itself.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAG_PREFIX = "pb_span_"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str  # "build" (plan construction), "force" (execution) or "op"
    parent: int | None
    run_id: str
    start_ms: float = 0.0
    end_ms: float = 0.0

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


class Tracer:
    """Keeps spans in memory; ``write`` dumps them when the run ends."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str = "", kind: str = "force"):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, kind, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        tag = f"{TAG_PREFIX}{s.id}"
        self.sc.addJobTag(tag)
        s.start_ms = time.time() * 1000.0
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1000.0
            self.sc.removeJobTag(tag)
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


@dataclass
class SpanCounters:
    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0  # shuffle write + read
    spill_bytes: int = 0  # disk bytes spilled
    gc_ms: int = 0
    broadcast_bytes: int = 0
    scan_file_bytes: int = 0  # file bytes the scans of the span listed
    first_job_ms: float | None = None  # submission time of the first job
    stage_task_ms: list[list[int]] = field(default_factory=list)

    def task_skew(self) -> float:
        """Task-time-weighted mean over stages of max/median task run time
        (DS2's straggler signal); 1.0 means perfectly even tasks."""
        num = den = 0.0
        for times in self.stage_task_ms:
            if len(times) < 2:
                continue
            med = statistics.median(times)
            total = float(sum(times))
            if med <= 0 or total <= 0:
                continue
            num += total * (max(times) / med)
            den += total
        return num / den if den else 1.0


# SQL metrics Spark's driver side posts (SparkListenerDriverAccumUpdates), by plan
# node name prefix and metric name, and the counter each one adds to
_DRIVER_METRICS = {
    ("BroadcastExchange", "data size"): "broadcast_bytes",
    ("Scan ", "size of files read"): "scan_file_bytes",
}


def _driver_accums(plan: dict, out: dict[int, str]) -> None:
    node = plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        for (prefix, name), attr in _DRIVER_METRICS.items():
            if node.startswith(prefix) and m.get("name") == name:
                out[int(m["accumulatorId"])] = attr
    for child in plan.get("children", []):
        _driver_accums(child, out)


class EventLog:
    """Spark event log (uncompressed JSON lines) folded into per-span
    counters. Read it after the SparkContext stops, so it is complete."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
        files += sorted(glob.glob(os.path.join(log_dir, "local-*")))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.events = []
        for fn in files:
            with open(fn) as f:
                for line in f:
                    self.events.append(json.loads(line))

    def counters(self) -> dict[int, SpanCounters]:
        stage_span: dict[int, int] = {}
        exec_span: dict[int, int] = {}
        accum_attr: dict[int, str] = {}
        driver_updates: list[tuple[int, int, int]] = []
        out: dict[int, SpanCounters] = {}
        stage_tasks: dict[int, list[int]] = {}
        for e in self.events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ids = [
                    int(t[len(TAG_PREFIX):])
                    for t in (props.get("spark.job.tags") or "").split(",")
                    if t.startswith(TAG_PREFIX)
                ]
                if not ids:
                    continue
                sid = max(ids)  # innermost open span
                c = out.setdefault(sid, SpanCounters())
                c.jobs += 1
                sub = float(e["Submission Time"])
                if c.first_job_ms is None or sub < c.first_job_ms:
                    c.first_job_ms = sub
                for st in e["Stage IDs"]:
                    stage_span[st] = sid
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    exec_span.setdefault(int(ex), sid)
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                if sid is None:
                    continue
                m = e.get("Task Metrics") or {}
                c = out[sid]
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                c.shuffle_bytes += int(rd.get("Remote Bytes Read", 0)) + int(
                    rd.get("Local Bytes Read", 0)
                ) + int(wr.get("Shuffle Bytes Written", 0))
                c.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
                c.gc_ms += int(m.get("JVM GC Time", 0))
                stage_tasks.setdefault(e["Stage ID"], []).append(
                    int(m.get("Executor Run Time", 0))
                )
            elif kind == "SparkListenerStageCompleted":
                st = e["Stage Info"]["Stage ID"]
                sid = stage_span.get(st)
                if sid is not None:
                    out[sid].stages += 1
                    out[sid].stage_task_ms.append(stage_tasks.pop(st, []))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _driver_accums(e.get("sparkPlanInfo") or {}, accum_attr)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, val in e.get("accumUpdates", []):
                    driver_updates.append((int(e["executionId"]), int(acc), int(val)))
        for ex, acc, val in driver_updates:
            sid, attr = exec_span.get(ex), accum_attr.get(acc)
            if attr is not None and sid is not None:
                setattr(out[sid], attr, getattr(out[sid], attr) + val)
        return out
