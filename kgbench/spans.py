"""Span recorder with Spark job-group attribution, and the event-log parser.

A span is (run id, span id, name, parent id, start, end).  While a span is
open its id is the Spark job group of the driver thread, so every job the
layer call launches is attributed to it in the event log.  Spans live in
memory and are written out once, when the run ends.

``Tracer(enabled=False)`` records nothing and leaves the job group alone —
the untraced runs time their passes with ``time.perf_counter`` directly.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
import uuid
from collections import defaultdict
from typing import Dict, Iterator, List, Optional


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: List[Dict] = []
        self._stack: List[int] = []

    def group_id(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Optional[Dict]]:
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "run_id": self.run_id, "id": sid, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(self.group_id(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.sc.setJobGroup(self.group_id(parent), self.spans[parent]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def wrapping(self, targets) -> Iterator[None]:
        """Record a span around every call of each ``(owner, attr)`` public
        function while the block runs; the originals are restored after.
        Module attributes are looked up at call time, so calls from inside
        the program (e.g. ``materialize_graph`` → ``cache.checkpoint``) are
        seen too."""
        saved = []
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def duration(self, span: Dict) -> float:
        return span["end"] - span["start"]

    def find(self, name: str, parent: Optional[int] = None) -> List[Dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (parent is None or s["parent"] == parent)
        ]

    def total(self, name: str) -> float:
        return sum(self.duration(s) for s in self.find(name))

    def descendants(self, root: int) -> set:
        """Ids of ``root`` and every span below it."""
        out = {root}
        for s in self.spans:  # parents always precede children
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def dump(self, path: str, extra: Dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


# ---------------------------------------------------------------------------
# Spark event log → per-job-group task metrics
# ---------------------------------------------------------------------------

SPARK_METRICS = [
    # (name, unit)
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.tasks_failed", "count"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.input_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
]


def read_event_log(log_dir: str) -> Dict[str, Dict]:
    """Parse the (finished, uncompressed) event log in ``log_dir``.

    Returns ``{"jobs": {job_id: group}, "tasks": [task dict]}`` where each
    task carries its job group, stage id and the counters the spark.*
    metrics are built from."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "*"))
        if not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    stage_group: Dict[int, Optional[str]] = {}
    jobs: Dict[int, Optional[str]] = {}
    tasks: List[Dict] = []
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = group
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "failed": bool(info.get("Failed")),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                })
    for t in tasks:
        t["group"] = stage_group.get(t["stage"])
    return {"jobs": jobs, "tasks": tasks}


def spark_metrics(log: Dict[str, Dict], groups: set) -> Dict[str, float]:
    """spark.* metrics over the jobs whose group is in ``groups``.
    ``spark.task_skew`` is max/median task run time of the stage with the
    most executor run time (the stage that bounds the span)."""
    tasks = [t for t in log["tasks"] if t["group"] in groups]
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_ms"])
    skew = 0.0
    if by_stage:
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        skew = max(heavy) / med if med > 0 else 1.0
    return {
        "spark.jobs": sum(1 for g in log["jobs"].values() if g in groups),
        "spark.tasks": len(tasks),
        "spark.tasks_failed": sum(t["failed"] for t in tasks),
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.input_bytes": sum(t["in_bytes"] for t in tasks),
        "spark.output_bytes": sum(t["out_bytes"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["shuffle_w"] for t in tasks),
        "spark.spill_bytes": sum(t["spill"] for t in tasks),
        "spark.task_skew": skew,
    }


def attribute(tracer: Tracer, log: Dict[str, Dict]) -> None:
    """Attach each span's own spark.* metrics (jobs launched while it was
    the innermost open span) to the span record."""
    for s in tracer.spans:
        s["spark"] = spark_metrics(log, {tracer.group_id(s["id"])})
