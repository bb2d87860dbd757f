"""Traced-run instrumentation, measured from outside the program.

Two sources, both switched on only when ``--trace 1``:

- ``Spans`` wraps public functions of the program (module attributes or
  class methods) and records one in-memory span per call;
- the Spark event log (``eventlog_conf``) gives every Spark job's
  interval, its ``spark.job.description`` label and its task metrics.

``attribute`` splits one operation's wall time into per-layer self
times: every job is given a layer (that of the innermost benchmark span
around its submission, else its label if the program set one, else
``unlabeled``), spans count as busy time of their own layer, and each
instant of the window is shared equally by the layers active in it. The
remainder of the window is driver gap — time no Spark job or wrapped
call covers. Self times plus the gap equal the window by construction.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

#: Spark job labels set by ``dedup.pipeline.job_desc`` → layer
LABEL_LAYER = {
    "dedup: url-uniqueness probe": "ingest",
    "dedup: spill docs": "ingest",
    "dedup: spill sigsh": "signatures",
    "dedup: candidates + est-filter": "candidates",
    "dedup: verify + edge symmetrize": "verify",
    "dedup: verify edges + cc": "components",
}
#: label the benchmark sets around its own cluster-report action
REPORT_DESC = "perfbench: cluster report"
LABEL_LAYER[REPORT_DESC] = "components"
PROBE_DESC = "dedup: url-uniqueness probe"


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    layer: str
    t0: float
    t1: float


class Spans:
    """Records a span around each call of the functions it patches."""

    def __init__(self) -> None:
        self.items: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    def patch(self, owner: object, attr: str, layer, name=None) -> None:
        """Wrap ``owner.attr``; ``layer`` and ``name`` are strings or
        functions of the call's ``(args, kwargs)``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.time()
            try:
                return orig(*args, **kwargs)
            finally:
                label = name(args, kwargs) if name else attr
                lay = layer(args, kwargs) if callable(layer) else layer
                self.items.append(Span(label, lay, t0, time.time()))

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def within(self, a: float, b: float) -> list[Span]:
        return [s for s in self.items if s.t0 >= a and s.t1 <= b]


@dataclass
class Job:
    id: int
    t0: float
    t1: float
    desc: str
    stages: list[int]
    task_s: float = 0.0
    python_s: float = 0.0
    python_start_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    layer: str = "unlabeled"


@dataclass
class _StageSums:
    task_s: float = 0.0
    python_s: float = 0.0
    python_start_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0


def read_eventlog(log_dir: str) -> list[Job]:
    """Jobs of the (single, finished) application logged under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, _StageSums] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(
                    id=e["Job ID"],
                    t0=e["Submission Time"] / 1000.0,
                    t1=e["Submission Time"] / 1000.0,
                    desc=props.get("spark.job.description") or "",
                    stages=list(e["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].t1 = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                m = e["Task Metrics"]
                acc = {a.get("Name"): a.get("Update") for a in e["Task Info"].get("Accumulables", [])}
                s = stages.setdefault(e["Stage ID"], _StageSums())
                s.task_s += m["Executor Run Time"] / 1000.0
                s.gc_s += m["JVM GC Time"] / 1000.0
                s.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                # PythonSQLMetrics timings are reported in milliseconds
                s.python_s += float(acc.get("time to run Python workers") or 0) / 1000.0
                s.python_start_s += float(acc.get("time to start Python workers") or 0) / 1000.0
    owner: dict[int, Job] = {}
    for j in sorted(jobs.values(), key=lambda j: j.id):
        for sid in j.stages:
            owner.setdefault(sid, j)
    for sid, s in stages.items():
        j = owner.get(sid)
        if j is None:
            continue
        j.task_s += s.task_s
        j.python_s += s.python_s
        j.python_start_s += s.python_start_s
        j.gc_s += s.gc_s
        j.shuffle_write_bytes += s.shuffle_write_bytes
    return sorted(jobs.values(), key=lambda j: j.t0)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


@dataclass
class Window:
    """Per-layer attribution of one operation's wall time."""

    wall_s: float
    self_s: dict[str, float] = field(default_factory=dict)
    task_s: dict[str, float] = field(default_factory=dict)
    python_s: dict[str, float] = field(default_factory=dict)
    shuffle_bytes: dict[str, int] = field(default_factory=dict)
    jobs: dict[str, int] = field(default_factory=dict)
    span_s: dict[str, float] = field(default_factory=dict)
    driver_gap_s: float = 0.0
    concurrent_s: float = 0.0
    probe_s: float = 0.0
    n_jobs: int = 0
    gc_s: float = 0.0
    python_start_s: float = 0.0
    shuffle_write_bytes: int = 0


def attribute(jobs: list[Job], spans: list[Span], a: float, b: float) -> Window:
    """Attribute the window ``[a, b]`` (one operation) to layers."""
    w = Window(wall_s=b - a)
    inside = [j for j in jobs if a <= j.t0 <= b]
    for j in inside:
        around = [s for s in spans if s.t0 <= j.t0 <= s.t1]
        if around:
            j.layer = min(around, key=lambda s: s.t1 - s.t0).layer
        else:
            j.layer = LABEL_LAYER.get(j.desc, "unlabeled")
        w.task_s[j.layer] = w.task_s.get(j.layer, 0.0) + j.task_s
        w.python_s[j.layer] = w.python_s.get(j.layer, 0.0) + j.python_s
        w.shuffle_bytes[j.layer] = w.shuffle_bytes.get(j.layer, 0) + j.shuffle_write_bytes
        w.jobs[j.layer] = w.jobs.get(j.layer, 0) + 1
        w.gc_s += j.gc_s
        w.python_start_s += j.python_start_s
        w.shuffle_write_bytes += j.shuffle_write_bytes
    w.n_jobs = len(inside)
    w.probe_s = _union([(j.t0, min(j.t1, b)) for j in inside if j.desc == PROBE_DESC])
    for s in spans:
        w.span_s[s.name] = w.span_s.get(s.name, 0.0) + (s.t1 - s.t0)

    busy = [(j.t0, min(j.t1, b), j.layer) for j in inside]
    busy += [(s.t0, s.t1, s.layer) for s in spans]
    points = sorted({a, b, *(p for t0, t1, _ in busy for p in (t0, t1))})
    for lo, hi in zip(points, points[1:]):
        active = {layer for t0, t1, layer in busy if t0 <= lo and t1 >= hi}
        if not active:
            w.driver_gap_s += hi - lo
            continue
        if len(active) > 1:
            w.concurrent_s += hi - lo
        for layer in active:
            w.self_s[layer] = w.self_s.get(layer, 0.0) + (hi - lo) / len(active)
    return w
