"""Measurement plumbing shared by the workloads: timed calls and spans,
Spark job groups, and the Spark status (REST) accounting read back
per job group.

Every timed call runs under its own Spark job group, in traced and
untraced runs alike, so executor CPU, task time, shuffle and spill can
be attributed to it after the fact. A traced run also records nested
spans (name, start, end, parent, request id) in memory, each with its
own job group; nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
import urllib.request
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

# Span name prefixes, longest first, that name the program's layers.
LAYERS = (
    "streaming.ingest",
    "sources.store",
    "timeparse",
    "operators",
    "session",
    "plans",
    "cli",
)


def layer_of(name: str) -> str:
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return "bench"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: int | None
    start: float
    group: str
    end: float = 0.0
    counts: dict = field(default_factory=dict)


@dataclass
class Call:
    """One timed top-level call: an interactive request, an operator
    run, a commit. ``group`` is its Spark job group."""

    kind: str
    group: str
    start: float
    end: float = 0.0
    rows: int = 0
    traced: bool = False
    failed: bool = False

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Recorder:
    """Times calls and, while ``traced`` is set, records spans."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.wrapping = traced
        self.calls: list[Call] = []
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._group = "setup"
        self.tracer_s = 0.0
        self.sc.setJobGroup("setup", "setup", False)

    def _set_group(self, group: str) -> None:
        self._group = group
        self.sc.setJobGroup(group, group, False)

    @contextmanager
    def call(self, kind: str, rows: int = 0, timed: bool = True):
        """A top-level call. Untimed calls (warm-up) run under the
        ``warmup`` job group and are not recorded. While tracing, every
        other call of each kind is traced, so traced and untraced calls
        interleave and their difference is the tracing overhead."""
        if not timed:
            prev = self._group
            self._set_group("warmup")
            try:
                yield None
            finally:
                self._set_group(prev)
            return
        tracing = self.traced
        same = sum(1 for x in self.calls if x.kind == kind)
        c = Call(kind, f"call{len(self.calls)}", 0.0, rows=rows, traced=tracing and same % 2 == 0)
        self.calls.append(c)
        self._set_group(c.group)
        self.traced = c.traced
        span = self.span("call:" + kind, _request=len(self.calls) - 1, _group=c.group)
        try:
            with span if c.traced else nullcontext():
                c.start = time.perf_counter()
                try:
                    yield c
                finally:
                    c.end = time.perf_counter()
        finally:
            self.traced = tracing
            self._set_group("setup")

    @contextmanager
    def span(self, name: str, _request: int | None = None, _group: str | None = None):
        """A nested span; a no-op while untraced."""
        if not self.traced:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        req = _request if _request is not None else (parent.request if parent else None)
        sid = len(self.spans)
        s = Span(sid, name, parent.sid if parent else None, req, 0.0, _group or f"span{sid}")
        self.spans.append(s)
        self._stack.append(s)
        prev = self._group
        self._set_group(s.group)
        self.tracer_s += time.perf_counter() - t
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            self._set_group(prev)
            self.tracer_s += time.perf_counter() - t

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call the program makes through
        ``module.attr`` (traced runs only)."""
        if not self.wrapping:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def self_times(self) -> dict[int, float]:
        """Span id -> self seconds: its duration minus the part of it
        covered by its children."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for k in sorted(kids.get(s.sid, []), key=lambda k: k.start):
                lo, hi = max(k.start, last), min(k.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.sid] = (s.end - s.start) - covered
        return out

    def dump_spans(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid, "name": s.name, "parent": s.parent,
                            "request": s.request, "start": s.start, "end": s.end,
                            "self_s": selfs[s.sid], "counts": s.counts,
                        }
                    )
                    + "\n"
                )


# ---------------------------------------------------------------- Spark

def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _int(text: str) -> int:
    return int(str(text).split("\n")[0].split(" ")[0].replace(",", ""))


def group_accounting(spark, scans: bool) -> dict[str, dict]:
    """Job group -> executor accounting, from Spark's status API. Waits
    for the listener bus first, so every finished job is counted.
    ``scans`` adds files read and rows scanned from the SQL endpoint."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = _get(spark, "jobs")
    stages = {
        (s["stageId"], s["attemptId"]): s
        for s in _get(spark, "stages")
        if s["status"] in ("COMPLETE", "FAILED")
    }
    job_group = {j["jobId"]: j.get("jobGroup", "") for j in jobs}
    stage_group: dict[int, str] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            stage_group.setdefault(sid, job_group[j["jobId"]])
    acc: dict[str, dict] = {}

    def slot(g: str) -> dict:
        return acc.setdefault(
            g,
            {"jobs": 0, "task_ms": 0.0, "cpu_s": 0.0, "gc_ms": 0.0, "shuffle_mb": 0.0,
             "spill_mb": 0.0, "files_read": 0, "rows_scanned": 0},
        )

    for g in job_group.values():
        slot(g)["jobs"] += 1
    for (sid, _), s in stages.items():
        a = slot(stage_group.get(sid, ""))
        a["task_ms"] += s["executorRunTime"]
        a["cpu_s"] += s["executorCpuTime"] / 1e9
        a["gc_ms"] += s["jvmGcTime"]
        a["shuffle_mb"] += s["shuffleWriteBytes"] / 1e6
        a["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6
    for e in _get(spark, "sql?details=true&planDescription=false") if scans else []:
        ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
        if not ids:
            continue
        a = slot(job_group.get(min(ids), ""))
        for n in e["nodes"]:
            if not n["nodeName"].startswith("Scan"):
                continue
            for m in n.get("metrics", []):
                if m["name"] == "number of files read":
                    a["files_read"] += _int(m["value"])
                elif m["name"] == "number of output rows":
                    a["rows_scanned"] += _int(m["value"])
    return acc


def total(acc: dict[str, dict], groups) -> dict:
    out: dict = {}
    for g in groups:
        for k, v in acc.get(g, {}).items():
            out[k] = out.get(k, 0) + v
    return out


class Codegen:
    """Whole-stage codegen compile count and time, read as deltas of
    Spark's CodegenMetrics. The time is count x mean of the metric's
    sampled histogram, so it is approximate; the count is exact."""

    def __init__(self, spark):
        self._h = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        n = self._h.getCount()
        return n, n * self._h.getSnapshot().getMean()


def planning_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of an executed
    DataFrame, from its QueryExecution tracker."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    ms = 0.0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return ms


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


# ------------------------------------------------------------- statistics

def pct(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)
