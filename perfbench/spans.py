"""Spans around library calls, and the Spark status-store ledger behind them.

The benchmark wraps each call into the library in a span. A span tags
the jobs it starts with ``setJobGroup`` from the benchmark side, so the
library itself is never changed: after the timed operation ends,
``flush`` reads each span's jobs and stages back from Spark's status
store. Spans stay in memory until the run writes its ledger at exit.

A boundary is named ``<module>.<call>``. Each call of a boundary has a
``call`` span (the library function, including the jobs it runs
eagerly) and usually an ``exec`` span (materializing what it returned).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

BOUNDARIES = (
    "index.build",
    "index.save",
    "index.load",
    "index.delete",
    "search.query",
    "search.allpairs",
    "knn.exact",
    "ingest.batch",
    "plans.relational",
    "plans.vectorsearch",
    "plans.annindex",
    "plans.textops",
    "plans.streamingops",
)

# (metric, unit, better) reported for every boundary, per call
LAYER_METRICS = (
    ("call_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("driver_gap_s", "s", "lower"),
)

# metrics that belong to one boundary only
EXTRA_METRICS = (
    ("search.candidates_per_query", "count", "lower"),
    ("ingest.rows_per_s", "1/s", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
)

# per-span counters summed from the status store
_COUNTERS = (
    "jobs",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


def per_layer_schema() -> "list[tuple[str, str, str]]":
    """Every per-layer metric name, with its unit and direction."""
    out = [
        (f"{b}.{m}", unit, better)
        for b in BOUNDARIES
        for m, unit, better in LAYER_METRICS
    ]
    return out + list(EXTRA_METRICS)


@dataclass
class Span:
    id: int
    name: str
    phase: str
    parent: "int | None"
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    # the ``call`` span an ``exec`` span materializes the result of
    call: "int | None" = None
    group: str = ""
    # job groups of threads the call started, e.g. a streaming query's
    also: "list[str]" = field(default_factory=list)
    job_ids: "list[int]" = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    # (submitted, completed) of each job, epoch seconds, unclipped
    intervals: "list[tuple[float, float]]" = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise every span is a no-op,
    so the untraced run pays nothing but a context-manager entry."""

    def __init__(self, spark, enabled: bool, tag: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.tag = tag
        self.spans: "list[Span]" = []
        self._stack: "list[Span]" = []
        self._pending: "list[Span]" = []
        self._last_call: "dict[str, int]" = {}
        # time the tracer itself spends inside spans' callers
        self.bookkeeping_s = 0.0

    def _set_group(self, span: "Span | None") -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, f"{span.name}:{span.phase}")

    @contextmanager
    def span(self, name: str, phase: str = "call", **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sp = Span(
            id=len(self.spans),
            name=name,
            phase=phase,
            parent=self._stack[-1].id if self._stack else None,
            start=0.0,
            attrs=attrs,
            call=self._last_call.get(name) if phase == "exec" else None,
        )
        if phase == "call":
            self._last_call[name] = sp.id
        sp.group = f"{self.tag}-{sp.id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        self.bookkeeping_s += time.perf_counter() - t_in
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self._pending.append(sp)
            self.bookkeeping_s += time.perf_counter() - t_out

    @contextmanager
    def paused(self):
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    # ------------------------------------------------------------ readout

    def flush(self) -> None:
        """Read the jobs of every finished span from the status store.
        Call it outside timed regions: it waits for Spark's listener bus
        to drain so the stage metrics are final."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self._pending:
            sp.job_ids = sorted(
                {j for g in [sp.group, *sp.also] for j in tracker.getJobIdsForGroup(g)}
            )
            sp.counters, sp.intervals = _span_counters(store, sp)
        self._pending = []

    # ---------------------------------------------------------- aggregates

    def _calls(self, keep) -> "list[dict]":
        """One record per call: its ``call`` span plus the ``exec`` spans
        that materialized its result. Jobs can outlive the span that
        started them (a stream's batches run after ``start`` returns),
        so busy time is the union of all the call's job intervals within
        the whole call window."""
        execs: "dict[int, list[Span]]" = {}
        for s in self.spans:
            if s.phase == "exec" and s.call is not None:
                execs.setdefault(s.call, []).append(s)
        out = []
        for c in self.spans:
            if c.phase != "call" or not keep(c):
                continue
            members = [c] + execs.get(c.id, [])
            lo, hi = c.start, max(m.end for m in members)
            rec = {"call_s": c.seconds, "exec_s": sum(m.seconds for m in members[1:])}
            for k in _COUNTERS:
                rec[k] = sum(m.counters.get(k, 0.0) for m in members)
            busy = _union_length(
                [(max(a, lo), min(b, hi)) for m in members for a, b in m.intervals]
            )
            rec["driver_gap_s"] = max(hi - lo - busy, 0.0)
            rec["span"] = c
            out.append(rec)
        return out

    def boundary_metrics(self) -> "dict[str, float]":
        """Per-call means of every LAYER_METRICS entry, per boundary.
        A boundary the run never crossed reads 0 calls and 0 everywhere."""
        out: "dict[str, float]" = {}
        for b in BOUNDARIES:
            calls = self._calls(lambda s: s.name == b)
            for m, _, _ in LAYER_METRICS:
                total = sum(c[m] for c in calls)
                out[f"{b}.{m}"] = total / len(calls) if calls else 0.0
        return out

    def row_ledger(self) -> "list[dict]":
        """One record per analytics row run (calls carrying a ``row``)."""
        out = []
        for c in self._calls(lambda s: "row" in s.attrs):
            sp = c.pop("span")
            out.append({"row": sp.attrs["row"], "boundary": sp.name} | c)
        return out

    def write(self, path: str, extra: dict) -> None:
        doc = dict(extra)
        doc["boundaries"] = self.boundary_metrics()
        doc["rows"] = self.row_ledger()
        doc["spans"] = [asdict(s) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)


def _span_counters(store, sp: Span) -> "tuple[dict, list]":
    """Sum the span's jobs' stage metrics (skipped stages ran no tasks)
    and return them with each job's (submitted, completed) interval."""
    c = dict.fromkeys(_COUNTERS, 0.0)
    c["jobs"] = float(len(sp.job_ids))
    intervals = []
    seen_stages: "set[int]" = set()
    now_ms = time.time() * 1000.0
    for j in sp.job_ids:
        jd = store.job(j)
        sub, done = jd.submissionTime(), jd.completionTime()
        lo = sub.get().getTime() if not sub.isEmpty() else sp.start * 1000.0
        hi = done.get().getTime() if not done.isEmpty() else now_ms
        intervals.append((lo / 1000.0, hi / 1000.0))
        stage_ids = jd.stageIds()
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            c["tasks"] += sd.numTasks()
            c["exec_run_s"] += sd.executorRunTime() / 1e3
            c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return c, intervals


def _union_length(intervals: "list[tuple[float, float]]") -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total
