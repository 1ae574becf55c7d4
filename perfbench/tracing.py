"""In-memory span tracing for the traced benchmark run.

A span records name, start, end, parent and trace id.  Spans stay in a
list until the run ends; :func:`summarize` then turns them into per-name
aggregates (calls, total and self time, Spark jobs/tasks, sink
counters).  Self time is a span's duration minus the part of it that its
child spans cover.

Each span runs under its own Spark job group, so the status tracker can
say which jobs, tasks and failed tasks a span launched while it was the
innermost open span.  Spans whose name starts with ``trace.`` are the
tracer's own work (listing sink files, reading footers): they count as
covered time in their parent but are left out of the report.

:class:`Bindings` installs wrappers where callers look functions up: every
module global, in the package and in this benchmark, that refers to a
wrapped function is rebound to its wrapper, and restored afterwards.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

PACKAGE = "options_data_pipeline_spark"


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    trace_id: str
    start: float
    end: float = 0.0
    group: str | None = None
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans.  ``sc`` (a SparkContext) may be attached later;
    until then spans run without a job group."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.trace_id = "setup"

    @contextmanager
    def trace(self, trace_id: str):
        """Spans opened inside share ``trace_id`` (one workload operation)."""
        prev, self.trace_id = self.trace_id, trace_id
        try:
            yield
        finally:
            self.trace_id = prev

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name=name,
            span_id=len(self.spans),
            parent_id=parent.span_id if parent else None,
            trace_id=self.trace_id,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            s.group = f"perfbench-{s.span_id}"
            self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None and parent.group is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()  # noqa: SLF001 - no pyspark wrapper

    def wrap(self, name: str, fn, sink: bool = False):
        """``fn`` under a span; sinks also get file/row counters."""
        if sink:
            return _sink_wrapper(self, name, fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def resolve_spark(self) -> None:
        """Attach Spark job/task counts to every span with a job group."""
        if self.sc is None:
            return
        drain_listener_bus(self.sc)
        for s in self.spans:
            if s.group is not None:
                jobs, tasks, failed = spark_counts(self.sc, s.group)
                s.counters.update(spark_jobs=jobs, tasks=tasks, failed_tasks=failed)


def drain_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Job and stage ends reach the status store through the listener
    bus; wait until it is empty so the counts are final."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)  # noqa: SLF001
    except Exception:  # noqa: BLE001 - internal API; fall back to a short wait
        time.sleep(1.0)


def spark_counts(sc, group: str | None) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of the jobs run in job group ``group``;
    ``None`` selects the jobs run outside any group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = failed = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
    return len(jobs), tasks, failed


def _parquet_files(path: str) -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(path):
        out.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return out


def _sink_wrapper(tracer: Tracer, name: str, fn):
    """Sink span plus footer-based counters: parquet files the call
    created, the rows in their footers, and those rows divided by the
    call's own inserted+updated count (the useful-work ratio that exposes
    whole-table rewrites).  File listing and footer reads run in
    ``trace.`` spans beside the sink span, so they stay out of its time."""
    sig = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        target = sig.bind(*args, **kwargs).arguments["target_path"]
        with tracer.span("trace.list_files"):
            before = _parquet_files(target)
        with tracer.span(name) as s:
            result = fn(*args, **kwargs)
        with tracer.span("trace.read_footers"):
            created = _parquet_files(target) - before
            rows = sum(pq.ParquetFile(f).metadata.num_rows for f in created)
        s.counters.update(
            files_written=len(created),
            rows_written=rows,
            rows_changed=int(result.get("inserted", 0)) + int(result.get("updated", 0)),
        )
        return result

    return wrapper


class Bindings:
    """Rebinds module globals that refer to wrapped functions.

    ``targets`` maps span name to ``(module, attribute, is_sink)``.  Every
    loaded module of the package or of this benchmark whose globals hold
    the original function object gets the wrapper instead, which is where
    callers that did ``from x import f`` look it up."""

    def __init__(self, tracer: Tracer, targets: dict[str, tuple[object, str, bool]]) -> None:
        self.tracer = tracer
        self.targets = targets
        self._saved: list[tuple[object, str, object]] = []

    def install(self) -> None:
        modules = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == PACKAGE or n.startswith(PACKAGE + ".") or n.startswith("perfbench"))
        ]
        for name, (module, attr, is_sink) in self.targets.items():
            original = getattr(module, attr)
            wrapper = self.tracer.wrap(name, original, sink=is_sink)
            for m in modules:
                for key, val in list(vars(m).items()):
                    if val is original:
                        self._saved.append((m, key, original))
                        setattr(m, key, wrapper)

    def uninstall(self) -> None:
        for m, key, original in reversed(self._saved):
            setattr(m, key, original)
        self._saved.clear()

    @contextmanager
    def active(self):
        self.install()
        try:
            yield
        finally:
            self.uninstall()


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the union of its children's intervals
    (clipped to the span)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[s.span_id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


STAT_FIELDS = ("calls", "total_s", "self_s", "spark_jobs", "tasks", "failed_tasks")
SINK_FIELDS = ("files_written", "rows_written", "rows_changed")


def summarize(spans: list[Span], names: list[str]) -> dict[str, dict[str, float]]:
    """Per-name aggregates for ``names`` (every name appears, zero when
    the span never ran).  ``trace.`` spans are not reported."""
    selfs = self_times(spans)
    out = {n: dict.fromkeys(STAT_FIELDS + SINK_FIELDS, 0) for n in names}
    for s in spans:
        agg = out.get(s.name)
        if agg is None:
            continue
        agg["calls"] += 1
        agg["total_s"] += s.duration
        agg["self_s"] += selfs[s.span_id]
        for k, v in s.counters.items():
            agg[k] = agg.get(k, 0) + v
    for agg in out.values():
        agg["rows_written_per_row_changed"] = (
            agg["rows_written"] / agg["rows_changed"] if agg["rows_changed"] else 0.0
        )
    return out


def dump(spans: list[Span], path: str) -> None:
    """Write every span as one JSON object per line."""
    selfs = self_times(spans)
    with open(path, "w") as fh:
        for s in spans:
            fh.write(json.dumps({
                "name": s.name, "span_id": s.span_id, "parent_id": s.parent_id,
                "trace_id": s.trace_id, "start": s.start, "end": s.end,
                "self_s": selfs[s.span_id], **s.counters,
            }) + "\n")
