"""Per-layer tracing for the benchmark: spans, counts and Spark event logs.

Spans are recorded from the benchmark's side only.  Eager entry points
of each layer are wrapped by replacing the module attribute their callers
resolve at call time (``profile.describe``, ``wide_agg.InheritableTask``,
``frequency.topk_frequencies`` ...); lazy operators (dedup, text,
similarity, incremental) are spanned in the workload code around the call
*and* the action that runs it.  :func:`install` swaps the wrappers in and
returns an undo callable, so untraced operations run the untouched code.

A span is (name, start, end, parent, op id).  The parent is the caller's
open span on the same thread, or -- for thunks handed to another thread
(``InheritableTask``, ``run_inheritable``) -- the span open where the
thunk was created.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span and counter store; a disabled tracer records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[Span] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        st = self._stack()
        rec = Span(name, time.perf_counter(), 0.0, st[-1] if st else None,
                   self.op)
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        try:
            yield
        finally:
            st.pop()
            rec.end = time.perf_counter()

    @contextlib.contextmanager
    def adopt(self, parent: int | None):
        """Run the body as if ``parent`` were this thread's open span."""
        st = self._stack()
        saved = list(st)
        st[:] = [parent] if parent is not None else []
        try:
            yield
        finally:
            st[:] = saved

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled and self.op is not None:
            with self._lock:
                self.counts[self.op][name] += value

    def dump(self, path: Path) -> None:
        """Write every span as one JSON object per line."""
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "op": s.op}) + "\n")


# --------------------------------------------------------------------------
# wrappers


def _spanned(tracer: Tracer, fn: Callable, name: str,
             calls: str | None = None) -> Callable:
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if calls:
            tracer.count(calls)
        with tracer.span(name):
            return fn(*args, **kwargs)
    return wrapper


def _traced_task_class(tracer: Tracer, base: type) -> type:
    """``InheritableTask`` that records gate wait, thunk span and joins."""

    class TracedTask(base):  # type: ignore[misc, valid-type]
        def __init__(self, fn, gate=None) -> None:
            created = time.perf_counter()
            parent = tracer.current()

            def thunk():
                tracer.count("wide_agg.gate_wait_s",
                             time.perf_counter() - created)
                with tracer.adopt(parent), tracer.span("wide_agg.chunk"):
                    return fn()
            super().__init__(thunk, gate)

        def join(self) -> Any:
            with tracer.span("profile.join_wait"):
                return super().join()

    return TracedTask


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap every layer's entry points; returns the undo callable."""
    from pyspark.sql import DataFrame

    from spark_df_profiling_spark import report, sources
    from spark_df_profiling_spark.operators import correlation
    from spark_df_profiling_spark.operators import frequency
    from spark_df_profiling_spark.operators import profile
    from spark_df_profiling_spark.plans import wide_agg

    try:  # Spark 4 splits the classic DataFrame from the Connect one
        from pyspark.sql.classic.dataframe import DataFrame as df_class
    except ImportError:
        df_class = DataFrame

    saved: list[tuple[Any, str, Any]] = []

    def swap(owner: Any, attr: str, new: Any) -> None:
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    for mod in (sources, profile):
        for attr in ("input_bytes", "scan_parallelism"):
            swap(mod, attr, _spanned(tracer, getattr(mod, attr),
                                     "sources.probe", "sources.probe_calls"))
    swap(df_class, "inputFiles",
         _spanned(tracer, df_class.inputFiles, "sources.probe",
                  "sources.probe_calls"))

    orig_chunks = wide_agg.make_chunks

    @functools.wraps(orig_chunks)
    def make_chunks(*args, **kwargs):
        out = orig_chunks(*args, **kwargs)
        tracer.count("wide_agg.chunks", len(out))
        tracer.count("wide_agg.exprs", sum(len(ch) for ch in out))
        return out
    swap(wide_agg, "make_chunks", make_chunks)
    swap(wide_agg, "InheritableTask",
         _traced_task_class(tracer, wide_agg.InheritableTask))

    orig_run = wide_agg.run_inheritable

    @functools.wraps(orig_run)
    def run_inheritable(fns, *args, **kwargs):
        parent = tracer.current()

        def adopted(fn):
            def run():
                with tracer.adopt(parent):
                    return fn()
            return run
        return orig_run([adopted(f) for f in fns], *args, **kwargs)
    swap(wide_agg, "run_inheritable", run_inheritable)

    swap(profile, "describe", _spanned(tracer, profile.describe,
                                       "profile.describe", "profile.calls"))
    swap(profile, "profile_many", _spanned(tracer, profile.profile_many,
                                           "profile.profile_many"))
    swap(frequency, "topk_frequencies",
         _spanned(tracer, frequency.topk_frequencies, "frequency.topk",
                  "frequency.calls"))
    for attr in ("correlation_exprs", "decode_correlation_row",
                 "correlation_matrix", "greedy_rejection"):
        swap(correlation, attr,
             _spanned(tracer, getattr(correlation, attr),
                      "correlation.matrix", "correlation.calls"))
    swap(report, "render_html",
         _spanned(tracer, report.render_html, "report.render"))

    def undo() -> None:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)
        saved.clear()
    return undo


# --------------------------------------------------------------------------
# span aggregation


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(tracer: Tracer, ops: list[int]) -> dict[str, float]:
    """Per-op span totals, then the median over ``ops``.

    A layer's time is the summed duration of its outermost spans (a span
    nested in one of the same name is not counted twice).  ``profile``
    self time is each ``describe`` span minus the union of its child
    spans, summed per op.
    """
    spans = tracer.spans
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)

    def outermost(i: int) -> bool:
        p = spans[i].parent
        return p is None or spans[p].name != spans[i].name

    timed = {"sources.probe": "sources.probe_s",
             "profile.describe": "profile.describe_s",
             "profile.join_wait": "profile.join_wait_s",
             "wide_agg.chunk": "wide_agg.chunk_busy_s",
             "frequency.topk": "frequency.topk_s",
             "correlation.matrix": "correlation.matrix_s",
             "report.render": "report.render_s",
             "dedup.exact": "dedup.exact_s",
             "dedup.minhash": "dedup.minhash_s",
             "text.features": "text.features_s",
             "similarity.knn": "similarity.knn_s",
             "incremental.partial": "incremental.partial_s",
             "incremental.state_write": "incremental.state_write_s",
             "incremental.merge_finalize": "incremental.merge_finalize_s"}
    per_op: dict[int, dict[str, float]] = {
        op: defaultdict(float) for op in ops}
    chunk_durations: list[float] = []
    for i, s in enumerate(spans):
        if s.op not in per_op:
            continue
        acc = per_op[s.op]
        acc["trace.spans"] += 1
        dur = s.end - s.start
        if s.name == "wide_agg.chunk":
            chunk_durations.append(dur)
        if s.name in timed and outermost(i):
            acc[timed[s.name]] += dur
        if s.name == "profile.describe":
            kids = [(spans[k].start, spans[k].end) for k in children[i]]
            acc["profile.self_s"] += dur - _union_length(kids, s.start,
                                                         s.end)
    out: dict[str, float] = {}
    names = set(timed.values()) | {"profile.self_s", "trace.spans"}
    for name in sorted(names):
        out[name] = statistics.median(per_op[op][name] for op in ops)
    out["wide_agg.chunk_p50_s"] = (statistics.median(chunk_durations)
                                   if chunk_durations else 0.0)
    return out


def count_metrics(tracer: Tracer, ops: list[int],
                  names: list[str]) -> dict[str, float]:
    return {n: statistics.median(tracer.counts[op][n] for op in ops)
            for n in names}


# --------------------------------------------------------------------------
# Spark event log


_TASK_FIELDS = ("run_ms", "cpu_ns", "gc_ms", "shuffle_write", "spill",
                "input_bytes")


def parse_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages run, tasks and summed task metrics."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    for path in sorted(p for p in log_dir.iterdir() if p.is_file()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if gid is None:
                        continue
                    groups[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = gid
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        groups[stage_group[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    g = groups[gid]
                    g["tasks"] += 1
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["cpu_ns"] += m.get("Executor CPU Time", 0)
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["shuffle_write"] += (m.get("Shuffle Write Metrics")
                                           or {}).get(
                        "Shuffle Bytes Written", 0)
                    g["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
    return groups


def spark_metrics(groups: dict[str, dict[str, float]],
                  op_groups: list[str], op_wall: list[float],
                  op_input_bytes: int, nproc: int) -> dict[str, float]:
    """Median over ops of the engine-side numbers of each op's job group."""
    rows = []
    for gid, wall in zip(op_groups, op_wall):
        g = groups.get(gid, {})
        rows.append({
            "spark.jobs": g.get("jobs", 0),
            "spark.stages": g.get("stages", 0),
            "spark.tasks": g.get("tasks", 0),
            "spark.executor_run_s": g.get("run_ms", 0) / 1e3,
            "spark.executor_cpu_s": g.get("cpu_ns", 0) / 1e9,
            "spark.gc_s": g.get("gc_ms", 0) / 1e3,
            "spark.shuffle_write_bytes": g.get("shuffle_write", 0),
            "spark.spill_bytes": g.get("spill", 0),
            "spark.scan_bytes_per_input_byte":
                g.get("input_bytes", 0) / op_input_bytes,
            "spark.core_utilization":
                g.get("run_ms", 0) / 1e3 / (wall * nproc),
        })
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
