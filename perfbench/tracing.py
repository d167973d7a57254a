"""Spans, the cumulative ladder, and the Spark event-log extractor.

A span is a named wall-clock interval recorded by the benchmark around
one call into the system. While a span is open, the Spark local property
``perfbench.span`` carries its name, so every job, stage, task and SQL
execution Spark logs during it can be attributed back to it.

Self time never comes from Spark's Python "run" timings (they include
time spent waiting on upstream operators). It comes from the ladder:
each prefix of a pipeline is materialized on its own, and a layer's self
time is its prefix's wall time minus its parent prefix's.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"

PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"
OUT_ROWS = "number of output rows"
MB = 1024.0 * 1024.0


class Tracer:
    """Records spans in memory; sets the span local property on the
    SparkContext (when given) for the duration of each span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def span(self, name: str):
        return _Span(self, name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        self.parent = t._stack[-1] if t._stack else None
        t._stack.append(self.name)
        if t.sc is not None:
            t.sc.setLocalProperty(SPAN_PROP, self.name)
        self.t0 = time.time()
        self.p0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        wall = time.perf_counter() - self.p0
        t = self.tracer
        t._stack.pop()
        if t.sc is not None:
            t.sc.setLocalProperty(SPAN_PROP, self.parent)
        t.spans.append(
            {
                "name": self.name,
                "parent": self.parent,
                "start": self.t0,
                "end": self.t0 + wall,
                "wall_s": wall,
                "ok": exc[0] is None,
            }
        )
        return False


def ladder_self(cumulative: dict[str, float], parents: dict[str, str | None]) -> dict[str, float]:
    """Self time per ladder step from cumulative prefix times.

    ``parents[step]`` is the prefix the step extends (None for a root).
    A prefix can never cost less than the prefix it extends, so each
    cumulative time is first raised to its parent's (noise can otherwise
    make a cheap layer read negative); self time is then the difference,
    which is non-negative by construction."""
    adjusted: dict[str, float] = {}

    def adj(step: str) -> float:
        if step not in adjusted:
            p = parents.get(step)
            base = adj(p) if p is not None else 0.0
            adjusted[step] = max(cumulative[step], base)
        return adjusted[step]

    out = {}
    for step in cumulative:
        p = parents.get(step)
        out[step] = adj(step) - (adj(p) if p is not None else 0.0)
    return out


def load_events(eventlog_dir: str) -> list[dict]:
    """Every event of every (rolling or single-file) event log under a
    directory, in file order."""
    files = sorted(
        f for f in glob.glob(os.path.join(eventlog_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    )
    events = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _walk(plan: dict, out: list) -> None:
    out.append(plan)
    for child in plan.get("children", []):
        _walk(child, out)


class SpanStats:
    """Spark's own metrics summed over the jobs of a set of spans."""

    def __init__(self):
        self.jobs = 0
        self.stage_ids: set = set()
        self.tasks = 0
        self.failed_tasks = 0
        self.cpu_ns = 0
        self.run_ms = 0
        self.gc_ms = 0
        self.shuffle_write = 0
        self.spill = 0
        self.task_durations: dict[int, list] = defaultdict(list)
        self.stage_window: dict[int, list] = {}
        # (node name, metric name) -> value
        self.node: dict[tuple, float] = defaultdict(float)
        self.extract_rows = 0.0

    @property
    def stages(self) -> int:
        return len(self.stage_ids)

    def py_in(self) -> float:
        return sum(v for (n, m), v in self.node.items() if m == PY_IN)

    def py_out(self) -> float:
        return sum(v for (n, m), v in self.node.items() if m == PY_OUT)

    def metric(self, node_prefix: str, metric: str) -> float:
        return sum(v for (n, m), v in self.node.items() if n.startswith(node_prefix) and m == metric)

    def straggler_ratio(self) -> float:
        """Longest task ÷ median task in the slowest stage (by wall)."""
        if not self.stage_window:
            return 1.0
        slowest = max(self.stage_window, key=lambda s: self.stage_window[s][1] - self.stage_window[s][0])
        d = self.task_durations[slowest]
        med = statistics.median(d) if d else 0
        return max(d) / med if med > 0 else 1.0


class EventLog:
    """Attributes Spark's event-log metrics to benchmark spans."""

    def __init__(self, events: list[dict]):
        self.job_span: dict[int, str | None] = {}
        self.stage_span: dict[int, str | None] = {}
        self.exec_span: dict[int, str | None] = {}
        self.acc_node: dict[int, tuple[str, str, str]] = {}
        self.task_ends: list[dict] = []
        self.driver_updates: list[dict] = []
        for e in events:
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get(SPAN_PROP)
                jid = e["Job ID"]
                self.job_span[jid] = span
                for sid in e.get("Stage IDs", []):
                    self.stage_span.setdefault(sid, span)
                ex = props.get("spark.sql.execution.id")
                if ex is not None and span is not None:
                    self.exec_span.setdefault(int(ex), span)
            elif ev == "SparkListenerTaskEnd":
                self.task_ends.append(e)
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                nodes: list = []
                _walk(e["sparkPlanInfo"], nodes)
                for n in nodes:
                    for m in n.get("metrics", []):
                        self.acc_node[m["accumulatorId"]] = (
                            n["nodeName"].strip(), m["name"], n.get("simpleString", "")
                        )
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                self.driver_updates.append(e)

    def stats(self, spans) -> SpanStats:
        """Metrics of every job launched while one of ``spans`` was the
        innermost open span."""
        spans = set(spans)
        st = SpanStats()
        for span in self.job_span.values():
            if span in spans:
                st.jobs += 1
        for e in self.task_ends:
            sid = e["Stage ID"]
            if self.stage_span.get(sid) not in spans:
                continue
            st.stage_ids.add(sid)
            info = e["Task Info"]
            st.tasks += 1
            failed = bool(info.get("Failed")) or e.get("Task End Reason", {}).get("Reason") != "Success"
            st.failed_tasks += int(failed)
            tm = e.get("Task Metrics") or {}
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.run_ms += tm.get("Executor Run Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.shuffle_write += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill += tm.get("Disk Bytes Spilled", 0)
            launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
            st.task_durations[sid].append(max(finish - launch, 0))
            w = st.stage_window.setdefault(sid, [launch, finish])
            w[0], w[1] = min(w[0], launch), max(w[1], finish)
            for acc in info.get("Accumulables", []):
                self._add_acc(st, acc.get("ID"), acc.get("Update"))
        for e in self.driver_updates:
            if self.exec_span.get(e.get("executionId")) in spans:
                for acc_id, value in e.get("accumUpdates", []):
                    self._add_acc(st, acc_id, value)
        return st

    def _add_acc(self, st: SpanStats, acc_id, value) -> None:
        meta = self.acc_node.get(acc_id)
        if meta is None:
            return
        # SQL metric updates are logged as strings in task-end events
        try:
            value = float(value)
        except (TypeError, ValueError):
            return
        node, metric, simple = meta
        st.node[(node, metric)] += value
        # the extraction kernel is the Python operator whose output
        # carries the item schema's n_chars column
        if metric == OUT_ROWS and "n_chars#" in simple and (
            "Python" in node or "Arrow" in node or "Pandas" in node
        ):
            st.extract_rows += value


def spark_layer(st: SpanStats) -> dict[str, float]:
    """The per-workload ``spark.*`` metrics of a set of spans."""
    run_ms = max(st.run_ms, 1)
    return {
        "spark.jobs": st.jobs,
        "spark.stages": st.stages,
        "spark.tasks": st.tasks,
        "spark.failed_tasks": st.failed_tasks,
        "spark.cpu_frac": st.cpu_ns / 1e6 / run_ms,
        "spark.gc_frac": st.gc_ms / run_ms,
        "spark.shuffle_write_mb": st.shuffle_write / MB,
        "spark.spill_mb": st.spill / MB,
        "spark.py_in_mb": st.py_in() / MB,
        "spark.py_out_mb": st.py_out() / MB,
    }
