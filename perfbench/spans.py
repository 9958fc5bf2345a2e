"""Per-layer tracing for ``--trace 1`` runs.

The benchmark records spans from outside the program: it wraps the public
layer functions in ``LAYER_FUNCTIONS`` and times the registry call (build)
and the noop write (exec) itself. Each span sets its own Spark job group, so
every job, stage and task in Spark's event log can be charged to the
innermost span that was open when it was submitted.

``_s`` metrics are self time (a span minus the part its children cover);
``_jobs`` and byte counts include the span's children.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

PACKAGE = "bigdatafraude_ml_graphx_spark"

# span name -> (module under PACKAGE, public function) pairs it wraps.
LAYER_FUNCTIONS = {
    "graph.cc": [
        ("graph.components", "connected_components"),
        ("graph.components", "connected_components_star"),
    ],
    "graph.pagerank": [
        ("graph.pagerank", "pagerank"),
        ("graph.pagerank", "personalized_pagerank"),
    ],
    "graph.bfs": [("graph.bfs", "shortest_paths")],
    "graph.scc": [("graph.scc", "strongly_connected_components")],
    "dedup.labels": [("dedup.clusters", "cluster_labels")],
    "dedup.update": [("dedup.clusters", "update_cluster_labels")],
    "dedup.pairs": [
        ("dedup.ngram", "ngram_jaccard_pairs"),
        ("dedup.ngram", "ngram_jaccard_probe_pairs"),
    ],
    "sources.write": [("sources.io", "write_bucketed_table")],
    "sources.load": [("catalog", "load_table")],
}

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0
    children: list = field(default_factory=list)


class Tracer:
    """Records spans and points Spark's job group at the innermost one.

    Spans are recorded only while ``active``; set ``sc`` to the running
    SparkContext first."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.active = False
        self.op: str | None = None

    def _group(self) -> None:
        top = self.stack[-1] if self.stack else None
        self.sc.setLocalProperty(
            "spark.jobGroup.id", None if top is None else f"{GROUP_PREFIX}{top}"
        )

    def span(self, name: str):
        return _SpanContext(self, name)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        parent = t.stack[-1] if t.stack else None
        span = Span(len(t.spans), self.name, parent, t.op, time.time())
        t.spans.append(span)
        if parent is not None:
            t.spans[parent].children.append(span.id)
        t.stack.append(span.id)
        t._group()
        return span

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[t.stack.pop()].end = time.time()
        t._group()
        return False


def install(tracer: Tracer) -> int:
    """Wrap every layer function, in its own module and in every package
    module that bound the same object at import. Returns the number of
    bindings patched; raises if a layer function no longer exists."""
    importlib.import_module(f"{PACKAGE}.registry")  # loads every query module
    patched = 0
    for name, funcs in LAYER_FUNCTIONS.items():
        for module, func in funcs:
            mod = importlib.import_module(f"{PACKAGE}.{module}")
            orig = getattr(mod, func, None)
            if not callable(orig):
                raise RuntimeError(
                    f"layer function {PACKAGE}.{module}.{func} is gone; "
                    f"update perfbench/spans.py so span {name!r} is still recorded"
                )
            wrapper = _wrap(tracer, name, orig)
            for mname, m in list(sys.modules.items()):
                if m is None or not (mname == PACKAGE or mname.startswith(PACKAGE + ".")):
                    continue
                for attr, value in list(vars(m).items()):
                    if value is orig:
                        setattr(m, attr, wrapper)
                        patched += 1
    return patched


def _wrap(tracer: Tracer, name: str, func):
    @functools.wraps(func)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return func(*args, **kwargs)
        with tracer.span(name):
            return func(*args, **kwargs)

    wrapper.__perfbench_wrapped__ = func
    return wrapper


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_time(spans: list[Span], span: Span) -> float:
    kids = [(spans[c].start, spans[c].end) for c in span.children]
    return (span.end - span.start) - union_length(kids, span.start, span.end)


def descendants(spans: list[Span], span: Span) -> list[int]:
    out, todo = [], [span.id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(spans[sid].children)
    return out


# --- Spark event log -------------------------------------------------------

_COUNTERS = (
    "jobs", "stages", "tasks", "task_failures", "task_run_ms", "task_cpu_ns",
    "gc_ms", "shuffle_read", "shuffle_write", "spill", "bytes_read",
    "bytes_written", "files_read",
)


# File-scan SQL metrics (posted by the Spark driver) -> counter.
_SCAN_METRICS = {"number of files read": "files_read", "size of files read": "bytes_read"}


def _lines(paths):
    for path in paths:
        with open(path) as fh:
            yield from fh


def read_event_log(paths: list[str]) -> tuple[dict, dict]:
    """Parse one application's event log files, in order.

    Returns ``(counters, task_intervals)`` keyed by span id: the counters of
    ``_COUNTERS`` charged to that span's job group, and the (launch, finish)
    times in seconds of its tasks."""
    counters: dict = defaultdict(lambda: dict.fromkeys(_COUNTERS, 0))
    intervals: dict = defaultdict(list)
    stage_span: dict = {}
    exec_span: dict = {}
    scan_accums: dict = {}  # accumulator id -> counter
    pending_files: list = []

    def span_of(props) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None

    def scan_plan(node) -> None:
        for metric in node.get("metrics", ()):
            counter = _SCAN_METRICS.get(metric.get("name"))
            if counter:
                scan_accums[metric["accumulatorId"]] = counter
        for child in node.get("children", ()):
            scan_plan(child)

    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            sid = span_of(ev.get("Properties"))
            if sid is not None:
                counters[sid]["jobs"] += 1
                exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_span.setdefault(int(exec_id), sid)
        elif kind == "SparkListenerStageSubmitted":
            sid = span_of(ev.get("Properties"))
            if sid is not None:
                stage_span[ev["Stage Info"]["Stage ID"]] = sid
                counters[sid]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            c = counters[sid]
            info = ev["Task Info"]
            c["tasks"] += 1
            if info.get("Failed") or info.get("Killed"):
                c["task_failures"] += 1
            intervals[sid].append((info["Launch Time"] / 1000, info["Finish Time"] / 1000))
            m = ev.get("Task Metrics") or {}
            c["task_run_ms"] += m.get("Executor Run Time", 0)
            c["task_cpu_ns"] += m.get("Executor CPU Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            scan_plan(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            pending_files.append((ev["executionId"], ev.get("accumUpdates") or ()))
    for exec_id, updates in pending_files:
        sid = exec_span.get(exec_id)
        if sid is None:
            continue
        for accum_id, value in updates:
            if accum_id in scan_accums:
                counters[sid][scan_accums[accum_id]] += value
    return counters, intervals


# --- per-layer metrics -----------------------------------------------------

# span name -> (count metric, event-log counter) reported beside its
# <name>_s self time; the count includes the span's children.
SPAN_METRICS = {
    "registry.build": ("registry.build_jobs", "jobs"),
    "registry.exec": ("registry.exec_jobs", "jobs"),
    "graph.cc": ("graph.cc_jobs", "jobs"),
    "graph.pagerank": ("graph.pagerank_jobs", "jobs"),
    "graph.bfs": ("graph.bfs_jobs", "jobs"),
    "graph.scc": ("graph.scc_jobs", "jobs"),
    "dedup.labels": ("dedup.labels_jobs", "jobs"),
    "dedup.update": ("dedup.update_jobs", "jobs"),
    "dedup.pairs": ("dedup.pairs_jobs", "jobs"),
    "sources.write": ("sources.bytes_written", "bytes_written"),
    "sources.load": None,
}

TOP_LEVEL = ("registry.build", "registry.exec")


def layer_metrics(spans: list[Span], counters: dict, intervals: dict,
                  passes: int, cores: int) -> dict[str, float]:
    """Per-pass layer metrics of the traced passes."""

    def inclusive(span: Span, key: str) -> float:
        return sum(counters[s][key] for s in descendants(spans, span) if s in counters)

    out: dict[str, float] = {}
    for name, count in SPAN_METRICS.items():
        mine = [s for s in spans if s.name == name]
        out[f"{name}_s"] = sum(self_time(spans, s) for s in mine) / passes
        if count:
            metric, key = count
            out[metric] = sum(inclusive(s, key) for s in mine) / passes

    tops = [s for s in spans if s.name in TOP_LEVEL]
    total = {k: sum(inclusive(s, k) for s in tops) for k in _COUNTERS}
    wall = sum(s.end - s.start for s in tops)
    no_task = 0.0
    for s in tops:
        tasks = [iv for d in descendants(spans, s) for iv in intervals.get(d, ())]
        no_task += (s.end - s.start) - union_length(tasks, s.start, s.end)
    out.update({
        "spark.jobs": total["jobs"] / passes,
        "spark.stages": total["stages"] / passes,
        "spark.tasks": total["tasks"] / passes,
        "spark.task_failures": total["task_failures"] / passes,
        "spark.task_run_s": total["task_run_ms"] / 1e3 / passes,
        "spark.task_cpu_s": total["task_cpu_ns"] / 1e9 / passes,
        "spark.gc_s": total["gc_ms"] / 1e3 / passes,
        "spark.shuffle_read_bytes": total["shuffle_read"] / passes,
        "spark.shuffle_write_bytes": total["shuffle_write"] / passes,
        "spark.spill_bytes": total["spill"] / passes,
        "spark.no_task_s": no_task / passes,
        "spark.core_busy_ratio": total["task_run_ms"] / 1e3 / (wall * cores) if wall else 0.0,
        "sources.files_read": total["files_read"] / passes,
        "sources.bytes_read": total["bytes_read"] / passes,
    })
    return out


def span_records(spans: list[Span]) -> list[dict]:
    return [
        {k: v for k, v in asdict(s).items() if k != "children"} for s in spans
    ]
