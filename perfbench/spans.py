"""Spans around the engine's public functions, joined with Spark's own
per-task and per-SQL-node counters from the event log.

A span records name, parent, start and end of one call into a traced
module. Each span sets its own Spark job group in the calling thread, so
every job the call launches can be attributed to it from the event log;
jobs launched outside any span fall to the operation span open at their
submission time. Spans are held in memory and joined with the event log
once the session has stopped.

A call that returns a DataFrame is lazy: its span covers the call plus a
noop-sink materialisation of the persisted result, after its DataFrame
arguments have been persisted and materialised outside the span, so the
upstream layers are not counted twice.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "web_template_forensics_spark"
# the layers the benchmark traces, as module paths inside PACKAGE
TRACED_MODULES = [
    "session",
    "plans.pipeline",
    "operators.spatial_join",
    "operators.tiles",
    "sources.catalog",
    "operators.dedup",
    "operators.similarity_search",
    "operators.cascade",
]
# span names that differ from "<module leaf>.<function>"
SPAN_NAMES = {"plans.pipeline.pages_to_geo_fused": "pipeline.geo_stage"}
GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    kind: str = "layer"  # "op" for a benchmark operation, else "layer"
    rows: int | None = None
    error: str | None = None
    attrs: dict = field(default_factory=dict)


def span_name(module: str, func: str) -> str:
    full = f"{module}.{func}"
    return SPAN_NAMES.get(full, f"{module.rsplit('.', 1)[-1]}.{func}")


class Tracer:
    """In-memory span recorder. ``enabled`` switches the function wrappers
    between tracing and plain pass-through, so one session can run traced
    and untraced rounds of the same operations."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.spark = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_stack: list[Span] = []
        self._persisted: list = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, kind: str = "layer"):
        stack = self._stack()
        # a thread the traced call started has no spans of its own yet:
        # its parent is the innermost span open in the operation's thread
        parent = stack[-1] if stack else (self._op_stack[-1] if self._op_stack else None)
        sp = Span(next(self._ids), name, parent.sid if parent else None, time.time(), kind=kind)
        sc = self.spark.sparkContext if self.spark is not None else None
        prev_group = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc:
            sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sp.sid}")
        stack.append(sp)
        if kind == "op":
            self._op_stack = stack
        try:
            yield sp
        except BaseException as e:
            sp.error = f"{type(e).__name__}: {str(e)[:200]}"
            raise
        finally:
            sp.end = time.time()
            stack.pop()
            if kind == "op":
                self._op_stack = []
            if sc:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(sp)

    def persist(self, df):
        """Persist and materialise ``df`` once (idempotent per object)."""
        if not df.is_cached:
            df.persist()
            df.write.format("noop").mode("overwrite").save()
            with self._lock:
                self._persisted.append(df)
        return df

    def release(self) -> None:
        """Unpersist every frame the wrappers persisted."""
        with self._lock:
            frames, self._persisted = self._persisted, []
        for df in frames:
            df.unpersist()

    def wrap(self, name: str, fn):
        from pyspark.sql import DataFrame

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or self.spark is None:
                return fn(*args, **kwargs)
            frames = [a for a in itertools.chain(args, kwargs.values()) if isinstance(a, DataFrame)]
            for a in frames:
                self.persist(a)
            n_in = sum(a.count() for a in frames)  # cached inputs, outside the span
            with self.span(name) as sp:
                sp.attrs["input_rows"] = n_in
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    self.persist(out)
            if isinstance(out, DataFrame):
                sp.rows = out.count()  # on the cached result, outside the span
            return out

        traced.__wrapped_by_perfbench__ = True
        return traced


def _touches_spark(fn) -> bool:
    sig = str(inspect.signature(fn))
    return "DataFrame" in sig or "SparkSession" in sig


def instrument(tracer: Tracer) -> None:
    """Replace every public Spark-facing function of the traced modules
    (one that takes or returns a DataFrame or SparkSession) -- and every
    reference to it held by an already imported module of the package --
    with a tracing wrapper."""
    wrappers: dict[int, object] = {}  # id of an original -> its wrapper
    for mod_name in TRACED_MODULES:
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        for attr, obj in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(obj)
                or obj.__module__ != mod.__name__
                or hasattr(obj, "evalType")  # a pandas UDF: runs on the executors
                or not _touches_spark(obj)
                or getattr(obj, "__wrapped_by_perfbench__", False)
            ):
                continue
            wrappers[id(obj)] = tracer.wrap(span_name(mod_name, attr), obj)
    for mod in list(sys.modules.values()):
        mod_name = getattr(mod, "__name__", "") or ""
        if not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            if id(obj) in wrappers and inspect.isfunction(obj):
                setattr(mod, attr, wrappers[id(obj)])


# ---------------------------------------------------------------------------
# event log -> per-span counters
# ---------------------------------------------------------------------------

_TASK_FIELDS = {
    "executor_run_s": lambda m: m["Executor Run Time"] / 1e3,
    "executor_cpu_s": lambda m: m["Executor CPU Time"] / 1e9,
    "gc_s": lambda m: m["JVM GC Time"] / 1e3,
    "shuffle_bytes": lambda m: m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
    "spill_bytes": lambda m: m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"],
    "result_bytes": lambda m: m["Result Size"],
    "bytes_written": lambda m: m["Output Metrics"]["Bytes Written"],
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0, "average": 1.0}


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for f in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, f)
        if os.path.isfile(path) and not f.startswith("."):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class SpanCounters:
    jobs: int = 0
    failed_tasks: int = 0
    tasks: list = field(default_factory=list)  # executor run seconds per task
    totals: dict = field(default_factory=lambda: defaultdict(float))
    # (node name, metric name) -> summed value, in s / bytes / rows
    sql: dict = field(default_factory=lambda: defaultdict(float))
    # the same, for only the top-most node of each name in plan preorder
    first_node: dict = field(default_factory=lambda: defaultdict(float))


def span_counters(events: list[dict], spans: list[Span]) -> dict[int, SpanCounters]:
    """Attribute every job, task and SQL-node metric in the event log to
    the span that launched it."""
    by_id = {s.sid: s for s in spans}
    ops = sorted((s for s in spans if s.kind == "op"), key=lambda s: s.start)
    acc_meta: dict[int, tuple[str, str, str]] = {}
    first_accs: dict[int, set[int]] = defaultdict(set)  # exec id -> acc ids
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    out: dict[int, SpanCounters] = defaultdict(SpanCounters)

    def owner(props: dict, t_ms: float) -> int | None:
        g = props.get("spark.jobGroup.id") or ""
        if g.startswith(GROUP_PREFIX) and int(g[len(GROUP_PREFIX):]) in by_id:
            return int(g[len(GROUP_PREFIX):])
        t = t_ms / 1e3
        for s in ops:
            if s.start <= t <= s.end:
                return s.sid
        return None

    def walk(node: dict, exec_id: int, seen: set[str]) -> None:
        first = node["nodeName"] not in seen
        seen.add(node["nodeName"])
        for m in node["metrics"]:
            acc_meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
            if first:
                first_accs[exec_id].add(m["accumulatorId"])
        for ch in node["children"]:
            walk(ch, exec_id, seen)

    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            first_accs[e["executionId"]] = set()
            walk(e["sparkPlanInfo"], e["executionId"], set())
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sid = owner(props, e["Submission Time"])
            if sid is None:
                continue
            out[sid].jobs += 1
            for st in e["Stage Infos"]:
                stage_span.setdefault(st["Stage ID"], sid)
            if "spark.sql.execution.id" in props:
                exec_span.setdefault(int(props["spark.sql.execution.id"]), sid)
    exec_of_acc = {a: x for x, accs in first_accs.items() for a in accs}
    for e in events:
        # write commands report files and bytes written outside their tasks
        if e["Event"].endswith("SparkListenerDriverAccumUpdates") and e["executionId"] in exec_span:
            c = out[exec_span[e["executionId"]]]
            for acc_id, value in e["accumUpdates"]:
                meta = acc_meta.get(acc_id)
                if meta is not None:
                    v = float(value) * _UNIT_SCALE.get(meta[2], 1.0)
                    c.sql[(meta[0], meta[1])] += v
                    if acc_id in exec_of_acc:
                        c.first_node[(meta[0], meta[1])] += v
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_span:
            continue
        c = out[stage_span[e["Stage ID"]]]
        info, metrics = e["Task Info"], e.get("Task Metrics")
        if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
            c.failed_tasks += 1
        if not metrics:
            continue
        for k, f in _TASK_FIELDS.items():
            c.totals[k] += f(metrics)
        c.tasks.append(metrics["Executor Run Time"] / 1e3)
        for acc in info.get("Accumulables", []):
            meta = acc_meta.get(acc["ID"])
            if meta is None or acc.get("Metadata") != "sql":
                continue
            v = float(acc.get("Update") or 0) * _UNIT_SCALE.get(meta[2], 1.0)
            c.sql[(meta[0], meta[1])] += v
            if acc["ID"] in exec_of_acc:
                c.first_node[(meta[0], meta[1])] += v
    return out


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the union of its children's intervals."""
    iv = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def span_table(spans: list[Span], counters: dict[int, SpanCounters], slots: int) -> list[dict]:
    """One JSON-ready row per span: wall, self time and its own counters."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    rows = []
    for s in sorted(spans, key=lambda s: s.start):
        c = counters.get(s.sid, SpanCounters())
        self_s = self_time(s, kids[s.sid])
        run = sum(c.tasks)
        mid = statistics.median(c.tasks) if c.tasks else 0.0
        rows.append(
            {
                "id": s.sid,
                "name": s.name,
                "kind": s.kind,
                "parent": s.parent,
                "start": s.start,
                "wall_s": s.end - s.start,
                "self_s": self_s,
                "rows": s.rows,
                "error": s.error,
                "jobs": c.jobs,
                "failed_tasks": c.failed_tasks,
                "tasks": len(c.tasks),
                "slot_idle_s": max(0.0, self_s * slots - run),
                "task_skew": max(c.tasks) / mid if mid > 0 else 1.0,
                **{k: c.totals.get(k, 0.0) for k in _TASK_FIELDS},
                "sql": {f"{n}|{m}": v for (n, m), v in sorted(c.sql.items())},
                "first_node": {f"{n}|{m}": v for (n, m), v in sorted(c.first_node.items())},
                **s.attrs,
            }
        )
    return rows
