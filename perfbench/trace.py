"""Span recorder for the traced run, the layer wrappers, and the Spark
event-log reader.

Tracing is off unless ``install()`` is called, and then only records while
``ACTIVE`` is true. Wrappers are installed on the library's public
functions *before* the query registry is imported, so the plans modules
bind the wrapped names. A wrapper keeps the wrapped function's
``__module__``/``__qualname__``: cloudpickle then ships it by reference, so
Python workers import the original, unwrapped function.

Spans live in memory and are written out when the run ends. Each span has
a name, a layer, start/end (``perf_counter`` seconds), its parent span and
the operation it belongs to. Self time is a span's duration minus the
time its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

ACTIVE = False

# Operator modules whose public functions get wrapped.
OPERATOR_MODULES = (
    "dedup", "similarity", "graph", "joins", "merge", "multimodal", "bpe", "mv",
)
_PKG = "nyc_taxi_etl_pyspark_spark"
_EAGER_METHODS = ("count", "collect", "first", "take", "head", "toPandas")
_CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint")


class Span:
    __slots__ = ("sid", "name", "layer", "op", "parent", "start", "end")

    def __init__(self, sid, name, layer, op, parent, start):
        self.sid, self.name, self.layer = sid, name, layer
        self.op, self.parent, self.start, self.end = op, parent, start, start

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


_spans: list[Span] = []
_lock = threading.Lock()
_local = threading.local()
_next_id = 0
_op: Span | None = None  # the open operation span (one client, closed loop)


def _new_span(name: str, layer: str) -> Span:
    global _next_id
    stack = _stack()
    parent = stack[-1].sid if stack else (_op.sid if _op else None)
    with _lock:
        _next_id += 1
        sid = _next_id
    return Span(sid, name, layer, _op.op if _op else None, parent, time.perf_counter())


def _stack() -> list[Span]:
    st = getattr(_local, "stack", None)
    if st is None:
        st = _local.stack = []
    return st


def _finish(span: Span) -> None:
    span.end = time.perf_counter()
    with _lock:
        _spans.append(span)


@contextmanager
def span(name: str, layer: str):
    """Record a span around a block (no-op while tracing is inactive)."""
    if not ACTIVE:
        yield
        return
    s = _new_span(name, layer)
    st = _stack()
    st.append(s)
    try:
        yield
    finally:
        st.pop()
        _finish(s)


def begin_op(op_id: str, name: str) -> None:
    global _op
    if ACTIVE:
        _op = _new_span(name, "op")
        _op.op = op_id


def end_op() -> None:
    global _op
    if _op is not None:
        _finish(_op)
    _op = None


def call_span(fn, name: str, layer: str, args, kwargs):
    st = _stack()
    top = st[-1] if st else None
    if layer in ("eager", "checkpoint") and top is not None and (
        top.layer in ("eager", "checkpoint") or top.name == "action"
    ):
        # nested inside another eager call, or the benchmark's own action
        return fn(*args, **kwargs)
    if layer == "eager" and top is None and _op is None:
        return fn(*args, **kwargs)
    s = _new_span(name, layer)
    st.append(s)
    try:
        return fn(*args, **kwargs)
    finally:
        st.pop()
        _finish(s)


def _wrap(fn, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        from perfbench import trace as _t

        if not _t.ACTIVE:
            return fn(*args, **kwargs)
        return _t.call_span(fn, name, layer, args, kwargs)

    return traced


def _public_functions(mod) -> list[str]:
    return [
        n
        for n, o in vars(mod).items()
        if not n.startswith("_")
        and inspect.isfunction(o)
        and o.__module__ == mod.__name__
    ]


def install() -> None:
    """Wrap every traced layer. Must run before the registry is imported."""
    replaced: dict[int, object] = {}
    targets: list[tuple[str, str]] = [
        (f"{_PKG}.operators.{m}", f"operators.{m}") for m in OPERATOR_MODULES
    ]
    targets += [
        (f"{_PKG}.sources.txsql", "txsql"),
        (f"{_PKG}.etl", "etl"),
        (f"{_PKG}.sources.tables", "tables"),
        (f"{_PKG}.session", "session"),
    ]
    for modname, layer in targets:
        mod = importlib.import_module(modname)
        for n in _public_functions(mod):
            fn = getattr(mod, n)
            w = _wrap(fn, f"{layer}.{n}", layer)
            replaced[id(fn)] = w
            setattr(mod, n, w)
    # re-bind names other already-imported library modules took by
    # ``from x import f`` (the plans package is not imported yet)
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith(_PKG) or mod is None:
            continue
        for n, o in list(vars(mod).items()):
            w = replaced.get(id(o))
            if w is not None and w is not o:
                setattr(mod, n, w)
    # run_etl calls the sources.io writer through the etl module's name
    from nyc_taxi_etl_pyspark_spark import etl

    etl.write_parquet_partitioned = _wrap(
        etl.write_parquet_partitioned, "etl.write_parquet_partitioned", "etl"
    )
    from nyc_taxi_etl_pyspark_spark.sources.txtable import TransactionalTable

    for n, o in list(vars(TransactionalTable).items()):
        if not n.startswith("_") and inspect.isfunction(o):
            setattr(TransactionalTable, n, _wrap(o, f"txtable.{n}", "txtable"))
    from pyspark.sql.classic.dataframe import DataFrame

    for n in _EAGER_METHODS:
        setattr(DataFrame, n, _wrap(getattr(DataFrame, n), f"eager.{n}", "eager"))
    for n in _CHECKPOINT_METHODS:
        setattr(
            DataFrame, n, _wrap(getattr(DataFrame, n), f"checkpoint.{n}", "checkpoint")
        )


def spans() -> list[Span]:
    with _lock:
        return list(_spans)


def self_times(sp: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the time its children cover."""
    child: dict[int, float] = defaultdict(float)
    for s in sp:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return {s.sid: max(0.0, (s.end - s.start) - child[s.sid]) for s in sp}


# ---------------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Job submission times and completed stages (times and metrics)
    from an uncompressed Spark event log directory."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                if '"Event"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit_ms": ev.get("Submission Time")}
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {
                        a.get("Name"): a.get("Value")
                        for a in info.get("Accumulables", [])
                    }
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    stages[key] = {
                        "submit_ms": info.get("Submission Time"),
                        "end_ms": info.get("Completion Time"),
                        "tasks": info.get("Number of Tasks", 0),
                        "run_ms": _num(acc.get("internal.metrics.executorRunTime")),
                        "cpu_ns": _num(acc.get("internal.metrics.executorCpuTime")),
                        "gc_ms": _num(acc.get("internal.metrics.jvmGCTime")),
                        "shuffle_write_bytes": _num(
                            acc.get("internal.metrics.shuffle.write.bytesWritten")
                        ),
                    }
    return list(jobs.values()), stages


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def spark_metrics_for_window(
    jobs: list[dict], stages: dict, start_ms: float, end_ms: float
) -> dict[str, float]:
    """Spark-layer totals for the jobs submitted inside one operation's
    wall-clock window, and the operation time no stage was running."""
    out = {
        "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
        "spark.stage_run_s": 0.0, "spark.stage_cpu_s": 0.0, "spark.gc_s": 0.0,
        "spark.shuffle_write_bytes": 0.0,
    }
    out["spark.jobs"] = sum(
        1 for j in jobs if j["submit_ms"] is not None and start_ms <= j["submit_ms"] <= end_ms
    )
    intervals = []
    for st in stages.values():
        t = st["submit_ms"]
        if t is None or not (start_ms <= t <= end_ms):
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st["tasks"]
        out["spark.stage_run_s"] += st["run_ms"] / 1e3
        out["spark.stage_cpu_s"] += st["cpu_ns"] / 1e9
        out["spark.gc_s"] += st["gc_ms"] / 1e3
        out["spark.shuffle_write_bytes"] += st["shuffle_write_bytes"]
        if st["end_ms"]:
            intervals.append((t, min(st["end_ms"], end_ms)))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    out["spark.driver_gap_s"] = max(0.0, (end_ms - start_ms) - covered) / 1e3
    return out
