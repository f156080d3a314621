"""In-memory span recorder for the traced run.

Spans are recorded around calls into each layer's public functions by
wrapping them from the outside (``install``); nothing is added inside
the program. A span is ``(name, start, end, parent, op, thread)``.
Spans of one client operation share the op id the load generator sends
in a request header; only requests that carry one are recorded, so the
same server answers traced and untraced requests side by side and the
difference in their round trips is the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import os
import types
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

OP_HEADER = "X-Perfbench-Op"
KIND_HEADER = "X-Perfbench-Kind"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into the span list, -1 for a root
    op: str
    thread: int


class Recorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.op_kinds: dict[str, str] = {}
        self.counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._lock = threading.Lock()
        self._tl = threading.local()

    # -- operation scope ---------------------------------------------------

    def current_op(self) -> str | None:
        return getattr(self._tl, "op", None)

    def begin_op(self, op: str, kind: str) -> None:
        self._tl.op = op
        self._tl.stack = []
        with self._lock:
            self.op_kinds.setdefault(op, kind)

    def end_op(self) -> None:
        self._tl.op = None
        self._tl.stack = []

    def count(self, name: str, value: float = 1.0) -> None:
        op = self.current_op()
        if op is not None:
            with self._lock:
                self.counters[op][name] += value

    # -- spans ---------------------------------------------------------------

    def enter(self, name: str) -> int | None:
        """Open a span; returns its index, or None when not recording
        (no traced op on this thread, or the same layer is already open
        on the stack — a re-entrant call belongs to the outer span)."""
        op = self.current_op()
        if op is None:
            return None
        stack = self._tl.stack
        if any(self.spans[i].name == name for i in stack):
            return None
        span = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else -1,
                    op, threading.get_ident())
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def exit(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        stack = self._tl.stack
        if stack and stack[-1] == idx:
            stack.pop()
        elif idx in stack:
            stack.remove(idx)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (overlapping children are merged first)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent >= 0:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
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
        out.append((s.end - s.start) - covered)
    return out


# -- wrapping ------------------------------------------------------------------


def _timed(rec: Recorder, name: str, fn, after=None, before=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        idx = rec.enter(name)
        state = before(args, kwargs) if (before is not None and idx is not None) else None
        try:
            out = fn(*args, **kwargs)
        finally:
            rec.exit(idx)
        if after is not None and idx is not None:
            if before is not None:
                after(args, kwargs, out, state)
            else:
                after(args, kwargs, out)
        return out
    return wrapper


def wrap_method(rec: Recorder, cls, attr: str, name: str, after=None, before=None) -> None:
    raw = cls.__dict__[attr]
    if isinstance(raw, classmethod):
        setattr(cls, attr, classmethod(_timed(rec, name, raw.__func__, after, before)))
    else:
        setattr(cls, attr, _timed(rec, name, raw, after, before))


def wrap_function(rec: Recorder, module, attr: str, name: str, package: str) -> None:
    """Replace a module-level function everywhere the program's modules
    hold a reference to it (``from x import f`` copies the binding)."""
    orig = getattr(module, attr)
    wrapped = _timed(rec, name, orig)
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        if getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapped)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def install(rec: Recorder, package: str = "snowflake_emulator_spark") -> None:
    """Wrap the public entry points of every layer the benchmark reports."""
    from pyspark import SparkContext

    from snowflake_emulator_spark import catalog, engine, executor, result
    from snowflake_emulator_spark.operators import copy_into, merge_into
    from snowflake_emulator_spark.plans import bindings, classifier, translator
    from snowflake_emulator_spark.server import app
    from snowflake_emulator_spark.sources import stage

    # server: one traced op per request carrying the op header
    orig_route = app.SnowflakeServer._route

    @functools.wraps(orig_route)
    def route(self, h, method):
        op = h.headers.get(OP_HEADER)
        if op is None:
            return orig_route(self, h, method)
        rec.begin_op(op, h.headers.get(KIND_HEADER, ""))
        idx = rec.enter("server.route")
        try:
            return orig_route(self, h, method)
        finally:
            rec.exit(idx)
            rec.end_op()

    app.SnowflakeServer._route = route

    orig_group = SparkContext.setJobGroup

    @functools.wraps(orig_group)
    def set_job_group(self, groupId, description, interruptOnCancel=False):
        if groupId:
            rec.count("spark.group:" + groupId)
        return orig_group(self, groupId, description, interruptOnCancel)

    SparkContext.setJobGroup = set_job_group

    def rows_changed(_a, _k, res):
        rec.count("rows_changed", (res.rows_inserted or 0) + (res.rows_updated or 0)
                  + (res.rows_deleted or 0))

    wrap_method(rec, engine.Engine, "execute", "engine.execute", after=rows_changed)

    wrap_function(rec, classifier, "classify", "plans.classify", package)
    wrap_function(rec, bindings, "apply_bindings", "plans.bind", package)
    wrap_method(rec, translator.Translator, "translate", "plans.translate")

    wrap_method(rec, executor.Executor, "query_df", "executor.query_df")
    wrap_method(rec, executor.Executor, "sync_namespace_views", "executor.sync_views")

    # result.collect: rows from Spark to the driver
    wrap_method(rec, result.Result, "from_dataframe", "result.collect")

    # result.serialize: the gosnowflake rowset (every value to a string)
    # and the response's json.dumps; a nested call folds into the outer span
    def rows_out(_a, _k, out):
        rec.count("serialized_rows", len(out))

    wrap_method(rec, result.Result, "rowset_strings", "result.serialize", after=rows_out)
    app.json = types.SimpleNamespace(dumps=_timed(rec, "result.serialize", json.dumps),
                                     loads=json.loads, JSONDecodeError=json.JSONDecodeError)

    def version_bytes(args, _k):
        tm = args[1]
        return tm.version, dir_bytes(tm.version_path())

    def new_bytes(args, _k, _out, state):
        tm = args[1]
        v0, b0 = state
        now = dir_bytes(tm.version_path())
        rec.count("bytes_written", now if tm.version != v0 else now - b0)

    for attr in ("write_table", "append_files_fast"):
        wrap_method(rec, catalog.Catalog, attr, "catalog.write",
                    before=version_bytes, after=new_bytes)
    wrap_method(rec, catalog.Catalog, "register_view", "catalog.register_view")

    def copy_files(_a, _k, res):
        for row in res.rows:
            if len(row) > 1 and row[1] in ("LOADED", "LOAD_SKIPPED"):
                rec.count("copy.files_named")
                if row[1] == "LOADED":
                    rec.count("copy.files_loaded")

    wrap_method(rec, copy_into.CopyProcessor, "execute", "copy_into.execute", after=copy_files)
    wrap_method(rec, merge_into.MergeProcessor, "execute", "merge_into.execute")
    wrap_method(rec, stage.StageManager, "put_file", "stage.put")


def spark_work(sc, groups: list[str]) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under the given job groups."""
    tracker = sc.statusTracker()
    jobs = tasks = 0
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
    return jobs, tasks


def summarize(rec: Recorder, sc=None) -> dict:
    """Per-op and per-layer aggregates of the recorded spans, for the
    load generator to join with its client-side round trips."""
    selfs = self_times(rec.spans)
    layer_ms: dict[str, float] = defaultdict(float)
    layer_self_ms: dict[str, float] = defaultdict(float)
    layer_calls: dict[str, int] = defaultdict(int)
    engine_self = 0.0
    per_op: dict[str, dict] = defaultdict(lambda: {"engine_ms": 0.0, "route_ms": 0.0,
                                                   "collect_ms": 0.0, "query_df": 0})
    for s, own in zip(rec.spans, selfs):
        dur = (s.end - s.start) * 1000.0
        layer_ms[s.name] += dur
        layer_self_ms[s.name] += own * 1000.0
        layer_calls[s.name] += 1
        op = per_op[s.op]
        if s.name == "engine.execute":
            op["engine_ms"] += dur
            engine_self += own * 1000.0
        elif s.name == "server.route":
            op["route_ms"] += dur
        elif s.name == "executor.query_df":
            op["query_df"] += 1
        elif s.name == "result.collect":
            op["collect_ms"] += dur
    totals: dict[str, float] = defaultdict(float)
    groups_by_op: dict[str, list[str]] = defaultdict(list)
    for op, ctrs in rec.counters.items():
        for k, v in ctrs.items():
            if k.startswith("spark.group:"):
                groups_by_op[op].append(k.split(":", 1)[1])
            else:
                totals[k] += v
    for op, kind in rec.op_kinds.items():
        per_op[op]["kind"] = kind
        if sc is not None:
            per_op[op]["jobs"], per_op[op]["tasks"] = spark_work(sc, groups_by_op.get(op, []))
    return {
        "per_op": dict(per_op),
        "layer_ms": dict(layer_ms),
        "layer_self_ms": dict(layer_self_ms),
        "layer_calls": dict(layer_calls),
        "engine_self_ms": engine_self,
        "totals": dict(totals),
    }
