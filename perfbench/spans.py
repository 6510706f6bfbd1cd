"""Spans kept in memory, Spark job tagging, and event-log attribution.

A span is (id, name, start, end, parent, op).  While a span is open its id is
the Spark job group of the calling thread, so every job Spark starts inside it
carries the span id in the event log's ``spark.jobGroup.id`` property.  After
the run, :func:`attribute` parses the (uncompressed) event log and sums the
job, stage, task and SQL metrics of every span.

:func:`hook_engine_actions` additionally opens a child span around each Spark
action the engine itself issues (``count``, ``collect``, ``localCheckpoint``,
writer calls ...), named after the engine module that issued it.  It wraps
pyspark's classes in this process only; the engine's code is not touched.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  ``enabled=False`` makes every call a no-op, so the
    untraced run executes the same code path without tagging jobs."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc, self.enabled = sc, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(str(s.id), name, interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(str(self._stack[-1].id), self._stack[-1].name, interruptOnCancel=False)
            else:
                for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                    self.sc.setLocalProperty(k, None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it that its child spans cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.id] = s.dur - covered
        return out

    def dump(self, path: str, t0: float) -> None:
        st = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                                    "self_s": round(st[s.id], 6), **s.attrs}) + "\n")


# ----------------------------------------------------------- engine hooks

_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": ["count", "collect", "toPandas", "localCheckpoint",
                                                "checkpoint", "first", "take", "head", "isEmpty"],
    "pyspark.sql.readwriter:DataFrameWriter": ["save", "parquet", "json", "csv", "text", "orc",
                                               "saveAsTable", "insertInto"],
}


def _engine_layer(engine_dir: str) -> tuple[str, bool] | None:
    """(layer, via_materialize) of the innermost engine frame on the stack.

    A call through ``functions/materialize.py`` is charged to the module that
    asked for the materialization, and flagged."""
    f = sys._getframe(2)
    via_mat = False
    while f is not None:
        fn = f.f_code.co_filename
        if fn.startswith(engine_dir):
            mod = os.path.splitext(os.path.basename(fn))[0]
            if mod == "materialize":
                via_mat = True
            else:
                return mod, via_mat
        f = f.f_back
    return ("materialize", True) if via_mat else None


def hook_engine_actions(tracer: Tracer, engine_dir: str) -> None:
    """Wrap pyspark's action methods so that an action called from engine
    code runs inside a span named ``<engine module>.<method>``."""
    import importlib

    engine_dir = os.path.join(os.path.abspath(engine_dir), "")
    busy = []  # non-empty while inside a hooked action (nested calls are not re-spanned)

    def wrap(cls, meth):
        orig = getattr(cls, meth)

        @functools.wraps(orig)
        def hooked(*a, **kw):
            where = None if busy else _engine_layer(engine_dir)
            if where is None:
                return orig(*a, **kw)
            layer, via_mat = where
            busy.append(1)
            try:
                with tracer.span(f"{layer}.{meth}", materialize=via_mat):
                    return orig(*a, **kw)
            finally:
                busy.pop()

        setattr(cls, meth, hooked)

    for target, meths in _ACTIONS.items():
        mod, cls = target.split(":")
        klass = getattr(importlib.import_module(mod), cls)
        for m in meths:
            wrap(klass, m)


# -------------------------------------------------------- event-log parse


def _walk_plan(info: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name) over a sparkPlanInfo tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for c in info.get("children", []):
        _walk_plan(c, out)


def _zero() -> dict:
    return {k: 0.0 for k in (
        "jobs", "stages", "tasks", "shuffle_stages", "shuffle_stage_tasks", "shuffle_write_bytes",
        "shuffle_read_bytes", "fetch_wait_s", "spill_bytes", "gc_s", "cpu_s", "input_records",
        "output_records", "output_bytes", "python_run_s", "python_bytes", "scan_rows_parquet",
        "files_read", "files_written")}


def attribute(event_dir: str) -> dict[int, dict]:
    """Parse the event log under ``event_dir``; return per-span-id sums (plus
    the span's job intervals under ``"intervals"``, in seconds)."""
    files = sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True))
    files = [f for f in files if os.path.isfile(f) and not os.path.basename(f).startswith(".")
             and "appstatus" not in os.path.basename(f)]
    acc_names: dict[int, tuple[str, str]] = {}
    job_span: dict[int, int] = {}
    job_start: dict[int, float] = {}
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    driver_acc: list[tuple[int, int, int]] = []  # (execution id, acc id, value)
    task_acc: list[tuple[int, int, float]] = []  # (span id, acc id, update)
    per: dict[int, dict] = {}

    def bucket(sid: int) -> dict:
        if sid not in per:
            per[sid] = {**_zero(), "intervals": []}
        return per[sid]

    for fn in files:
        with open(fn) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None or not g.isdigit():
                        continue
                    sid = int(g)
                    job_span[e["Job ID"]] = sid
                    job_start[e["Job ID"]] = e["Submission Time"]
                    for st in e["Stage Infos"]:
                        stage_span[st["Stage ID"]] = sid
                    if props.get("spark.sql.execution.id", "").isdigit():
                        exec_span.setdefault(int(props["spark.sql.execution.id"]), sid)
                    bucket(sid)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    sid = job_span.get(e["Job ID"])
                    if sid is not None:
                        bucket(sid)["intervals"].append((job_start[e["Job ID"]] / 1000, e["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    sid = stage_span.get(info["Stage ID"])
                    if sid is None or "Completion Time" not in info:
                        continue
                    b = bucket(sid)
                    b["stages"] += 1
                    for a in info.get("Accumulables", []):
                        if a.get("Name") == "internal.metrics.shuffle.read.recordsRead" and float(a.get("Value", 0)) > 0:
                            b["shuffle_stages"] += 1
                            b["shuffle_stage_tasks"] += info["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    b = bucket(sid)
                    b["tasks"] += 1
                    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    b["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    b["fetch_wait_s"] += sr["Fetch Wait Time"] / 1000
                    b["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                    b["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    b["gc_s"] += m["JVM GC Time"] / 1000
                    b["cpu_s"] += m["Executor CPU Time"] / 1e9
                    b["input_records"] += m["Input Metrics"]["Records Read"]
                    b["output_records"] += m["Output Metrics"]["Records Written"]
                    b["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        if "Update" in a and not str(a.get("Name", "")).startswith("internal."):
                            task_acc.append((sid, a["ID"], a["Update"]))
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(e.get("sparkPlanInfo") or {}, acc_names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, v in e["accumUpdates"]:
                        driver_acc.append((e["executionId"], acc_id, v))

    for sid, acc_id, upd in task_acc:
        node, name = acc_names.get(acc_id, ("", ""))
        b = per[sid]
        try:
            v = float(upd)
        except (TypeError, ValueError):
            continue
        if node.startswith("Scan parquet") and name == "number of output rows":
            b["scan_rows_parquet"] += v
        elif name == "time to run Python workers":
            b["python_run_s"] += v / 1000
        elif name in ("data sent to Python workers", "data returned from Python workers"):
            b["python_bytes"] += v
    for ex, acc_id, v in driver_acc:
        sid = exec_span.get(ex)
        node, name = acc_names.get(acc_id, ("", ""))
        if sid is None:
            continue
        if name == "number of files read":
            bucket(sid)["files_read"] += v
        elif name == "number of written files":
            bucket(sid)["files_written"] += v
    return per


def rollup(tracer: Tracer, per_span: dict[int, dict], select) -> dict:
    """Sum event-log metrics over every span for which ``select(span)`` is
    true, counting each span's own jobs (not its descendants')."""
    tot = _zero()
    for s in tracer.spans:
        if select(s) and s.id in per_span:
            for k in tot:
                tot[k] += per_span[s.id][k]
    return tot


def busy_seconds(per_span: dict, ids: set[int]) -> float:
    """Wall time during which at least one job of the given spans ran."""
    iv = sorted(i for sid in ids if sid in per_span for i in per_span[sid]["intervals"])
    busy, end = 0.0, float("-inf")
    for lo, hi in iv:
        if hi > end:
            busy += hi - max(lo, end)
            end = hi
    return busy


def descendants(tracer: Tracer, root_ids: set[int]) -> set[int]:
    out = set(root_ids)
    for s in tracer.spans:  # spans are appended in start order, parents first
        if s.parent in out:
            out.add(s.id)
    return out
