"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded only in this file, around calls into each layer's
public functions: the benchmark wraps those functions in the engine's
loaded modules for the life of the traced process.  Every span sets the
``perfbench.span`` local property while it is open, so the Spark event
log ties each job back to the innermost span that launched it.  Jobs
submitted from threads that do not inherit local properties (the
engine's plain ``ThreadPoolExecutor`` in ``streaming.jobs._par_actions``)
carry no span and are counted as unattributed.

A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import importlib
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "stock_data_warehouse_spark"
SPAN_PROP = "perfbench.span"

#: layer -> (module, public functions wrapped by a span of that layer).
#: ``None`` selects the sink writers by name prefix.
LAYER_FUNCS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "tables": (f"{PACKAGE}.sources.tables", ("load_table",)),
    "checkpoint": (f"{PACKAGE}.operators.checkpoint", ("ckpt", "ckpt_fused")),
    "graph": (f"{PACKAGE}.operators.graph",
              ("connected_components", "connected_components_contracting")),
    "kmeans": (f"{PACKAGE}.operators.kmeans",
               ("kmeans_fit_assign", "kmeans_fit_assign_grouped")),
    "sinks": (f"{PACKAGE}.sources.sinks", None),
}
SINK_PREFIXES = ("publish_", "compact_", "vacuum_", "write_")

#: Every layer a span can belong to; ``op`` is the benchmark's own time
#: inside an operation, ``build`` the query-function call and ``action``
#: the ``noop`` write.
LAYERS = ("op", "build", "action", *LAYER_FUNCS)


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    op: int | None
    t0: float
    t1: float


class Tracer:
    """Records spans in memory; the caller reads ``spans`` at the end."""

    def __init__(self, sc):
        self._sc = sc
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_top: int | None = None
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.op: int | None = None

    @contextmanager
    def span(self, layer: str):
        a = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        on_main = threading.get_ident() == self._main
        # A span opened on another thread (a foreachBatch callback, an
        # overlapped write) was caused by whatever the main thread is
        # running at that moment.
        parent = stack[-1] if stack else (None if on_main
                                          else self._main_top)
        sid = next(self._ids)
        prev = self._sc.getLocalProperty(SPAN_PROP)
        self._sc.setLocalProperty(SPAN_PROP, str(sid))
        stack.append(sid)
        if on_main:
            self._main_top = sid
        op = self.op
        t0 = time.time()
        b = time.perf_counter()
        try:
            yield
        finally:
            c = time.perf_counter()
            t1 = time.time()
            stack.pop()
            if on_main:
                self._main_top = stack[-1] if stack else None
            self._sc.setLocalProperty(SPAN_PROP, prev)
            with self._lock:
                self.spans.append(Span(sid, parent, layer, op, t0, t1))
                self.overhead_s += (b - a) + (time.perf_counter() - c)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)
        return traced

    def instrument(self) -> None:
        """Wrap every layer function wherever a loaded engine module
        holds a reference to it (module-level ``from ... import`` copies
        included; call-time imports pick up the wrapped attribute)."""
        layer_mods = {layer: importlib.import_module(modname)
                      for layer, (modname, _) in LAYER_FUNCS.items()}
        mods = [m for n, m in list(sys.modules.items())
                if n == PACKAGE or n.startswith(PACKAGE + ".")]
        for layer, (modname, names) in LAYER_FUNCS.items():
            mod = layer_mods[layer]
            if names is None:
                names = tuple(n for n, v in vars(mod).items()
                              if n.startswith(SINK_PREFIXES)
                              and getattr(v, "__module__", None) == modname)
            for name in names:
                orig = getattr(mod, name)
                wrapped = self._wrap(layer, orig)
                for m in mods:
                    for attr, val in list(vars(m).items()):
                        if val is orig:
                            setattr(m, attr, wrapped)


# --------------------------------------------------------------------
# Spark event log


def read_event_log(log_dir: str) -> dict:
    """Jobs, stage submissions and tasks from an uncompressed event log.

    Times are epoch seconds."""
    jobs: dict[int, dict] = {}
    submits: list[dict] = []
    tasks: list[dict] = []
    # Spark 4 writes a rolling log: a directory of ``events_<n>_<app>``
    # files (plus an empty ``appstatus`` marker).
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                             recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"] / 1e3,
                        "t1": None,
                        "span": _span_id(props),
                        "stages": set(ev.get("Stage IDs") or ()),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    t = info.get("Submission Time")
                    submits.append({"stage": info["Stage ID"],
                                    "t0": (t or 0) / 1e3})
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    tasks.append({
                        "t0": info.get("Launch Time", 0) / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "sr_bytes": (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)),
                        "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill": (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0)),
                        "failed": reason != "Success",
                    })
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return {"jobs": jobs, "submits": submits, "tasks": tasks}


def _span_id(props: dict) -> int | None:
    v = props.get(SPAN_PROP)
    return int(v) if v else None


# --------------------------------------------------------------------
# Interval arithmetic and per-operation rows


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _within(t: float, windows) -> int | None:
    for i, (a, b) in enumerate(windows):
        if a <= t <= b:
            return i
    return None


def op_rows(ops: list[dict], spans: list[Span], log: dict,
            batches: list[dict]) -> list[dict]:
    """One row per operation: layer self times, Spark job and task
    totals attributed by time window, and the stream batches it ran.

    ``ops`` items carry ``idx``, ``member``, ``t0`` and ``t1``."""
    windows = [(o["t0"], o["t1"]) for o in ops]
    by_sid = {s.sid: s for s in spans}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def root_layer(sid: int | None) -> str | None:
        """``build`` or ``action``: the top-level step a span sits in."""
        while sid is not None and sid in by_sid:
            s = by_sid[sid]
            if s.layer in ("build", "action"):
                return s.layer
            sid = s.parent
        return None

    rows = []
    for o in ops:
        rows.append({
            "row": "op", "op": o["idx"], "member": o["member"],
            "wall_s": o["t1"] - o["t0"],
            "self_s": dict.fromkeys(LAYERS, 0.0),
            "calls": dict.fromkeys(LAYERS, 0),
            "jobs_s": dict.fromkeys(LAYERS, 0.0),
            "jobs": 0, "jobs_unattributed": 0, "build_jobs": 0,
            "action_jobs": 0, "job_union_s": 0.0,
            "stages": 0, "stages_listed": 0, "stages_skipped": 0,
            "tasks": 0, "task_failures": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
            "batches": 0, "batch_jobs": 0,
        })
    pos = {o["idx"]: i for i, o in enumerate(ops)}

    for s in spans:
        i = pos.get(s.op)
        if i is None:
            continue
        kids = [(c.t0, c.t1) for c in children.get(s.sid, ())]
        r = rows[i]
        r["self_s"][s.layer] += (s.t1 - s.t0) - union_len(kids, s.t0, s.t1)
        r["calls"][s.layer] += 1

    job_ivs: list[list[tuple[float, float]]] = [[] for _ in ops]
    submits_by_stage: dict[int, list[float]] = {}
    for sub in log["submits"]:
        submits_by_stage.setdefault(sub["stage"], []).append(sub["t0"])
        i = _within(sub["t0"], windows)
        if i is not None:
            rows[i]["stages"] += 1
    for j in log["jobs"].values():
        i = _within(j["t0"], windows)
        if i is None:
            continue
        r = rows[i]
        r["jobs"] += 1
        job_ivs[i].append((j["t0"], j["t1"]))
        layer = by_sid[j["span"]].layer if j["span"] in by_sid else None
        if layer is None:
            r["jobs_unattributed"] += 1
        else:
            r["jobs_s"][layer] += min(j["t1"], windows[i][1]) - j["t0"]
        top = root_layer(j["span"])
        if top == "build":
            r["build_jobs"] += 1
        elif top == "action":
            r["action_jobs"] += 1
        ran = {sid for sid, ts in submits_by_stage.items() if sid in j["stages"]
               and any(j["t0"] <= t <= j["t1"] for t in ts)}
        r["stages_listed"] += len(j["stages"])
        r["stages_skipped"] += len(j["stages"] - ran)
    for i, (a, b) in enumerate(windows):
        rows[i]["job_union_s"] = union_len(job_ivs[i], a, b)
    for t in log["tasks"]:
        i = _within(t["t0"], windows)
        if i is None:
            continue
        r = rows[i]
        r["tasks"] += 1
        r["task_failures"] += t["failed"]
        r["task_run_s"] += t["run_s"]
        r["task_cpu_s"] += t["cpu_s"]
        r["gc_s"] += t["gc_s"]
        r["shuffle_read_bytes"] += t["sr_bytes"]
        r["shuffle_write_bytes"] += t["sw_bytes"]
        r["spill_bytes"] += t["spill"]
    for bt in batches:
        i = _within(bt["t0"], windows)
        if i is None:
            continue
        rows[i]["batches"] += 1
        rows[i]["batch_jobs"] += sum(
            1 for j in log["jobs"].values()
            if bt["t0"] <= j["t0"] <= bt["t0"] + bt["duration_s"])
    for r in rows:
        r["driver_gap_s"] = r["wall_s"] - r["job_union_s"]
    return rows
