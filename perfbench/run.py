"""Benchmark of record for the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One process, one client in a closed loop on ``local[nproc]``.  An
operation is one registered query: call its query function from
``plans.registry.query_fns()``, then run a ``noop`` write of the
DataFrame it returns.  ``--seed`` builds the input (a row permutation
of every vendored table, written with pyarrow as one row group) and
orders the operations within each pass.  After an untimed warm-up pass,
passes run until ``--seconds`` of operation time have been measured and
at least ``MIN_PASSES`` of them have run.
Every operation's output is checked against the DuckDB oracle digests
in ``oracle.json``, outside the timed region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instruments
the layers (see ``spans.py``), enables the Spark event log and prints
the per-layer metrics, one JSON row per operation and one per workload.
The last line of standard output is always one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--smoke`` runs one operation per workload at sf0.001 (no warm-up) and
is what ``smoke.py`` drives.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import itertools
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "stock_data_warehouse_spark")

#: Members of each workload, in canonical order (the seed shuffles them
#: per pass).  Why each workload exists: README.md.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "warehouse_queries": (
        "q1_pricing_summary",
        "flagship_segment_revenue",
        "t10_scd2_history",
        "t4_tumbling_hourly",
        "s8_publish_if_changed",
        "t33_exactly_once_sink",
        "t8_stateful_dedup_stream",
    ),
    "corpus_curation": (
        "x1_exact_dedup",
        "x2_neardup_clusters",
        "x3_kmeans_cells",
        "x4_token_counts",
        "x9_epoch_shuffle",
    ),
}
#: Timed passes a run makes whatever ``--seconds`` asks, so that every
#: run measures the same operations however fast the host is.  A corpus
#: pass is short (7-10 s on 4 vCPUs) and its CPU time spreads most, so
#: it runs twice; a second warehouse pass does not fit the run budget.
MIN_PASSES = {"warehouse_queries": 1, "corpus_curation": 2}
#: Tables of the untimed warm-up pass.
WARM_SCALE = "sf0.001"
#: The single member each workload runs under ``--smoke``.
SMOKE_MEMBERS = {
    "warehouse_queries": "q1_pricing_summary",
    "corpus_curation": "x4_token_counts",
}

#: End-to-end metrics of the result object (``BENCHMARK.json`` bounds
#: each one).
E2E_UNITS = {"setup_s": "s", "cpu_s_per_op": "s", "peak_rss_mb": "MB"}
#: Printed for every workload but not part of the result object, since
#: none of them can carry a relative bound (README.md has the numbers).
E2E_EXTRA_UNITS = {
    "jit_cpu_s_per_op": "s", "op_p50_s": "s", "op_tail_s": "s",
    "ops_per_s": "1/s", "failed_share": "ratio", "batch_p50_s": "s",
    "batch_tail_s": "s", "ingest_rows_per_s": "rows/s",
}
#: Accepted range of the traced run's ``jobs_plus_gap_share``.
ADDITIVE_LO, ADDITIVE_HI = 0.9, 1.1
LAYER_UNITS = {
    "session.start_s": "s", "registry.load_s": "s",
    "registry.queries": "count",
    "tables.load_calls": "count", "tables.load_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "action.s": "s", "action.jobs": "count",
    "checkpoint.calls": "count", "checkpoint.s": "s",
    "graph.s": "s", "kmeans.s": "s",
    "sinks.write_calls": "count", "sinks.write_s": "s",
    "streaming.batches": "count", "streaming.input_rows": "rows",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s", "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes", "streaming.state_commit_s": "s",
    "streaming.jobs_per_batch": "count",
    "tmpdirs.live_bytes": "bytes",
    "spark.jobs": "count", "spark.driver_gap_s": "s",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.slot_busy_share": "ratio",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.stages_skipped_share": "ratio",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.jobs_unattributed": "count",
    "trace.overhead_share": "ratio",
}


# --------------------------------------------------------------------
# Small helpers


def tail(values: list[float]) -> tuple[float, float, int]:
    """Value at the highest percentile that still has at least ten
    samples beyond it, that percentile, and the sample count.  With ten
    samples or fewer no such percentile exists and the maximum is
    returned as p100."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass  # removed while walking
    return total


def _proc_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime ticks) of a live process."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def jit_cpu_s(jvm: int) -> float:
    """User+sys CPU seconds of the JVM's JIT compiler threads.  The JVM
    runs with ``-XX:-UseDynamicNumberOfCompilerThreads``, so these
    threads live as long as the JVM and no compiler time leaves them."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm", encoding="ascii") as fh:
                if not fh.read().startswith(("C1 Compiler", "C2 Compiler")):
                    continue
            with open(f"/proc/{jvm}/task/{tid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # thread ended while listing
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User+sys CPU seconds of ``root`` and all its descendants (the
    driver, the JVM and the Python workers), reaped children included."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


# --------------------------------------------------------------------
# Input


def build_input(src: str, dst: str, seed: int) -> str:
    """Row-permuted copy of every table in ``src``: all rows, the same
    schema and one row group, so every seed has the same answers.
    Returns the sha256 of the written files."""
    import numpy as np
    import pyarrow.parquet as pq

    digest = hashlib.sha256()
    os.makedirs(dst, exist_ok=True)
    for i, name in enumerate(sorted(os.listdir(src))):
        pf = pq.ParquetFile(os.path.join(src, name))
        table = pf.read()
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        codec = pf.metadata.row_group(0).column(0).compression
        out = os.path.join(dst, name)
        pq.write_table(table.take(perm), out,
                       row_group_size=max(1, table.num_rows),
                       compression=codec.lower(),
                       version=pf.metadata.format_version)
        with open(out, "rb") as fh:
            digest.update(name.encode())
            digest.update(fh.read())
    return digest.hexdigest()


# --------------------------------------------------------------------
# Streaming listener


def make_listener(sink: list, lock: threading.Lock):
    """A StreamingQueryListener appending one dict per micro-batch."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            d = dict(p.durationMs or {})
            ops = p.stateOperators or []
            with lock:
                sink.append({
                    "t0": ts.timestamp(),
                    "duration_s": p.batchDuration / 1e3,
                    "rows": p.numInputRows,
                    "d": {k: v / 1e3 for k, v in d.items()},
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "state_commit_s": sum(o.commitTimeMs for o in ops) / 1e3,
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()


def settle(batches: list, lock: threading.Lock, quiet_s: float = 0.5,
           limit_s: float = 10.0) -> None:
    """Wait until no listener event has arrived for ``quiet_s``."""
    deadline = time.monotonic() + limit_s
    with lock:
        n = len(batches)
    while time.monotonic() < deadline:
        time.sleep(quiet_s)
        with lock:
            if len(batches) == n:
                return
            n = len(batches)


# --------------------------------------------------------------------
# The run


class Run:
    """One benchmark process: set-up, passes, checks and metrics."""

    def __init__(self, args):
        self.args = args
        self.scale = "sf0.001" if args.smoke else "sf0.01"
        self.members = ((SMOKE_MEMBERS[args.workload],) if args.smoke
                        else WORKLOADS[args.workload])
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"run-{os.getpid()}")
        self.op_ids = itertools.count()
        self.ops: list[dict] = []  # timed operations
        self.warm: list[dict] = []  # warm-up operations
        self.errors: list[str] = []
        self.live_bytes: list[int] = []
        self.batches: list[dict] = []
        self.batch_lock = threading.Lock()
        self.tracer = None
        self.load = [os.getloadavg()[0]]
        self.ticks = [cpu_ticks()]
        #: Wall time of each phase of the run, for sizing the benchmark.
        self.phase_s: dict[str, float] = {}

    # -- environment ---------------------------------------------------
    def prepare(self) -> None:
        """Keep every file the run writes inside the work dir, and let
        Python workers import the package from the checkout."""
        t0 = time.perf_counter()
        for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work,
                                                      "spark-local")
        tempfile.tempdir = None
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        os.chdir(self.work)
        self.input_dir = os.path.join(self.work, "input", self.scale)
        self.input_sha = build_input(os.path.join(HERE, "data", self.scale),
                                     self.input_dir, self.args.seed)
        # The warm-up pass runs every member once on the smallest tables:
        # it pays the first-run class-loading and code-generation cost
        # without the data volume of a full pass.
        self.warm_dir = os.path.join(self.work, "input", WARM_SCALE)
        if not self.args.smoke:
            build_input(os.path.join(HERE, "data", WARM_SCALE),
                        self.warm_dir, self.args.seed)
        from oracle import load
        self.expected = load()["answers"][self.scale]
        self.phase_s["input"] = time.perf_counter() - t0

    def conf(self) -> dict[str, str]:
        java_opts = (f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                     "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads")
        conf = {
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(
                    self.work, "eventlog"),
            })
        return conf

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        from stock_data_warehouse_spark.session import get_spark
        self.spark = get_spark("perfbench", master=f"local[{self.nproc}]",
                               extra_conf=self.conf())
        t1 = time.perf_counter()
        from pyspark import SparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        from stock_data_warehouse_spark.plans.registry import query_fns
        self.fns = query_fns()
        t2 = time.perf_counter()
        from stock_data_warehouse_spark.sources.tables import load_table
        (load_table(self.spark, self.input_dir, "lineitem")
         .write.format("noop").mode("overwrite").save())
        t3 = time.perf_counter()
        self.setup_parts = {"session.start_s": t1 - t0,
                            "registry.load_s": t2 - t1,
                            "first_scan_s": t3 - t2}
        self.setup_s = t3 - t0
        self.phase_s["setup"] = self.setup_s
        missing = [m for m in self.members if m not in self.fns]
        if missing:
            raise SystemExit(f"members not registered: {missing}")
        self.spark.streams.addListener(
            make_listener(self.batches, self.batch_lock))
        if self.args.trace:
            from spans import Tracer
            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.instrument()

    # -- operations ------------------------------------------------------
    def _span(self, layer):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(layer)

    def run_op(self, member: str, timed: bool) -> dict:
        """One operation: build, then ``noop`` write.  Exceptions are
        recorded on the returned op, never raised."""
        idx = next(self.op_ids)
        sf_dir = self.input_dir if timed else self.warm_dir
        if timed and self.tracer is not None:
            self.tracer.op = idx
        df, error = None, None
        c0 = tree_cpu_s(os.getpid()) if timed else 0.0
        j0 = jit_cpu_s(self.jvm_pid) if timed else 0.0
        t0 = time.time()
        try:
            with self._span("op"):
                with self._span("build"):
                    df = self.fns[member](self.spark, sf_dir)
                with self._span("action"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 — count it and keep running
            error = traceback.format_exc(limit=3)
        t1 = time.time()
        c1 = tree_cpu_s(os.getpid()) if timed else 0.0
        j1 = jit_cpu_s(self.jvm_pid) if timed else 0.0
        if timed and self.tracer is not None:
            self.tracer.op = None
        return {"idx": idx, "member": member, "timed": timed, "t0": t0,
                "t1": t1, "wall_s": t1 - t0, "cpu_s": c1 - c0,
                "jit_cpu_s": j1 - j0,
                "df": df, "error": error}

    def record(self, op: dict) -> None:
        """Check a timed op's output, outside the timed region, then keep
        its numbers (not its DataFrame) and count failures."""
        df = op.pop("df")
        if op["timed"] and op["error"] is None:
            op["error"] = self.check(op["member"], df)
        if op["error"] is not None:
            self.errors.append(f"{op['member']}: {op['error'].strip()}")
        op["ok"] = op.pop("error") is None
        (self.ops if op["timed"] else self.warm).append(op)

    def check(self, member: str, df) -> str | None:
        from oracle import answer
        want = self.expected[member]
        try:
            got = answer(df.toPandas())
        except Exception:  # noqa: BLE001 — a failed check is a failure
            return "output check raised:\n" + traceback.format_exc(limit=3)
        if got == want:
            return None
        return (f"output differs from the oracle: rows {got['rows']} vs "
                f"{want['rows']}, columns {got['columns']} vs "
                f"{want['columns']}, sha256 {got['sha256'][:12]} vs "
                f"{want['sha256'][:12]}")

    def end_pass(self) -> None:
        """Record live temp bytes, then sweep the temp-dir registry."""
        from stock_data_warehouse_spark import tmpdirs
        live = sum(dir_bytes(d) for d in getattr(tmpdirs, "_TEMP_DIRS", ()))
        live += dir_bytes(os.environ["SPARK_LOCAL_DIRS"])
        self.live_bytes.append(live)
        tmpdirs.sweep()

    def passes(self) -> None:
        rng = random.Random(self.args.seed)
        t0 = time.perf_counter()
        if not self.args.smoke:
            order = list(self.members)
            rng.shuffle(order)
            for m in order:
                self.record(self.run_op(m, timed=False))
            self.end_pass()
        self.phase_s["warmup"] = time.perf_counter() - t0
        timed_s, n_passes = 0.0, 0
        while (n_passes < MIN_PASSES[self.args.workload]
               or timed_s < self.args.seconds):
            n_passes += 1
            order = list(self.members)
            rng.shuffle(order)
            for m in order:
                op = self.run_op(m, timed=True)
                timed_s += op["wall_s"]
                self.record(op)
            self.end_pass()
            if self.args.smoke:
                break
        self.phase_s["timed_passes"] = (time.perf_counter() - t0
                                        - self.phase_s["warmup"])

    # -- shutdown --------------------------------------------------------
    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if not hasattr(self, "jvm_pid"):
            return
        from pyspark import SparkContext
        t0 = time.perf_counter()
        settle(self.batches, self.batch_lock)
        self.peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid)
        self.java = self.spark._jvm.java.lang.System.getProperty(
            "java.version")
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.phase_s["shutdown"] = time.perf_counter() - t0

    # -- metrics ---------------------------------------------------------
    def timed_batches(self) -> list[dict]:
        windows = [(o["t0"], o["t1"]) for o in self.ops]
        return [b for b in self.batches
                if any(a <= b["t0"] <= z for a, z in windows)]

    def attempted(self) -> int:
        return len(self.ops) + len(self.warm)

    def failed(self) -> int:
        return sum(not o["ok"] for o in self.ops + self.warm)

    def e2e(self) -> tuple[dict, dict]:
        ops = self.ops
        walls = [o["wall_s"] for o in ops]
        total = sum(walls)
        t_val, t_pct, t_n = tail(walls)
        cpu = sum(o["cpu_s"] for o in ops)
        metrics = {
            "setup_s": self.setup_s,
            "cpu_s_per_op": cpu / len(ops),
            "peak_rss_mb": self.peak_rss_mb,
        }
        batches = self.timed_batches()
        durs = [b["duration_s"] for b in batches]
        b_val, b_pct, b_n = tail(durs) if durs else (math.nan, 0.0, 0)
        extra = {
            "jit_cpu_s_per_op": sum(o["jit_cpu_s"] for o in ops) / len(ops),
            "op_p50_s": statistics.median(walls),
            "op_tail_s": t_val,
            "ops_per_s": len(ops) / total,
            "failed_share": self.failed() / self.attempted(),
            "batch_p50_s": statistics.median(durs) if durs else math.nan,
            "batch_tail_s": b_val,
            "ingest_rows_per_s": (sum(b["rows"] for b in batches) / sum(durs)
                                  if durs and sum(durs) else math.nan),
        }
        notes = {
            "jit_cpu_s_per_op": "the JIT compiler threads' part of "
                                "cpu_s_per_op",
            "op_tail_s": f"p{t_pct:.1f} of {t_n} operations",
            "op_p50_s": f"median of {t_n} operations",
        }
        if durs:
            notes["batch_tail_s"] = f"p{b_pct:.1f} of {b_n} micro-batches"
            notes["batch_p50_s"] = f"median of {b_n} micro-batches"
        else:
            for k in ("batch_p50_s", "batch_tail_s", "ingest_rows_per_s"):
                notes[k] = "no micro-batches in this workload"
        return metrics, {"extra": extra, "notes": notes}

    def per_layer(self) -> tuple[dict, list[dict]]:
        from spans import op_rows, read_event_log
        log = read_event_log(os.path.join(self.work, "eventlog"))
        ops = self.ops
        batches = self.timed_batches()
        rows = op_rows(ops, self.tracer.spans, log, batches)
        n = len(rows)
        wall = sum(r["wall_s"] for r in rows)

        def per_op(key, layer=None):
            vals = [r[key][layer] if layer else r[key] for r in rows]
            return sum(vals) / n

        def per_batch(f):
            return sum(f(b) for b in batches) / len(batches) if batches else 0.0

        listed = sum(r["stages_listed"] for r in rows)
        m = dict(self.setup_parts)
        m.pop("first_scan_s")
        m.update({
            "registry.queries": len(self.fns),
            "tables.load_calls": per_op("calls", "tables"),
            "tables.load_s": per_op("self_s", "tables"),
            "plans.build_s": per_op("self_s", "build"),
            "plans.build_jobs": per_op("build_jobs"),
            "action.s": per_op("self_s", "action"),
            "action.jobs": per_op("action_jobs"),
            "checkpoint.calls": per_op("calls", "checkpoint"),
            "checkpoint.s": per_op("self_s", "checkpoint"),
            "graph.s": per_op("self_s", "graph"),
            "kmeans.s": per_op("self_s", "kmeans"),
            "sinks.write_calls": per_op("calls", "sinks"),
            "sinks.write_s": per_op("self_s", "sinks"),
            "streaming.batches": len(batches) / n,
            "streaming.input_rows": sum(b["rows"] for b in batches) / n,
            "streaming.add_batch_s": per_batch(
                lambda b: b["d"].get("addBatch", 0.0)),
            "streaming.wal_commit_s": per_batch(
                lambda b: b["d"].get("walCommit", 0.0)),
            "streaming.commit_offsets_s": per_batch(
                lambda b: b["d"].get("commitOffsets", 0.0)),
            "streaming.query_planning_s": per_batch(
                lambda b: b["d"].get("queryPlanning", 0.0)),
            "streaming.latest_offset_s": per_batch(
                lambda b: b["d"].get("latestOffset", 0.0)),
            "streaming.state_rows": per_batch(lambda b: b["state_rows"]),
            "streaming.state_bytes": per_batch(lambda b: b["state_bytes"]),
            "streaming.state_commit_s": per_batch(
                lambda b: b["state_commit_s"]),
            "streaming.jobs_per_batch": (
                sum(r["batch_jobs"] for r in rows) / len(batches)
                if batches else 0.0),
            "tmpdirs.live_bytes": max(self.live_bytes),
            "spark.jobs": per_op("jobs"),
            "spark.driver_gap_s": per_op("driver_gap_s"),
            "spark.task_run_s": per_op("task_run_s"),
            "spark.task_cpu_s": per_op("task_cpu_s"),
            "spark.gc_s": per_op("gc_s"),
            "spark.slot_busy_share": (sum(r["task_run_s"] for r in rows)
                                      / (wall * self.nproc)),
            "spark.shuffle_read_bytes": per_op("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": per_op("shuffle_write_bytes"),
            "spark.spill_bytes": per_op("spill_bytes"),
            "spark.stages_skipped_share": (
                sum(r["stages_skipped"] for r in rows) / listed
                if listed else 0.0),
            "spark.stages": per_op("stages"),
            "spark.tasks": per_op("tasks"),
            "spark.task_failures": sum(r["task_failures"] for r in rows),
            "spark.jobs_unattributed": per_op("jobs_unattributed"),
            "trace.overhead_share": self.tracer.overhead_s / wall,
        })
        return m, rows

    def context(self) -> dict:
        import pyspark
        self.load.append(os.getloadavg()[0])
        self.ticks.append(cpu_ticks())
        (s0, t0), (s1, t1) = self.ticks
        return {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "scale": self.scale, "members": list(self.members),
            "nproc": self.nproc, "loadavg_1m_start": self.load[0],
            "loadavg_1m_end": self.load[-1],
            "overloaded": max(self.load) > self.nproc,
            # CPU time the hypervisor gave to other guests during the run.
            "steal_share": (s1 - s0) / max(1, t1 - t0),
            "git_commit": git_commit(), "pyspark": pyspark.__version__,
            "java": self.java, "input_sha256": self.input_sha,
            "phase_s": self.phase_s,
        }


def _fmt(v: float) -> str:
    return "n/a" if isinstance(v, float) and math.isnan(v) else f"{v:.6g}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one operation at sf0.001, no warm-up")
    args = ap.parse_args(argv)
    if not os.path.isdir(PACKAGE_DIR):
        print(f"engine package not found at {PACKAGE_DIR}", file=sys.stderr)
        return 2

    run = Run(args)
    try:
        try:
            run.prepare()
            run.setup()
            run.passes()
        finally:
            run.shutdown()
        ctx = run.context()
        e2e, extra = run.e2e()
        layer, rows = run.per_layer() if args.trace else ({}, [])
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(run.work))

    print(json.dumps({"row": "context", **ctx}))
    for err in run.errors:
        print(f"FAILED {err}")
    for o in sorted(run.warm + run.ops, key=lambda o: o["idx"]):
        print(f"op {o['idx']:3d} {'timed ' if o['timed'] else 'warmup'} "
              f"{o['member']:32s} {o['wall_s']:8.3f} s "
              f"{'ok' if o['ok'] else 'FAILED'}")
    print(f"# {args.workload}: end-to-end metrics")
    for k, v in {**e2e, **extra["extra"]}.items():
        unit = E2E_UNITS.get(k) or E2E_EXTRA_UNITS[k]
        note = extra["notes"].get(k)
        print(f"{k:20s} {_fmt(v):>14s} {unit:8s}"
              + (f" ({note})" if note else ""))
    if args.trace:
        for r in rows:
            print(json.dumps(r))
        wall = sum(r["wall_s"] for r in rows)
        jobs_s = sum(sum(r["jobs_s"].values()) for r in rows)
        gap = sum(r["driver_gap_s"] for r in rows)
        # Additivity: job time attributed to a layer span plus the time
        # no job ran should give the operation wall.  Overlapping jobs
        # push the share above 1, unattributed jobs below it.
        share = (jobs_s + gap) / wall
        print(json.dumps({
            "row": "workload", "workload": args.workload, "ops": len(rows),
            "wall_s": wall,
            "self_s": {k: sum(r["self_s"][k] for r in rows)
                       for k in rows[0]["self_s"]},
            "attributed_jobs_s": jobs_s, "driver_gap_s": gap,
            "jobs_plus_gap_share": share,
            "additive_within_10pct": ADDITIVE_LO <= share <= ADDITIVE_HI,
            "metrics": layer,
        }))
    metrics = layer if args.trace else e2e
    units = LAYER_UNITS if args.trace else E2E_UNITS
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted(),
        "failed": run.failed(),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
