"""The session factory's memory and JIT settings (session.py, "Memory"
and "JIT"): Tungsten pages live off the JVM heap and are all handed
back, the codegen cache holds every source a corpus pass generates, and
the driver JVM gets the JIT flags, ahead of a caller's own flags."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from stock_data_warehouse_spark.plans.registry import query_fns
from stock_data_warehouse_spark.session import (JIT_FLAGS,
                                               codegen_compiles,
                                               jit_compile_ms)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: The repo's vendored sf0.001 tables (perfbench/data).
SF = os.path.join(REPO, "perfbench", "data", "sf0.001")

CORPUS = ("x1_exact_dedup", "x2_neardup_clusters", "x3_kmeans_cells",
          "x4_token_counts", "x9_epoch_shuffle")


def test_execution_pages_are_off_heap_and_released(spark):
    """A native page is freed only by the memory manager; no GC will
    ever collect one it leaks. So once the tasks of an aggregation and
    a sort have finished, execution memory must read 0."""
    mm = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get() \
        .memoryManager()
    assert mm.tungstenMemoryMode().toString() == "OFF_HEAP"
    assert mm.maxOffHeapStorageMemory() > 0
    df = (spark.range(200_000)
          .groupBy((F.col("id") % 5000).alias("k"))
          .agg(F.sum("id").alias("s"), F.count("id").alias("n"))
          .orderBy(F.col("s").desc()))
    rows = df.collect()
    assert len(rows) == 5000
    assert rows[0]["n"] == 40
    assert mm.executionMemoryUsed() == 0
    assert mm.offHeapExecutionMemoryUsed() == 0
    assert mm.onHeapExecutionMemoryUsed() == 0


def test_corpus_pass_fits_the_codegen_cache(spark):
    """One corpus pass generates ~180 distinct sources. With Spark's
    default cache of 100 entries the LRU misses almost every time and
    a repeated pass recompiles ~180 of them; with 1000 entries it
    recompiles a handful at most. Those few are x3's k-means stages,
    whose sources a later round first compiles on a task thread's
    class loader (``codegen_compiles``)."""
    fns = query_fns()

    def one_round() -> int:
        before = codegen_compiles(spark)
        for name in CORPUS:
            fns[name](spark, SF).write.format("noop").mode(
                "overwrite").save()
        return codegen_compiles(spark) - before

    one_round()
    assert one_round() <= 10


def test_driver_jvm_gets_the_jit_flags(spark):
    """The factory's session JVM was started with the JIT flags, and
    ``jit_compile_ms`` reads its compilers' running total."""
    mgmt = spark.sparkContext._jvm.java.lang.management
    args = list(mgmt.ManagementFactory.getRuntimeMXBean()
                .getInputArguments())
    assert all(f in args for f in JIT_FLAGS), args
    assert jit_compile_ms(spark) > 0


#: Started in a fresh interpreter: the JVM's flags are fixed when the
#: first session of a process launches it.
_CALLER_PROBE = """
import json
from stock_data_warehouse_spark.session import get_spark
spark = get_spark("jit-probe", master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-Dstock_warehouse.jit_probe=1"})
mgmt = spark.sparkContext._jvm.java.lang.management
print(json.dumps(list(mgmt.ManagementFactory.getRuntimeMXBean()
                      .getInputArguments())))
spark.stop()
"""


def test_caller_java_options_follow_the_jit_flags():
    """perfbench passes its own ``spark.driver.extraJavaOptions``. Spark
    appends those after ``defaultJavaOptions``, so the caller's flags
    reach the JVM too and, being later, win where the two collide."""
    out = subprocess.run([sys.executable, "-c", _CALLER_PROBE], cwd=REPO,
                         capture_output=True, text=True, timeout=300,
                         check=True).stdout
    args = json.loads(out.strip().splitlines()[-1])
    caller = args.index("-Dstock_warehouse.jit_probe=1")
    assert all(args.index(f) < caller for f in JIT_FLAGS), args
