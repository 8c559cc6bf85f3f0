"""Count the Spark JOBS (eager actions) a query launches end to end.

Usage: python tools/job_count.py <query> [query ...]

Runs each named query exactly as the bench does (build + noop sink)
and reports how many Spark jobs the whole execution launched — the
action-count evidence for the foreachBatch streams, whose cost at
sf0.1 is dominated by the per-action floor (~0.08-0.4 s each,
OPTIMIZATION_r15.md "Measurement method") rather than data volume.
Job ids are globally monotonic in a SparkContext, so the count is
taken as the distance between two single-job markers run in the
default (group-less) job group — this also counts jobs the streaming
engine launches under its own job groups, which
``getJobIdsForGroup(None)`` alone would miss.

Each line also gives the query's codegen compile count (Janino compiles,
i.e. codegen-cache misses, ``session.codegen_compiles``) and the jobs
and compiles of an immediate second run. A second run that still
compiles most of what the first did means the codegen cache is too
small for the query (session.py, ``spark.sql.codegen.cache.maxEntries``).
Beside them it gives the milliseconds the JVM's JIT compilers spent on
each run (``session.jit_compile_ms``; session.py, "JIT"), each run's
task count (``numTasks`` summed over the stages of its jobs that ran;
a stage skipped because its shuffle output already existed is not
counted) and its process-tree CPU seconds (this process, the JVM and
the Python workers; ``perfbench/run.py`` ``tree_cpu_s``). A run whose
tree CPU fell (a process left the tree without being reaped, taking its
CPU out of the sum) prints ``cpu ?`` and the fall in place of a number.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    names = sys.argv[1:]
    from stock_data_warehouse_spark.session import (codegen_compiles,
                                                   get_spark,
                                                   jit_compile_ms)
    import __spark_entry__ as entry_mod
    from perfbench.run import tree_cpu_s

    spark = get_spark("job-count")
    sc = spark.sparkContext
    qs = entry_mod.queries()

    def marker_id() -> int:
        sc.range(1).count()
        return max(sc.statusTracker().getJobIdsForGroup(None))

    def tasks(lo: int, hi: int) -> int:
        tracker = sc.statusTracker()
        stages = {s for j in range(lo + 1, hi)
                  if (info := tracker.getJobInfo(j)) is not None
                  for s in info.stageIds}
        return sum(si.numTasks for s in stages
                   if (si := tracker.getStageInfo(s)) is not None
                   and si.numCompletedTasks + si.numFailedTasks > 0)

    def run(name: str) -> str:
        lo, c0 = marker_id(), codegen_compiles(spark)
        j0, cpu0 = jit_compile_ms(spark), tree_cpu_s(os.getpid())
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        c1 = codegen_compiles(spark)  # before the marker's own codegen
        j1, cpu1 = jit_compile_ms(spark), tree_cpu_s(os.getpid())
        hi = marker_id()
        # the tree sum loses the CPU of a process that leaves the tree
        # unreaped (an orphaned Python worker), so it can fall
        cpu = (f"{cpu1 - cpu0:.2f} s CPU" if cpu1 >= cpu0 else
               f"cpu ? (tree CPU delta {cpu1 - cpu0:.2f} s: a process "
               f"left the tree unreaped)")
        return (f"{hi - lo - 1} jobs, {tasks(lo, hi)} tasks, {cpu}, "
                f"{c1 - c0} compiles, {j1 - j0} ms JIT")

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()  # warm
    for name in names:
        first = run(name)
        print(f"{name}: {first} (second run: {run(name)})")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
