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
each run (``session.jit_compile_ms``; session.py, "JIT").
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

    spark = get_spark("job-count")
    sc = spark.sparkContext
    qs = entry_mod.queries()

    def marker_id() -> int:
        sc.range(1).count()
        return max(sc.statusTracker().getJobIdsForGroup(None))

    def run(name: str) -> tuple[int, int, int]:
        lo, c0 = marker_id(), codegen_compiles(spark)
        j0 = jit_compile_ms(spark)
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        c1 = codegen_compiles(spark)  # before the marker's own codegen
        j1 = jit_compile_ms(spark)
        return marker_id() - lo - 1, c1 - c0, j1 - j0

    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()  # warm
    for name in names:
        jobs, compiles, jit = run(name)
        jobs2, compiles2, jit2 = run(name)
        print(f"{name}: {jobs} jobs, {compiles} compiles, {jit} ms JIT "
              f"(second run: {jobs2} jobs, {compiles2} compiles, "
              f"{jit2} ms JIT)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
