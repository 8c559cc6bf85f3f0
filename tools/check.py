"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at a given SF dir, runs
the matching ``oracle_sql()`` through DuckDB over the same parquet
tables, and compares row count + (sorted-by-name) columns + an
order-insensitive canonicalized value comparison — the same contract
CORRECTNESS_r{N}.json grades.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [query ...]
    python tools/check.py --sample 20 --seed 7   # random rotating subset

``--sample N`` grades a seeded random N-query subset of the full
catalog — the round-close habit VERDICT r4 item 6 asked for: the
official driver file samples the same 50 queries every round, so a
rotating seeded sample (run under ``--plain`` for true driver
conditions) is what exercises the other ~120 under the identical
contract. The seed defaults to a date-derived value so successive
round closes rotate coverage without remembering state.
"""

from __future__ import annotations

import argparse
import datetime
import math
import random
import sys
import time
import traceback

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def canon_cell(v):
    if v is None:
        return "∅"
    # numpy arrays/scalars (a plain non-Arrow session's toPandas, and
    # DuckDB's .df(), both hand these back): normalize through the
    # Python equivalents so str() formatting can't differ.
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        return canon_cell(v.tolist())
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # 12 significant digits: tolerate engine-level FP noise below
        # what any rounded output column carries.
        return f"{v:.12g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def canon_rows(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(canon_cell(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)]
    rows.sort()
    return rows


def jvm_alive(spark) -> bool:
    """True when the session's JVM still answers and its context is
    up: a py4j call to a dead gateway raises instead."""
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def drop_session() -> None:
    """Forget a session whose JVM is gone, so the next builder call
    launches a fresh gateway instead of reusing the dead one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    SparkContext._active_spark_context = None
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--plain", action="store_true",
                    help="use a bare SparkSession.builder session (the "
                         "driver's environment) instead of the project "
                         "session factory — catches any conf the engine "
                         "forgot to apply at read time")
    ap.add_argument("--sample", type=int, default=0, metavar="N",
                    help="grade a seeded random N-query subset of the "
                         "full catalog (ignored when explicit queries "
                         "are given)")
    ap.add_argument("--seed", type=int, default=None,
                    help="sample seed; defaults to today's ordinal so "
                         "round closes rotate coverage")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    def new_session():
        if args.plain:
            from pyspark.sql import SparkSession
            return (SparkSession.builder.master("local[8]")
                    .appName("check-plain").getOrCreate())
        from stock_data_warehouse_spark.session import get_spark
        return get_spark("check")

    spark = new_session()
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    names = args.queries or sorted(qs)
    if not args.queries and args.sample:
        seed = (args.seed if args.seed is not None
                else datetime.date.today().toordinal())
        names = sorted(random.Random(seed).sample(
            names, min(args.sample, len(names))))
        print(f"# sampled {len(names)} of {len(qs)} (seed={seed})")
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        if name not in qs:
            print(f"  ?? {name}: not registered")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            spdf = sdf.toPandas()
        except Exception:
            print(f"  !! {name}: SPARK CRASH")
            traceback.print_exc(limit=4)
            n_fail += 1
            if not jvm_alive(spark):
                # the query is counted failed, not retried; the rest
                # are graded on a fresh session
                print(f"  !! JVM LOST at {name}: starting a new session")
                drop_session()
                spark = new_session()
            continue
        # Replay the DRIVER's canonicalization (raw pandas sort_values
        # over all columns): unhashable cells (lists/dicts/ndarrays)
        # crash the driver even when values are right (r2 red rows) —
        # catch that here, before the driver does.
        try:
            if len(spdf):
                spdf.sort_values(list(spdf.columns))
        except Exception as exc:
            print(f"  XX {name}: DRIVER-CANON CRASH ({exc!r:.120})")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"  .. {name}: rows-only ({len(spdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"  !! {name}: ORACLE CRASH")
            traceback.print_exc(limit=4)
            n_fail += 1
            continue
        problems = []
        if len(spdf) != len(odf):
            problems.append(f"rows {len(spdf)} vs {len(odf)}")
        scols, ocols = sorted(spdf.columns), sorted(odf.columns)
        if scols != ocols:
            problems.append(f"cols {scols} vs {ocols}")
        if not problems:
            srows, orows = canon_rows(spdf), canon_rows(odf)
            if srows != orows:
                bad = [(a, b) for a, b in zip(srows, orows) if a != b]
                problems.append(
                    f"{len(bad)} mismatched rows; first: "
                    f"{bad[0][0]} vs {bad[0][1]}" if bad else
                    "row sets differ")
        if problems:
            print(f"  XX {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"  ok {name} ({len(spdf)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail "
          f"of {len(names)}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
