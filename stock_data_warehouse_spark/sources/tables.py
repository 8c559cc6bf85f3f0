"""Parquet scans over the driver's tables (OP-S3, SURVEY.md §2.1).

The warehouse-native storage is Parquet (columnar at rest, SURVEY.md
§1.3). Scans are plain ``spark.read.parquet`` so Catalyst gets schema
pruning + predicate pushdown for free — callers express filters and
projections declaratively and the parquet reader sees them as
``PushedFilters`` / ``ReadSchema``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Dimension tables small enough to broadcast at any scale factor: the
# TPC-H dims region/nation are fixed-size; supplier/part grow with SF
# but stay far below fact-table scale. At 100 TB only region/nation are
# guaranteed broadcast-safe; the rest rely on AQE's size estimate.
BROADCAST_SAFE = frozenset({"region", "nation"})


def _ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    """Idempotent session-conf pin: set ``key`` to ``value`` only when
    it isn't already there. Only ever called with constant values, so
    concurrent callers are convergent by construction."""
    try:
        cur = spark.conf.get(key)
    except Exception:  # unset key without a default
        cur = None
    if cur != value:
        spark.conf.set(key, value)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Projection/filter pruning happens downstream.

    ``events.ts`` has shipped in two parquet encodings across testdata
    generations: TIMESTAMP(NANOS), which Spark 4 rejects outright
    (PARQUET_TYPE_ILLEGAL; SURVEY.md §7 hard-part 6) and must be read
    as a nanosecond long (``nanosAsLong``), and TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. Branch
    on the arrived type and expose the SAME two views either way:

    - ``ts``     timestamp (µs — exactly what DuckDB's parquet reader
      yields for either encoding, so oracle comparisons line up);
    - ``ts_ns``  an exact nanosecond long, for tie-free ordering.

    The conf is session-level and settable at runtime, so this works on
    the driver's session too, not just ours.

    The session timezone is pinned to UTC here for the same reason: the
    DuckDB oracle renders timestamps as naive UTC, and the driver may
    run these queries on a session whose timezone we didn't configure —
    a non-UTC session would shift every rendered timestamp
    (SURVEY.md §7 hard-part 6).

    Concurrency: both confs are *constants* (UTC / "true"), so however
    many threads build queries on one session, every interleaving of
    these writes converges to the same session state — there is no
    order-dependent outcome to race on (ADVICE r2 / VERDICT item 8).
    The check-then-set below additionally makes the steady state
    write-free (no JVM conf mutation per read once the values hold);
    see tests/test_sources_conf.py for the concurrent-build test.
    """
    _ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    if name == "events":
        _ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong",
                     "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts, ts_ns = event_ts_cols(dict(df.dtypes)["ts"])
        return df.select(
            "event_id", ts.alias("ts"), ts_ns.alias("ts_ns"),
            "user_id", "event_type", "value", "props",
        )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def event_ts_cols(ts_dtype: str):
    """(ts timestamp, ts_ns bigint) rebuild expressions for whichever
    encoding ``events.ts`` arrived in — shared by the batch loader and
    the streaming source so the two can never diverge. Callers MUST pin
    the session timezone to UTC first: the micros branch casts
    TIMESTAMP_NTZ wall-clock through the session zone."""
    from pyspark.sql import functions as F
    if ts_dtype == "bigint":  # TIMESTAMP(NANOS) file via nanosAsLong
        return (F.timestamp_micros(F.expr("ts div 1000")), F.col("ts"))
    # TIMESTAMP(MICROS) file → TIMESTAMP_NTZ
    ts = F.col("ts").cast("timestamp")
    return ts, F.unix_micros(ts) * 1000


def values_df(spark: SparkSession, rows: list[tuple],
              schema: str) -> DataFrame:
    """Tiny literal dimension as a SQL VALUES relation.

    ``createDataFrame`` routes Python objects through an RDD
    (``applySchemaToPythonRDD`` — an extra job plus pickle traffic per
    query build); a VALUES clause plans as a driver-local
    ``LocalRelation`` with zero jobs, which measurably matters for the
    fixture-sized alias/config dims joined into hot queries. ``schema``
    is ``"name type, ..."``; values may be str/bool/int/float/None.
    """
    def split_top(s: str) -> list[str]:
        # split on commas outside parens so DECIMAL(10,2) etc. survive
        parts, depth, cur = [], 0, []
        for ch in s:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        return parts

    cols = [c.strip().split(None, 1) for c in split_top(schema)]
    col_names = [name for name, _ in cols]

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return repr(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")"
                     for r in rows)
    casts = ", ".join(
        f"CAST({name} AS {typ}) AS {name}" for name, typ in cols)
    return spark.sql(
        f"SELECT {casts} FROM (VALUES {body}) "
        f"AS t({', '.join(col_names)})")
