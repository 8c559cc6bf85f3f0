"""Operator kernel tests: alias precedence, TTM, as-of, last-non-null
(SURVEY.md §5.3/§7 hard parts 2-4)."""

import datetime as dt

from pyspark.sql import functions as F

from stock_data_warehouse_spark.operators.aggregates import (
    last_non_null, latest_row, ttm_top_k_sum,
)
from stock_data_warehouse_spark.operators.joins import (
    asof_join, resolve_alias,
)


def _d(s):
    return dt.date.fromisoformat(s)


def test_resolve_alias_priority_order(spark):
    facts = spark.createDataFrame(
        [("T", "Operating Revenue", 1.0),
         ("T", "Total Revenue", 2.0)],
        "ticker string, line_item string, value double")
    dim = spark.createDataFrame(
        [("revenue", "Total Revenue", 0),
         ("revenue", "Operating Revenue", 1)],
        "canonical string, line_item string, priority int")
    out = resolve_alias(facts, dim, ["ticker"], "line_item", "value")
    assert out.collect()[0]["value"] == 2.0  # priority 0 wins, not row order


def test_resolve_alias_positivity_guard_falls_through(spark):
    # F:211-216: the >0 guard applies per candidate BEFORE precedence
    facts = spark.createDataFrame(
        [("T", "Other Short Term Investments", -500.0),
         ("T", "Short Term Investments", 200.0)],
        "ticker string, line_item string, value double")
    dim = spark.createDataFrame(
        [("sti", "Other Short Term Investments", 0),
         ("sti", "Short Term Investments", 1)],
        "canonical string, line_item string, priority int")
    out = resolve_alias(facts, dim, ["ticker"], "line_item", "value",
                        require_positive=True)
    assert out.collect()[0]["value"] == 200.0


def test_ttm_top4_partial_and_null(spark):
    rows = [("T", _d("2023-03-31"), 55.0),
            ("T", _d("2023-06-30"), None),      # fillna(0)
            ("T", _d("2023-09-30"), 55.0),
            ("T", _d("2023-12-31"), 55.0),
            ("T", _d("2022-12-31"), 999.0),     # 5th quarter: cut
            ("U", _d("2023-12-31"), 10.0)]      # partial group (<4)
    df = spark.createDataFrame(
        rows, "ticker string, q date, value double")
    out = {r["ticker"]: r["ttm"]
           for r in ttm_top_k_sum(df, ["ticker"], "q", "value").collect()}
    assert out == {"T": 165.0, "U": 10.0}


def test_latest_row_deterministic_tiebreak(spark):
    rows = [("T", _d("2023-12-31"), 1, 100.0),
            ("T", _d("2023-12-31"), 2, 200.0)]
    df = spark.createDataFrame(
        rows, "k string, q date, seq int, v double")
    out = latest_row(df, ["k"], "q", tiebreak_col="seq").collect()
    assert len(out) == 1 and out[0]["v"] == 200.0


def test_last_non_null_trailing_nulls_and_all_null(spark):
    ts = dt.datetime(2024, 1, 1)
    rows = [("A", ts, 1, 40.0),
            ("A", ts + dt.timedelta(days=1), 2, 42.0),
            ("A", ts + dt.timedelta(days=2), 3, None),  # trailing null
            ("B", ts, 4, None)]                          # all-null group
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, id int, v double")
    out = {r["k"]: r["lv"]
           for r in last_non_null(df, ["k"], "ts", "v",
                                  tiebreak_col="id",
                                  out_col="lv").collect()}
    assert out == {"A": 42.0, "B": None}


def test_asof_join_semantics(spark):
    t0 = dt.datetime(2024, 1, 1)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    left = spark.createDataFrame(
        [(1, "u", at(0)), (2, "u", at(5)), (3, "u", at(10)),
         (4, "v", at(1))],
        "event_id int, user string, ts timestamp")
    right = spark.createDataFrame(
        [("u", at(0), 10.0), ("u", at(5), 50.0), ("u", at(7), 70.0)],
        "user string, ts timestamp, val double")
    out = {r["event_id"]: r["right_val"]
           for r in asof_join(left, right, on="user",
                              left_ts="ts", right_ts="ts",
                              right_value_cols=["val"]).collect()}
    # equal timestamps match (<=); keys with no prior right row → null
    assert out == {1: 10.0, 2: 50.0, 3: 70.0, 4: None}


def test_salted_join_equals_plain_join(spark):
    from stock_data_warehouse_spark.operators.skew import salted_join
    # one hot key (9 of 12 rows) + two cold keys
    facts = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(9)]
        + [("a", 100, 1.0), ("a", 101, 2.0), ("b", 200, 3.0)],
        "k string, row_id int, v double")
    dim = spark.createDataFrame(
        [("hot", "H"), ("a", "A"), ("b", "B")], "k string, label string")
    plain = {(r["k"], r["row_id"], r["label"])
             for r in facts.join(dim, "k").collect()}
    salted = {(r["k"], r["row_id"], r["label"])
              for r in salted_join(facts, dim, "k", "row_id",
                                   n_salts=4).collect()}
    assert salted == plain and len(salted) == 12


def test_zscore_flags_are_extreme_and_warmed_up(spark):
    """Every flagged event really is >=3 sigmas from its own trailing
    window, recomputed independently in Python."""
    from stock_data_warehouse_spark.plans.timeseries import (
        t11_anomaly_zscore,
    )
    from stock_data_warehouse_spark.sources.tables import load_table
    import math

    SF = "/root/testdata/sf0.001"
    flagged = t11_anomaly_zscore(spark, SF).collect()
    assert flagged  # sf0.001 events contain at least one outlier
    ev = sorted(
        load_table(spark, SF, "events")
        .select("event_id", "user_id", "ts", "value").collect(),
        key=lambda r: (r["ts"], r["event_id"]))
    hist = {}
    by_key = {}
    for r in ev:
        tail = hist.setdefault(r["user_id"], [])
        by_key[r["event_id"]] = list(tail[-24:])
        tail.append(round(r["value"] * 100))
    for f in flagged:
        window = by_key[f["event_id"]]
        assert len(window) >= 12
        mean = sum(window) / len(window)
        var = (sum(c * c for c in window) - sum(window)**2
               / len(window)) / (len(window) - 1)
        z = (round(f["value"] * 100) - mean) / math.sqrt(var)
        assert abs(z) >= 3
        assert abs(z - f["zscore"]) < 1e-9


def test_interval_join_matches_bruteforce(spark):
    """Banded equi-join finds exactly the brute-force pair set."""
    from stock_data_warehouse_spark.plans.timeseries import (
        t12_interval_join,
    )
    from stock_data_warehouse_spark.sources.tables import load_table

    SF = "/root/testdata/sf0.001"
    got = {(r["click_id"], r["purchase_id"], r["lag_us"])
           for r in t12_interval_join(spark, SF).collect()}
    ev = load_table(spark, SF, "events") \
        .select("event_id", "user_id", "event_type",
                F.unix_micros("ts").alias("us")).collect()
    clicks = [r for r in ev if r["event_type"] == "click"]
    purch = {}
    for r in ev:
        if r["event_type"] == "purchase":
            purch.setdefault(r["user_id"], []).append(r)
    want = {(c["event_id"], p["event_id"], p["us"] - c["us"])
            for c in clicks
            for p in purch.get(c["user_id"], ())
            if 0 <= p["us"] - c["us"] <= 1_800_000_000}
    assert got == want and got


def test_merge_into_all_five_cases(spark):
    """update, delete, insert, untouched target, no-op change on a
    missing key — plus U/D idempotence (reapplying changes nothing)."""
    from stock_data_warehouse_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double")
    changes = spark.createDataFrame(
        [(2, "U", "b2", 25.0),   # update
         (3, "D", None, None),   # delete
         (9, "I", "new", 0.0),   # insert
         (7, "U", "x", 1.0),     # update of missing key → no-op
         (8, "D", None, None)],  # delete of missing key → no-op
        "k long, op string, name string, bal double")
    merged = merge_into(target, changes, "k", ["name", "bal"])
    got = {r["k"]: (r["name"], r["bal"]) for r in merged.collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 25.0), 9: ("new", 0.0)}
    again = merge_into(
        merged, changes.filter(F.col("op") != "I"), "k",
        ["name", "bal"])
    assert {r["k"]: (r["name"], r["bal"])
            for r in again.collect()} == got


def test_session_paths_agree_with_session_windows(spark):
    """t15's lag-gap-cumsum sessionization must reproduce t6's
    session_window partitioning: same session count and event total
    per user, and each path lists exactly its session's events."""
    from stock_data_warehouse_spark.plans.timeseries import (
        t6_session_windows, t15_session_paths,
    )
    SF = "/root/testdata/sf0.001"
    paths = t15_session_paths(spark, SF).collect()
    wins = t6_session_windows(spark, SF).collect()

    def per_user(rows):
        agg = {}
        for r in rows:
            n, ev = agg.get(r["user_id"], (0, 0))
            agg[r["user_id"]] = (n + 1, ev + r["n_events"])
        return agg

    assert per_user(paths) == per_user(wins)
    for r in paths:
        assert r["path"].count(">") == r["n_events"] - 1
        assert r["path"]  # never empty


def test_approx_quantiles_near_exact(spark):
    """The t-digest sketch quartiles stay within 1 quantity unit of the
    exact per-group percentiles at accuracy 10000 — the query now
    embeds that bound itself (p25_ok/p50_ok/p75_ok verdict columns),
    so assert every verdict is True for every group."""
    from stock_data_warehouse_spark.plans.relational import (
        a10_approx_quantile_sketch, a10_quantile_pack,
    )
    SF = "/root/testdata/sf0.001"
    rows = a10_approx_quantile_sketch(spark, SF).collect()
    assert {(r["l_returnflag"], r["l_linestatus"]) for r in rows} == \
        {(r["l_returnflag"], r["l_linestatus"])
         for r in a10_quantile_pack(spark, SF).collect()}
    for r in rows:
        assert r["p25_ok"] and r["p50_ok"] and r["p75_ok"], r


def test_values_df_roundtrips_literals(spark):
    """values_df (the LocalRelation literal-dim builder every fixture
    now routes through) must round-trip quotes, newlines, unicode,
    empty strings, NULLs, bools, and negative/exponent floats."""
    from stock_data_warehouse_spark.sources.tables import values_df
    rows = [
        ("it's", -1, None, True, -1.5e-8),
        ('say "hi"', 0, "", False, 12345.678),
        ("line\nbreak; DROP TABLE x; --", 2**40, "naïve—ünïcode", None,
         0.1 + 0.2),
    ]
    out = values_df(
        spark, rows,
        "s string, i bigint, t string, b boolean, d double").collect()
    got = [tuple(r) for r in out]
    assert got == rows


def test_kmeans_sample_rows_equivalence(spark):
    """r16: ``sample_rows`` (the caller-supplied hash-order prefix
    that lets one TakeOrdered collect serve both trainers of a
    composite index build) must train BIT-IDENTICAL centroids to the
    internal-collect path, for both the ungrouped and the grouped
    trainer — including the driver-side subspace slicing the IVF-PQ
    builders derive the grouped sample from."""
    from stock_data_warehouse_spark.operators.kmeans import (
        kmeans_fit_assign, kmeans_fit_assign_grouped,
    )
    from stock_data_warehouse_spark.sources.tables import load_table

    SF = "/root/testdata/sf0.001"
    e = load_table(spark, SF, "embeddings")
    v = e.select("vec_id",
                 F.transform("embedding",
                             lambda x: x.cast("double")).alias("e"))
    S, K = 48, 6

    log_a, log_b = [], []
    kmeans_fit_assign(v, "vec_id", "e", k=K, n_iter=3,
                      train_sample=S, centroids_log=log_a,
                      assign=False)
    pre = [(r["vec_id"], r["e"]) for r in
           v.orderBy(F.md5(F.col("vec_id").cast("string")),
                     F.col("vec_id")).limit(S).collect()]
    kmeans_fit_assign(v, "vec_id", "e", k=K, n_iter=3,
                      train_sample=S, centroids_log=log_b,
                      assign=False, sample_rows=pre)
    rows_a = sorted(tuple(r) for r in log_a[0].collect())
    rows_b = sorted(tuple(r) for r in log_b[0].collect())
    assert rows_a == rows_b and rows_a

    sub = v.select(
        "vec_id",
        F.posexplode(F.array(*[F.slice("e", 8 * j + 1, 8)
                               for j in range(8)])).alias("j", "sv"))
    _, cb_a = kmeans_fit_assign_grouped(
        sub, "j", "vec_id", "sv", k=K, n_iter=3,
        train_sample=S, assign=False)
    sub_rows = [(j, i, list(vec[8 * j:8 * j + 8]))
                for i, vec in pre for j in range(8)]
    _, cb_b = kmeans_fit_assign_grouped(
        sub, "j", "vec_id", "sv", k=K, n_iter=3,
        train_sample=S, assign=False, sample_rows=sub_rows)
    g_a = sorted(tuple(r) for r in cb_a.collect())
    g_b = sorted(tuple(r) for r in cb_b.collect())
    assert g_a == g_b and g_a


def test_kmeans_exhaustive_matches_full_sample(spark):
    """Exhaustive mode (one Spark aggregate per Lloyd round) and
    sampled mode with a sample covering every row (numpy rounds over
    the collected relation) run the same round loop from the same
    seeds, so they must agree: identical ``(id, cell)`` assignments,
    and centroids and every per-round inertia equal up to summation
    order (1e-9 relative) — ungrouped and grouped. The tables are the
    vendored sf0.001 copy (perfbench/data), 500 embeddings."""
    import math
    import os

    from stock_data_warehouse_spark.operators.kmeans import (
        kmeans_fit_assign, kmeans_fit_assign_grouped,
    )
    from stock_data_warehouse_spark.sources.tables import load_table

    sf = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "perfbench", "data", "sf0.001")
    e = load_table(spark, sf, "embeddings")
    v = e.select("vec_id",
                 F.transform("embedding",
                             lambda x: x.cast("double")).alias("e"))
    n = v.count()
    assert n >= 500
    K = 6

    def close(a, b):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)

    def same_codebook(cb_x, cb_y, keys):
        x = {tuple(r[k] for k in keys): r["ce"] for r in cb_x.collect()}
        y = {tuple(r[k] for k in keys): r["ce"] for r in cb_y.collect()}
        assert x and x.keys() == y.keys()
        assert all(close(p, q) for key in x
                   for p, q in zip(x[key], y[key], strict=True))

    def same_inertias(log_x, log_y):
        ix = [df.first()["inertia"] for df in log_x]
        iy = [df.first()["inertia"] for df in log_y]
        assert len(ix) == len(iy) == 3
        assert all(close(p, q) for p, q in zip(ix, iy))

    runs = {}
    for mode, s in (("exhaustive", None), ("sampled", n)):
        ilog, clog = [], []
        out = kmeans_fit_assign(v, "vec_id", "e", k=K, n_iter=3,
                                train_sample=s, inertia_log=ilog,
                                centroids_log=clog)
        runs[mode] = ({(r["id"], r["cell"]) for r in out.collect()},
                      clog[0], ilog)
    ex, sa = runs["exhaustive"], runs["sampled"]
    assert len(ex[0]) == n and ex[0] == sa[0]
    same_codebook(ex[1], sa[1], ["cell"])
    same_inertias(ex[2], sa[2])

    sub = v.select(
        "vec_id",
        F.posexplode(F.array(*[F.slice("e", 8 * j + 1, 8)
                               for j in range(8)])).alias("j", "sv"))
    runs = {}
    for mode, s in (("exhaustive", None), ("sampled", n)):
        ilog = []
        out, cb = kmeans_fit_assign_grouped(
            sub, "j", "vec_id", "sv", k=K, n_iter=3,
            train_sample=s, inertia_log=ilog)
        runs[mode] = ({(r["grp"], r["id"], r["cell"])
                       for r in out.collect()}, cb, ilog)
    ex, sa = runs["exhaustive"], runs["sampled"]
    assert len(ex[0]) == 8 * n and ex[0] == sa[0]
    same_codebook(ex[1], sa[1], ["grp", "cell"])
    same_inertias(ex[2], sa[2])
