"""Window-function queries — OP-W2/W3/W4 (SURVEY.md §2.5).

The reference's implicit-order idioms (``iloc[:4]`` top-4 at
fetch_data.py:35, ``iloc[:,0]`` latest at :198, last-close at :156-160)
become explicit windows here. OP-W1 (row_number per key) is already
exercised inside a1/a2/o2; this module adds the declared ranking,
analytic, and frame-spec packs.

Scale posture: every window partitions on a high-cardinality key
(c_mktsegment is the one low-cardinality partition — bounded at 5
groups, each streamed by a single task's sort, no driver collect).
Deterministic ordering everywhere: every ORDER BY chain ends in a
unique key (SURVEY.md §7 hard-part 4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import (half_up_cents, round_half_up,
                                 sql_half_up_cents, sql_round_half_up)
from ..sources.tables import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# OP-W2 — ranking pack: rank / dense_rank / ntile
# ---------------------------------------------------------------------------

@register(
    "w2_ranking_pack",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           RANK()       OVER w AS acct_rank,
           DENSE_RANK() OVER w AS acct_dense_rank,
           NTILE(4)     OVER w AS acct_quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def w2_ranking_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W2 — rank/dense_rank/ntile of customers by account balance
    within market segment (the ordering semantics of fetch_data.py:35
    generalized). The ordering ends in the unique c_custkey so ranks are
    reproducible across engines and shuffles."""
    c = _t(spark, sf_dir, "customer")
    w = (Window.partitionBy("c_mktsegment")
         .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey")))
    return c.select(
        "c_custkey", "c_mktsegment",
        F.rank().over(w).alias("acct_rank"),
        F.dense_rank().over(w).alias("acct_dense_rank"),
        F.ntile(4).over(w).alias("acct_quartile"),
    )


# ---------------------------------------------------------------------------
# OP-W3 — analytic pack: lag / lead / first_value
# ---------------------------------------------------------------------------

@register(
    "w3_analytic_pack",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           {sql_round_half_up('o_totalprice - COALESCE(LAG(o_totalprice)'
                              ' OVER w, o_totalprice)', 2)} AS qoq_delta,
           FIRST_VALUE(o_totalprice) OVER w AS first_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w3_analytic_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W3 — lag/lead QoQ-style deltas per customer order history
    (the reference's period-over-period shape; last-close anchor at
    fetch_data.py:156-160). Partitioned on o_custkey — high cardinality,
    so the sort is distributed and survives 100× scale."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_orderkey", "o_custkey",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        # class-A floor kernel: a difference of same-bits scan values
        # is deterministic-identical, and o_totalprice carries >2 dp,
        # so raw-matched ROUND had live shortest-repr tie exposure
        round_half_up(F.col("o_totalprice")
                      - F.coalesce(prev, F.col("o_totalprice")), 2)
         .alias("qoq_delta"),
        F.first("o_totalprice").over(w).alias("first_price"),
    )


# ---------------------------------------------------------------------------
# OP-W4 — frame-spec aggregates: rolling 4-row window (TTM sliding form)
# ---------------------------------------------------------------------------

@register(
    "w4_rolling_frame_ttm",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER w4, 2)  AS ttm_spend,
           ROUND(AVG(o_totalprice) OVER w4, 4)  AS ttm_avg,
           COUNT(*) OVER w4                     AS ttm_n,
           ROUND(SUM(o_totalprice) OVER wcum, 2) AS cum_spend
    FROM orders
    WINDOW
      w4   AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
      wcum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def w4_rolling_frame_ttm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W4 — the reference's TTM top-4 sum (fetch_data.py:29-36) as a
    *sliding* 4-row frame plus a running cumulative sum — frame-spec
    windows (``rowsBetween``), the form OP-A1 takes when every period's
    trailing aggregate is needed, not just the latest."""
    o = _t(spark, sf_dir, "orders")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w4 = base.rowsBetween(-3, Window.currentRow)
    wcum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.sum("o_totalprice").over(w4), 2).alias("ttm_spend"),
        F.round(F.avg("o_totalprice").over(w4), 4).alias("ttm_avg"),
        F.count(F.lit(1)).over(w4).alias("ttm_n"),
        F.round(F.sum("o_totalprice").over(wcum), 2).alias("cum_spend"),
    )


# ---------------------------------------------------------------------------
# OP-W4 (continued) — time-RANGE frame (value-based window over event time)
# ---------------------------------------------------------------------------

@register(
    "w5_range_frame_events",
    oracle="""
    SELECT event_id, event_type,
           COUNT(*) OVER w1h AS n_trailing_1h,
           ROUND(SUM(value) OVER w1h, 4) AS sum_trailing_1h
    FROM events
    WINDOW w1h AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def w5_range_frame_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W4 (range form) — trailing 1-hour event count/sum per type via
    a value-based RANGE frame over epoch microseconds: the row-count
    frames of w4 can't express "everything in the last hour" when event
    spacing is irregular. RANGE frames are deterministic without a
    unique tiebreak — peers (equal timestamps) are in or out together
    on both engines. Scale: partitioned on event_type here for the
    oracle's sake; the production form adds a coarse time-bucket to the
    partition key so one hot type never serializes into one task."""
    e = _t(spark, sf_dir, "events")
    w1h = (Window.partitionBy("event_type")
           .orderBy(F.unix_micros("ts"))
           .rangeBetween(-3_600_000_000, 0))
    return e.select(
        "event_id", "event_type",
        F.count(F.lit(1)).over(w1h).alias("n_trailing_1h"),
        F.round(F.sum("value").over(w1h), 4).alias("sum_trailing_1h"))


@register(
    "w6_distribution_ranks",
    oracle=f"""
    SELECT c_custkey, c_mktsegment,
           {sql_round_half_up('PERCENT_RANK() OVER w', 6)} AS bal_pct_rank,
           {sql_round_half_up('CUME_DIST() OVER w', 6)} AS bal_cume_dist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal, c_custkey)
    """,
)
def w6_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W2 (distribution forms) — percent_rank / cume_dist of account
    balance within segment: where a customer sits in the stratum's
    distribution. Both are rank arithmetic over one sort — identical
    rationals on both engines (class A), rounded through the floor
    kernel: rank ratios like k/128 land on exact dyadic 6-dp ties
    where engine-native double ROUND diverges."""
    c = _t(spark, sf_dir, "customer")
    w = (Window.partitionBy("c_mktsegment")
         .orderBy("c_acctbal", "c_custkey"))
    return c.select(
        "c_custkey", "c_mktsegment",
        round_half_up(F.percent_rank().over(w), 6)
         .alias("bal_pct_rank"),
        round_half_up(F.cume_dist().over(w), 6)
         .alias("bal_cume_dist"))


@register(
    "w7_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT r.r_name, n.n_name,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))), 2)
                  AS DOUBLE) AS nation_rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT r_name, n_name, nation_rev,
           CAST(ROUND(CAST(nation_rev / SUM(nation_rev) OVER
                 (PARTITION BY r_name) AS DECIMAL(38,10)), 6) AS DOUBLE)
             AS share_of_region
    FROM rev
    """,
)
def w7_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W4 (ratio-to-report) — each nation's share of its region's
    revenue: an aggregate re-read through an unbounded window over the
    *aggregated* relation (25 rows), so the window costs nothing at any
    scale — the pattern for percent-of-total reports. The inner revenue
    sums route through DECIMAL (5-digit-scale money over thousands of
    rows — association error would flip rounded cents, same hazard as
    q9); the share divides two already-rounded doubles identically on
    both engines."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (o.join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "n_name")
            .agg(F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(38,6)")), 2)
                  .cast("double").alias("nation_rev")))
    w = Window.partitionBy("r_name")
    return rev.select(
        "r_name", "n_name", "nation_rev",
        # class B (the window SUM's accumulation order is engine-
        # internal): decimal-routed — the 10-dp quantization absorbs
        # sub-5e-11 cross-engine noise, and |share| ≤ 1 is far inside
        # the decimal route's |x| ≪ 9e5 validity domain
        F.round((F.col("nation_rev") / F.sum("nation_rev").over(w))
                .cast("decimal(38,10)"), 6)
         .cast("double").alias("share_of_region"))


# ---------------------------------------------------------------------------
# OP-W8 — gaps-and-islands: per-user consecutive-active-day streaks
# ---------------------------------------------------------------------------

@register(
    "w8_streak_islands",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id, ts::DATE AS day FROM events
    ),
    r AS (
      SELECT user_id, day,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY day) AS rn
      FROM d
    ),
    isl AS (
      SELECT user_id, day - CAST(rn AS INTEGER) AS grp,
             COUNT(*) AS len, MIN(day) AS start_day
      FROM r GROUP BY user_id, day - CAST(rn AS INTEGER)
    ),
    best AS (
      SELECT user_id, start_day AS longest_start
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY user_id
              ORDER BY len DESC, start_day) AS rk FROM isl)
      WHERE rk = 1
    )
    SELECT i.user_id,
           COUNT(*) AS n_streaks,
           CAST(SUM(i.len) AS BIGINT) AS n_active_days,
           MAX(i.len) AS max_streak,
           CAST(MIN(b.longest_start) AS VARCHAR) AS longest_start
    FROM isl i JOIN best b ON i.user_id = b.user_id
    GROUP BY i.user_id
    """,
)
def w8_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W8 — the gaps-and-islands idiom: maximal runs of consecutive
    active days per user (streak analytics — the retention-adjacent
    report every event warehouse serves). The classic O(n) trick: after
    deduping to (user, day), ``day - row_number()`` is constant within
    a consecutive run and strictly changes across a gap, so islands
    fall out of ONE window + ONE hash agg — no self-join, no recursive
    walk. Scale: the window partitions on the unbounded-cardinality
    user key (per-user day lists are bounded by calendar span); both
    aggs partial map-side. Longest-streak pick uses the struct-argmin
    idiom (min of (-len, start_day)) — tiebreak = earliest start, total
    order guaranteed because start_day is unique per (user, island)."""
    ev = _t(spark, sf_dir, "events")
    d = (ev.select("user_id", F.to_date("ts").alias("day"))
           .distinct())
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn("rn", F.row_number().over(w))
    isl = (r.withColumn("grp", F.date_sub(F.col("day"),
                                          F.col("rn").cast("int")))
             .groupBy("user_id", "grp")
             .agg(F.count(F.lit(1)).alias("len"),
                  F.min("day").alias("start_day")))
    return (isl.groupBy("user_id")
               .agg(F.count(F.lit(1)).alias("n_streaks"),
                    F.sum("len").alias("n_active_days"),
                    F.max("len").alias("max_streak"),
                    F.min(F.struct((-F.col("len")).alias("neg_len"),
                                   F.col("start_day").alias("s")))
                     .alias("pick"))
               .select("user_id", "n_streaks", "n_active_days",
                       "max_streak",
                       F.col("pick.s").cast("string").alias("longest_start")))


# ---------------------------------------------------------------------------
# OP-W9 — EWMA without recursion: literal decay weights over the
# bounded daily aggregate
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_SPAN = 31  # the events window is 30 days; k = 0..30 covers it
_EWMA_W = [(k, (1 - _EWMA_ALPHA) ** k) for k in range(_EWMA_SPAN)]
_EWMA_W_SQL = "VALUES " + ", ".join(
    f"({k}, {w!r}::DOUBLE)" for k, w in _EWMA_W)


@register(
    "w9_ewma_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS cents
      FROM events GROUP BY event_type, ts::DATE
    ),
    wts(k, w) AS ({_EWMA_W_SQL}),
    pairs AS (
      SELECT t.event_type, t.day, f.cents, wts.w
      FROM daily t
      JOIN daily f ON f.event_type = t.event_type
                  AND f.day <= t.day
      JOIN wts ON wts.k = t.day - f.day
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(ROUND(SUM(CAST(cents * w AS DECIMAL(38,10)))
                      / SUM(CAST(w AS DECIMAL(38,10))), 4)
                AS DOUBLE) AS ewma_cents
    FROM pairs GROUP BY event_type, day
    """,
)
def w9_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W9 — exponentially weighted moving average of daily revenue
    per event type (pandas ``adjust=True`` semantics:
    ewma_t = sum_k w_k v_(t-k) / sum_k w_k, w_k = (1-a)^k, a = 0.3).
    EWMA is RECURSIVE in its usual form — the one shape SQL windows
    can't express — so it's linearized: the decay weights are a
    31-row LITERAL dim (shortest-round-trip double reprs, identical
    bits in both engines), and each output day joins the bounded
    per-day aggregate against itself within the decay horizon.

    Scale: the self-join runs over the DAILY AGGREGATE (calendar-
    bounded, never raw events) keyed on (type, day-gap); raw events
    contribute through one hash agg. Numerator and denominator are
    DECIMAL sums of exactly-cast products — order-free — and the
    single rounding happens after the division (class-B decimal
    route), so the smoothed series is hash-exact."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(cents).alias("cents")))
    from ..sources.tables import values_df
    wts = values_df(spark, _EWMA_W, "k int, w double")
    t = daily.select("event_type", F.col("day").alias("t_day"))
    f = daily.select(F.col("event_type").alias("f_type"),
                     F.col("day").alias("f_day"), "cents")
    pairs = (t.join(f, (F.col("f_type") == F.col("event_type"))
                    & (F.col("f_day") <= F.col("t_day")))
              .join(F.broadcast(wts),
                    F.datediff(F.col("t_day"), F.col("f_day"))
                    == F.col("k")))
    num = F.sum((F.col("cents") * F.col("w")).cast("decimal(38,10)"))
    den = F.sum(F.col("w").cast("decimal(38,10)"))
    return (pairs.groupBy("event_type", F.col("t_day"))
                 .agg(F.round(num / den, 4).cast("double")
                       .alias("ewma_cents"))
                 .select("event_type",
                         F.col("t_day").cast("string").alias("day"),
                         "ewma_cents"))


# ---------------------------------------------------------------------------
# OP-W10 — running peak / maximum drawdown (window over window)
# ---------------------------------------------------------------------------

@register(
    "w10_max_drawdown",
    oracle=f"""
    WITH flows AS (
      SELECT user_id, ts, event_id,
             CAST(CASE WHEN event_type = 'purchase'
                  THEN {sql_half_up_cents('value')}
                  ELSE -{sql_half_up_cents('value')} END AS BIGINT) AS flow
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    cum AS (
      SELECT user_id, ts, event_id, flow,
             CAST(SUM(flow) OVER w AS BIGINT) AS equity
      FROM flows
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    ),
    dd AS (
      SELECT user_id, equity,
             CAST(MAX(equity) OVER w AS BIGINT) AS peak
      FROM cum
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id,
           CAST(MAX(peak) AS BIGINT) AS peak_cents,
           CAST(MAX(peak - equity) AS BIGINT) AS max_drawdown_cents,
           CAST(MIN(equity) AS BIGINT) AS trough_cents,
           COUNT(*) AS n_flows
    FROM dd GROUP BY user_id
    """,
)
def w10_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-W10 — maximum drawdown per account: purchases credit, errors
    debit a synthetic equity curve, and the drawdown is the largest
    peak-to-trough drop — THE risk metric of the reference's domain
    (a fetcher feeding portfolio analytics ends up serving exactly
    this). The interesting shape is WINDOW OVER WINDOW: a running SUM
    (equity) feeds a running MAX (peak) over the same (ts, event_id)
    total order, then one hash agg takes max(peak - equity). Both
    windows partition on the unbounded user key and share ONE sort —
    Catalyst collapses same-spec windows into a single Window node, so
    the chain costs one exchange + one sort, not two. Everything is
    integer cents end to end: running sums, peaks and drawdowns are
    hash-exact with no rounding route needed."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    flows = (ev.filter(F.col("event_type").isin("purchase", "error"))
               .select("user_id", "ts", "event_id",
                       F.when(F.col("event_type") == "purchase", cents)
                        .otherwise(-cents).cast("long").alias("flow")))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    curve = (flows.withColumn("equity",
                              F.sum("flow").over(w).cast("long"))
                  .withColumn("peak",
                              F.max("equity").over(w).cast("long")))
    return (curve.groupBy("user_id")
                 .agg(F.max("peak").cast("long").alias("peak_cents"),
                      F.max(F.col("peak") - F.col("equity"))
                       .cast("long").alias("max_drawdown_cents"),
                      F.min("equity").cast("long")
                       .alias("trough_cents"),
                      F.count(F.lit(1)).alias("n_flows")))


# ---------------------------------------------------------------------------
# W11 — rolling 30-day exact median over the daily aggregate (r8)
# ---------------------------------------------------------------------------

@register(
    "w11_rolling_median_30d",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_window,
           quantile_cont(cents, 0.5) OVER w AS med30
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    """,
)
def w11_rolling_median_30d(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """W11 — rolling 30-day EXACT median of daily revenue per type:
    the robust trend line ops dashboards draw where a rolling mean
    (t-family moving averages) would chase every spike; the rolling
    twin of a40's static median+MAD.

    The frame is BOUNDED (≤ 30 rows), so the exact median is safe to
    compute from the frame itself: sort_array(collect_list) over the
    window + the shared lo + (hi−lo)·frac interpolation on 1-indexed
    positions — bounded buffering is the legitimate case the
    UNBOUNDED-group percentile ban (t35/a40) does not cover. Window
    input is the per-day AGGREGATE (the a22 discipline), never raw
    events; cents are exact longs so every interpolated median is an
    exact half-integer, hash-stable with no rounding route."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(cents).alias("cents")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rowsBetween(-29, 0))
    arr = F.sort_array(F.collect_list("cents").over(w))
    out = (daily.withColumn("_arr", arr)
                .withColumn("n_window",
                            F.size("_arr").cast("long")))
    pos = (F.col("n_window") - 1).cast("double") * F.lit(0.5)
    lo = F.floor(pos).cast("int")
    frac = pos - F.floor(pos)
    v0 = F.element_at("_arr", lo + 1).cast("double")
    v1 = F.element_at(
        "_arr",
        F.least(lo + 2, F.col("n_window").cast("int"))).cast("double")
    return out.select(
        "event_type", F.col("day").cast("string").alias("day"),
        "cents", "n_window",
        (v0 + (v1 - v0) * frac).alias("med30"))


# ---------------------------------------------------------------------------
# W12 — Bollinger bands + breakout flags over the daily series (r8)
# ---------------------------------------------------------------------------

@register(
    "w12_bollinger_breakout",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    framed AS (
      SELECT event_type, day, cents,
             CAST(SUM(cents) OVER w AS BIGINT) AS s,
             SUM(CAST(cents AS DOUBLE) * cents) OVER w AS sq,
             COUNT(*) OVER w AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, cents,
           CAST(ROUND(CAST(s * 1.0 / n AS DECIMAL(38,10)), 2)
                AS DOUBLE) AS ma20,
           CAST(ROUND(CAST(
             sqrt((sq - s * (s * 1.0 / n)) / n)
             AS DECIMAL(38,10)), 4) AS DOUBLE) AS sd20,
           (cents > s * 1.0 / n
            + 2 * sqrt((sq - s * (s * 1.0 / n)) / n))
             AS breakout_up,
           (cents < s * 1.0 / n
            - 2 * sqrt((sq - s * (s * 1.0 / n)) / n))
             AS breakout_down
    FROM framed WHERE n = 20
    """,
)
def w12_bollinger_breakout(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """W12 — Bollinger bands: 20-day rolling mean ± 2 population σ
    over daily revenue, with breakout flags — the mean-reversion
    band chart beside t34's RSI and w9's EWMA (RSI normalizes
    direction, EWMA smooths level, bands flag variance-adjusted
    extremes). Only full 20-day frames emit (the t34 rule).

    Determinism: Σx is an exact BIGINT; Σx² routes as
    double-of-exact-products (the a36/a47 pattern — CAST(cents AS
    DOUBLE) * cents per row: a BIGINT cents·cents wraps silently in
    Spark above ~6.8e8 daily cents while DuckDB promotes SUM(BIGINT)
    to HUGEINT, ADVICE r8; per-row products stay exact doubles below
    2^53 and the 20-term frame sum adds exact integers), so
    mean/σ/band edges are pure functions of identical values — sqrt
    is IEEE correctly-rounded, so even the raw band COMPARES are
    engine-identical (the a29 argument); displayed values are
    decimal-routed. Window input is the per-day aggregate (a22
    discipline), frames bounded by spec."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(cents).alias("cents")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rowsBetween(-19, 0))
    framed = (daily
              .withColumn("s", F.sum("cents").over(w).cast("long"))
              .withColumn("sq", F.sum(F.col("cents").cast("double")
                                      * F.col("cents")).over(w))
              .withColumn("n", F.count(F.lit(1)).over(w))
              .filter(F.col("n") == 20))
    mean = F.col("s") * 1.0 / F.col("n")
    sd = F.sqrt((F.col("sq") - F.col("s") * mean) / F.col("n"))
    return framed.select(
        "event_type", F.col("day").cast("string").alias("day"),
        "cents",
        F.round(mean.cast("decimal(38,10)"), 2).cast("double")
         .alias("ma20"),
        F.round(sd.cast("decimal(38,10)"), 4).cast("double")
         .alias("sd20"),
        (F.col("cents") > mean + 2 * sd).alias("breakout_up"),
        (F.col("cents") < mean - 2 * sd).alias("breakout_down"))


# ---------------------------------------------------------------------------
# W14 — Donchian channel breakout over the daily series (r9)
# ---------------------------------------------------------------------------

@register(
    "w14_donchian_channel",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    framed AS (
      SELECT event_type, day, cents,
             CAST(MAX(cents) OVER w AS BIGINT) AS hi14,
             CAST(MIN(cents) OVER w AS BIGINT) AS lo14,
             COUNT(*) OVER w AS n
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, cents,
           hi14 AS channel_high, lo14 AS channel_low,
           (hi14 - lo14) AS channel_width,
           (cents > hi14) AS breakout_up,
           (cents < lo14) AS breakout_down
    FROM framed WHERE n = 14
    """,
)
def w14_donchian_channel(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """W14 — DONCHIAN CHANNEL breakouts: each day's revenue against
    the high/low channel of the PRIOR 14 days (frame ends at −1, so
    today never defines its own channel — the look-ahead bias rule
    every backtest enforces) — the trend-following band beside w12's
    variance-scaled Bollinger (Donchian flags new extremes, Bollinger
    flags σ-adjusted ones); only full 14-day channels emit (the t34
    rule).

    Determinism: everything is exact BIGINT cents — channel edges are
    MIN/MAX over integers, the breakout compares and the width are
    pure integer ops; no rounding route needed anywhere. Window input
    is the per-day aggregate (a22 discipline), frames bounded by
    spec."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(cents).alias("cents")))
    w = (Window.partitionBy("event_type").orderBy("day")
               .rowsBetween(-14, -1))
    framed = (daily
              .withColumn("hi14", F.max("cents").over(w).cast("long"))
              .withColumn("lo14", F.min("cents").over(w).cast("long"))
              .withColumn("n", F.count(F.lit(1)).over(w))
              .filter(F.col("n") == 14))
    return framed.select(
        "event_type", F.col("day").cast("string").alias("day"),
        "cents",
        F.col("hi14").alias("channel_high"),
        F.col("lo14").alias("channel_low"),
        (F.col("hi14") - F.col("lo14")).alias("channel_width"),
        (F.col("cents") > F.col("hi14")).alias("breakout_up"),
        (F.col("cents") < F.col("lo14")).alias("breakout_down"))


# ---------------------------------------------------------------------------
# W15 — up-day streaks (gaps-and-islands on the daily series) (r9)
# ---------------------------------------------------------------------------

@register(
    "w15_up_streaks",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    flagged AS (
      SELECT event_type, day,
             (cents > LAG(cents) OVER (PARTITION BY event_type
                                       ORDER BY day)) AS up,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ),
    ups AS (
      SELECT event_type, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY rn) AS grp
      FROM flagged WHERE up
    ),
    islands AS (
      SELECT event_type, COUNT(*) AS len
      FROM ups GROUP BY event_type, grp
    )
    SELECT f.event_type,
           COUNT(*) AS n_days,
           CAST(SUM(CASE WHEN f.up THEN 1 ELSE 0 END) AS BIGINT)
             AS n_up_days,
           CAST(COALESCE((SELECT MAX(len) FROM islands i
                          WHERE i.event_type = f.event_type), 0)
                AS BIGINT) AS longest_up_streak,
           CAST(COALESCE((SELECT COUNT(*) FROM islands i
                          WHERE i.event_type = f.event_type), 0)
                AS BIGINT) AS n_streaks
    FROM flagged f GROUP BY f.event_type
    """,
)
def w15_up_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15 — UP-DAY STREAKS: per event type, how many days revenue
    rose versus the previous day, the LONGEST consecutive run of
    rises, and the streak count — w8's gaps-and-islands technique
    applied to day-over-day direction (w13 counts record highs; this
    measures momentum persistence, the "N green days in a row"
    stat).

    Islands by the classic rn − rn_up difference: consecutive up-days
    share a group key, one bounded agg per island. All windows run
    over the per-day AGGREGATE (calendar-bounded rows per type — the
    a22 discipline; the first day of a type has NULL lag, counted
    not-up on both engines via the strict > on NULL). Counts are
    exact integers end to end."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(cents).alias("cents")))
    wd = Window.partitionBy("event_type").orderBy("day")
    flagged = (daily
               .withColumn("up", F.col("cents")
                           > F.lag("cents").over(wd))
               .withColumn("rn", F.row_number().over(wd)))
    wu = Window.partitionBy("event_type").orderBy("rn")
    ups = (flagged.filter(F.col("up"))
                  .withColumn("grp", F.col("rn")
                              - F.row_number().over(wu)))
    islands = (ups.groupBy("event_type", "grp")
                  .agg(F.count(F.lit(1)).alias("len")))
    per_type = (islands.groupBy("event_type")
                       .agg(F.max("len").cast("long")
                             .alias("longest_up_streak"),
                            F.count(F.lit(1)).cast("long")
                             .alias("n_streaks")))
    base = (flagged.groupBy("event_type")
                   .agg(F.count(F.lit(1)).alias("n_days"),
                        F.sum(F.when(F.col("up"), 1).otherwise(0))
                         .cast("long").alias("n_up_days")))
    return (base.join(per_type, "event_type", "left")
                .select("event_type", "n_days", "n_up_days",
                        F.coalesce("longest_up_streak", F.lit(0))
                         .cast("long").alias("longest_up_streak"),
                        F.coalesce("n_streaks", F.lit(0))
                         .cast("long").alias("n_streaks")))


# ---------------------------------------------------------------------------
# W16 — maximum drawdown of the daily revenue level (r10)
# ---------------------------------------------------------------------------

@register(
    "w16_revenue_drawdown",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, day, cents,
             CAST(MAX(cents) OVER (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM daily
    ),
    worst AS (
      SELECT event_type, day, peak, peak - cents AS draw,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY peak - cents DESC, day) AS wr
      FROM dd
    ),
    under AS (
      SELECT event_type, rn,
             rn - ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY rn) AS grp
      FROM dd WHERE cents < peak
    ),
    spells AS (
      SELECT event_type, COUNT(*) AS len
      FROM under GROUP BY event_type, grp
    )
    SELECT d.event_type,
           COUNT(*) AS n_days,
           CAST(MAX(d.peak) AS BIGINT) AS peak_cents,
           CAST(MAX(d.peak - d.cents) AS BIGINT) AS max_drawdown,
           (SELECT CAST(w.day AS VARCHAR) FROM worst w
            WHERE w.event_type = d.event_type AND w.wr = 1)
             AS trough_day,
           (SELECT {sql_round_half_up('w.draw * 1.0 / w.peak', 6)}
            FROM worst w
            WHERE w.event_type = d.event_type AND w.wr = 1)
             AS drawdown_frac,
           CAST(SUM(CASE WHEN d.cents < d.peak THEN 1 ELSE 0 END)
                AS BIGINT) AS underwater_days,
           CAST(COALESCE((SELECT MAX(len) FROM spells s
                          WHERE s.event_type = d.event_type), 0)
                AS BIGINT) AS longest_underwater
    FROM dd d GROUP BY d.event_type
    """,
)
def w16_revenue_drawdown(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """W16 — MAXIMUM DRAWDOWN of the daily revenue level per event
    type: the worst peak-to-trough decline (running max of daily
    cents minus the day's cents), WHEN it bottomed, the decline as a
    fraction of the peak, and how long the series stays below a prior
    peak — the canonical "how bad did it get and for how long" KPI
    monitor beside w13's record days (new highs) and w14's channel
    breakouts (new extremes). The design-time degeneracy probe
    reframed this from the textbook cumulative-equity form: event
    values are non-negative at every SF, so a cumulative curve is
    monotone and its drawdown is identically zero — the LEVEL of
    daily revenue is the series that actually draws down.

    Determinism: cents are exact BIGINT, the running peak is an
    integer MAX, the drawdown an integer difference; the trough day
    is the FIRST day attaining the maximum (draw DESC, day ASC — a
    total order); drawdown_frac is a class-A integer ratio through
    the floor kernel at 6dp. All windows run over the per-day
    aggregate (calendar-bounded rows per type — the a22/w14
    discipline), and the underwater spells reuse w15's rn-difference
    islands."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(cents).alias("cents")))
    wd = Window.partitionBy("event_type").orderBy("day")
    dd = (daily
          .withColumn("peak", F.max("cents").over(
              wd.rowsBetween(Window.unboundedPreceding, 0))
              .cast("long"))
          .withColumn("rn", F.row_number().over(wd)))
    draw = F.col("peak") - F.col("cents")
    ww = Window.partitionBy("event_type").orderBy(
        draw.desc(), "day")
    worst = (dd.withColumn("wr", F.row_number().over(ww))
               .filter(F.col("wr") == 1)
               .select("event_type",
                       F.col("day").cast("string").alias("trough_day"),
                       round_half_up(draw * 1.0 / F.col("peak"), 6)
                        .alias("drawdown_frac")))
    wu = Window.partitionBy("event_type").orderBy("rn")
    under = (dd.filter(F.col("cents") < F.col("peak"))
               .withColumn("grp", F.col("rn")
                           - F.row_number().over(wu)))
    spells = (under.groupBy("event_type", "grp")
                   .agg(F.count(F.lit(1)).alias("len"))
                   .groupBy("event_type")
                   .agg(F.max("len").cast("long")
                         .alias("longest_underwater")))
    base = (dd.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_days"),
                   F.max("peak").cast("long").alias("peak_cents"),
                   F.max(draw).cast("long").alias("max_drawdown"),
                   F.sum(F.when(F.col("cents") < F.col("peak"), 1)
                          .otherwise(0)).cast("long")
                    .alias("underwater_days")))
    return (base.join(worst, "event_type")
                .join(spells, "event_type", "left")
                .select("event_type", "n_days", "peak_cents",
                        "max_drawdown", "trough_day", "drawdown_frac",
                        "underwater_days",
                        F.coalesce("longest_underwater", F.lit(0))
                         .cast("long").alias("longest_underwater")))
