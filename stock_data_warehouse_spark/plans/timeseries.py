"""Event-time window queries — OP-T4/T5/T6 batch forms (SURVEY.md §2.9).

The reference's "streaming" is a 4×/day cron micro-batch (update.yml:4-7);
the declared streaming surface runs over the ``events`` table. These are
the batch-expressible forms — the SAME ``F.window`` / ``session_window``
expressions work unchanged under ``readStream`` (the streaming forms with
watermarks live in ``streaming/jobs.py``, rows-only checked).

Oracle parity notes:
- Spark's tumbling/sliding windows are epoch-aligned; the oracle computes
  window starts with pure integer arithmetic on ``epoch_us`` (DuckDB's
  ``time_bucket`` has a 2000-01-03 origin — avoided entirely).
- ``events.ts`` is TIMESTAMP(NANOS) in parquet but all values are µs-clean
  (verified), so Spark's µs truncation is lossless vs DuckDB's ns read.
- Sums of doubles are rounded on both sides (SURVEY.md §7 hard-part 7).

Scale posture: tumbling/sliding aggs are partial+final hash aggregations
keyed on (window, type) — map-side combine collapses each partition to
one row per group before the shuffle. Session windows shuffle once on
user_id; the gap-merge is a per-key sort within the shuffle partition —
no global sort, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import (half_up_cents, sql_half_up_cents,
                                 sql_round_half_up)
from ..sources.tables import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# OP-T4 — tumbling window aggregation
# ---------------------------------------------------------------------------

@register(
    "t4_tumbling_hourly",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           CAST(ROUND(CAST(AVG(value) AS DECIMAL(38,10)), 6) AS DOUBLE)
             AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def t4_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T4 — hourly tumbling counts/sums per event type via
    ``F.window`` — the exact expression a ``readStream`` would use; in
    batch it plans as a plain hash aggregation on the derived window."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 4).alias("sum_value"),
                  # avg of 2-decimal values with a power-of-two group
                  # size lands exactly on a half-boundary at 6 digits;
                  # decimal-routed rounding keeps both engines on the
                  # same side (SURVEY.md §7 hard-parts 1+7)
                  F.round(F.avg("value").cast("decimal(38,10)"), 6)
                   .cast("double").alias("avg_value"))
             .select(F.col("w.start").alias("window_start"),
                     "event_type", "n_events", "sum_value", "avg_value"))


# ---------------------------------------------------------------------------
# OP-T5 — sliding window aggregation
# ---------------------------------------------------------------------------

@register(
    "t5_sliding_hourly_15m",
    oracle="""
    WITH slid AS (
      SELECT make_timestamp(
               (epoch_us(ts) // 900000000) * 900000000
               - j * 900000000) AS window_start,
             event_type, value
      FROM events
      CROSS JOIN (SELECT unnest([0, 1, 2, 3]::BIGINT[]) AS j)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM slid
    GROUP BY 1, 2
    """,
)
def t5_sliding_hourly_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T5 — 1-hour windows sliding every 15 minutes: each event lands
    in exactly 4 overlapping windows. Spark expands via ``F.window``'s
    slide; the oracle replays the expansion with an explicit 4-way
    unnest + epoch arithmetic (same epoch alignment)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"),
                      "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 4).alias("sum_value"))
             .select(F.col("w.start").alias("window_start"),
                     "event_type", "n_events", "sum_value"))


# ---------------------------------------------------------------------------
# OP-T6 — session windows (gap-based)
# ---------------------------------------------------------------------------

@register(
    "t6_session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 6 HOUR AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def t6_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T6 — per-user session windows with a 6-hour inactivity gap via
    ``F.session_window`` (start = first event, end = last event + gap —
    Spark's definition, mirrored in the oracle's lag-gap-cumsum rewrite,
    the hand-written SQL denotation from SURVEY.md §4c)."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.session_window("ts", "6 hours").alias("w"),
                      "user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.round(F.sum("value"), 4).alias("sum_value"))
             .select("user_id",
                     F.col("w.start").alias("session_start"),
                     F.col("w.end").alias("session_end"),
                     "n_events", "sum_value"))


# ---------------------------------------------------------------------------
# OP-T anomaly — rolling z-score outlier detection
# ---------------------------------------------------------------------------

@register(
    "t11_anomaly_zscore",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts, value,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    stats AS (
      SELECT event_id, user_id, ts, value, cents,
             SUM(cents) OVER w AS s,
             SUM(cents * cents) OVER w AS sq,
             COUNT(*) OVER w AS n
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts, value,
           (cents - CAST(s AS DOUBLE) / n)
             / sqrt((sq - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS zscore
    FROM stats
    WHERE n >= 12
      AND (sq - CAST(s AS DOUBLE) * s / n) / (n - 1) > 0
      AND abs((cents - CAST(s AS DOUBLE) / n)
              / sqrt((sq - CAST(s AS DOUBLE) * s / n) / (n - 1))) >= 3
    """,
)
def t11_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: flag events whose value sits
    ≥3 sample standard deviations from the trailing 24-event mean of
    that user (current row excluded; ≥12 prior events required).

    Cross-engine FP discipline: sliding-frame SUMs are computed over
    *exact integers* (cents = round(value·100) — the 2-decimal values
    make this lossless), because the two engines aggregate frames in
    different association orders (Spark rescans the frame linearly,
    DuckDB uses a segment tree) — integer addition is associative, so
    both produce identical sums, and every downstream double operation
    (÷, −, sqrt) is a deterministic IEEE function of those identical
    integers. No rounding needed on the z itself.

    Scale shape: one shuffle on user_id; the frame is a bounded 24-row
    sliding window inside the per-key sort — no unbounded state, the
    same plan a streaming `applyInPandasWithState` twin would keep."""
    e = _t(spark, sf_dir, "events")
    c = e.select("event_id", "user_id", "ts", "value",
                 F.round(F.col("value") * 100).cast("bigint")
                  .alias("cents"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(-24, -1))
    stats = c.select(
        "event_id", "user_id", "ts", "value", "cents",
        F.sum("cents").over(w).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("sq"),
        F.count(F.lit(1)).over(w).alias("n"))
    mean = F.col("s").cast("double") / F.col("n")
    var = ((F.col("sq") - F.col("s").cast("double") * F.col("s")
            / F.col("n")) / (F.col("n") - 1))
    z = (F.col("cents") - mean) / F.sqrt(var)
    return (stats.filter((F.col("n") >= 12) & (var > 0)
                         & (F.abs(z) >= 3))
                 .select("event_id", "user_id", "ts", "value",
                         z.alias("zscore")))


# ---------------------------------------------------------------------------
# OP-T12 — interval (stream-stream) join, batch form
# ---------------------------------------------------------------------------

@register(
    "t12_interval_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def t12_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T12 — every purchase matched to the clicks that preceded it by
    ≤30 minutes for the same user: the batch twin of a watermarked
    stream-stream interval join (`clicks.join(purchases, expr(...))`
    with both sides watermarked — identical predicate, state bounded by
    the 30-minute horizon).

    The range predicate is made EQUI-joinable by time banding: clicks
    replicate into their own 30-minute epoch bucket and the next one;
    purchases carry just their bucket — so every qualifying pair meets
    on exactly one (user_id, bucket) key and the join is a plain hash
    join costing Σ bucket-pair sizes, never the per-user quadratic
    blow-up of joining on user_id alone and post-filtering. Exact µs
    arithmetic end to end — no FP anywhere."""
    e = _t(spark, sf_dir, "events")
    band = F.lit(1_800_000_000)  # 30 min in µs
    c = (e.filter(F.col("event_type") == "click")
          .select("user_id", F.col("event_id").alias("click_id"),
                  F.unix_micros("ts").alias("c_us")))
    c = c.withColumn(
        "bucket",
        F.explode(F.array(F.floor(F.col("c_us") / band),
                          F.floor(F.col("c_us") / band) + 1)))
    p = (e.filter(F.col("event_type") == "purchase")
          .select("user_id", F.col("event_id").alias("purchase_id"),
                  F.unix_micros("ts").alias("p_us"),
                  F.floor(F.unix_micros("ts") / band).alias("bucket")))
    lag = F.col("p_us") - F.col("c_us")
    return (c.join(p, ["user_id", "bucket"])
             .filter((lag >= 0) & (lag <= band))
             .select("user_id", "click_id", "purchase_id",
                     lag.alias("lag_us")))


# ---------------------------------------------------------------------------
# OP-T14/T15 — windowed distinct counts; sessionized journey paths
# ---------------------------------------------------------------------------

@register(
    "t14_tumbling_distinct_users",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
             AS window_start,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def t14_tumbling_distinct_users(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """OP-T14 — unique users per hour: the classic windowed
    distinct-count metric. Spark plans COUNT(DISTINCT) as a two-stage
    expand/partial-agg (first dedupe (window, user) partials map-side,
    then count) — no global distinct materialization. At streaming
    scale the same metric runs as approx_count_distinct (mergeable HLL
    — a7's sketch twin) when exactness stops paying for its shuffle."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"))
             .agg(F.countDistinct("user_id").alias("n_users"),
                  F.count(F.lit(1)).alias("n_events"))
             .select(F.col("w.start").alias("window_start"),
                     "n_users", "n_events"))


@register(
    "t15_session_paths",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)
                  <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def t15_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T15 — user-journey paths: each 6-hour-gap session reduced to
    its ordered event-type sequence ('view>click>purchase') — the input
    relation for funnel mining and next-event models. Sessionization is
    the lag-gap-cumsum rewrite (same as t6); the path is an *ordered*
    reduction — ``collect_list(struct(ts, event_id, type))`` +
    ``array_sort`` + ``transform`` — so the sequence is total-ordered
    and engine-stable even though Spark's aggregation order is not.
    Scale: one shuffle on user_id; paths are bounded by session length,
    never by history length."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 6 * 3600 * 1_000_000
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_session = F.when(
        prev_us.isNull()
        | (F.unix_micros("ts") - prev_us > gap_us), 1).otherwise(0)
    sess = (e.select("user_id", "ts", "event_id", "event_type",
                     new_session.alias("new_session"))
             .withColumn("session_id",
                         F.sum("new_session").over(
                             w.rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow))))
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type")))
    return (sess.groupBy("user_id", "session_id")
                .agg(F.min("ts").alias("session_start"),
                     F.count(F.lit(1)).alias("n_events"),
                     F.concat_ws(
                         ">",
                         F.transform(ordered,
                                     lambda s: s["event_type"]))
                      .alias("path")))


# ---------------------------------------------------------------------------
# OP-T17 — continuous-aggregate rollup (hypertable pattern)
# ---------------------------------------------------------------------------

@register(
    "t17_continuous_rollup",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 86400000000) * 86400000000)
             AS day,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           COUNT(DISTINCT epoch_us(ts) // 3600000000) AS n_active_hours
    FROM events
    GROUP BY 1, 2
    """,
)
def t17_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T17 — continuous-aggregate rollup: daily stats derived from an
    HOURLY materialization layer, never from raw events (the hypertable
    /continuous-aggregate pattern: TimescaleDB docs; Spark's equivalent
    is a layered Structured Streaming job where each tier consumes the
    tier below). Reference semantic anchor: the 4×/day refresh cadence
    (update.yml:4-7) — serving tiers re-aggregate the previous tier
    rather than rescanning history.

    Only algebraic aggregates survive re-aggregation: count→sum,
    sum→sum, min→min, max→max; the active-hour count falls out free as
    COUNT(*) of hourly rows. AVG would be re-derived as sum/count, never
    averaged-of-averages. The oracle computes the daily tier directly
    from raw events — so the check proves the two-layer rollup is
    lossless, which is the entire correctness obligation of this
    pattern. Scale: the daily tier reads |hours|×|types| rows instead of
    the raw fact table — at 100 TB the rescan this avoids IS the win;
    both layers are partial+final hash aggs with map-side combine.

    Sum rounded at the final tier only (4dp; SURVEY.md §7 hard-part 7 —
    the hourly partials stay unrounded so no double-rounding).
    """
    e = _t(spark, sf_dir, "events")
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum("value").alias("sum_value"),
                    F.min("value").alias("min_value"),
                    F.max("value").alias("max_value")))
    return (hourly
            .groupBy(F.date_trunc("day", F.col("w.start")).alias("day"),
                     "event_type")
            .agg(F.sum("n_events").alias("n_events"),
                 F.round(F.sum("sum_value"), 4).alias("sum_value"),
                 F.min("min_value").alias("min_value"),
                 F.max("max_value").alias("max_value"),
                 F.count(F.lit(1)).alias("n_active_hours")))


# ---------------------------------------------------------------------------
# OP-T18 — trending top-k per window (rank over a windowed aggregate)
# ---------------------------------------------------------------------------

@register(
    "t18_trending_topk",
    oracle="""
    WITH hourly AS (
      SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000)
               AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY window_start
        ORDER BY n_events DESC, event_type) AS rnk
      FROM hourly
    ) WHERE rnk <= 3
    """,
)
def t18_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T18 — "trending now": top-3 event types per hourly window by
    count — the rank-over-windowed-aggregate composition every
    monitoring/leaderboard surface needs (tumbling agg → per-window
    rank). Two stages: a map-side-combinable hash aggregation on
    (window, type), then a rank window partitioned by the window start —
    whose cardinality GROWS with stream length, so no single-partition
    bottleneck at scale; ties break deterministically on event_type
    (SURVEY.md §7 hard-part 4).
    """
    e = _t(spark, sf_dir, "events")
    hourly = (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
               .agg(F.count(F.lit(1)).alias("n_events"))
               .select(F.col("w.start").alias("window_start"),
                       "event_type", "n_events"))
    rank_w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type")
    return (hourly.withColumn("rnk", F.row_number().over(rank_w))
                  .filter(F.col("rnk") <= 3))


# ---------------------------------------------------------------------------
# OP-T31 — capped sessionization: inactivity gap + max-duration split
# ---------------------------------------------------------------------------

_CAP_GAP_US = 6 * 3600 * 1_000_000    #: 6-hour inactivity gap (t6's)
_CAP_MAX_US = 12 * 3600 * 1_000_000   #: 12-hour session-duration cap


@register(
    "t31_session_cap",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             {sql_half_up_cents('value')} AS cents
      FROM events
    ),
    o AS (
      SELECT e.*,
             CASE WHEN us - LAG(us) OVER (
                    PARTITION BY user_id ORDER BY us, event_id)
                  <= {_CAP_GAP_US} THEN 0 ELSE 1 END AS brk
      FROM e
    ),
    s AS (
      SELECT o.*,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM o
    ),
    a AS (
      SELECT s.*,
             MIN(us) OVER (PARTITION BY user_id, sid) AS anchor_us
      FROM s
    ),
    sl AS (
      SELECT user_id, sid, anchor_us,
             (us - anchor_us) // {_CAP_MAX_US} AS slice_idx,
             us, cents
      FROM a
    ),
    g AS (
      SELECT user_id, sid, anchor_us, slice_idx,
             MIN(us) AS slice_start_us, MAX(us) AS slice_end_us,
             COUNT(*) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM sl GROUP BY 1, 2, 3, 4
    )
    SELECT user_id,
           make_timestamp(anchor_us) AS session_start,
           slice_idx,
           make_timestamp(slice_start_us) AS slice_start,
           make_timestamp(slice_end_us) AS slice_end,
           n_events, sum_cents,
           (COUNT(*) OVER (PARTITION BY user_id, sid) > 1) AS was_split
    FROM g
    """,
)
def t31_session_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-T31 — capped sessionization: per-user inactivity-gap sessions
    (t6's 6-hour gap) additionally SPLIT when they exceed a maximum
    duration — the GA4/Amplitude session-cap rule ("a session cannot
    run longer than X even with continuous activity", the guard
    against bot traffic and midnight-crossing analytics). Spark's
    ``session_window`` has no max-duration knob, so the operator is
    composed from first principles: lag-gap-cumsum sessionization
    (each per-user window partition stays bounded — user_id is the
    unbounded-cardinality partitioning CLAUDE.md's scale posture
    wants), a per-session anchor via ``min() over``, then the cap
    slice as integer-µs division from the anchor — every slice
    boundary is deterministic arithmetic, no iteration, and the
    timer-anchored-at-session-start semantics is the documented GA4
    variant (a slice's timer does NOT restart on activity).

    Output: one row per non-empty slice with observed bounds
    (first/last event), the slice index, the class-A cents sum, and a
    ``was_split`` flag (anchor session produced >1 slice — 8 sessions
    at sf0.001, 135 at sf0.01 exceed the cap, so the split path is
    exercised at every SF). Scale shape: two window passes + one agg,
    all partitioned on user_id; no joins, no collect.
    """
    e = (_t(spark, sf_dir, "events")
         .select("user_id", "event_id",
                 F.unix_micros("ts").alias("us"),
                 half_up_cents(F.col("value")).alias("cents")))
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(
        F.col("us") - F.lag("us").over(wo) <= _CAP_GAP_US,
        F.lit(0)).otherwise(F.lit(1))
    s = (e.withColumn("brk", brk)
          .withColumn("sid", F.sum("brk").over(
              wo.rowsBetween(Window.unboundedPreceding, 0))))
    a = s.withColumn("anchor_us", F.min("us").over(
        Window.partitionBy("user_id", "sid")))
    sl = a.withColumn(
        "slice_idx",
        F.expr(f"(us - anchor_us) div {_CAP_MAX_US}"))
    g = (sl.groupBy("user_id", "sid", "anchor_us", "slice_idx")
           .agg(F.min("us").alias("slice_start_us"),
                F.max("us").alias("slice_end_us"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("sum_cents")))
    wsplit = Window.partitionBy("user_id", "sid")
    return (g.withColumn("was_split",
                         F.count(F.lit(1)).over(wsplit) > 1)
             .select("user_id",
                     F.timestamp_micros("anchor_us")
                      .alias("session_start"),
                     "slice_idx",
                     F.timestamp_micros("slice_start_us")
                      .alias("slice_start"),
                     F.timestamp_micros("slice_end_us")
                      .alias("slice_end"),
                     "n_events", "sum_cents", "was_split"))


# ---------------------------------------------------------------------------
# T32 — event-type transition matrix (the Markov / Sankey shape)
# ---------------------------------------------------------------------------

@register(
    "t32_event_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type,
             COUNT(*) AS n_transitions
      FROM ordered WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    )
    SELECT from_type, to_type, n_transitions,
           CAST(ROUND(CAST(
             n_transitions / CAST(SUM(n_transitions) OVER (
               PARTITION BY from_type) AS DOUBLE)
             AS DECIMAL(38,10)), 6) AS DOUBLE) AS p_transition
    FROM pairs
    """,
)
def t32_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T32 — first-order transition matrix over each user's event
    stream: P(next event type | current), the Markov estimate behind
    every product-analytics Sankey / "what do users do after X" view.

    Shape: ONE window (lead over the unbounded-cardinality user key,
    order (ts, event_id) — the unique-last-key total order every
    window here carries) + ONE hash agg to the bounded type-pair
    matrix (≤ |types|² rows). The row-normalization runs over that
    bounded matrix, not over events — a 25-row window at any corpus
    size. Probability is integer-ratio class-B-routed at 6dp (the
    division is two exact BIGINTs, but the quotient feeds AVG-free
    ROUND — decimal quantization keeps both engines on the same side
    of any representability edge)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.withColumn("next_type",
                           F.lead("event_type").over(w))
               .filter(F.col("next_type").isNotNull())
               .groupBy(F.col("event_type").alias("from_type"),
                        F.col("next_type").alias("to_type"))
               .agg(F.count(F.lit(1)).alias("n_transitions")))
    wm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type", "to_type", "n_transitions",
        F.round((F.col("n_transitions")
                 / F.sum("n_transitions").over(wm).cast("double"))
                .cast("decimal(38,10)"), 6)
         .cast("double").alias("p_transition"))


# ---------------------------------------------------------------------------
# T34 — RSI technical indicator over the daily series
# ---------------------------------------------------------------------------

_RSI_N = 5


@register(
    "t34_rsi_indicator",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(SUM({sql_half_up_cents('value')}) AS BIGINT) AS cents
      FROM events GROUP BY event_type, ts::DATE
    ),
    diffs AS (
      SELECT event_type, day, cents,
             cents - LAG(cents) OVER (PARTITION BY event_type
                                      ORDER BY day) AS d
      FROM daily
    ),
    gl AS (
      SELECT event_type, day, cents,
             CAST(GREATEST(d, 0) AS BIGINT) AS gain,
             CAST(GREATEST(-d, 0) AS BIGINT) AS loss,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY day) AS rn
      FROM diffs WHERE d IS NOT NULL
    ),
    win AS (
      SELECT event_type, day, cents, rn,
             CAST(SUM(gain) OVER w AS BIGINT) AS g,
             CAST(SUM(loss) OVER w AS BIGINT) AS l,
             COUNT(*) OVER w AS nw
      FROM gl
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN {_RSI_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, cents, g AS gains,
           l AS losses,
           CASE WHEN g + l = 0 THEN NULL ELSE
             {sql_round_half_up('100.0 * g / (g + l)', 4)} END AS rsi,
           (g + l > 0 AND 100.0 * g / (g + l) > 70) AS overbought,
           (g + l > 0 AND 100.0 * g / (g + l) < 30) AS oversold
    FROM win WHERE nw = {_RSI_N}
    """,
)
def t34_rsi_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T34 — the Relative Strength Index (Cutler's simple-average
    form) over each event type's daily revenue series: RSI =
    100·G/(G+L) over a trailing {N}-day window of gains vs losses,
    with the standard 70/30 overbought/oversold gates — the
    reference's DOMAIN (a stock-data fetcher feeds exactly this class
    of technical indicator) served from the warehouse. Cutler's
    variant is used deliberately: Wilder's smoothing is a recursion
    (EWMA-coupled) while the simple average is a frame window, so the
    indicator stays declarative — and since RSI = 100·G/(G+L) with G,
    L exact BIGINT sums, the indicator and both gates are integer-
    ratio exact (floor kernel at 4dp; flat windows -> NULL, guarded
    identically in both engines).

    Shape: one daily hash agg over raw events, then lag + frame
    windows over the bounded (type, day) series — the same
    partitioned-series discipline as w9/a29; warm-up rows (incomplete
    windows) are excluded by the window row count, not by date
    arithmetic."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
               .agg(F.sum(cents).alias("cents")))
    wo = Window.partitionBy("event_type").orderBy("day")
    diffs = (daily.withColumn("d", F.col("cents")
                              - F.lag("cents").over(wo))
                  .filter(F.col("d").isNotNull()))
    gl = (diffs.withColumn("gain",
                           F.greatest(F.col("d"), F.lit(0))
                            .cast("long"))
               .withColumn("loss",
                           F.greatest(-F.col("d"), F.lit(0))
                            .cast("long")))
    wf = (Window.partitionBy("event_type").orderBy("day")
                .rowsBetween(-(_RSI_N - 1), 0))
    win = (gl.withColumn("g", F.sum("gain").over(wf).cast("long"))
             .withColumn("l", F.sum("loss").over(wf).cast("long"))
             .withColumn("nw", F.count(F.lit(1)).over(wf))
             .filter(F.col("nw") == _RSI_N))
    from ..functions.scalars import round_half_up as _rhu
    rsi_raw = 100.0 * F.col("g") / (F.col("g") + F.col("l"))
    has = F.col("g") + F.col("l") > 0
    return win.select(
        "event_type", F.col("day").cast("string").alias("day"),
        "cents", F.col("g").alias("gains"), F.col("l").alias("losses"),
        F.when(has, _rhu(rsi_raw, 4)).alias("rsi"),
        (has & (rsi_raw > 70)).alias("overbought"),
        (has & (rsi_raw < 30)).alias("oversold"))


# ---------------------------------------------------------------------------
# T35 — out-of-orderness profile (the watermark-sizing report)
# ---------------------------------------------------------------------------

@register(
    "t35_disorder_profile",
    oracle="""
    WITH arrival AS (
      SELECT event_type, ts,
             MAX(ts) OVER (PARTITION BY event_type
                           ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS frontier
      FROM events
    ),
    lag AS (
      SELECT event_type,
             epoch_us(frontier) - epoch_us(ts) AS lag_us
      FROM arrival
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN lag_us > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           CAST(MAX(lag_us) AS BIGINT) AS max_lag_us,
           CAST(FLOOR(quantile_cont(lag_us, 0.95)) AS BIGINT)
             AS p95_lag_us,
           CAST(FLOOR(quantile_cont(lag_us, 0.99)) AS BIGINT)
             AS p99_lag_us
    FROM lag GROUP BY event_type
    """,
)
def t35_disorder_profile(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """T35 — the OUT-OF-ORDERNESS profile: per event type, how far
    behind the running event-time frontier do events arrive (lag =
    frontier-at-arrival minus own ts; arrival order = event_id, the
    ingest sequence)? This report is how a watermark delay is
    actually SIZED — the t22-family queries all assume a chosen
    lateness horizon; p95/p99/max of this distribution is where that
    number comes from (pick the watermark at p99 and you quantify
    exactly the drop rate you signed up for). The t-family's
    observability closer: every streaming query here gets its one
    free parameter justified by a measurement.

    Determinism: the frontier is a running MAX over the (event_id)
    total order — exact timestamps, integer µs lags; quantiles are
    exact continuous interpolation (lo + (hi−lo)·frac, the formula
    both engines' exact quantiles use, on identical integer ranks),
    FLOORED explicitly before the BIGINT cast (DuckDB's double cast
    rounds, Spark's truncates — the a35 lesson applied here).

    Scale shape (VERDICT r7 item 1 — event_type is a ~5-value key, so
    partitioning windows/aggregates on it alone is a corpus-sized
    buffer per task): the running max decomposes two-level over
    fixed-width event_id blocks (operators/staircase.py — local
    running max per (type, block), strictly-earlier block maxes
    broadcast back; exact because max is associative); the p95/p99
    come from a BUCKETED-EXACT RANK LOOKUP instead of Spark's
    buffering `percentile()` aggregate: per-(type, sub-octave lag
    band) counts cumulate over the second-level band dim to locate
    the band holding each target rank; single-valued bands (the
    giant lag=0 tie mass) answer directly with no sort, multi-valued
    target bands rank ONLY their own rows locally. No task ever
    holds more than one value band of one type."""
    ev = _t(spark, sf_dir, "events")
    from ..operators.staircase import bucketed_running_max
    fr = bucketed_running_max(
        ev.withColumn("_eb", F.floor(F.col("event_id") / 65536)),
        ["event_type"], ["_eb"], [F.col("_eb")],
        [F.col("event_id")], F.col("ts"), out="frontier")
    lag = fr.select(
        "event_type",
        (F.unix_micros("frontier") - F.unix_micros("ts"))
         .alias("lag_us"))
    pern = (lag.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.when(F.col("lag_us") > 0, 1).otherwise(0))
                     .cast("long").alias("n_late"),
                    F.max("lag_us").cast("long").alias("max_lag_us")))
    from ..operators.staircase import bucketed_exact_quantiles
    qs = bucketed_exact_quantiles(lag, ["event_type"], "lag_us",
                                  [0.95, 0.99])
    res = qs.select("event_type",
                    F.floor("q0").cast("long").alias("p95_lag_us"),
                    F.floor("q1").cast("long").alias("p99_lag_us"))
    return (pern.join(F.broadcast(res), "event_type")
                .select("event_type", "n_events", "n_late",
                        "max_lag_us", "p95_lag_us", "p99_lag_us"))


# ---------------------------------------------------------------------------
# T36 — peak concurrency (the +1/-1 interval sweep)
# ---------------------------------------------------------------------------

@register(
    "t36_peak_concurrency",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       <= INTERVAL 6 HOUR THEN 0 ELSE 1 END
               AS new_session
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM ordered
    ),
    sess AS (
      SELECT user_id, sid, MIN(ts) AS s_start,
             MAX(ts) + INTERVAL 6 HOUR AS s_end
      FROM s GROUP BY user_id, sid
    ),
    deltas AS (
      SELECT s_start AS at_ts, 1 AS delta, user_id, sid FROM sess
      UNION ALL
      SELECT s_end, -1, user_id, sid FROM sess
    ),
    swept AS (
      SELECT at_ts, delta,
             CAST(SUM(delta) OVER (
               ORDER BY at_ts, delta, user_id, sid
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live
      FROM deltas
    )
    SELECT CAST(at_ts::DATE AS VARCHAR) AS day,
           CAST(MAX(live) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_session_starts
    FROM swept GROUP BY at_ts::DATE
    """,
)
def t36_peak_concurrency(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """T36 — PEAK CONCURRENCY via the classic +1/-1 interval sweep:
    sessionized intervals (the t15 gap rule, 6h inactivity + 6h
    linger) emit +1 at start and -1 at end; the running sum over the
    global endpoint order is the number of live sessions at every
    instant, and its per-day MAX is the capacity number an ops team
    actually provisions for (the interval-stabbing maximum — a
    GROUP BY can count sessions touching a day, but not how many
    overlap at once).

    Determinism: the sweep order ends in (delta, user, sid) so a
    start and an end at the identical microsecond order the same way
    in both engines (-1 before +1: a session ending exactly as
    another starts does not inflate the peak — pinned by the order,
    not by luck). Scale: sessionization is the per-user series
    discipline; the global-order sweep runs DECOMPOSED per
    day-partition with boundary carry-in (the two-level staircase,
    operators/staircase.py — VERDICT r7 item 1): each day's endpoints
    sweep locally in their own partition (count growing with the
    time span), a day-level agg sums each day's net Σdelta, and the
    strictly-earlier-day prefix (live sessions carried over midnight)
    joins back broadcast — exact, since +1/−1 addition is order-free
    across the day boundary."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (ev.withColumn(
            "new_session",
            F.when(F.col("ts") - F.lag("ts").over(wu)
                   <= F.expr("INTERVAL 6 HOURS"), 0).otherwise(1))
           .withColumn("sid", F.sum("new_session").over(
               wu.rowsBetween(Window.unboundedPreceding, 0))))
    sess = (s.groupBy("user_id", "sid")
             .agg(F.min("ts").alias("s_start"),
                  (F.max("ts") + F.expr("INTERVAL 6 HOURS"))
                   .alias("s_end")))
    starts = sess.select(F.col("s_start").alias("at_ts"),
                         F.lit(1).alias("delta"), "user_id", "sid")
    ends = sess.select(F.col("s_end").alias("at_ts"),
                       F.lit(-1).alias("delta"), "user_id", "sid")
    deltas = (starts.unionByName(ends)
                    .withColumn("_day", F.to_date("at_ts")))
    from ..operators.staircase import bucketed_cumsum
    swept = bucketed_cumsum(
        deltas, [], ["_day"], [F.col("_day")],
        [F.col("at_ts"), F.col("delta"), F.col("user_id"),
         F.col("sid")],
        F.col("delta"), out="live")
    return (swept.groupBy(F.to_date("at_ts").alias("day"))
                 .agg(F.max("live").cast("long")
                       .alias("peak_concurrent"),
                      F.sum(F.when(F.col("delta") == 1, 1)
                             .otherwise(0)).cast("long")
                       .alias("n_session_starts"))
                 .select(F.col("day").cast("string").alias("day"),
                         "peak_concurrent", "n_session_starts"))


# ---------------------------------------------------------------------------
# J19 — keyed interval-overlap join over sessionized activity (r8)
# ---------------------------------------------------------------------------

@register(
    "j19_session_overlap",
    oracle="""
    WITH c_s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS ns
      FROM events WHERE event_type = 'click'
    ),
    c_sess AS (
      SELECT user_id,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid,
             ts
      FROM c_s
    ),
    c AS (
      SELECT user_id, CAST(sid AS BIGINT) AS click_sid,
             MIN(ts) AS cs, MAX(ts) AS ce,
             COUNT(*) AS click_events
      FROM c_sess GROUP BY 1, 2
    ),
    p_s AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS ns
      FROM events WHERE event_type = 'purchase'
    ),
    p_sess AS (
      SELECT user_id,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid,
             ts
      FROM p_s
    ),
    p AS (
      SELECT user_id, CAST(sid AS BIGINT) AS purchase_sid,
             MIN(ts) AS ps, MAX(ts) AS pe,
             COUNT(*) AS purchase_events
      FROM p_sess GROUP BY 1, 2
    )
    SELECT c.user_id, c.click_sid, p.purchase_sid,
           c.click_events, p.purchase_events,
           CAST(epoch_us(LEAST(c.ce, p.pe))
                - epoch_us(GREATEST(c.cs, p.ps)) AS BIGINT)
             AS overlap_us
    FROM c JOIN p ON c.user_id = p.user_id
     AND c.cs <= p.pe AND p.ps <= c.ce
    """,
)
def j19_session_overlap(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """J19 — KEYED INTERVAL-OVERLAP JOIN: each user's click sessions
    joined to their purchase sessions wherever the two intervals
    overlap (closed-interval predicate ``c.start ≤ p.end AND
    p.start ≤ c.end``), with the overlap duration — "was the buyer
    browsing while they bought?", the attribution primitive that
    point-in-time joins (j18) and as-of joins (j10) can't express
    because BOTH sides are intervals. Completes the join family's
    range coverage: j9 theta on scalars, j16 binned scalar ranges,
    j19 interval×interval.

    Determinism: sessionization is the t15/t36 gap rule over the
    (ts, event_id) total order on each filtered stream; interval
    endpoints are exact min/max timestamps, the overlap is integer
    µs. Scale: the join is EQUI on the unbounded user_id (one
    shuffle per side, co-partitioned) and the overlap predicate
    evaluates within each user's bounded session lists — never a
    keyless interval cross-product; a keyless version would band by
    calendar slice (the j16/o6 bucketing), which the day-banded t36
    sweep already demonstrates."""
    ev = _t(spark, sf_dir, "events")

    def sess(etype: str, sid_name: str, n_name: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
        s = (e.withColumn(
                "ns",
                F.when(F.col("ts") - F.lag("ts").over(wu)
                       <= F.expr("INTERVAL 6 HOURS"), 0).otherwise(1))
              .withColumn("sid", F.sum("ns").over(
                  wu.rowsBetween(Window.unboundedPreceding, 0))))
        return (s.groupBy("user_id", F.col("sid").alias(sid_name))
                 .agg(F.min("ts").alias(f"{sid_name}_s"),
                      F.max("ts").alias(f"{sid_name}_e"),
                      F.count(F.lit(1)).alias(n_name)))

    c = sess("click", "click_sid", "click_events")
    p = sess("purchase", "purchase_sid", "purchase_events")
    return (c.join(p, (c.user_id == p.user_id)
                   & (F.col("click_sid_s") <= F.col("purchase_sid_e"))
                   & (F.col("purchase_sid_s")
                      <= F.col("click_sid_e")))
             .select(c.user_id, "click_sid", "purchase_sid",
                     "click_events", "purchase_events",
                     (F.unix_micros(F.least("click_sid_e",
                                            "purchase_sid_e"))
                      - F.unix_micros(F.greatest("click_sid_s",
                                                 "purchase_sid_s")))
                     .cast("long").alias("overlap_us")))


# ---------------------------------------------------------------------------
# T37 — inactivity churn by acquisition cohort (r8)
# ---------------------------------------------------------------------------

@register(
    "t37_inactivity_churn",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    bound AS (SELECT MAX(ts) AS mx FROM events),
    flagged AS (
      SELECT strftime(first_ts, '%Y-%m') AS cohort_month,
             (last_ts < mx - INTERVAL 30 DAY) AS churned
      FROM per_user, bound
    )
    SELECT cohort_month,
           COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
             AS n_churned,
           {sql_round_half_up(
               'SUM(CASE WHEN churned THEN 1 ELSE 0 END) * 1.0 '
               '/ COUNT(*)', 6)} AS churn_rate
    FROM flagged GROUP BY cohort_month
    """,
)
def t37_inactivity_churn(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """T37 — INACTIVITY CHURN by acquisition cohort: a user is
    churned iff their last event is more than 30 days behind the
    corpus frontier, reported per first-seen month — the standard
    activity-based churn definition (a35's reorder-gap p90 is how
    the 30-day horizon gets CHOSEN; this applies it), and the
    user-level twin of a38's order-level retention triangle.

    Determinism: per-user first/last are exact µs timestamps over
    an unbounded-key agg; the churn cut compares against one global
    max minus a literal interval (exact µs arithmetic both
    engines); cohort labels are zero-padded months; the rate is a
    class-A integer ratio. Shape: one per-user agg (unbounded-key
    shuffle) + a 1-row bound cross-joined broadcast + a bounded
    month agg."""
    ev = _t(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                  .agg(F.min("ts").alias("first_ts"),
                       F.max("ts").alias("last_ts")))
    bound = ev.agg(F.max("ts").alias("mx"))
    flagged = (per_user.crossJoin(F.broadcast(bound))
                       .select(F.date_format("first_ts", "yyyy-MM")
                                .alias("cohort_month"),
                               (F.col("last_ts")
                                < F.col("mx")
                                - F.expr("INTERVAL 30 DAYS"))
                               .alias("churned")))
    from ..functions.scalars import round_half_up as _rhu
    ch = F.sum(F.when(F.col("churned"), 1).otherwise(0))
    return (flagged.groupBy("cohort_month")
                   .agg(F.count(F.lit(1)).alias("n_users"),
                        ch.cast("long").alias("n_churned"),
                        _rhu(ch * 1.0 / F.count(F.lit(1)), 6)
                         .alias("churn_rate")))


# ---------------------------------------------------------------------------
# T38 — DAU / WAU / MAU engagement rollup (r8)
# ---------------------------------------------------------------------------

@register(
    "t38_dau_wau_mau",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT ts::DATE AS day, user_id FROM events
    ),
    bounds AS (SELECT MAX(ts::DATE) AS mxd FROM events),
    exploded AS (
      SELECT du.user_id, du.day,
             du.day + (o * INTERVAL 1 DAY) AS report_day,
             o AS offs
      FROM du
      CROSS JOIN (SELECT unnest(range(0, 30)) AS o)
    )
    SELECT CAST(report_day::DATE AS VARCHAR) AS report_day,
           CAST(COUNT(DISTINCT CASE WHEN offs = 0
                THEN user_id END) AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN offs < 7
                THEN user_id END) AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau,
           {sql_round_half_up(
               'COUNT(DISTINCT CASE WHEN offs = 0 THEN user_id '
               'END) * 1.0 / COUNT(DISTINCT user_id)', 6)}
             AS stickiness
    FROM exploded, bounds
    WHERE report_day <= mxd
    GROUP BY 1
    """,
)
def t38_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T38 — DAU/WAU/MAU: per calendar day, the EXACT count of
    distinct users active that day / in the trailing 7 days / in the
    trailing 30, plus DAU/MAU stickiness — the engagement headline
    of every consumer dashboard (a22's cumulative distinct counts
    ever-seen users; these are the windowed versions that can go
    DOWN).

    Exact rolling distinct can't partial-aggregate across window
    positions (a user active 5× in a month still counts once per
    window), so the honest exact shape is the 30× membership
    fan-out: the DEDUPED (day, user) relation — already tiny vs raw
    events — explodes each activity day to the ≤ 30 report days it
    supports, and ONE distinct-agg per report day computes all three
    via offset-conditional counts (offset 0 → DAU, < 7 → WAU).
    Cost is 30 × |daily-active pairs|, bounded by the window spec,
    never by event volume — and at 100 TB the approximate twin is
    one a7-style HLL sketch per day, merged over 7/30-day suffixes
    (machinery in a17's mergeable rollup). Stickiness is a class-A
    integer ratio."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    mxd = ev.agg(F.max(F.to_date("ts")).alias("mxd"))
    exploded = du.select(
        "user_id", "day",
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("offset")
    ).select(
        "user_id", "offset",
        F.date_add("day", F.col("offset")).alias("report_day"))
    from ..functions.scalars import round_half_up as _rhu
    dau = F.countDistinct(
        F.when(F.col("offset") == 0, F.col("user_id")))
    mau = F.countDistinct("user_id")
    return (exploded.crossJoin(F.broadcast(mxd))
                    .filter(F.col("report_day") <= F.col("mxd"))
                    .groupBy(F.col("report_day").cast("string")
                              .alias("report_day"))
                    .agg(dau.cast("long").alias("dau"),
                         F.countDistinct(
                             F.when(F.col("offset") < 7,
                                    F.col("user_id")))
                          .cast("long").alias("wau"),
                         mau.cast("long").alias("mau"),
                         _rhu(dau * 1.0 / mau, 6).alias("stickiness")))


# ---------------------------------------------------------------------------
# T39 — hour-of-week seasonality profile (r8)
# ---------------------------------------------------------------------------

@register(
    "t39_hour_of_week_profile",
    oracle=f"""
    WITH hw AS (
      SELECT event_type,
             CAST((isodow(ts) - 1) * 24 + hour(ts) AS INTEGER)
               AS hour_of_week,
             {sql_half_up_cents('value')} AS cents
      FROM events
    ),
    prof AS (
      SELECT event_type, hour_of_week,
             COUNT(*) AS n_events,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM hw GROUP BY 1, 2
    ),
    mx AS (
      SELECT event_type, MAX(sum_cents) AS peak
      FROM prof GROUP BY event_type
    )
    SELECT p.event_type, p.hour_of_week, p.n_events, p.sum_cents,
           (p.sum_cents = m.peak) AS is_peak_hour,
           {sql_round_half_up('p.sum_cents * 1.0 / m.peak', 6)}
             AS share_of_peak
    FROM prof p JOIN mx m USING (event_type)
    """,
)
def t39_hour_of_week_profile(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """T39 — the HOUR-OF-WEEK seasonality profile: the 168-slot
    (weekday × hour) revenue heat-map per event type, each slot
    normalized against the type's peak slot — the capacity-planning
    picture behind t36's peak concurrency (t36 says how MANY at the
    worst instant; this says WHEN the worst instants recur) and the
    finer-grained sibling of a29's weekday baseline (which this
    profile is the input for sizing).

    Weekday comes from isodow−1 / Spark ``weekday`` so Monday = 0 in
    both engines (the a29 pinned off-by-one); slot revenue is exact
    cents; share-of-peak is a class-A integer ratio. Shape: one scan
    → bounded (type × 168) agg + a 5-row max join — map-side combine
    does everything."""
    ev = _t(spark, sf_dir, "events")
    cents = half_up_cents(F.col("value"))
    prof = (ev.groupBy(
                "event_type",
                (F.weekday("ts") * 24 + F.hour("ts")).cast("int")
                 .alias("hour_of_week"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(cents).cast("long").alias("sum_cents")))
    mx = (prof.groupBy("event_type")
              .agg(F.max("sum_cents").alias("peak")))
    from ..functions.scalars import round_half_up as _rhu
    return (prof.join(F.broadcast(mx), "event_type")
                .select("event_type", "hour_of_week", "n_events",
                        "sum_cents",
                        (F.col("sum_cents") == F.col("peak"))
                        .alias("is_peak_hour"),
                        _rhu(F.col("sum_cents") * 1.0
                             / F.col("peak"), 6)
                         .alias("share_of_peak")))


# ---------------------------------------------------------------------------
# T41 — session-depth histogram (r8)
# ---------------------------------------------------------------------------

@register(
    "t41_session_depth_histogram",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       <= INTERVAL 6 HOUR THEN 0 ELSE 1 END AS ns
      FROM events
    ),
    s AS (
      SELECT user_id,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    sess AS (
      SELECT user_id, sid, COUNT(*) AS depth
      FROM s GROUP BY user_id, sid
    ),
    tot AS (
      SELECT COUNT(*) AS n_sessions,
             CAST(SUM(depth) AS BIGINT) AS n_events
      FROM sess
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           COUNT(*) AS n_sessions,
           CAST(depth * COUNT(*) AS BIGINT) AS n_events_in_bucket,
           {sql_round_half_up(
               'COUNT(*) * 1.0 / MAX(tot.n_sessions)', 6)}
             AS session_share,
           {sql_round_half_up(
               'depth * COUNT(*) * 1.0 / MAX(tot.n_events)', 6)}
             AS event_share
    FROM sess, tot
    GROUP BY depth
    """,
)
def t41_session_depth_histogram(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """T41 — the SESSION-DEPTH histogram: how many sessions contain
    1, 2, 3… events, with each bucket's share of sessions AND of
    events — the engagement-depth distribution behind bounce-rate
    ("share of depth-1 sessions") and the denominator sanity for
    every per-session average; t36 counts sessions' simultaneity,
    t31 caps their length, this profiles their depth.

    Shape: the t15/t36 per-user gap sessionization (unbounded-key
    series discipline) → per-session count → a SECOND bounded agg
    over the depth domain + a 1-row total — the distributive
    histogram pattern (x2_cluster_size_histogram's shape on
    sessions). Shares are class-A integer ratios."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = (ev.withColumn(
            "ns",
            F.when(F.col("ts") - F.lag("ts").over(wu)
                   <= F.expr("INTERVAL 6 HOURS"), 0).otherwise(1))
           .withColumn("sid", F.sum("ns").over(
               wu.rowsBetween(Window.unboundedPreceding, 0))))
    sess = (s.groupBy("user_id", "sid")
             .agg(F.count(F.lit(1)).alias("depth")))
    tot = sess.agg(F.count(F.lit(1)).alias("n_sessions"),
                   F.sum("depth").cast("long").alias("n_events"))
    from ..functions.scalars import round_half_up as _rhu
    return (sess.groupBy(F.col("depth").cast("long").alias("depth"))
                .agg(F.count(F.lit(1)).alias("_ns"))
                .crossJoin(F.broadcast(tot))
                .select("depth",
                        F.col("_ns").alias("n_sessions"),
                        (F.col("depth") * F.col("_ns")).cast("long")
                         .alias("n_events_in_bucket"),
                        _rhu(F.col("_ns") * 1.0
                             / F.col("n_sessions"), 6)
                         .alias("session_share"),
                        _rhu(F.col("depth") * F.col("_ns") * 1.0
                             / F.col("n_events"), 6)
                         .alias("event_share")))
