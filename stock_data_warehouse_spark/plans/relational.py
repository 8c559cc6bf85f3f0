"""Relational core queries — joins (OP-J*), aggregations (OP-A*),
set ops (OP-O*), over the driver's star schema (SURVEY.md §2.3/2.4/2.6).

Every query is declarative DataFrame API so Catalyst drives pushdown /
pruning / join strategy; dims go through ``broadcast()`` hints where the
size is known-bounded at any scale factor.

Float policy for oracle parity (SURVEY.md §7 hard-part 7): sums of
doubles are rounded (2dp money, 4dp averages) in BOTH the Spark plan
and the DuckDB oracle, making the order-insensitive value hash stable
against FP re-association across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import half_up_cents, sql_half_up_cents
from ..operators.checkpoint import ckpt
from ..sources.tables import load_table, values_df
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship — M1 minimum slice: OP-S3 + OP-J7 + OP-P18 + OP-A6 + OP-O1
# ---------------------------------------------------------------------------

@register(
    "flagship_segment_revenue",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items,
           ROUND(AVG(l.l_quantity), 4) AS avg_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
    GROUP BY c.c_mktsegment
    """,
)
def flagship_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment revenue rollup — the Spark shape of the
    reference's per-sector TTM aggregation (SURVEY.md §7 M1).

    lineitem⋈orders shuffles on orderkey; customer is the smaller side
    and AQE broadcast-converts it at bench SF. The date filter reaches
    the parquet scan as a pushed predicate.
    """
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-06-01 00:00:00").cast("timestamp"))
    customer = _t(spark, sf_dir, "customer")
    return (
        lineitem
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
    )


# ---------------------------------------------------------------------------
# OP-J7 — 5-way star join through the dimension chain
# ---------------------------------------------------------------------------

@register(
    "j7_star_region_revenue",
    oracle="""
    SELECT r.r_name AS region_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j7_star_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: facts shuffle once on orderkey; nation/region are
    fixed-size dims → explicit broadcast (safe at 100 TB)."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# OP-J5 / OP-J6 — semi / anti joins
# ---------------------------------------------------------------------------

@register(
    "j5_semi_customers_with_open_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def j5_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name", "c_mktsegment"))


@register(
    "j6_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j6_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's skipped-tickers analysis (list entries with no
    data file, fetch_data.py:277-279) as a left-anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


# ---------------------------------------------------------------------------
# OP-J8 — outer join with default-fill
# ---------------------------------------------------------------------------

@register(
    "j8_outer_customer_order_stats",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0.0), 2) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def j8_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer + zero-fill — the reference's absent-row default
    semantics (OP-E4, fetch_data.py:225-227)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2)
             .alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# OP-J9 — range (theta) join: tier assignment
# ---------------------------------------------------------------------------

_TIERS = [  # (tier_name, lo, hi) — mirrors the market-cap tiering F:105,118-121
    ("small", 0.0, 50_000.0),
    ("mid", 50_000.0, 150_000.0),
    ("large", 150_000.0, 300_000.0),
    ("mega", 300_000.0, 1e18),
]

_TIERS_SQL = "VALUES " + ", ".join(
    f"('{t}', {lo}, {hi})" for t, lo, hi in _TIERS)


@register(
    "j9_range_join_price_tiers",
    oracle=f"""
    WITH tiers(tier_name, lo, hi) AS ({_TIERS_SQL})
    SELECT t.tier_name,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS tier_value
    FROM orders o
    JOIN tiers t ON o.o_totalprice >= t.lo AND o.o_totalprice < t.hi
    GROUP BY t.tier_name
    """,
)
def j9_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join against a tiny tier dim — broadcast nested loop by
    construction (the only sane physical plan for theta joins; the dim
    side is O(1) so this holds at any scale)."""
    o = _t(spark, sf_dir, "orders")
    tiers = values_df(spark, _TIERS,
                      "tier_name string, lo double, hi double")
    return (
        o.join(F.broadcast(tiers),
               (o.o_totalprice >= tiers.lo) & (o.o_totalprice < tiers.hi))
        .groupBy("tier_name")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("tier_value"))
    )


# ---------------------------------------------------------------------------
# OP-J1 / OP-J2 — ordered alias-precedence lookup
# ---------------------------------------------------------------------------

@register(
    "j1_alias_precedence_lookup",
    oracle="""
    WITH aliases(line_item, priority) AS (VALUES ('R', 0), ('A', 1), ('N', 2)),
    ranked AS (
      SELECT l.l_orderkey, l.l_extendedprice, l.l_returnflag,
             ROW_NUMBER() OVER (PARTITION BY l.l_orderkey
                                ORDER BY a.priority, l.l_linenumber,
                                         l.l_extendedprice) AS rn
      FROM lineitem l JOIN aliases a ON l.l_returnflag = a.line_item
    )
    SELECT l_orderkey, l_returnflag AS resolved_flag,
           l_extendedprice AS resolved_price
    FROM ranked WHERE rn = 1
    """,
)
def j1_alias_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J1 — the reference's ``safe_get_row`` alias-order scan
    (fetch_data.py:20-27) as an ordered-coalesce: broadcast alias dim +
    row_number over (priority, stable tiebreak). SURVEY.md §7 hard-part
    2: never ``first()`` without a sort. The testdata has duplicate
    (l_orderkey, l_linenumber) pairs, so the tiebreak chain ends with
    l_extendedprice — unique per (orderkey, linenumber) in the driver's
    data — to pin the survivor on both sides (hard-part 4)."""
    from ..operators.joins import resolve_alias
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        F.col("l_returnflag").alias("line_item"))
    aliases = values_df(
        spark, [("R", 0), ("A", 1), ("N", 2)],
        "line_item string, priority int"
    ).withColumn("canonical", F.lit("flag"))
    resolved = resolve_alias(
        l, aliases, group_cols=["l_orderkey"], item_col="line_item",
        value_col="l_extendedprice",
        order_col=["l_linenumber", "l_extendedprice"])
    return resolved.select(
        "l_orderkey",
        F.col("line_item").alias("resolved_flag"),
        F.col("l_extendedprice").alias("resolved_price"))


@register(
    "j2_guarded_alias_lookup",
    oracle="""
    WITH aliases(line_item, priority) AS (VALUES ('R', 0), ('A', 1), ('N', 2)),
    ranked AS (
      SELECT l.l_orderkey, l.l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l.l_orderkey
                                ORDER BY a.priority, l.l_linenumber,
                                         l.l_extendedprice) AS rn
      FROM lineitem l JOIN aliases a ON l.l_returnflag = a.line_item
      WHERE l.l_quantity > 25
    )
    SELECT o.o_orderkey, COALESCE(r.l_extendedprice, 0.0) AS resolved_price
    FROM orders o LEFT JOIN ranked r
      ON r.l_orderkey = o.o_orderkey AND r.rn = 1
    """,
)
def j2_guarded_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J2 — alias precedence with a validity guard applied per
    candidate *before* precedence (fetch_data.py:211-216), empty → 0
    (OP-E4)."""
    from ..operators.joins import resolve_alias
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 25).select(
        "l_orderkey", "l_linenumber", "l_extendedprice",
        F.col("l_returnflag").alias("line_item"))
    aliases = values_df(
        spark, [("R", 0), ("A", 1), ("N", 2)],
        "line_item string, priority int"
    ).withColumn("canonical", F.lit("flag"))
    resolved = resolve_alias(
        l, aliases, group_cols=["l_orderkey"], item_col="line_item",
        value_col="l_extendedprice",
        order_col=["l_linenumber", "l_extendedprice"])
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(resolved, o.o_orderkey == resolved.l_orderkey, "left")
        .select(
            "o_orderkey",
            F.coalesce(F.col("l_extendedprice"), F.lit(0.0))
             .alias("resolved_price"))
    )


# ---------------------------------------------------------------------------
# OP-J11 — gated cross join
# ---------------------------------------------------------------------------

@register(
    "j11_cross_region_pairs",
    oracle="""
    SELECT a.r_name AS r1, b.r_name AS r2
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey < b.r_regionkey
    """,
)
def j11_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join gated to a fixed-size dim (SURVEY.md §7 hard-part 8:
    crossJoin only on provably bounded inputs)."""
    r = _t(spark, sf_dir, "region")
    a = r.select(F.col("r_regionkey").alias("k1"), F.col("r_name").alias("r1"))
    b = r.select(F.col("r_regionkey").alias("k2"), F.col("r_name").alias("r2"))
    return (a.crossJoin(F.broadcast(b))
            .filter(F.col("k1") < F.col("k2"))
            .select("r1", "r2"))


# ---------------------------------------------------------------------------
# OP-A1 — TTM top-4-recent sum; OP-A2 latest row; OP-A3 last non-null
# ---------------------------------------------------------------------------

@register(
    "a1_ttm_recent4_spend",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT c.c_custkey,
           ROUND(COALESCE(SUM(r.o_totalprice) FILTER (WHERE r.rn <= 4), 0.0), 2)
             AS ttm_spend
    FROM customer c LEFT JOIN ranked r ON r.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def a1_ttm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A1 — the reference's TTM kernel (``iloc[:4].fillna(0).sum()``,
    fetch_data.py:29-36) over orders: 4 most-recent orders per customer,
    empty → 0 via outer join (hard-part 3)."""
    from ..operators.aggregates import ttm_top_k_sum
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ttm = ttm_top_k_sum(o, ["o_custkey"], "o_orderdate", "o_totalprice",
                        k=4, tiebreak_col="o_orderkey", out_col="ttm_raw")
    return (
        c.join(ttm, ttm.o_custkey == c.c_custkey, "left")
        .select("c_custkey",
                F.round(F.coalesce(F.col("ttm_raw"), F.lit(0.0)), 2)
                 .alias("ttm_spend"))
    )


@register(
    "a2_latest_order_per_customer",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    )
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           o_totalprice AS latest_price, o_orderdate AS latest_date
    FROM ranked WHERE rn = 1
    """,
)
def a2_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A2 — ``iloc[:, 0]`` latest-column selection (fetch_data.py:198)
    as a deterministic row_number window."""
    from ..operators.aggregates import latest_row
    o = _t(spark, sf_dir, "orders")
    return latest_row(o, ["o_custkey"], "o_orderdate", "o_orderkey").select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.col("o_totalprice").alias("latest_price"),
        F.col("o_orderdate").alias("latest_date"))


@register(
    "a3_last_non_null_value",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type <> 'error' THEN value END AS v
      FROM events
    ),
    filled AS (
      SELECT user_id,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS last_ok_value
      FROM marked
    )
    SELECT DISTINCT user_id, last_ok_value FROM filled
    """,
)
def a3_last_non_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A3 — last non-null close (fetch_data.py:156-160): per user,
    the value of the latest non-error event.

    Single aggregation (one shuffle): ``max_by(v, (ts, event_id))`` over
    the non-null candidates — the ordering struct is nulled out for
    invalid rows so max_by skips them, and all-null users still yield a
    (user, NULL) row. At 100 TB this is a plain partial+final hash agg,
    no window materialization.
    """
    from ..operators.aggregates import last_non_null
    e = _t(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") != "error", F.col("value")))
    return last_non_null(e, ["user_id"], "ts", "v",
                         tiebreak_col="event_id",
                         out_col="last_ok_value")


# ---------------------------------------------------------------------------
# OP-A4…A8 — distinct union, tallies, grouped aggs, count distinct, rollup
# ---------------------------------------------------------------------------

@register(
    "a4_distinct_union_nations",
    oracle="""
    SELECT DISTINCT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def a4_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A4 — the reference's ``set.update`` across lists
    (fetch_data.py:282,296) = union-all + distinct."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@register(
    "a5_conditional_tally",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS total,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_open,
           CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_big
    FROM orders GROUP BY o_orderpriority
    """,
)
def a5_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A5 — success/total tallies (fetch_data.py:305-306,315,321)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
         .alias("n_open"),
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0))
         .alias("n_big")))


@register(
    "a6_segment_stats",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(AVG(c_acctbal), 4) AS avg_bal,
           ROUND(MIN(c_acctbal), 2) AS min_bal,
           ROUND(MAX(c_acctbal), 2) AS max_bal,
           ROUND(SUM(c_acctbal), 2) AS sum_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def a6_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A6 — per-sector stats (the snapshot's ``sector_type`` group
    column generalized): hash agg, partial+final map-side combine."""
    c = _t(spark, sf_dir, "customer")
    return (c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_bal")))


@register(
    "a7_count_distinct_users",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def a7_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "events")
    return (o.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events")))


@register(
    "a8_rollup_region_nation",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           COUNT(*) AS n_customers,
           CAST(GROUPING(r.r_name) AS INT) AS g_region,
           CAST(GROUPING(n.n_name) AS INT) AS g_nation
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def a8_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A8 — subtotal hierarchy (list→sector→ticker analogue)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region_name"),
                F.col("n_name").alias("nation_name"))
        .rollup("region_name", "nation_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.grouping("region_name").cast("int").alias("g_region"),
             F.grouping("nation_name").cast("int").alias("g_nation"))
    )


@register(
    "a9_manifest_rebuild_exploded",
    oracle="""
    SELECT c_mktsegment AS list_name,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey)
             AS position,
           c_name AS member
    FROM customer
    """,
)
def a9_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A9 — manifest map-of-arrays rebuild (fetch_data.py:318-319),
    compared in exploded relational form (SURVEY.md §1.1.8): the nested
    doc itself is built by ``sinks.write_manifest`` from exactly this
    relation via collect_list + map_from_entries + to_json."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    return c.select(
        F.col("c_mktsegment").alias("list_name"),
        F.row_number().over(w).alias("position"),
        F.col("c_name").alias("member"))


# ---------------------------------------------------------------------------
# OP-O1…O5 — sorts / limits / top-k; set operations
# ---------------------------------------------------------------------------

@register(
    "o1_global_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def o1_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-O1 — global top-k compiles to TakeOrderedAndProject (no full
    sort); unique-key tiebreak keeps the selected set deterministic."""
    o = _t(spark, sf_dir, "orders")
    return (o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
            .select("o_orderkey", "o_totalprice").limit(100))


@register(
    "o2_pergroup_topk_orders",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def o2_pergroup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-O2 — per-group top-k (the TTM ``iloc[:4]`` idiom, F:35)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (o.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rnk"))


@register(
    "o3_union_high_low_orders",
    oracle="""
    SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 200000
    UNION ALL
    SELECT o_orderkey, 'urgent' AS bucket FROM orders
    WHERE o_orderpriority = '1-URGENT'
    """,
)
def o3_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-O3 — bag union (an order can appear in both buckets)."""
    o = _t(spark, sf_dir, "orders")
    hi = (o.filter(F.col("o_totalprice") > 200000)
          .select("o_orderkey", F.lit("high").alias("bucket")))
    ur = (o.filter(F.col("o_orderpriority") == "1-URGENT")
          .select("o_orderkey", F.lit("urgent").alias("bucket")))
    return hi.unionByName(ur)


@register(
    "o4_except_inactive_customers",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def o4_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (_t(spark, sf_dir, "orders")
         .filter(F.col("o_orderstatus") == "O")
         .select(F.col("o_custkey").alias("c_custkey")))
    return c.exceptAll(o.distinct()).distinct()


@register(
    "o5_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def o5_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "o6_pareto_skyline",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice FROM (
      SELECT o_orderkey, o_orderdate, o_totalprice,
             MAX(o_totalprice) OVER (
               ORDER BY epoch_us(o_orderdate) DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS later_max
      FROM orders
    )
    WHERE later_max IS NULL OR later_max < o_totalprice
    """,
)
def o6_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-O6 — 2-D Pareto skyline (preference query): orders not
    dominated in (order date, total price) — i.e. no other order is
    strictly later AND at-least-as-expensive. Equal (date, price)
    pairs don't dominate each other, so the result is a pure
    value-predicate — no rank cut, no tiebreak needed, deterministic
    by construction.

    Distributed shape (two-level staircase decomposition). Pass 1 —
    WITHIN-bucket local staircase: a window PARTITIONED on the month
    bucket (parallel across months, sort local to each bucket) with
    the same strictly-later RANGE frame prunes any row dominated by a
    same-bucket later row; each bucket's survivors are its local
    staircase, bounded by that bucket's answer size — so the NEWEST
    bucket (which no cross-bucket bound can touch) contributes only
    its staircase, never the whole month (ADVICE r5 item 1). Pass 2 —
    CROSS-bucket bound: per-bucket max price (one hash agg),
    suffix-max over strictly-later buckets (a window over the BOUNDED
    bucket dim), broadcast back; a survivor must also beat every
    strictly-later bucket's maximum. Both prunes are lossless: every
    pruned row has a strictly-later ≥-price witness, and by a finite
    chain of such witnesses a dominating CANDIDATE exists. The exact
    pass is a descending RANGE frame ending at -1, which is exactly
    "max price over strictly later dates" in both engines (equal
    dates excluded by the range offset, verified cross-engine); its
    input is Σ(per-bucket staircases) further cut by the cross-bucket
    bound ≈ the answer staircase — bounded by answer size, not the
    corpus."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice",
        F.unix_micros(F.col("o_orderdate").cast("timestamp"))
         .alias("dus"),
        F.unix_micros(F.date_trunc("month", "o_orderdate")
                       .cast("timestamp")).alias("mb"))
    wl = Window.partitionBy("mb").orderBy(F.col("dus").desc()) \
               .rangeBetween(Window.unboundedPreceding, -1)
    o = (o.withColumn("llm", F.max("o_totalprice").over(wl))
          .filter(F.col("llm").isNull()
                  | (F.col("llm") < F.col("o_totalprice")))
          .drop("llm"))
    bmax = o.groupBy("mb").agg(F.max("o_totalprice").alias("bp"))
    wb = Window.orderBy(F.col("mb").desc()) \
               .rangeBetween(Window.unboundedPreceding, -1)
    bsuf = bmax.select(
        "mb", F.max("bp").over(wb).alias("later_bucket_max"))
    cand = (o.join(F.broadcast(bsuf), "mb")
             .filter(F.col("later_bucket_max").isNull()
                     | (F.col("o_totalprice")
                        > F.col("later_bucket_max"))))
    we = Window.orderBy(F.col("dus").desc()) \
               .rangeBetween(Window.unboundedPreceding, -1)
    return (cand.withColumn("later_max",
                            F.max("o_totalprice").over(we))
                .filter(F.col("later_max").isNull()
                        | (F.col("later_max") < F.col("o_totalprice")))
                .select("o_orderkey", "o_orderdate", "o_totalprice"))


# ---------------------------------------------------------------------------
# OP-J10 — as-of join; OP-J8 — full outer
# ---------------------------------------------------------------------------

@register(
    "j10_asof_last_purchase",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           p.pval AS last_purchase_value,
           p.ts   AS last_purchase_ts
    FROM events e
    ASOF LEFT JOIN p ON e.user_id = p.user_id AND p.ts <= e.ts
    """,
)
def j10_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J10 — as-of join: each event annotated with the most recent
    purchase (value, ts) of the same user at-or-before its timestamp
    (the reference's "latest quarter ≤ snapshot date" idiom,
    fetch_data.py:198, generalized). Union-tag-window form
    (operators/joins.py): ONE shuffle on user_id, no range explosion —
    vs DuckDB's native ASOF JOIN as the second implementation.

    The right side is pre-deduped per (user, ts) with max(value) so
    equal-timestamp ties are deterministic on both engines.
    """
    from ..operators.joins import asof_join
    e = _t(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "event_type", "value", "ts")
    right = (e.filter(F.col("event_type") == "purchase")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("pval")))
    out = asof_join(left, right, on="user_id",
                    left_ts="ts", right_ts="ts",
                    right_value_cols=["pval"])
    return out.select(
        "event_id", "user_id", "event_type", "value",
        F.col("right_pval").alias("last_purchase_value"),
        F.col("right_ts").alias("last_purchase_ts"))


@register(
    "j8_full_outer_segments",
    oracle="""
    WITH rich AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000
    ),
    spenders AS (
      SELECT o_custkey AS c_custkey, ROUND(SUM(o_totalprice), 2) AS spend
      FROM orders GROUP BY o_custkey
      HAVING SUM(o_totalprice) > 1500000
    )
    SELECT COALESCE(r.c_custkey, s.c_custkey) AS c_custkey,
           r.c_acctbal, s.spend,
           (r.c_custkey IS NOT NULL) AS is_rich,
           (s.c_custkey IS NOT NULL) AS is_spender
    FROM rich r FULL OUTER JOIN spenders s USING (c_custkey)
    """,
)
def j8_full_outer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J8 (full outer) — customers that are high-balance, high-spend,
    or either: a FULL OUTER join where both sides genuinely have
    unmatched rows in both directions (the left-only form lives in
    j8_outer_customer_order_stats). Shuffles both sides once on the
    join key; null-filling is the join's own semantics, not a
    post-pass."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    rich = (c.filter(F.col("c_acctbal") > 9000)
             .select("c_custkey", "c_acctbal"))
    spenders = (o.groupBy(F.col("o_custkey").alias("c_custkey"))
                 .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"),
                      F.sum("o_totalprice").alias("_raw"))
                 .filter(F.col("_raw") > 1500000)
                 .drop("_raw"))
    r, s = rich.alias("r"), spenders.alias("s")
    return (r.join(s, F.col("r.c_custkey") == F.col("s.c_custkey"),
                   "full_outer")
             .select(
                 F.coalesce(F.col("r.c_custkey"), F.col("s.c_custkey"))
                  .alias("c_custkey"),
                 "c_acctbal", "spend",
                 F.col("r.c_custkey").isNotNull().alias("is_rich"),
                 F.col("s.c_custkey").isNotNull().alias("is_spender")))


# ---------------------------------------------------------------------------
# OP-A8 (cube/grouping sets), OP-A7 (approx), OP-W1 (explicit)
# ---------------------------------------------------------------------------

@register(
    "a8_cube_region_segment",
    oracle="""
    SELECT r.r_name, c.c_mktsegment,
           GROUPING(r.r_name) AS g_region,
           GROUPING(c.c_mktsegment) AS g_segment,
           COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY CUBE (r.r_name, c.c_mktsegment)
    """,
)
def a8_cube_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A8 — CUBE over (region, segment) with grouping flags: all four
    subtotal levels in one pass (the reference's list→sector→ticker
    hierarchy generalized; rollup-only form lives in
    a8_rollup_region_nation). Spark expands the cube map-side, so it is
    still a single partial+final hash aggregation."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (c.join(F.broadcast(n),
                     c.c_nationkey == n.n_nationkey)
               .join(F.broadcast(r),
                     n.n_regionkey == r.r_regionkey))
    return (joined.cube("r_name", "c_mktsegment")
            .agg(F.grouping("r_name").cast("int").alias("g_region"),
                 F.grouping("c_mktsegment").cast("int")
                  .alias("g_segment"),
                 F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
            .select("r_name", "c_mktsegment", "g_region", "g_segment",
                    "n_customers", "sum_bal"))


@register(
    "a7_approx_count_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def a7_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A7 (approx variant) — HyperLogLog++ distinct users per event
    type: the 100 TB form of count-distinct (mergeable sketch, no
    per-key shuffle of raw values). The sketch value itself is not
    SQL-reproducible, so the oracle checks the *error bound* instead
    (VERDICT r2 item 3): the query emits the exact count plus a
    ``within_5pct`` verdict comparing the HLL estimate against it; the
    oracle states the exact count and TRUE. Spark's HLL++ is
    deterministic for a fixed input, and rsd=0.01 puts 5% at 5σ — the
    bound is a real assertion, not a coin flip. The exact twin
    (a7_count_distinct_users) remains the value-level check."""
    e = _t(spark, sf_dir, "events")
    exact = F.count_distinct("user_id").cast("bigint").alias("n_exact")
    approx = F.approx_count_distinct("user_id", 0.01).alias("approx_users")
    agg = e.groupBy("event_type").agg(exact, approx)
    rel_err = (F.abs(F.col("approx_users") - F.col("n_exact"))
               / F.col("n_exact"))
    # n_exact = 0 (a group whose user_ids are all NULL) would make the
    # verdict NULL against the oracle's TRUE; the estimate is also 0
    # there, so the bound trivially holds (ADVICE r3).
    verdict = F.when(F.col("n_exact") == 0, F.lit(True)) \
               .otherwise(rel_err <= F.lit(0.05))
    return agg.select("event_type", "n_exact",
                      verdict.alias("within_5pct"))


@register(
    "a14_hll_union_rollup",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_exact,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
           TRUE AS within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def a14_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A7/A10 extension — MERGEABLE distinct sketches (Apache
    DataSketches HLL, Spark 3.5+): per-(event_type, day) sketches are
    built once, then UNIONED up to event_type and estimated — the exact
    architecture of a 100 TB rollup, where daily partition sketches are
    materialized incrementally and any coarser grain (week, month,
    all-time) is a cheap union of kilobyte sketches instead of a
    re-scan of raw data. ``approx_count_distinct`` (a7 twin) cannot do
    this: its estimate is final, not mergeable state.

    The sketch estimate is engine-specific, so the oracle checks the
    error bound (a7 pattern): the query emits the exact distinct count
    (computed in the same pass shape) plus a verdict that the unioned
    estimate lands within 5% — lgConfigK=12 puts the RSE ≈ 1.6%, so 5%
    is ≈ 3σ on real data, and a degenerate all-NULL group trivially
    passes. ``n_days`` pins that the union really folded multiple
    daily sketches, not a single-bucket fast path."""
    e = _t(spark, sf_dir, "events")
    daily = (e.withColumn("day", F.to_date("ts"))
              .groupBy("event_type", "day")
              .agg(F.hll_sketch_agg("user_id").alias("sk")))
    rolled = (daily.groupBy("event_type")
                   .agg(F.hll_sketch_estimate(F.hll_union_agg("sk"))
                         .alias("est"),
                        F.count(F.lit(1)).alias("n_days")))
    # The exact twin exists only to ground the oracle verdict — the
    # sketch path above never moves raw user_ids past the daily agg.
    exact = (e.groupBy("event_type")
              .agg(F.count_distinct("user_id").cast("bigint")
                    .alias("n_exact")))
    j = exact.join(rolled, "event_type")
    rel_err = (F.abs(F.col("est") - F.col("n_exact"))
               / F.col("n_exact"))
    verdict = F.when(F.col("n_exact") == 0, F.lit(True)) \
               .otherwise(rel_err <= F.lit(0.05))
    return j.select("event_type", "n_exact", "n_days",
                    verdict.alias("within_5pct"))


@register(
    "w1_row_number_recent_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, rn FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC,
                                         o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn <= 2
    """,
)
def w1_row_number_recent_orders(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """OP-W1 — row_number per key, the explicit standalone form of the
    reference's iloc[:k] idiom (fetch_data.py:35,198): two most recent
    orders per customer, deterministic via the unique orderkey
    tiebreak."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (o.select("o_custkey", "o_orderkey", "o_orderdate",
                     F.row_number().over(w).alias("rn"))
             .filter(F.col("rn") <= 2))


# ---------------------------------------------------------------------------
# OP-A8 (explicit GROUPING SETS), OP-A10 (exact quantiles)
# ---------------------------------------------------------------------------

@register(
    "a8_grouping_sets",
    oracle="""
    SELECT r.r_name, n.n_name,
           GROUPING(r.r_name) AS g_region,
           GROUPING(n.n_name) AS g_nation,
           COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS sum_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY GROUPING SETS ((r.r_name, n.n_name), (r.r_name), ())
    """,
)
def a8_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A8 — explicit GROUPING SETS (the general form of which
    rollup/cube are the shorthands): (region, nation) detail, region
    subtotals, and the grand total — skipping the nation-only set a
    CUBE would force. Same single-pass partial+final hash aggregation:
    Spark expands each input row once per grouping set map-side."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (joined.groupingSets([["r_name", "n_name"], ["r_name"], []],
                                "r_name", "n_name")
            .agg(F.grouping("r_name").cast("int").alias("g_region"),
                 F.grouping("n_name").cast("int").alias("g_nation"),
                 F.count(F.lit(1)).alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
            .select("r_name", "n_name", "g_region", "g_nation",
                    "n_customers", "sum_bal"))


@register(
    "a10_quantile_pack",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           MIN(l_quantity) AS min_qty,
           quantile_cont(l_quantity, 0.25) AS p25_qty,
           quantile_cont(l_quantity, 0.50) AS p50_qty,
           quantile_cont(l_quantity, 0.75) AS p75_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a10_quantile_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-A10 — exact linear-interpolated percentiles of quantity per
    (returnflag, linestatus), via the bucketed staircase rank lookup
    (operators/staircase.py) rather than Spark's buffering
    ``percentile()`` aggregate: (returnflag, linestatus) is a ~6-value
    key over all of lineitem, so each buffering aggregator would hold
    N/6 values — the exact shape CLAUDE.md bans. The staircase instead
    counts per (group, value band); l_quantity is small-integral so
    every band is a tie mass and the rank lookup answers from the band
    counts alone — zero sorts of any data-sized relation, and the plan
    scales as Θ(groups × bands) past the one fact scan. The
    interpolation kernel is the two-product ``(1−f)·lo + f·hi`` both
    engines run (hex-verified r9), so the ``quantile_cont`` oracle is
    unchanged; here every term is exactly representable anyway
    (integral values, exact-binary quartile fracs)."""
    li = _t(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    from ..operators.staircase import bucketed_exact_quantiles
    qs = bucketed_exact_quantiles(li, keys, "l_quantity",
                                  [0.25, 0.50, 0.75])
    ext = (li.groupBy(*keys)
             .agg(F.min("l_quantity").alias("min_qty"),
                  F.max("l_quantity").alias("max_qty")))
    return (qs.join(ext, keys)
              .select("l_returnflag", "l_linestatus",
                      F.col("n").alias("n_items"),
                      "min_qty",
                      F.col("q0").alias("p25_qty"),
                      F.col("q1").alias("p50_qty"),
                      F.col("q2").alias("p75_qty"),
                      "max_qty"))


@register(
    "a10_approx_quantile_sketch",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p75_ok
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a10_approx_quantile_sketch(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """OP-A10 (scale twin) — the same quartile profile via
    ``approx_percentile`` (Spark's mergeable quantile sketch): partial
    sketches build map-side and merge associatively, so no per-group
    sort and no full-value shuffle — the form that replaces
    ``a10_quantile_pack`` at 100 TB. The sketch values are not
    SQL-reproducible, so the oracle checks the *error bound* (VERDICT
    r2 item 3): each quartile estimate must land within 1.0 quantity
    unit of the exact interpolated percentile — generous vs the rank
    guarantee (rank error ≤ n/accuracy, and l_quantity's integer domain
    is gap-1 dense) yet tight enough to catch a broken sketch. Also
    removes the array-typed ``q_sketch`` cell that crashed the driver's
    canonicalizer in r2. The exact quartiles the referee compares
    against come from the SAME staircase relation as
    ``a10_quantile_pack`` (r10) — previously this referee re-ran the
    buffering ``percentile()`` the sketch exists to replace, so the
    scale twin inherited the very aggregator it was demoting."""
    li = _t(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    from ..operators.staircase import bucketed_exact_quantiles
    exact = (bucketed_exact_quantiles(li, keys, "l_quantity",
                                      [0.25, 0.50, 0.75])
             .select(*keys, F.col("q0").alias("p25"),
                     F.col("q1").alias("p50"),
                     F.col("q2").alias("p75")))
    agg = (li.groupBy(*keys)
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.approx_percentile(
                      "l_quantity", F.array(F.lit(0.25), F.lit(0.5),
                                            F.lit(0.75)),
                      F.lit(10000)).alias("q_sketch"))
             .join(exact, keys))

    def ok(i: int, exact: str) -> F.Column:
        return (F.abs(F.element_at("q_sketch", i) - F.col(exact))
                <= F.lit(1.0))

    return agg.select("l_returnflag", "l_linestatus", "n_items",
                      ok(1, "p25").alias("p25_ok"),
                      ok(2, "p50").alias("p50_ok"),
                      ok(3, "p75").alias("p75_ok"))


# ---------------------------------------------------------------------------
# Wide join tree (Q9-style), histogram profiling, skew-salted join,
# right-outer form
# ---------------------------------------------------------------------------

@register(
    "q9_profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation,
           EXTRACT(year FROM o.o_orderdate) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - 0.6 * p.p_retailprice * l.l_quantity
                  AS DECIMAL(38,6))), 2) AS DOUBLE) AS profit,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%a%'
    GROUP BY 1, 2
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit per (supplier nation, order year) through
    the widest join tree in the schema: lineitem ⋈ part ⋈ supplier ⋈
    orders ⋈ nation (cost stands in as 0.6·retailprice — the schema has
    no partsupp). The per-row profit term is cast to DECIMAL before
    the SUM: a 7.5k-term double sum carries ~1e-3 of association error —
    enough to flip a cent — while per-row double products are identical
    on both engines and decimal addition is exact in any order. Scale
    shape: part/supplier/nation broadcast (bounded
    dims), orders joins on the fact's own orderkey, so the fact shuffles
    once for the orders join and once for the final agg; the p_name
    LIKE filter prunes part *before* its broadcast. At 100 TB AQE
    re-plans part/supplier to shuffle joins if their size estimates
    outgrow the threshold — the declared plan stays valid either way."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    profit_term = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
                   - 0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
             .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
             .join(o, l.l_orderkey == o.o_orderkey)
             .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
             .groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").alias("o_year"))
             .agg(F.round(F.sum(profit_term.cast("decimal(38,6)")), 2)
                   .cast("double").alias("profit"),
                  F.count(F.lit(1)).alias("n_items")))


@register(
    "a11_price_histogram",
    oracle="""
    SELECT LEAST(CAST(floor(l_extendedprice / 5000) AS BIGINT), 23)
             AS bucket,
           COUNT(*) AS n_items,
           ROUND(MIN(l_extendedprice), 2) AS lo,
           ROUND(MAX(l_extendedprice), 2) AS hi
    FROM lineitem
    GROUP BY 1
    """,
)
def a11_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of extended price (5k-wide buckets, top
    bucket open-ended) — the profiling pass before choosing filters or
    salting thresholds. Pure integer arithmetic for the bucket id (no
    engine-specific width_bucket), one partial+final hash aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.least(F.floor(F.col("l_extendedprice") / 5000)
                      .cast("bigint"), F.lit(23))
    return (li.groupBy(bucket.alias("bucket"))
              .agg(F.count(F.lit(1)).alias("n_items"),
                   F.round(F.min("l_extendedprice"), 2).alias("lo"),
                   F.round(F.max("l_extendedprice"), 2).alias("hi")))


@register(
    "j12_salted_skew_join",
    oracle="""
    WITH dim(line_item, flag_label) AS (
      VALUES ('R', 'returned'), ('A', 'accepted'), ('N', 'neutral')
    )
    SELECT d.flag_label,
           COUNT(*) AS n_items,
           ROUND(SUM(l.l_extendedprice), 2) AS sum_price
    FROM lineitem l JOIN dim d ON l.l_returnflag = d.line_item
    GROUP BY d.flag_label
    """,
)
def j12_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-handling operator surfaced as a query: lineitem keyed on
    l_returnflag has exactly 3 distinct keys — the worst-case hot-key
    join if the dim cannot broadcast. ``salted_join``
    (operators/skew.py) splits each hot key n ways with a
    *deterministic* salt (hash of the line number, not rand(): retries
    land identically) and replicates the dim across salts. The salted
    plan produces exactly the plain-join result, which is what the
    oracle checks. With a 3-row dim a broadcast would win, of course —
    the query pins the salted shape on purpose, for the case where the
    build side is too big to broadcast and one key dominates."""
    from ..operators.skew import salted_join
    li = _t(spark, sf_dir, "lineitem")
    dim = values_df(spark, [("R", "returned"), ("A", "accepted"),
                            ("N", "neutral")],
                    "line_item string, flag_label string")
    joined = salted_join(
        li.withColumnRenamed("l_returnflag", "line_item"),
        dim, key="line_item", disambiguator="l_linenumber")
    return (joined.groupBy("flag_label")
                  .agg(F.count(F.lit(1)).alias("n_items"),
                       F.round(F.sum("l_extendedprice"), 2)
                        .alias("sum_price")))


@register(
    "j8_right_outer_orders",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           o.o_orderkey, COALESCE(o.o_totalprice, 0.0) AS totalprice
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal < 0
    """,
)
def j8_right_outer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J8 (right-outer form) — all negative-balance customers with
    their orders, order-less customers kept as NULL rows. The filter on
    the preserved (right) side pushes into its scan; Catalyst plans the
    same physical join as the mirrored left-outer."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    return (o.join(c, o.o_custkey == c.c_custkey, "right")
             .select("c_custkey", "c_mktsegment", "o_orderkey",
                     F.coalesce("o_totalprice", F.lit(0.0))
                      .alias("totalprice")))


@register(
    "q17_small_quantity_revenue",
    oracle="""
    WITH thr AS (
      SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_thr
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,6)))
                      AS DOUBLE) / 7.0, 4) AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l JOIN thr t ON l.l_partkey = t.l_partkey
    WHERE l.l_quantity < t.qty_thr
    """,
)
def q17_small_quantity_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the correlated-scalar-subquery pattern:
    revenue of line items ordered below 0.2× the part's average
    quantity. Decorrelated as Catalyst (and every MPP planner) does:
    pre-aggregate the per-part threshold, join back to the fact, filter.
    Scale shape: the threshold relation is one row per partkey — far
    smaller than the fact but unbounded, so it is NOT broadcast by
    declaration; both sides hash-partition on l_partkey and AQE may
    still broadcast at low SF. The comparison is exact across engines:
    AVG of integer-valued quantities is an exact-int sum / exact count
    (identical IEEE division), and 0.2× is the same literal product.
    The revenue sum routes through DECIMAL (order-independent addition),
    and /7.0 is rounded at 4 digits, where m/700-cent values can never
    land on a half-boundary (200m/7 is always even when integral)."""
    li = _t(spark, sf_dir, "lineitem")
    thr = (li.groupBy("l_partkey")
             .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_thr")))
    return (li.join(thr, "l_partkey")
              .filter(F.col("l_quantity") < F.col("qty_thr"))
              .agg(F.round(
                       F.sum(F.col("l_extendedprice")
                              .cast("decimal(38,6)")).cast("double")
                       / 7.0, 4).alias("avg_yearly"),
                   F.count(F.lit(1)).alias("n_items")))


@register(
    "q1_pricing_summary",
    oracle="""
    WITH g AS (
      SELECT l_returnflag, l_linestatus,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sq,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS s2,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS s4,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                            * (1 + l_tax) * 1000000) AS BIGINT)) AS s6,
             SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS sd,
             COUNT(*) AS n
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-08-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sq AS DOUBLE) AS sum_qty,
           s2 / 100.0 AS sum_base_price,
           ((s4 + 50) // 100) / 100.0 AS sum_disc_price,
           ((s6 + 5000) // 10000) / 100.0 AS sum_charge,
           ((sq * 2000000 + n) // (2 * n)) / 1000000.0 AS avg_qty,
           ((s2 * 20000 + n) // (2 * n)) / 1000000.0 AS avg_price,
           ((sd * 20000 + n) // (2 * n)) / 1000000.0 AS avg_disc,
           n AS count_order
    FROM g
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the canonical scan-heavy pricing summary: one
    pass over lineitem, a pushed shipdate predicate, and a hash
    aggregation onto 6 (returnflag, linestatus) groups. This is the
    pure-throughput benchmark: no join, so the whole cost is columnar
    scan + whole-stage-codegen arithmetic + a 6-row exchange.

    Cross-engine exactness via *integer money arithmetic*: quantities
    are integers and prices/discounts/taxes carry ≤2 decimals (verified
    on the corpus), so every measure scales to an exact BIGINT per row
    (×100/×10⁴/×10⁶ — the per-row doubles are bit-identical on both
    engines and land ≫0.5 away from rounding boundaries). Long sums are
    associative, so partial aggregation order can't matter, and the
    final cent/half-up roundings are integer divisions — no decimal
    type anywhere, which also makes the hash-agg ~2× faster than
    DECIMAL(38,6) accumulation (measured: 1.08s vs 2.07s at sf0.1).
    Overflow headroom: the ×10⁶ charge sum holds to ~9·10¹⁸, i.e.
    ~10⁵× this sf0.1 group size per group; beyond that, route the hot
    sums through DECIMAL again or split high/low words."""
    li = _t(spark, sf_dir, "lineitem")
    as_long = lambda c, s: F.round(c * s).cast("bigint")  # noqa: E731
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = (li.filter(F.col("l_shipdate")
                   <= F.lit("2001-08-01 00:00:00").cast("timestamp"))
           .groupBy("l_returnflag", "l_linestatus")
           .agg(F.sum(as_long(F.col("l_quantity"), 1)).alias("sq"),
                F.sum(as_long(F.col("l_extendedprice"), 100))
                 .alias("s2"),
                F.sum(as_long(disc_price, 10000)).alias("s4"),
                F.sum(as_long(charge, 1000000)).alias("s6"),
                F.sum(as_long(F.col("l_discount"), 100)).alias("sd"),
                F.count(F.lit(1)).alias("n")))
    # `div` truncates toward zero == floor for these positive sums,
    # matching DuckDB's `//`; +half-denominator makes it HALF_UP.
    return g.select(
        "l_returnflag", "l_linestatus",
        F.col("sq").cast("double").alias("sum_qty"),
        (F.col("s2") / 100.0).alias("sum_base_price"),
        (F.expr("(s4 + 50) div 100") / 100.0).alias("sum_disc_price"),
        (F.expr("(s6 + 5000) div 10000") / 100.0).alias("sum_charge"),
        (F.expr("(sq * 2000000 + n) div (2 * n)") / 1000000.0)
         .alias("avg_qty"),
        (F.expr("(s2 * 20000 + n) div (2 * n)") / 1000000.0)
         .alias("avg_price"),
        (F.expr("(sd * 20000 + n) div (2 * n)") / 1000000.0)
         .alias("avg_disc"),
        F.col("n").alias("count_order"))


@register(
    "q4_order_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_check(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — correlated EXISTS folded into an aggregation:
    orders in a 6-month window with at least one line shipped after
    the order date, counted by priority. The EXISTS is a LEFT SEMI
    join with a cross-table residual predicate (shipdate > orderdate),
    so each order contributes once no matter how many lines qualify —
    an inner join would double-count and need a distinct. Scale shape:
    the date window prunes orders at the scan; the semi join shuffles
    both sides on orderkey and short-circuits per key; the final agg
    is 5 groups of map-side partials."""
    o = (_t(spark, sf_dir, "orders")
         .filter((F.col("o_orderdate")
                  >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
                 & (F.col("o_orderdate")
                    < F.lit("1997-07-01 00:00:00").cast("timestamp"))))
    li = _t(spark, sf_dir, "lineitem")
    return (o.join(li, (o.o_orderkey == li.l_orderkey)
                   & (li.l_shipdate > o.o_orderdate), "left_semi")
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("order_count")))


# ---------------------------------------------------------------------------
# OP-J13 — bucketed co-located fact-fact join (zero join-side shuffles)
# ---------------------------------------------------------------------------

@register(
    "j13_bucketed_cojoin_report",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           CAST(0 AS BIGINT) AS join_side_exchanges
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def j13_bucketed_cojoin_report(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """OP-J13 — the co-located fact-fact join: both facts are written
    bucketed (8 buckets, sorted) on the join key, so the SortMergeJoin
    reads matching buckets directly — ZERO exchanges on either join
    side, verified by introspecting this very query's executed plan and
    reporting the count as a column the oracle pins to 0. This is the
    physical layout that makes repeated 100 TB fact-fact joins
    affordable: pay the bucketing shuffle once at write time, never
    again per query. Values are checked too (per-priority item counts
    against the plain join).
    """
    import shutil
    import tempfile
    import uuid

    db = "cojoin_" + uuid.uuid4().hex[:12]
    wh = tempfile.mkdtemp(prefix="bucketwh_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{wh}'")
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        o = _t(spark, sf_dir, "orders")
        li = _t(spark, sf_dir, "lineitem")
        (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .mode("overwrite").saveAsTable(f"{db}.orders_b"))
        (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
           .mode("overwrite").saveAsTable(f"{db}.lineitem_b"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        ob = spark.table(f"{db}.orders_b")
        lb = spark.table(f"{db}.lineitem_b")
        j = (lb.join(ob, lb.l_orderkey == ob.o_orderkey)
               .groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n_items")))
        j.collect()  # drive to the final adaptive plan
        plan = (j._jdf.queryExecution().executedPlan().toString()
                 .split("== Initial Plan ==")[0])
        n_join_side = (
            plan.count("Exchange hashpartitioning(l_orderkey")
            + plan.count("Exchange hashpartitioning(o_orderkey"))
        # materialize before the finally drops the bucketed tables —
        # the caller collects this DataFrame after cleanup
        return ckpt(j.withColumn(
            "join_side_exchanges",
            F.lit(n_join_side).cast("long")))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP TABLE IF EXISTS {db}.lineitem_b")
        spark.sql(f"DROP TABLE IF EXISTS {db}.orders_b")
        spark.sql(f"DROP DATABASE IF EXISTS {db}")
        shutil.rmtree(wh, ignore_errors=True)


# ---------------------------------------------------------------------------
# OP-J15 — runtime bloom-filter join (the row-level twin of j14's DPP)
# ---------------------------------------------------------------------------

@register(
    "j15_runtime_bloom_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM({sql_half_up_cents('l.l_extendedprice')}) AS BIGINT)
             AS revenue_cents,
           TRUE AS bloom_ok
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '2-HIGH'
    GROUP BY o.o_orderpriority
    """,
)
def j15_runtime_bloom_join(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """OP-J15 — runtime bloom-filter pushdown: the selective predicate
    lives on the DIMENSION side of a shuffle join, so neither static
    pushdown nor j14's partition pruning can thin the fact side — the
    fact table isn't partitioned on the join key and the qualifying
    keys are only known after filtering the dim. Spark's runtime-filter
    rule (`InjectRuntimeFilter`) plans a `bloom_filter_agg` subquery
    over the filtered dim's join keys and pushes
    ``might_contain(bloom, xxhash64(l_orderkey))`` into the FACT SCAN's
    data filters, so non-matching fact rows die at the scan instead of
    traveling through the exchange — at 100 TB this is the difference
    between shuffling the whole lineitem table and shuffling the ~20%
    that can possibly join (row-group stats can even skip whole
    parquet pages). The mechanism is the row-level twin of j14:
    DPP elides *directories*, the bloom filter elides *rows*.

    ``bloom_ok`` introspects the formatted plan (the j13/j14/s19
    plan-introspection-is-the-measurement pattern) and requires BOTH
    halves: the creation-side ``bloom_filter_agg`` subquery AND a
    ``might_contain(..)`` probe over ``l_orderkey`` in a Filter
    condition. Thresholds are pinned around the plan build because the
    defaults (10 GB application-side scan) are sized for clusters, not
    the test SF; the broadcast threshold is disabled so the join
    actually shuffles — with a broadcast join Spark skips injection
    since the probe side would not pay an exchange. Values are
    oracle-exact against the plain filtered join (class-A cents fold),
    proving the filter changed the scan, not the answer."""
    pins = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1KB",
    }
    prev = {k: spark.conf.get(k) for k in pins}
    try:
        for k, v in pins.items():
            spark.conf.set(k, v)
        li = _t(spark, sf_dir, "lineitem")
        dim = (_t(spark, sf_dir, "orders")
               .filter(F.col("o_orderpriority") == "2-HIGH")
               .select("o_orderkey", "o_orderpriority"))
        cents = half_up_cents(F.col("l_extendedprice"))
        agg = (li.join(dim, li.l_orderkey == dim.o_orderkey)
                 .groupBy("o_orderpriority")
                 .agg(F.count(F.lit(1)).alias("n_items"),
                      F.sum(cents).alias("revenue_cents")))
        jvm = spark.sparkContext._jvm
        formatted = jvm.PythonSQLUtils.explainString(
            agg._jdf.queryExecution(), "formatted")
        probe_ok = any(
            "might_contain" in ln and "l_orderkey" in ln
            for ln in formatted.splitlines())
        bloom = probe_ok and "bloom_filter_agg" in formatted
        # the conf pins only need to cover PLANNING (injection is an
        # optimizer rule); ckpt materializes under them so the restored
        # session conf can never re-plan this subtree differently
        return ckpt(agg.withColumn("bloom_ok", F.lit(bool(bloom))))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# OP-J16 — binned (equi-bucketed) range join: the scale twin of j9's theta
# ---------------------------------------------------------------------------

_J16_STRIDE = 12_000          # band start spacing
_J16_WIDTH = 36_000           # band width (3x stride => every price hits ~3)
_J16_BANDS = [                # (range_id, lo, hi) — half-open [lo, hi)
    (i, float(i * _J16_STRIDE), float(i * _J16_STRIDE + _J16_WIDTH))
    for i in range(36)
]
_J16_BANDS_SQL = "VALUES " + ", ".join(
    f"({i}, {lo}, {hi})" for i, lo, hi in _J16_BANDS)


@register(
    "j16_binned_range_join",
    oracle=f"""
    WITH ranges(range_id, lo, hi) AS ({_J16_BANDS_SQL})
    SELECT r.range_id,
           COUNT(*) AS n_orders,
           CAST(SUM({sql_half_up_cents('o.o_totalprice')}) AS BIGINT)
             AS revenue_cents,
           TRUE AS equi_ok
    FROM orders o
    JOIN ranges r ON o.o_totalprice >= r.lo AND o.o_totalprice < r.hi
    GROUP BY r.range_id
    """,
)
def j16_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J16 — interval join against OVERLAPPING ranges via bin
    decomposition, the equi-join scale twin of ``j9_range_join``.

    j9's broadcast-nested-loop plan is only sane because its tier dim
    is O(1) AND the tiers partition the domain; with R overlapping
    ranges a theta join evaluates R predicates per fact row — O(N x R)
    compare work that a 1000-executor cluster pays on every one of the
    100 TB's rows. The standard fix (the geo-IP / genomics interval-
    join idiom): pick a bin width W, EXPLODE each range across the
    ceil(width/W) bins it overlaps (dim-side blowup only — bounded), map
    each fact row to the single bin ``floor(x / W)``, equi-join on the
    bin id, and apply the exact ``lo <= x < hi`` residual. Compare work
    drops to O(N x overlap) with an ordinary broadcast HASH join the
    planner can reason about — and the residual filter makes bin
    mechanics invisible to the result, so the oracle is the plain theta
    join. Coverage proof: range [lo, hi) with lo, hi integer multiples
    of W spans exactly bins floor(lo/W) .. floor((hi-1)/W); a fact row
    lands in floor(x/W), which is inside that span iff lo <= x < hi can
    hold. Prices carry 2 decimals, so the float quotient is >= 8e-7
    away from the nearest integer boundary unless exactly on it —
    floor is decided identically everywhere.

    ``equi_ok`` introspects the formatted plan (the j13/j14/j15
    pattern): no nested-loop join anywhere, and the bin equi-key is a
    real broadcast hash join. Values: exact class-A cents fold."""
    w = float(_J16_STRIDE)
    ranges = values_df(spark, _J16_BANDS,
                       "range_id int, lo double, hi double")
    binned_ranges = ranges.withColumn(
        "bin",
        F.explode(F.sequence(F.floor(F.col("lo") / w),
                             F.floor((F.col("hi") - 1.0) / w))))
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    fact = o.withColumn("bin", F.floor(F.col("o_totalprice") / w))
    cents = half_up_cents(F.col("o_totalprice"))
    agg = (
        fact.join(F.broadcast(binned_ranges), "bin")
        .filter((F.col("o_totalprice") >= F.col("lo"))
                & (F.col("o_totalprice") < F.col("hi")))
        .groupBy("range_id")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.sum(cents).alias("revenue_cents"))
    )
    jvm = spark.sparkContext._jvm
    formatted = jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted")
    equi_ok = ("NestedLoop" not in formatted
               and "BroadcastHashJoin" in formatted)
    return agg.withColumn("equi_ok", F.lit(bool(equi_ok)))


# ---------------------------------------------------------------------------
# OP-J17 — nearest-in-time join (the symmetric as-of variant)
# ---------------------------------------------------------------------------

@register(
    "j17_asof_nearest",
    oracle="""
    WITH purch AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'
    ),
    clk AS (
      SELECT event_id AS cid, user_id, ts AS cts
      FROM events WHERE event_type = 'click'
    ),
    cand AS (
      SELECT p.pid, p.user_id, p.pts, c.cid, c.cts,
             ABS(epoch_us(p.pts) - epoch_us(c.cts)) AS delta_us
      FROM purch p JOIN clk c
        ON c.user_id = p.user_id
       AND c.cts >= p.pts - INTERVAL 3 DAY
       AND c.cts <= p.pts + INTERVAL 3 DAY
    ),
    pick AS (
      SELECT pid, cid, cts, delta_us FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
                    ORDER BY delta_us, cts, cid) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT p.pid, p.user_id,
           (k.cid IS NOT NULL) AS matched,
           k.delta_us, k.cts AS click_ts, k.cid AS click_id
    FROM purch p LEFT JOIN pick k ON p.pid = k.pid
    """,
)
def j17_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J17 — NEAREST-neighbor-in-time join: each purchase matched
    to the temporally closest click by the same user within a ±3-day
    tolerance band. The symmetric sibling of j10's backward as-of —
    the sensor-alignment / log-correlation shape (match a reading to
    the closest calibration, either side) that native ASOF JOIN
    syntax (backward-only) cannot express, so it's composed: banded
    candidate join + struct-argmin on (|delta|, ts, id) — tolerance
    bounds the fan-out, the argmin partial-aggregates map-side, ties
    break earlier-then-id (total order). Unmatched purchases survive
    the left join with NULLs — the tolerance is a semantic guard, not
    a filter. One shuffle on user_id for the candidates, one on pid
    for the argmin; at scale the tolerance band is what keeps this
    from being j11's cross join."""
    ev = _t(spark, sf_dir, "events")
    purch = (ev.filter(F.col("event_type") == "purchase")
               .select(F.col("event_id").alias("pid"), "user_id",
                       F.col("ts").alias("pts")))
    clk = (ev.filter(F.col("event_type") == "click")
             .select(F.col("event_id").alias("cid"),
                     F.col("user_id").alias("c_user"),
                     F.col("ts").alias("cts")))
    cand = (purch.join(clk, (F.col("c_user") == F.col("user_id"))
                       & (F.col("cts")
                          >= F.col("pts") - F.expr("INTERVAL 3 DAYS"))
                       & (F.col("cts")
                          <= F.col("pts") + F.expr("INTERVAL 3 DAYS")))
                 .select("pid",
                         F.abs(F.unix_micros("pts")
                               - F.unix_micros("cts")).alias("delta_us"),
                         "cts", "cid"))
    pick = (cand.groupBy("pid")
                .agg(F.min(F.struct("delta_us", "cts", "cid"))
                      .alias("pk"))
                .select("pid", F.col("pk.delta_us").alias("delta_us"),
                        F.col("pk.cts").alias("click_ts"),
                        F.col("pk.cid").alias("click_id")))
    return (purch.join(pick, "pid", "left")
                 .select("pid", "user_id",
                         F.col("click_id").isNotNull().alias("matched"),
                         "delta_us", "click_ts", "click_id"))


# ---------------------------------------------------------------------------
# OP-J18 — point-in-time (feature-store) join with a serving delay
# ---------------------------------------------------------------------------

@register(
    "j18_pit_features",
    oracle="""
    WITH labels AS (
      SELECT event_id AS pid, user_id, ts AS pts,
             ts - INTERVAL 1 HOUR AS cutoff
      FROM events WHERE event_type = 'purchase'
    ),
    ck AS (
      SELECT user_id, ts, COUNT(*) AS n FROM events
      WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    ckcum AS (
      SELECT user_id, ts,
             CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum
      FROM ck
    ),
    err AS (
      SELECT user_id, ts, MAX(value) AS v FROM events
      WHERE event_type = 'error' GROUP BY user_id, ts
    ),
    f1 AS (
      SELECT l.pid, l.user_id, l.pts, l.cutoff, c.cum
      FROM labels l
      ASOF LEFT JOIN ckcum c
        ON l.user_id = c.user_id AND c.ts <= l.cutoff
    )
    SELECT f1.pid, f1.user_id,
           CAST(COALESCE(f1.cum, 0) AS BIGINT) AS f_clicks_asof,
           e.v AS f_last_error_value
    FROM f1
    ASOF LEFT JOIN err e
      ON f1.user_id = e.user_id AND e.ts <= f1.cutoff
    """,
)
def j18_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-J18 — the feature-store POINT-IN-TIME join: every label
    event (purchase) is enriched with feature values exactly as a
    model SERVING at that moment would have seen them — as-of the
    label time MINUS a 1-hour serving delay (features take time to
    land; joining at label time leaks the future, the classic
    training/serving skew bug PIT-correctness exists to prevent).
    Two feature relations ride the same contract: a cumulative
    click-count profile and the latest error reading.

    Shape: each feature is the j10 union-tag-window as-of form — ONE
    shuffle on the user key, no range candidate explosion (an
    unbounded-lookback candidate join would pay per-label fan-out of
    the user's whole history). Features are pre-aggregated per (user,
    ts) so the carried-forward pick has a total order (the j10
    MAX-per-ts discipline); the serving delay is a pure column shift
    on the label side, so the same plan serves any delay. Oracle =
    DuckDB's native ASOF joins over the identical pre-aggregations."""
    from ..operators.joins import asof_join
    ev = _t(spark, sf_dir, "events")
    labels = (ev.filter(F.col("event_type") == "purchase")
                .select(F.col("event_id").alias("pid"), "user_id",
                        F.col("ts").alias("pts"),
                        (F.col("ts") - F.expr("INTERVAL 1 HOUR"))
                         .alias("cutoff")))
    ck = (ev.filter(F.col("event_type") == "click")
            .groupBy("user_id", "ts")
            .agg(F.count(F.lit(1)).alias("n")))
    wc = (Window.partitionBy("user_id").orderBy("ts")
                .rowsBetween(Window.unboundedPreceding, 0))
    ckcum = ck.select("user_id", "ts",
                      F.sum("n").over(wc).cast("long").alias("cum"))
    err = (ev.filter(F.col("event_type") == "error")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("v")))
    f1 = asof_join(labels, ckcum, on="user_id",
                   left_ts="cutoff", right_ts="ts",
                   right_value_cols=["cum"])
    f1 = f1.select("pid", "user_id", "cutoff",
                   F.coalesce("right_cum", F.lit(0)).cast("long")
                    .alias("f_clicks_asof"))
    f2 = asof_join(f1, err, on="user_id",
                   left_ts="cutoff", right_ts="ts",
                   right_value_cols=["v"])
    return f2.select("pid", "user_id", "f_clicks_asof",
                     F.col("right_v").alias("f_last_error_value"))


# ---------------------------------------------------------------------------
# OP-O7 — top-k WITH TIES (rank semantics, not row_number)
# ---------------------------------------------------------------------------

@register(
    "o7_topk_with_ties",
    oracle=f"""
    WITH v AS (
      SELECT o_orderpriority AS priority,
             {sql_half_up_cents('o_totalprice')} // 1000000 AS value_mcents
      FROM orders
    ),
    g AS (
      SELECT priority, value_mcents, COUNT(*) AS n_orders
      FROM v GROUP BY priority, value_mcents
    ),
    r AS (
      SELECT priority, value_mcents, n_orders,
             RANK() OVER (PARTITION BY priority
                          ORDER BY value_mcents DESC) AS value_rank
      FROM g
    )
    SELECT priority, value_mcents, n_orders, value_rank
    FROM r WHERE value_rank <= 3
    """,
)
def o7_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-O7 — top-k WITH TIES (ANSI ``FETCH FIRST k ROWS WITH
    TIES``): the top 3 order-value BANDS per priority keep every
    order in a tied band — ``row_number`` top-k (o1/o2) silently
    truncates ties by the tiebreak key, which is correct for "give me
    3 rows" and WRONG for "give me the 3 highest values"; rank()
    keeps the full tied band, which is the semantics reports about
    thresholds ("all orders in the top 3 price bands") actually
    mean. Values band to million-cents so ties genuinely occur and
    the distinction is exercised, not hypothetical.

    Shape: pre-aggregate to (priority, band) BEFORE ranking — the
    rank window runs over the bounded band table, never raw orders
    (the t32 discipline); banding and counts are exact integer
    arithmetic."""
    o = _t(spark, sf_dir, "orders")
    cents = half_up_cents(F.col("o_totalprice"))
    g = (o.select(F.col("o_orderpriority").alias("priority"),
                  F.floor(cents / 1000000).cast("long")
                   .alias("value_mcents"))
          .groupBy("priority", "value_mcents")
          .agg(F.count(F.lit(1)).alias("n_orders")))
    w = Window.partitionBy("priority").orderBy(
        F.col("value_mcents").desc())
    return (g.withColumn("value_rank", F.rank().over(w))
             .filter(F.col("value_rank") <= 3))


# ---------------------------------------------------------------------------
# O9 — diversified (capped-per-group) top-k (r8)
# ---------------------------------------------------------------------------

@register(
    "o9_capped_topk",
    oracle=f"""
    WITH cents AS (
      SELECT o_orderkey, c.c_mktsegment AS mktsegment,
             {sql_half_up_cents('o_totalprice')} AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    seg_ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY mktsegment
               ORDER BY cents DESC, o_orderkey) AS segment_rank
      FROM cents
    ),
    capped AS (SELECT * FROM seg_ranked WHERE segment_rank <= 3)
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY cents DESC, o_orderkey)
                AS BIGINT) AS global_rank,
           mktsegment, o_orderkey, cents,
           CAST(segment_rank AS BIGINT) AS segment_rank
    FROM capped
    QUALIFY global_rank <= 12
    """,
)
def o9_capped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 — DIVERSIFIED top-k: the 12 highest-value orders overall,
    capped at 3 per market segment — the feed-builder primitive
    ("top stories, but never four from one outlet") that plain top-k
    (o1) and per-group top-k (o2) bracket but neither expresses;
    the relational cousin of x3_mmr_diversify's embedding-space
    diversification.

    Two-phase and scale-safe: phase 1 ranks within segment via the
    two-level staircase (segment is the bounded-cardinality trap —
    descending cents bands, per-band counts broadcast back) and cuts
    to ≤ 3·|segments| rows; phase 2 re-ranks the BOUNDED candidate
    set globally (≤ 15 rows — a window there is free). Total order
    (cents desc, orderkey) end to end, so the ranks and the cut are
    engine-exact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = half_up_cents(F.col("o_totalprice"))
    # customer joins plainly — an SF-scaling dim must not carry an
    # un-demotable broadcast hint (ADVICE r8); AQE broadcasts it at
    # small SFs on its own.
    base = (o.join(c.select("c_custkey", "c_mktsegment"),
                   o.o_custkey == c.c_custkey)
             .select("o_orderkey",
                     F.col("c_mktsegment").alias("mktsegment"),
                     cents.alias("cents")))
    from ..operators.staircase import (bucketed_row_number,
                                       default_value_bucket)
    ranked = bucketed_row_number(
        base.withColumn("_vb",
                        default_value_bucket(F.col("cents"), 16)),
        ["mktsegment"], ["_vb"], [F.col("_vb").desc()],
        [F.col("cents").desc(), F.col("o_orderkey")],
        out="segment_rank")
    capped = ranked.filter(F.col("segment_rank") <= 3)
    wg = Window.orderBy(F.col("cents").desc(), "o_orderkey")
    return (capped.withColumn("global_rank",
                              F.row_number().over(wg).cast("long"))
                  .filter(F.col("global_rank") <= 12)
                  .select("global_rank", "mktsegment", "o_orderkey",
                          "cents",
                          F.col("segment_rank").cast("long")
                           .alias("segment_rank")))
