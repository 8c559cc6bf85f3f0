"""The reference pipeline (EP-1) in Spark shape — OP-P8/P15/P16, OP-J3,
plus the alias/TTM/balance kernels wired end-to-end (SURVEY.md §3).

``fetch_data.py:128-275`` re-expressed as ONE declarative DAG over the
reference-domain fixture tables from FIXTURES.md §2: lists → normalize →
⋈ instrument_info ⋈ fx_rates (OP-J3/P8/P14) ⋈ sector config;
quarterly_financials → alias-resolve (OP-J1) → TTM top-4 (OP-A1/W1) and
latest-balance-sheet scan with positivity guard (OP-A2/J2); prices →
last non-null close (OP-A3); assemble the 22-field snapshot (OP-P16).

Fixtures (sources/reference.py) are shared Python constants rendered
BOTH into Spark DataFrames and into the oracle's SQL ``VALUES`` — one
source of truth, so the two sides cannot drift. Edge rows per FIXTURES.md §2: dotted
ticker, 5-quarter cut, alias precedence in both orders, negative-STI
positivity guard, FX default cascade, truthiness quirks (a *negative*
currentPrice stops the or-chain and falls through to price history —
replicated verbatim), skip-on-failure tickers.

Reference citations (``F:`` = /root/reference/fetch_data.py — semantics
studied, no code copied): price cascade F:142-165, FX F:38-51,168-172,
TTM F:29-36,180-189, balance F:197-223, fallback book F:226-227, FX
division F:229-231, valuation F:234-243, assembly F:246-273.

Scale posture: every per-ticker dict lookup became a broadcast-joined
dimension or a windowed aggregate keyed on ticker — the pipeline is one
Catalyst DAG whose only shuffles are the per-ticker window/agg; fixture
dims broadcast at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.classify import (
    SECTOR_CONFIG, classify_sector, clamp_growth, sanitize_beta,
)
from ..functions.scalars import canonicalize_line, fx_pair, normalize_ticker
from ..sources.reference import (
    ALIAS_MAP, FX_RATES, INSTRUMENT_INFO, LAST_UPDATED, PRICES, QUARTERLY,
    TICKER_LISTS, _INFO_COLS, _alias_df, _fx_df, _info_df, _lists_df,
    _prices_df, _quarterly_df,
)
from .registry import register

# ---------------------------------------------------------------------------
# Fixture → SQL VALUES (oracle side, same constants)
# ---------------------------------------------------------------------------

def _lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _values_cte(name: str, rows, cols: list[str],
                casts: dict[str, str]) -> str:
    body = ",\n      ".join(
        "(" + ", ".join(_lit(v) for v in row) + ")" for row in rows)
    proj = ", ".join(
        f"CAST({c} AS {casts[c]}) AS {c}" if c in casts else c
        for c in cols)
    return (f"{name} AS (\n    SELECT {proj} FROM (VALUES\n      {body})"
            f"\n      AS _t({', '.join(cols)})\n  )")


def _cfg_case(key: str) -> str:
    """SECTOR_CONFIG lookup as SQL (General fallback — F:82)."""
    arms = " ".join(
        f"WHEN '{name}' THEN {_lit(cfg[key])}"
        for name, cfg in SECTOR_CONFIG.items())
    return (f"CASE sector_type {arms} "
            f"ELSE {_lit(SECTOR_CONFIG['General'][key])} END")


def _oracle_sql() -> str:
    fixtures = ",\n  ".join([
        _values_cte("lists", TICKER_LISTS,
                    ["list_name", "position", "raw"], {}),
        _values_cte("info", INSTRUMENT_INFO, _INFO_COLS, {
            "current_price": "DOUBLE", "regular_market_price": "DOUBLE",
            "previous_close": "DOUBLE", "market_cap": "BIGINT",
            "shares_outstanding": "BIGINT", "beta": "DOUBLE",
            "trailing_pe": "DOUBLE", "peg_ratio": "DOUBLE",
            "revenue_growth": "DOUBLE", "forward_eps": "DOUBLE",
            "return_on_equity": "DOUBLE", "dividend_yield": "DOUBLE",
            "book_value": "DOUBLE"}),
        _values_cte("prices", PRICES, ["ticker", "ts", "close"],
                    {"ts": "DATE", "close": "DOUBLE"}),
        _values_cte("fx", FX_RATES, ["pair", "rate"], {"rate": "DOUBLE"}),
        _values_cte("alias_map", ALIAS_MAP,
                    ["canonical", "statement", "kind", "line_item",
                     "priority"], {}),
        _values_cte("qf", QUARTERLY,
                    ["ticker", "statement", "line_item", "quarter_end",
                     "value"],
                    {"quarter_end": "DATE", "value": "DOUBLE"}),
    ])
    classify = """
      CASE
        WHEN industry LIKE '%Semiconductor%'
          OR sector LIKE '%Semiconductor%' THEN 'Semiconductor'
        WHEN industry LIKE '%Software%'
          OR sector LIKE '%Technology Services%' THEN 'SaaS'
        WHEN industry LIKE '%Consumer Electronics%'
          OR industry LIKE '%Computer Hardware%' THEN 'Hardware'
        WHEN industry LIKE '%Biotechnology%'
          OR industry LIKE '%Drug%' THEN 'BioTech'
        WHEN industry LIKE '%Bank%' OR sector LIKE '%Financial%'
          OR industry LIKE '%Insurance%' THEN 'Financial'
        WHEN sector LIKE '%Energy%' OR industry LIKE '%Oil%'
          OR sector LIKE '%Utilities%' THEN 'Energy/Utility'
        WHEN sector LIKE '%Real Estate%'
          OR industry LIKE '%REIT%' THEN 'REIT'
        ELSE 'General'
      END"""
    return f"""
  WITH
  {fixtures},
  tickers AS (
    SELECT DISTINCT replace(upper(trim(raw)), '.', '-') AS ticker
    FROM lists WHERE length(trim(raw)) > 0
  ),
  last_close AS (
    SELECT ticker, arg_max(close, ts) AS last_close
    FROM prices WHERE close IS NOT NULL GROUP BY ticker
  ),
  priced AS (
    SELECT i.*, CASE WHEN p0 > 0 THEN p0 ELSE lc.last_close END AS price
    FROM (
      SELECT i0.*, COALESCE(
        CASE WHEN current_price IS NOT NULL AND current_price <> 0
             THEN current_price END,
        CASE WHEN regular_market_price IS NOT NULL
              AND regular_market_price <> 0
             THEN regular_market_price END,
        CASE WHEN previous_close IS NOT NULL AND previous_close <> 0
             THEN previous_close END) AS p0
      FROM info i0
    ) i
    JOIN tickers t ON t.ticker = i.ticker
    LEFT JOIN last_close lc ON lc.ticker = i.ticker
  ),
  alive AS (
    SELECT * FROM priced WHERE price IS NOT NULL AND price > 0
  ),
  fxr AS (
    SELECT a.ticker,
           CASE WHEN financial_currency IS NULL
                  OR financial_currency = ''
                  OR upper(financial_currency) = 'USD' THEN 1.0
                ELSE COALESCE(
                  CASE WHEN f.rate > 0 THEN f.rate END, 1.0)
           END AS fx_rate
    FROM alive a
    LEFT JOIN fx f ON f.pair = upper(a.financial_currency) || '=X'
  ),
  present AS (
    SELECT DISTINCT ticker, statement, line_item FROM qf
  ),
  chosen AS (
    SELECT ticker, canonical, line_item FROM (
      SELECT p.ticker, a.canonical, a.line_item,
             ROW_NUMBER() OVER (PARTITION BY p.ticker, a.canonical
                                ORDER BY a.priority) AS rn
      FROM present p
      JOIN alias_map a ON a.line_item = p.line_item
                      AND a.statement = p.statement
      WHERE a.kind = 'ttm'
    ) WHERE rn = 1
  ),
  qrank AS (
    SELECT ticker, statement, quarter_end,
           ROW_NUMBER() OVER (PARTITION BY ticker, statement
                              ORDER BY quarter_end DESC) AS rq
    FROM (SELECT DISTINCT ticker, statement, quarter_end FROM qf)
  ),
  ttm AS (
    SELECT c.ticker, c.canonical,
           SUM(COALESCE(v.value, 0)) AS val
    FROM chosen c
    JOIN alias_map a ON a.canonical = c.canonical
                    AND a.line_item = c.line_item AND a.kind = 'ttm'
    JOIN qrank q ON q.ticker = c.ticker AND q.statement = a.statement
                AND q.rq <= 4
    LEFT JOIN qf v ON v.ticker = c.ticker AND v.statement = a.statement
                  AND v.line_item = c.line_item
                  AND v.quarter_end = q.quarter_end
    GROUP BY c.ticker, c.canonical
  ),
  latest_bs AS (
    SELECT v.ticker, v.line_item, v.value
    FROM qf v
    JOIN qrank q ON q.ticker = v.ticker AND q.statement = 'balance'
                AND q.quarter_end = v.quarter_end AND q.rq = 1
    WHERE v.statement = 'balance'
  ),
  bal AS (
    SELECT ticker, canonical, val FROM (
      SELECT b.ticker, a.canonical, b.value AS val,
             ROW_NUMBER() OVER (PARTITION BY b.ticker, a.canonical
                                ORDER BY a.priority) AS rn
      FROM latest_bs b
      JOIN alias_map a ON a.line_item = b.line_item
                      AND a.kind = 'balance'
      WHERE a.canonical <> 'sti' OR b.value > 0
    ) WHERE rn = 1
  ),
  metrics AS (
    SELECT ticker,
           SUM(CASE WHEN canonical = 'revenue' THEN val END) AS revenue,
           SUM(CASE WHEN canonical = 'net_income' THEN val END)
             AS net_income,
           SUM(CASE WHEN canonical = 'ocf' THEN val END) AS ocf,
           SUM(CASE WHEN canonical = 'capex' THEN val END) AS capex,
           SUM(CASE WHEN canonical = 'sbc' THEN val END) AS sbc,
           SUM(CASE WHEN canonical = 'buyback' THEN val END) AS buyback,
           SUM(CASE WHEN canonical = 'debt' THEN val END) AS debt,
           SUM(CASE WHEN canonical = 'cash' THEN val END) AS cash_part,
           SUM(CASE WHEN canonical = 'sti' THEN val END) AS invest_part,
           SUM(CASE WHEN canonical = 'book' THEN val END) AS book_raw
    FROM (SELECT * FROM ttm UNION ALL SELECT * FROM bal)
    GROUP BY ticker
  ),
  classified AS (
    SELECT alive.*, fx_rate,
           COALESCE(m.revenue, 0) AS revenue_raw,
           COALESCE(m.net_income, 0) AS net_income_raw,
           COALESCE(m.ocf, 0) AS ocf_raw,
           COALESCE(m.capex, 0) AS capex_raw,
           COALESCE(m.sbc, 0) AS sbc_raw,
           COALESCE(m.buyback, 0) AS buyback_raw,
           COALESCE(m.debt, 0) AS debt_raw,
           COALESCE(m.cash_part, 0) + COALESCE(m.invest_part, 0)
             AS liquidity_raw,
           CASE WHEN COALESCE(m.book_raw, 0) = 0
                THEN COALESCE(alive.book_value, 0)
                     * COALESCE(alive.shares_outstanding, 0)
                ELSE m.book_raw END AS book_raw,
           {classify} AS sector_type
    FROM alive
    JOIN fxr USING (ticker)
    LEFT JOIN metrics m USING (ticker)
  ),
  grown AS (
    SELECT *,
      CASE WHEN implied0 <> 0 THEN implied0
           ELSE COALESCE(revenue_growth * 100, 3.0) END AS implied
    FROM (
      SELECT *,
        CASE WHEN trailing_pe IS NOT NULL AND trailing_pe <> 0
              AND peg_ratio IS NOT NULL AND peg_ratio > 0
             THEN trailing_pe / peg_ratio ELSE 0 END AS implied0
      FROM classified
    )
  ),
  final AS (
    SELECT *,
      CASE WHEN COALESCE(market_cap, 0) > 500000000000
            AND clamped > 30 THEN 30.0 ELSE clamped END AS growth_final
    FROM (
      SELECT *,
        CASE WHEN implied < {_cfg_case('min')}
             THEN CASE WHEN {_cfg_case('cyclical')} THEN 3.0
                       ELSE {_cfg_case('min')} END
             WHEN implied > {_cfg_case('max')} THEN {_cfg_case('max')}
             ELSE implied END AS clamped
      FROM grown
    )
  )
  SELECT ticker,
         CASE WHEN short_name IS NOT NULL AND short_name <> ''
              THEN short_name ELSE long_name END AS name,
         price,
         COALESCE(market_cap, 0) AS market_cap,
         revenue_raw / fx_rate AS revenue_ttm,
         net_income_raw / fx_rate AS net_income_ttm,
         ocf_raw / fx_rate AS ocf_ttm,
         abs(capex_raw) / fx_rate AS capex_ttm,
         sbc_raw / fx_rate AS sbc_ttm,
         abs(buyback_raw) / fx_rate AS buyback_ttm,
         debt_raw / fx_rate AS total_debt,
         liquidity_raw / fx_rate AS cash_and_equivalents,
         book_raw / fx_rate AS book_value_ttm,
         COALESCE(shares_outstanding, 0) AS shares_outstanding,
         CASE WHEN beta IS NULL THEN 1.0
              WHEN beta < 0.5 THEN
                CASE WHEN sector_type IN
                       ('SaaS', 'Semiconductor', 'BioTech')
                     THEN 1.2 ELSE 0.8 END
              WHEN COALESCE(market_cap, 0) > 1000000000000
                   AND beta > 1.35 THEN 1.35
              WHEN COALESCE(market_cap, 0) > 1000000000000
                   THEN ROUND(beta, 2)
              WHEN COALESCE(market_cap, 0) > 200000000000
                   AND beta > 1.6 THEN 1.6
              WHEN beta > 2.5 THEN 2.5
              ELSE ROUND(beta, 2) END AS beta,
         ROUND(CASE WHEN return_on_equity IS NOT NULL
                     AND return_on_equity <> 0
                    THEN return_on_equity * 100 ELSE 0.0 END, 2) AS roe,
         ROUND(growth_final, 2) AS analyst_growth_estimate,
         COALESCE(forward_eps, 0) AS forward_eps,
         ROUND(CASE WHEN dividend_yield IS NOT NULL
                     AND dividend_yield <> 0
                    THEN dividend_yield * 100 ELSE 0.0 END, 2)
           AS dividend_yield,
         sector_type,
         'USD' AS currency_code,
         '{LAST_UPDATED}' AS last_updated
  FROM final
    """


# ---------------------------------------------------------------------------
# The Spark pipeline
# ---------------------------------------------------------------------------

def _nonzero(c: F.Column) -> F.Column:
    """Python-truthiness guard: value counts only if non-null AND ≠ 0
    (the reference's ``or``-chains, F:142-146)."""
    return F.when(c.isNotNull() & (c != 0), c)


def snapshot_pipeline(spark: SparkSession) -> DataFrame:
    """EP-1: lists → info ⋈ fx ⋈ financials ⋈ prices → 22-field
    snapshot. See module docstring for the operator map."""
    lists = _lists_df(spark)
    info = _info_df(spark)
    prices = _prices_df(spark)
    fx = _fx_df(spark)
    alias = _alias_df(spark)
    qf = _quarterly_df(spark)

    # OP-S1/P1/P2/A4: normalize → distinct fetch set
    tickers = (lists
               .select(normalize_ticker(
                   canonicalize_line(F.col("raw"))).alias("ticker"))
               .filter(F.length("ticker") > 0)
               .distinct())

    # OP-A3: last non-null close per ticker
    last_close = (prices.filter(F.col("close").isNotNull())
                  .groupBy("ticker")
                  .agg(F.max_by("close", "ts").alias("last_close")))

    # OP-P3/P4 with verbatim truthiness: or-chain stops at ANY non-zero
    # value; only a null-or-nonpositive result falls to price history.
    p0 = F.coalesce(_nonzero(F.col("current_price")),
                    _nonzero(F.col("regular_market_price")),
                    _nonzero(F.col("previous_close")))
    alive = (info.join(tickers, "ticker")
             .join(F.broadcast(last_close), "ticker", "left")
             .withColumn("price", F.when(p0 > 0, p0)
                         .otherwise(F.col("last_close")))
             .filter(F.col("price").isNotNull() & (F.col("price") > 0)))

    # OP-J3/P8/P14/E3: FX enrichment with USD short-circuit
    fxr = (alive.select("ticker", "financial_currency")
           .join(F.broadcast(fx),
                 fx_pair(F.col("financial_currency")) == F.col("pair"),
                 "left")
           .select("ticker", F.when(
               F.col("financial_currency").isNull()
               | (F.col("financial_currency") == "")
               | (F.upper("financial_currency") == "USD"), F.lit(1.0))
               .otherwise(F.coalesce(
                   F.when(F.col("rate") > 0, F.col("rate")),
                   F.lit(1.0))).alias("fx_rate")))

    # OP-J1: alias precedence over line items PRESENT per ticker
    present = qf.select("ticker", "statement", "line_item").distinct()
    w_prec = Window.partitionBy("ticker", "canonical").orderBy("priority")
    chosen = (present
              .join(F.broadcast(alias.filter(F.col("kind") == "ttm")),
                    ["statement", "line_item"])
              .withColumn("rn", F.row_number().over(w_prec))
              .filter(F.col("rn") == 1)
              .select("ticker", "canonical", "statement", "line_item"))

    # OP-A1/W1/O2: top-4 most recent quarters of the statement, then
    # sum the chosen line's values there (missing/null → 0)
    w_q = Window.partitionBy("ticker", "statement") \
                .orderBy(F.col("quarter_end").desc())
    qrank = (qf.select("ticker", "statement", "quarter_end").distinct()
             .withColumn("rq", F.row_number().over(w_q))
             .filter(F.col("rq") <= 4))
    ttm = (chosen
           .join(qrank, ["ticker", "statement"])
           .join(qf, ["ticker", "statement", "line_item", "quarter_end"],
                 "left")
           .groupBy("ticker", "canonical")
           .agg(F.sum(F.coalesce("value", F.lit(0.0))).alias("val")))

    # OP-A2/J2: latest balance-sheet quarter, alias precedence with the
    # sti positivity guard applied per-candidate BEFORE precedence
    latest_bs = (qf.filter(F.col("statement") == "balance")
                 .withColumn("rq", F.row_number().over(
                     Window.partitionBy("ticker")
                     .orderBy(F.col("quarter_end").desc(), "line_item")))
                 .withColumn("maxq", F.max("quarter_end").over(
                     Window.partitionBy("ticker")))
                 .filter(F.col("quarter_end") == F.col("maxq")))
    bal = (latest_bs
           .join(F.broadcast(alias.filter(F.col("kind") == "balance")),
                 "line_item")
           .filter((F.col("canonical") != "sti") | (F.col("value") > 0))
           .withColumn("rn", F.row_number().over(w_prec))
           .filter(F.col("rn") == 1)
           .select("ticker", "canonical", F.col("value").alias("val")))

    metrics = (ttm.unionByName(bal)
               .groupBy("ticker")
               .pivot("canonical",
                      ["revenue", "net_income", "ocf", "capex", "sbc",
                       "buyback", "debt", "cash", "sti", "book"])
               .agg(F.first("val")))

    # OP-P16: assemble (with OP-P7 abs, OP-P8 FX division, OP-P9 ×100,
    # OP-P10 round, OP-P11/P12/P13 valuation kernels, OP-P15 stamp)
    m = alive.join(fxr, "ticker").join(metrics, "ticker", "left")
    z = lambda c: F.coalesce(F.col(c), F.lit(0.0))  # noqa: E731
    fx_rate = F.col("fx_rate")
    sector_type = classify_sector(F.col("sector"), F.col("industry"))
    book_raw = F.when(
        z("book") == 0,
        F.coalesce(F.col("book_value"), F.lit(0.0))
        * F.coalesce(F.col("shares_outstanding"), F.lit(0)))\
        .otherwise(F.col("book"))
    pct_or_zero = lambda c: F.round(  # noqa: E731
        F.when(c.isNotNull() & (c != 0), c * 100).otherwise(0.0), 2)
    return m.select(
        "ticker",
        F.when(F.col("short_name").isNotNull()
               & (F.col("short_name") != ""), F.col("short_name"))
         .otherwise(F.col("long_name")).alias("name"),
        "price",
        F.coalesce("market_cap", F.lit(0)).alias("market_cap"),
        (z("revenue") / fx_rate).alias("revenue_ttm"),
        (z("net_income") / fx_rate).alias("net_income_ttm"),
        (z("ocf") / fx_rate).alias("ocf_ttm"),
        (F.abs(z("capex")) / fx_rate).alias("capex_ttm"),
        (z("sbc") / fx_rate).alias("sbc_ttm"),
        (F.abs(z("buyback")) / fx_rate).alias("buyback_ttm"),
        (z("debt") / fx_rate).alias("total_debt"),
        ((z("cash") + z("sti")) / fx_rate).alias("cash_and_equivalents"),
        (book_raw / fx_rate).alias("book_value_ttm"),
        F.coalesce("shares_outstanding", F.lit(0))
         .alias("shares_outstanding"),
        sanitize_beta(F.col("beta"), sector_type,
                      F.col("market_cap")).alias("beta"),
        pct_or_zero(F.col("return_on_equity")).alias("roe"),
        clamp_growth(F.col("trailing_pe"), F.col("peg_ratio"),
                     F.col("revenue_growth"), F.col("market_cap"),
                     sector_type).alias("analyst_growth_estimate"),
        F.coalesce("forward_eps", F.lit(0.0)).alias("forward_eps"),
        pct_or_zero(F.col("dividend_yield")).alias("dividend_yield"),
        sector_type.alias("sector_type"),
        F.lit("USD").alias("currency_code"),
        F.lit(LAST_UPDATED).alias("last_updated"),
    )


@register("ref_snapshot_pipeline", oracle=_oracle_sql())
def ref_snapshot_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-P16 + the whole EP-1 DAG — see :func:`snapshot_pipeline`.
    ``sf_dir`` is unused: the pipeline runs on the FIXTURES.md §2
    reference-domain tables (shared constants on both sides)."""
    return snapshot_pipeline(spark)
