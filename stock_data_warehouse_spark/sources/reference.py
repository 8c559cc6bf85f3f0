"""The reference-domain fixture tables (FIXTURES.md §2) — the inputs of
the reference pipeline (EP-1, plans/reference_pipeline.py) and of its
scheduled refresh (EP-2, pipeline/refresh.py).

Fixtures are shared Python constants rendered BOTH into Spark
DataFrames (here) and into the oracle's SQL ``VALUES``
(plans/reference_pipeline.py) — one source of truth, so the two sides
cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .tables import values_df

# ---------------------------------------------------------------------------
# Fixtures (FIXTURES.md §2) — one constant per table, consumed by BOTH
# the Spark builders below and the SQL-oracle generator in
# plans/reference_pipeline.py.
# ---------------------------------------------------------------------------

#: (list_name, position, raw_line) — dotted ticker, duplicates across and
#: within lists, lowercase + whitespace, blanks, a no-data ticker (FFF).
TICKER_LISTS = [
    ("core", 0, "AAA"), ("core", 1, " bbb "), ("core", 2, "CC.C"),
    ("core", 3, "DDD"), ("core", 4, "   "),
    ("growth", 0, "BBB"), ("growth", 1, "EEE"), ("growth", 2, "FFF"),
    ("growth", 3, "GGG"),
    ("income", 0, "GGG"), ("income", 1, "HHH"), ("income", 2, "GGG"),
    ("income", 3, "III"),
]

_INFO_COLS = (
    "ticker short_name long_name current_price regular_market_price "
    "previous_close market_cap shares_outstanding beta trailing_pe "
    "peg_ratio revenue_growth forward_eps return_on_equity "
    "dividend_yield sector industry financial_currency book_value"
).split()

#: One row per normalized ticker; see module docstring for the scenario
#: each row pins down.
INSTRUMENT_INFO = [
    ("AAA", "Alpha Inc", None, 100.0, 99.0, 98.0, 10_000_000_000,
     1_000_000_000, 1.13, 20.0, 2.0, 0.12, 5.0, 0.15, 0.012,
     "Consumer Cyclical", "Retail", "USD", 50.0),
    # negative currentPrice is TRUTHY → or-chain stops → history path
    ("BBB", None, "Beta AG", -5.0, None, 44.0, 20_000_000_000,
     500_000_000, 0.3, 30.0, 0.0, 0.25, 2.0, 0.30, None,
     "Technology", "Software - Application", "EUR", 10.0),
    # Semiconductor beats Software (precedence); $1T beta tier; megacap cap
    ("CC-C", "Gamma Corp", None, 250.0, None, None, 1_500_000_000_000,
     2_000_000_000, 1.5, 40.0, 0.5, 0.40, 12.5, 0.25, None,
     "Technology", "Semiconductor Software", "USD", 100.0),
    # no info price at all → history path; JPY rate ≤ 0 → 1.0; all defaults
    ("DDD", None, "Delta LLC", None, None, None, 500_000_000,
     2_000_000, None, None, None, None, 0.0, None, None,
     None, None, "JPY", 3.0),
    # GBP null rate → 1.0; BioTech; beta > 2.5 cap; negative growth kept
    ("EEE", "Eps Bio", None, 10.0, None, None, 3_000_000_000,
     100_000_000, 2.8, None, None, -0.05, 0.0, -0.10, None,
     "Healthcare", "Biotechnology", "GBP", 2.0),
    # REIT; already-percent dividendYield quirk → 709.0
    ("GGG", "Gamma REIT", None, 55.0, None, None, 8_000_000_000,
     400_000_000, 0.9, 12.0, 1.5, 0.04, 3.2, 0.11, 7.09,
     "Real Estate", "REIT - Retail", "USD", 25.0),
    # Hardware (falls back to General clamp config); $200B beta tier
    ("HHH", "Eta Devices", None, 75.0, None, None, 300_000_000_000,
     1_200_000_000, 1.7, 25.0, 1.0, 0.18, 4.4, 0.22, 0.005,
     "Technology", "Consumer Electronics", "USD", 15.0),
    # invalid everywhere (negative previousClose, all-null history) → skip
    ("III", "Iota Corp", None, None, None, -3.0, 1_000_000_000,
     10_000_000, 1.0, None, None, None, 0.0, None, None,
     "Technology", "Software", "USD", 1.0),
]

#: (ticker, ts DATE, close) — trailing nulls; III all-null → no price.
PRICES = [
    ("AAA", "2024-01-03", 101.0),
    ("BBB", "2024-01-02", 43.0), ("BBB", "2024-01-03", 44.5),
    ("BBB", "2024-01-04", None),
    ("DDD", "2024-01-02", 40.0), ("DDD", "2024-01-03", 42.0),
    ("DDD", "2024-01-04", None),
    ("III", "2024-01-02", None), ("III", "2024-01-03", None),
]

#: (pair, rate) — keyed by the OP-P14 template ``{CUR}=X``.
FX_RATES = [
    ("EUR=X", 0.8), ("GBP=X", None), ("JPY=X", -1.0), ("CHF=X", 1.1),
]

#: Alias precedence (F:180-189 TTM; F:201-223 balance). priority 0 =
#: first in the reference's list. kind: ttm = top-4-quarter sum;
#: balance = latest-quarter scan.
ALIAS_MAP = [
    ("revenue", "income", "ttm", "Total Revenue", 0),
    ("revenue", "income", "ttm", "Operating Revenue", 1),
    ("net_income", "income", "ttm", "Net Income", 0),
    ("net_income", "income", "ttm", "Net Income Common Stockholders", 1),
    ("net_income", "income", "ttm",
     "Net Income From Continuing And Discontinued Operation", 2),
    ("ocf", "cashflow", "ttm", "Operating Cash Flow", 0),
    ("ocf", "cashflow", "ttm", "Total Cash From Operating Activities", 1),
    ("capex", "cashflow", "ttm", "Capital Expenditure", 0),
    ("capex", "cashflow", "ttm", "Capital Expenditures", 1),
    ("sbc", "cashflow", "ttm", "Stock Based Compensation", 0),
    ("sbc", "cashflow", "ttm", "Issuance Of Stock", 1),
    ("buyback", "cashflow", "ttm", "Repurchase Of Capital Stock", 0),
    ("buyback", "cashflow", "ttm", "Common Stock Repurchased", 1),
    ("debt", "balance", "balance", "Total Debt", 0),
    ("debt", "balance", "balance", "Long Term Debt", 1),
    ("cash", "balance", "balance", "Cash And Cash Equivalents", 0),
    ("cash", "balance", "balance", "Cash Financial", 1),
    # sti candidates require value > 0 (F:214) — guard before precedence
    ("sti", "balance", "balance", "Other Short Term Investments", 0),
    ("sti", "balance", "balance", "Short Term Investments", 1),
    ("sti", "balance", "balance", "Available For Sale Securities", 2),
    ("book", "balance", "balance", "Total Stockholder Equity", 0),
    ("book", "balance", "balance", "Total Equity Gross Minority", 1),
    ("book", "balance", "balance", "Stockholders Equity", 2),
]

_Q = ("2023-03-31", "2023-06-30", "2023-09-30", "2023-12-31")
_OLD = "2022-12-31"


def _ttm_rows(ticker, statement, line_item, values, quarters=_Q):
    return [(ticker, statement, line_item, q, v)
            for q, v in zip(quarters, values)]


#: (ticker, statement, line_item, quarter_end DATE, value)
QUARTERLY = (
    # AAA — first-priority aliases everywhere
    _ttm_rows("AAA", "income", "Total Revenue", [250.0] * 4)
    + _ttm_rows("AAA", "income", "Net Income", [25.0] * 4)
    + _ttm_rows("AAA", "cashflow", "Operating Cash Flow", [50.0] * 4)
    + _ttm_rows("AAA", "cashflow", "Capital Expenditure", [-30.0] * 4)
    + _ttm_rows("AAA", "cashflow", "Stock Based Compensation", [5.0] * 4)
    + _ttm_rows("AAA", "cashflow", "Repurchase Of Capital Stock",
                [-10.0] * 4)
    + [("AAA", "balance", "Total Debt", "2023-12-31", 500.0),
       ("AAA", "balance", "Total Debt", "2023-09-30", 480.0),
       ("AAA", "balance", "Cash And Cash Equivalents", "2023-12-31", 300.0),
       ("AAA", "balance", "Cash And Cash Equivalents", "2023-09-30", 280.0),
       ("AAA", "balance", "Other Short Term Investments",
        "2023-12-31", 100.0),
       ("AAA", "balance", "Stockholders Equity", "2023-12-31", 800.0)]
    # BBB — second-priority aliases; 5 quarters (top-4 cut); EUR /0.8
    + _ttm_rows("BBB", "income", "Operating Revenue",
                [999.0, 100.0, 200.0, 300.0, 400.0], (_OLD,) + _Q)
    + _ttm_rows("BBB", "income", "Net Income Common Stockholders",
                [40.0] * 4)
    + _ttm_rows("BBB", "cashflow", "Total Cash From Operating Activities",
                [60.0] * 4)
    + _ttm_rows("BBB", "cashflow", "Capital Expenditures", [-20.0] * 4)
    + _ttm_rows("BBB", "cashflow", "Issuance Of Stock", [8.0] * 4)
    + _ttm_rows("BBB", "cashflow", "Common Stock Repurchased",
                [-16.0] * 4)
    + [("BBB", "balance", "Long Term Debt", "2023-12-31", 400.0),
       ("BBB", "balance", "Cash Financial", "2023-12-31", 80.0),
       ("BBB", "balance", "Other Short Term Investments",
        "2023-12-31", -100.0),            # guard: skip, fall through
       ("BBB", "balance", "Available For Sale Securities",
        "2023-12-31", 40.0),
       ("BBB", "balance", "Total Equity Gross Minority",
        "2023-12-31", 640.0)]
    # CC-C — third-priority net-income alias; no buyback rows at all
    + _ttm_rows("CC-C", "income", "Total Revenue", [1000.0] * 4)
    + _ttm_rows("CC-C", "income",
                "Net Income From Continuing And Discontinued Operation",
                [150.0] * 4)
    + _ttm_rows("CC-C", "cashflow", "Operating Cash Flow", [300.0] * 4)
    + _ttm_rows("CC-C", "cashflow", "Capital Expenditure", [-200.0] * 4)
    + _ttm_rows("CC-C", "cashflow", "Stock Based Compensation",
                [50.0] * 4)
    + [("CC-C", "balance", "Total Debt", "2023-12-31", 2000.0),
       ("CC-C", "balance", "Cash And Cash Equivalents",
        "2023-12-31", 5000.0),
       ("CC-C", "balance", "Short Term Investments", "2023-12-31", 1000.0),
       ("CC-C", "balance", "Total Stockholder Equity",
        "2023-12-31", 9000.0)]
    # DDD — no statements at all: every TTM/balance → 0, book fallback
    # EEE — 2-quarter revenue; balance-only edge rows
    + _ttm_rows("EEE", "income", "Total Revenue", [50.0, 50.0],
                ("2023-09-30", "2023-12-31"))
    + [("EEE", "balance", "Cash And Cash Equivalents", "2023-12-31", 150.0),
       ("EEE", "balance", "Other Short Term Investments",
        "2023-12-31", -500.0),            # guard: skip
       ("EEE", "balance", "Short Term Investments", "2023-12-31", 200.0),
       ("EEE", "balance", "Stockholders Equity", "2023-12-31", 700.0)]
    # GGG — plain REIT
    + _ttm_rows("GGG", "income", "Total Revenue", [120.0] * 4)
    + _ttm_rows("GGG", "income", "Net Income", [30.0] * 4)
    + _ttm_rows("GGG", "cashflow", "Operating Cash Flow", [45.0] * 4)
    + _ttm_rows("GGG", "cashflow", "Capital Expenditure", [-5.0] * 4)
    + [("GGG", "balance", "Total Debt", "2023-12-31", 900.0),
       ("GGG", "balance", "Cash And Cash Equivalents", "2023-12-31", 60.0),
       ("GGG", "balance", "Total Stockholder Equity",
        "2023-12-31", 1100.0)]
    # HHH — a NULL quarter inside TTM (fillna(0) → sums 165)
    + _ttm_rows("HHH", "income", "Total Revenue", [500.0] * 4)
    + _ttm_rows("HHH", "income", "Net Income", [55.0, None, 55.0, 55.0])
    + _ttm_rows("HHH", "cashflow", "Operating Cash Flow", [80.0] * 4)
    + _ttm_rows("HHH", "cashflow", "Capital Expenditure", [-40.0] * 4)
    + _ttm_rows("HHH", "cashflow", "Stock Based Compensation",
                [12.0] * 4)
    + _ttm_rows("HHH", "cashflow", "Repurchase Of Capital Stock",
                [-25.0] * 4)
    + [("HHH", "balance", "Total Debt", "2023-12-31", 700.0),
       ("HHH", "balance", "Cash Financial", "2023-12-31", 90.0),
       ("HHH", "balance", "Available For Sale Securities",
        "2023-12-31", -10.0),             # guard: skip → invest 0
       ("HHH", "balance", "Total Equity Gross Minority",
        "2023-12-31", 1500.0)]
)

#: OP-P15 pinned for determinism (the reference stamps gmtime-now).
LAST_UPDATED = "2026-01-02T00:00:00Z"


# ---------------------------------------------------------------------------
# Fixture → Spark DataFrame builders
# ---------------------------------------------------------------------------

# Fixtures plan as SQL VALUES LocalRelations (``values_df``): a
# ``createDataFrame`` from Python tuples routes through an RDD whose
# every action spawns Python workers — measured ~6 s PER ACTION on
# local[32], dominating the whole pipeline (25 s → ~4 s after the
# switch). A LocalRelation is driver-local, one partition, zero Python
# processes, and every downstream join broadcasts it.

def _lists_df(spark: SparkSession) -> DataFrame:
    return values_df(spark, TICKER_LISTS,
                     "list_name string, position int, raw string")


def _info_df(spark: SparkSession) -> DataFrame:
    return values_df(spark, INSTRUMENT_INFO, (
        "ticker string, short_name string, long_name string, "
        "current_price double, regular_market_price double, "
        "previous_close double, market_cap bigint, "
        "shares_outstanding bigint, beta double, trailing_pe double, "
        "peg_ratio double, revenue_growth double, forward_eps double, "
        "return_on_equity double, dividend_yield double, sector string, "
        "industry string, financial_currency string, book_value double"))


def _prices_df(spark: SparkSession) -> DataFrame:
    return values_df(spark, PRICES,
                     "ticker string, ts date, close double")


def _fx_df(spark: SparkSession) -> DataFrame:
    return values_df(spark, FX_RATES, "pair string, rate double")


def _alias_df(spark: SparkSession) -> DataFrame:
    return values_df(spark, ALIAS_MAP,
                     "canonical string, statement string, kind string, "
                     "line_item string, priority int")


def _quarterly_df(spark: SparkSession) -> DataFrame:
    return values_df(spark, QUARTERLY,
                     "ticker string, statement string, line_item string, "
                     "quarter_end date, value double")
