"""Scalar Column builders — OP-P1…P18 (SURVEY.md §2.2).

Pure functions ``Column -> Column`` so they compose into any plan and
unit-test in isolation. All native Spark SQL expressions — no Python
UDFs — so every kernel stays inside whole-stage codegen (the reference's
interpreted pandas scalar layer re-expressed JVM-side).

Reference semantics cited per function (``F:`` = reference
``fetch_data.py``; studied at /root/reference, not copied).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_ticker(c: Column) -> Column:
    """OP-P1 — ``'.' -> '-'`` (``BRK.B`` -> ``BRK-B``); ref F:130."""
    return F.translate(c, ".", "-")


def canonicalize_line(c: Column) -> Column:
    """OP-P2 — ``strip().upper()`` of a raw list line; ref F:294.

    Blank-drop is a separate ``filter(length(...) > 0)`` at the call
    site so the builder stays a pure projection.
    """
    return F.upper(F.trim(c))


def coalesce_positive(*cols: Column, default: Column | None = None) -> Column:
    """OP-P3 + OP-P4 — first *strictly positive* value in the chain.

    The reference's price cascade (F:142-165) and FX-rate cascade
    (F:45-48) both treat ``<= 0`` as invalid, not merely null.
    """
    guarded = [F.when(c > 0, c) for c in cols]
    if default is not None:
        guarded.append(default)
    return F.coalesce(*guarded)


def guarded_ratio(num: Column, den: Column) -> Column:
    """OP-P5 — ``num/den`` only when both present and ``den > 0``; else 0.

    Ref F:84-89 (trailingPE / pegRatio implied-growth seed).
    """
    return F.when(
        num.isNotNull() & den.isNotNull() & (den > 0), num / den
    ).otherwise(F.lit(0.0))


def fallback_cascade(primary: Column, secondary: Column,
                     final_default: float = 3.0) -> Column:
    """OP-P6 — if ``primary`` is 0/null use ``secondary``; if that is
    null too, a literal default. Ref F:91-96 (implied growth →
    revenueGrowth×100 → 3.0).
    """
    return F.when(
        primary.isNotNull() & (primary != 0), primary
    ).otherwise(F.coalesce(secondary, F.lit(final_default)))


def fx_pair(currency: Column) -> Column:
    """OP-P14 — FX ticker template ``f"{CUR}=X"``; ref F:43."""
    return F.concat(F.upper(currency), F.lit("=X"))


def scale_pct(c: Column) -> Column:
    """OP-P9 — unit scaling ×100. NOTE the reference's dividend-yield
    double-scaling quirk (upstream value already percent; observed
    709.0) is replicated verbatim by applying this anyway (F:243).
    """
    return c * F.lit(100.0)


def round2(c: Column) -> Column:
    """OP-P10 — ``round(x, 2)``, HALF_UP on the double's shortest
    decimal rendering (Spark semantics). CPython ``round`` is banker's;
    DuckDB ``ROUND`` on DOUBLE rounds the *binary* value — all three
    disagree at half-cent boundaries (e.g. 72091.275 → 72091.28 /
    72091.27). SURVEY.md §7 hard-part 1: use :func:`round_money` when
    the result must hash-match the DuckDB oracle.
    """
    return F.round(c, 2)


def round_half_up(c: Column, scale: int = 2) -> Column:
    """Engine-stable half-up rounding of a DOUBLE at ``scale`` dp:
    ``sign(x) * floor(|x|*10^s + 0.5) / 10^s`` computed entirely in
    IEEE-754 double ops.

    Multiply, add, floor and divide are each correctly-rounded IEEE
    operations that the JVM (Spark) and C++ (DuckDB) implement
    identically — neither engine fuses the multiply-add — so given the
    same input bits the result is bit-identical across engines.
    DOMAIN (ADVICE r4): finite non-NaN inputs with |x|·10^s below
    ~9.2e18 — Spark's ``floor(DOUBLE)`` returns BIGINT (saturating at
    Long.MAX, NaN→0) while DuckDB's FLOOR stays DOUBLE, so the twins
    diverge beyond that magnitude and on NaN/Inf; property tests cover
    ±1e9, every call site feeds values orders of magnitude inside the
    wall (money, ratios, cosines). The previous DECIMAL(38,10) route was
    falsified by hypothesis (pinned counterexample 9007199.279923499):
    Spark's double→decimal cast is exact (java.math.BigDecimal) while
    DuckDB's quantizes through double arithmetic, so the engines see
    *different decimals* once ``|x|·10^10 ≳ 2^53`` — and engine-native
    double ROUND diverges on shortest-repr ties.  This kernel rounds
    the *binary* value half-away-from-zero, identically everywhere.

    SQL twin: :func:`sql_round_half_up` (must be used for the oracle
    side of every column this feeds).  The trailing ``+ 0.0``
    canonicalizes ``-0.0`` to ``0.0`` (Spark's floor yields LONG, so
    only the DuckDB side can produce a signed zero).

    KERNEL CHOICE (the repo's two-kernel taxonomy):

    * class A — *deterministic-identical inputs*: both engines hold the
      same input bits (parquet scans, ratios of exact integers,
      sequential array folds, IEEE-exact ops like sqrt). Use THIS
      kernel: bit-exact at any magnitude.
    * class B — *noise-carrying inputs*: cross-engine aggregation
      order (SUM/AVG of doubles) or non-correctly-rounded libm
      (ln/exp/acos/pow) make the engines' inputs differ by ulps. This
      kernel amplifies a 1-ulp straddle of a tie into a full 10^-s
      divergence; the DECIMAL(38,10) route instead *absorbs* noise
      below 5e-11 by quantizing at 10 dp first, and its falsified
      class (double→decimal divergence) only opens at |x|·10^10 ≳ 2^53
      i.e. |x| ≳ 9e5.  For class-B sites keep the decimal route and
      keep |result| ≪ 9e5 (all current class-B sites are bounded:
      avgs of ~1e3-scale values, acos ≤ π, log-probs).
    """
    p = F.lit(float(10 ** scale))
    n = F.floor(F.abs(c) * p + F.lit(0.5))
    return F.when(c < 0, -n).otherwise(n) / p + F.lit(0.0)


def sql_round_half_up(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`round_half_up` — the identical IEEE op
    sequence, so both engines render the same double bit-for-bit.
    ``expr`` is evaluated twice (sign probe + magnitude); callers pass
    deterministic side-effect-free expressions only."""
    p = f"{10 ** scale}.0"
    n = f"FLOOR(ABS({expr}) * {p} + 0.5)"
    return (f"(CASE WHEN ({expr}) < 0 THEN -{n} ELSE {n} END"
            f" / {p} + 0.0)")


def half_up_cents(c: Column) -> Column:
    """Dollars → BIGINT cents by the class-A half-up kernel:
    ``sign(x) * floor(|x|*100 + 0.5)`` with no divide, so the money
    stays an exact integer through every later SUM. SQL twin:
    :func:`sql_half_up_cents`; numpy twins: :func:`cents_half_up`,
    :func:`cents_half_up_vec`. Same domain as :func:`round_half_up`."""
    n = F.floor(F.abs(c) * 100.0 + F.lit(0.5))
    return F.when(c < 0, -n).otherwise(n).cast("long")


def sql_half_up_cents(expr: str) -> str:
    """DuckDB twin of :func:`half_up_cents`. ``expr`` is evaluated
    twice and is not parenthesised; callers pass a column reference
    (``value``, ``o.o_totalprice``)."""
    n = f"FLOOR(ABS({expr}) * 100.0 + 0.5)"
    return f"CAST(CASE WHEN {expr} < 0 THEN -{n} ELSE {n} END AS BIGINT)"


def cents_half_up(values) -> int:
    """Dollars → total integer cents via the class-A half-up kernel
    in IEEE float64 — numpy twin of :func:`half_up_cents`, so a pandas
    state path and the DuckDB oracle agree even on a true sub-cent
    tie (0.005 → 1 cent both sides), where numpy's half-EVEN
    ``.round()`` gives 0. The 2-dp property of events.value and this
    kernel's tie behaviour are pinned in
    tests/test_property_kernels.py."""
    return int(cents_half_up_vec(values).sum())


def cents_half_up_vec(values):
    """Per-row int64 cents via the same class-A half-up kernel (the
    t27 sessionizer needs per-row values to split islands before
    summing)."""
    import numpy as np
    v = np.asarray(values, dtype="float64")
    mag = np.floor(np.abs(v) * 100.0 + 0.5)
    return np.where(v < 0, -mag, mag).astype("int64")


def round_money(c: Column, scale: int = 2) -> Column:
    """Tie-stable rounding for oracle parity (SURVEY.md §7 hard-part 1).

    Since round 4 this is :func:`round_half_up` — the floor-based
    half-up kernel — after the DECIMAL(38,10) route was falsified
    cross-engine by ``tests/test_property_kernels.py`` (VERDICT r3
    item 1).  SQL twin: :func:`sql_round_half_up`.
    """
    return round_half_up(c, scale)


def md5_prefix_long(s: Column, k: int) -> Column:
    """The first ``k`` hex digits of ``md5(s)`` as a long — the portable
    hash behind the seeded coins, folds, shards and sketches
    (``k ≤ 15`` stays inside a signed long). DuckDB twin:
    ``('0x' || substr(md5(s), 1, k))::BIGINT``; Python twin:
    ``int(hashlib.md5(s).hexdigest()[:k], 16)``."""
    return F.conv(F.substring(F.md5(s), 1, k), 16, 10).cast("long")
