"""Deterministic sampling / training-mix operators — OP-X7 (LLM-pipeline).

A training-data pipeline needs *reproducible* sampling: the same corpus
snapshot must yield the same sample on every run, across engines, under
task retries, and regardless of partitioning. ``rand()`` fails all four;
``TABLESAMPLE`` is partition-dependent. The portable primitive used here
is a **content-keyed hash coin**: ``md5(key)`` rendered as hex, compared
lexicographically against a precomputed hex threshold. Both Spark and
DuckDB produce identical lowercase-hex MD5, and string comparison is
engine-independent — so every sampling decision is a pure, portable
function of the row key and the mix config.

Scale posture (100 TB):

- Every sample is a *projection-level filter* — it runs inside the scan
  (no shuffle, no state), and composes with predicate pushdown: the
  md5 filter itself can't push to parquet, but everything upstream of
  it (column pruning) and downstream (partial aggs) is unaffected.
- The mix config is a tiny dimension (5 langs / 20 sources) joined via
  ``broadcast`` — no shuffle of the corpus to pick up its rate.
- Upsampling explodes rows by a per-row copy count — the output is
  produced inside the map task; the only data movement is the planned
  downstream shuffle the training job would do anyway.

Reference anchor: the reference processes *all* tickers every run
(fetch_data.py:299-309); sampling is part of the declared scale surface
(SURVEY.md §2.8 "operations a training-data pipeline needs").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import (half_up_cents, md5_prefix_long,
                                 sql_half_up_cents, sql_round_half_up)
from ..operators.minhash import (_UNIFORM_TH, _hex_threshold, _sql_coin,
                                 hash_coin)
from ..operators.text import SQL_TOKENS, tokens_col
from ..operators.vectors import _as_double_vec
from ..sources.tables import load_table, values_df
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# OP-X7a — uniform deterministic sample
# ---------------------------------------------------------------------------

@register(
    "x7_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source,
           {_sql_coin('doc_id', 'u')} AS coin
    FROM documents
    WHERE {_sql_coin('doc_id', 'u')} < '{_UNIFORM_TH}'
    """,
)
def x7_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — uniform ~25% deterministic sample of the corpus, keyed on
    ``doc_id``: stable under re-runs, retries, repartitioning, and
    engine choice (the coin is a pure function of the key). The filter
    is a scan-level projection — zero shuffles at any scale."""
    d = _t(spark, sf_dir, "documents")
    coin = hash_coin(F.col("doc_id"), "u")
    return (d.filter(coin < _UNIFORM_TH)
             .select("doc_id", "lang", "source", coin.alias("coin")))


# ---------------------------------------------------------------------------
# OP-X7b — stratified mix (per-language rates)
# ---------------------------------------------------------------------------

#: Target keep-rate per language — the "training mix" config. Thresholds
#: are precomputed hex strings so BOTH engines decide by string compare.
_LANG_RATES = {
    "en": 0.90, "zh": 0.50, "de": 0.50, "fr": 0.25, "es": 0.10,
}
_LANG_MIX = {lang: _hex_threshold(r) for lang, r in _LANG_RATES.items()}
_DEFAULT_TH = _hex_threshold(0.05)

_SQL_LANG_MIX = " UNION ALL ".join(
    f"SELECT '{lang}' AS lang, '{th}' AS keep_th"
    for lang, th in sorted(_LANG_MIX.items()))


@register(
    "x7_stratified_mix",
    oracle=f"""
    WITH mix AS ({_SQL_LANG_MIX})
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    LEFT JOIN mix ON d.lang = mix.lang
    WHERE {_sql_coin('d.doc_id', 's')}
          < COALESCE(mix.keep_th, '{_DEFAULT_TH}')
    """,
)
def x7_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — stratified sampling with per-language keep rates (the
    data-mixing step before pre-training: downweight over-represented
    languages). The mix config is a 5-row broadcast dim; unknown
    languages fall back to a floor rate. Decision = hash coin vs the
    stratum's threshold — reproducible everywhere."""
    d = _t(spark, sf_dir, "documents")
    mix = F.broadcast(values_df(
        spark, sorted(_LANG_MIX.items()),
        "lang string, keep_th string"))
    coin = hash_coin(F.col("doc_id"), "s")
    return (d.join(mix, "lang", "left")
             .filter(coin < F.coalesce(F.col("keep_th"),
                                       F.lit(_DEFAULT_TH)))
             .select("doc_id", "lang", "source"))


# ---------------------------------------------------------------------------
# OP-X7c — weighted epoch mix (fractional upsampling)
# ---------------------------------------------------------------------------

#: Per-source epoch weight: high-quality sources repeat 2.5×, mid 1×,
#: the rest 0.5×. floor(w) whole copies + one extra with prob frac(w),
#: decided by the same portable hash coin.
_SOURCE_WEIGHTS = {
    **{f"src{i}": 2.5 for i in range(0, 4)},
    **{f"src{i}": 1.0 for i in range(4, 12)},
    **{f"src{i}": 0.5 for i in range(12, 20)},
}
_SOURCE_MIX = {
    s: (int(w), _hex_threshold(w - int(w)))
    for s, w in _SOURCE_WEIGHTS.items()
}

_SQL_SOURCE_MIX = " UNION ALL ".join(
    f"SELECT '{s}' AS source, {base} AS base_epochs, '{th}' AS frac_th"
    for s, (base, th) in sorted(_SOURCE_MIX.items()))


@register(
    "x7_weighted_epoch_mix",
    oracle=f"""
    WITH mix AS ({_SQL_SOURCE_MIX}),
    n AS (
      SELECT d.doc_id, d.lang, d.source,
             mix.base_epochs
             + CASE WHEN {_sql_coin('d.doc_id', 'e')} < mix.frac_th
                    THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN mix USING (source)
    )
    SELECT doc_id, lang, source, n_copies,
           unnest(range(1, n_copies + 1)) AS epoch
    FROM n
    WHERE n_copies >= 1
    """,
)
def x7_weighted_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — fractional upsampling by source quality: weight 2.5 means
    2 guaranteed epochs plus a 3rd for a hash-chosen 50% of docs (the
    standard way a training mix realizes non-integer epoch counts).
    ``explode(sequence(1, n))`` fans copies out inside the map task —
    the 100 TB cost is exactly the extra rows produced, no extra
    shuffle. The empty-sequence guard matters: Spark's ``sequence(1,0)``
    counts *down*, so zero-copy rows must drop before the explode."""
    d = _t(spark, sf_dir, "documents")
    mix = F.broadcast(values_df(
        spark, [(s, b, t) for s, (b, t) in sorted(_SOURCE_MIX.items())],
        "source string, base_epochs int, frac_th string"))
    n_copies = (F.col("base_epochs")
                + F.when(hash_coin(F.col("doc_id"), "e")
                         < F.col("frac_th"), 1).otherwise(0))
    return (d.join(mix, "source")
             .withColumn("n_copies", n_copies)
             .filter(F.col("n_copies") >= 1)
             .select("doc_id", "lang", "source", "n_copies",
                     F.explode(F.sequence(F.lit(1), F.col("n_copies")))
                      .alias("epoch")))


# ---------------------------------------------------------------------------
# OP-X7d — split assignment (train/valid/test)
# ---------------------------------------------------------------------------

#: Cumulative split boundaries — the single config point; both the SQL
#: CASE chain and the Spark when-chain are derived from it.
_SPLITS = (("train", 0.90), ("valid", 0.95), ("test", 1.0))

_SQL_SPLIT_CASE = "\n             ".join(
    f"WHEN {_sql_coin('doc_id', 'split')} < '{_hex_threshold(cum)}' "
    f"THEN '{name}'"
    for name, cum in _SPLITS[:-1])


@register(
    "x7_split_assignment",
    oracle=f"""
    SELECT doc_id, lang,
           CASE
             {_SQL_SPLIT_CASE}
             ELSE '{_SPLITS[-1][0]}'
           END AS split
    FROM documents
    """,
)
def x7_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — deterministic 90/5/5 train/valid/test assignment keyed on
    ``doc_id``: a document lands in the same split forever (across
    snapshot versions, engines, and reshuffles) — the property that
    prevents eval contamination when the corpus is re-ingested."""
    d = _t(spark, sf_dir, "documents")
    coin = hash_coin(F.col("doc_id"), "split")
    split = None
    for name, cum in _SPLITS[:-1]:
        cond = coin < _hex_threshold(cum)
        split = (F.when(cond, name) if split is None
                 else split.when(cond, name))
    split = split.otherwise(_SPLITS[-1][0])
    return d.select("doc_id", "lang", split.alias("split"))


# ---------------------------------------------------------------------------
# OP-X7e — per-source token-budget cap
# ---------------------------------------------------------------------------

#: Token budget admitted per source (the "domain cap" of a web-corpus
#: build: no single domain may dominate the training mix).
_SOURCE_TOKEN_BUDGET = 20_000


def _x7_budget_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, source,
             len({SQL_TOKENS}) AS n_tokens,
             {_sql_coin('doc_id', 'cap')} AS coin
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens FROM (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY coin, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM base
    ) WHERE cum_tokens <= {_SOURCE_TOKEN_BUDGET}
    """


@register("x7_token_budget_cap", oracle=_x7_budget_oracle())
def x7_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — admit documents per source, in deterministic hash order,
    until a per-source token budget is exhausted: the domain-cap step of
    a corpus build (cap what any one source contributes to the mix).

    A document is admitted iff the running token total *including
    itself* fits the budget — a pure prefix-sum window over integer
    token counts, so both engines agree exactly. Hash order (not
    ingestion order) makes the admitted set stable under re-crawls and
    repartitioning. One shuffle on ``source``; at 100 TB the window
    partitions by source, which is exactly the key the cap is defined
    over — skewed mega-sources are the capped ones, and the window
    early-outs after the budget in the sense that downstream operators
    only see the admitted prefix.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source",
        F.size(tokens_col("text")).alias("n_tokens"),
        hash_coin(F.col("doc_id"), "cap").alias("coin"))
    w = (Window.partitionBy("source")
               .orderBy("coin", "doc_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    return (base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
                .filter(F.col("cum_tokens") <= _SOURCE_TOKEN_BUDGET)
                .select("doc_id", "source", "n_tokens", "cum_tokens"))


# ---------------------------------------------------------------------------
# OP-X7f — weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

#: Sample size for the weighted-without-replacement draw — a constant,
#: so the result is a TakeOrdered top-k at any corpus size.
_ARES_K = 100


@register(
    "x7_weighted_sample_ares",
    oracle=f"""
    SELECT doc_id, source, n_chars,
           CAST(ROUND(CAST(pow(u, 1.0 / w) AS DECIMAL(38,10)), 10)
                AS DOUBLE) AS ares_key
    FROM (
      SELECT doc_id, source, n_chars,
             (CAST(('0x' || substr(md5('ares:' || CAST(doc_id AS VARCHAR)),
                                   1, 6)) AS BIGINT) + 0.5)
               / 16777216.0 AS u,
             CAST(n_chars + 1 AS DOUBLE) AS w
      FROM documents
    )
    ORDER BY ares_key DESC, doc_id
    LIMIT {_ARES_K}
    """,
)
def x7_weighted_sample_ares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — weighted sampling WITHOUT replacement via the
    Efraimidis–Spirakis A-Res key: each row draws a deterministic
    uniform u and scores ``u^(1/w)``; the global top-k by that key is
    exactly a weighted sample without replacement (here w = n_chars + 1,
    i.e. length-proportional — the "sample long documents more" mix
    step of a corpus build).

    Determinism & parity: u is BIT-exact cross-engine — a 24-bit
    integer from 6 md5 hex chars, offset by 0.5 and divided by 2^24
    (both exact in binary doubles), so u ∈ (0,1) and never 0. The
    ``pow`` is libm (class-B input per functions/scalars.py taxonomy:
    noise-carrying), so the key is routed through DECIMAL(38,10) at
    10 dp — well inside the |x| ≪ 9e5 domain (keys live in (0,1)) —
    and the top-k orders by the ROUNDED key with a doc_id tiebreak, so
    both engines select the same set.

    Scale: no shuffle at all — the key is a scan-side expression and
    the constant-k selection is TakeOrderedAndProject (per-partition
    top-k, then a k-row merge on one reducer). This is the reservoir
    form: 100 TB of candidates reduce to k rows without ever sorting
    the corpus.
    """
    d = _t(spark, sf_dir, "documents")
    v = md5_prefix_long(
        F.concat(F.lit("ares:"), F.col("doc_id").cast("string")), 6)
    u = (v.cast("double") + F.lit(0.5)) / F.lit(16777216.0)
    w = (F.col("n_chars") + F.lit(1)).cast("double")
    key = (F.round(F.pow(u, F.lit(1.0) / w).cast("decimal(38,10)"), 10)
            .cast("double"))
    return (d.select("doc_id", "source", "n_chars",
                     key.alias("ares_key"))
             .orderBy(F.col("ares_key").desc(), "doc_id")
             .limit(_ARES_K))


# ---------------------------------------------------------------------------
# OP-X7 — temperature-based source rebalancing (the GPT-3/PaLM mixing
# lever: sample sources so the mix follows counts^alpha, not counts)
# ---------------------------------------------------------------------------

@register(
    "x7_temperature_mix",
    oracle="""
    WITH src AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    mn AS (SELECT MIN(n_docs) AS cmin FROM src),
    th AS (
      SELECT source, n_docs,
             CAST(ROUND(CAST(POW(CAST(cmin AS DOUBLE) / n_docs, 0.3)
                  AS DECIMAL(38,10)), 8) AS DOUBLE) AS target_rate,
             CAST(FLOOR(CAST(ROUND(CAST(POW(CAST(cmin AS DOUBLE)
                  / n_docs, 0.3) AS DECIMAL(38,10)), 8) AS DOUBLE)
                  * 16777216) AS BIGINT) AS th
      FROM src, mn
    ),
    sampled AS (
      SELECT d.source FROM documents d JOIN th USING (source)
      WHERE CAST(concat('0x', substr(md5(concat('t', ':',
              CAST(doc_id AS VARCHAR))), 1, 6)) AS BIGINT) < th.th
    )
    SELECT t.source, t.n_docs, t.target_rate,
           (SELECT COUNT(*) FROM sampled s WHERE s.source = t.source)
             AS n_sampled
    FROM th t
    """,
)
def x7_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — temperature-rebalanced source mix: per-document keep
    rate ∝ n_source^(α−1) with α = 0.7, normalized so the RAREST
    source keeps everything — the expected sampled mix then follows
    counts^α instead of counts, the standard lever (GPT-3/PaLM
    multinomial temperature) that stops one giant crawl source from
    drowning the long tail.

    Engine parity for a DATA-DERIVED rate (the existing x7 queries use
    config-literal rates; this one's comes from the corpus): the one
    libm call per source (pow) goes through the class-B DECIMAL route
    at 8 dp (|rate| ≤ 1 ≪ 9e5) so both engines hold the IDENTICAL
    rounded double, then the comparison is INTEGER — threshold =
    floor(rate·16⁶), coin = the first 6 md5 hex digits parsed as a
    long (Spark ``conv(_,16,10)``, DuckDB ``'0x'|| cast``) — so the
    sampled SET is bit-deterministic and the per-source sampled counts
    are integer-exact, not tolerance-checked.

    Scale: the rate table is a ≤#sources-row broadcast; the sampling
    decision is a scan-level filter (module posture); the whole query
    adds one bounded agg + one broadcast join to a corpus pass."""
    d = _t(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    cmin = src.agg(F.min("n_docs").alias("cmin"))
    rate = (F.round(
        F.pow(F.col("cmin").cast("double") / F.col("n_docs"), 0.3)
         .cast("decimal(38,10)"), 8).cast("double"))
    th = (src.crossJoin(F.broadcast(cmin))
             .select("source", "n_docs", rate.alias("target_rate"))
             .withColumn("th", F.floor(F.col("target_rate")
                                       * 16777216).cast("long")))
    coin = md5_prefix_long(F.concat(F.lit("t"), F.lit(":"),
                                    F.col("doc_id").cast("string")), 6)
    hits = (d.join(F.broadcast(th), "source")
             .filter(coin < F.col("th"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_sampled")))
    return (th.join(hits, "source", "left")
              .select("source", "n_docs", "target_rate",
                      F.coalesce("n_sampled", F.lit(0))
                       .cast("long").alias("n_sampled")))




# ---------------------------------------------------------------------------
# OP-X7g — group-aware (leakage-safe) split assignment
# ---------------------------------------------------------------------------

_SQL_GROUP_SPLIT_CASE = "\n               ".join(
    f"WHEN {_sql_coin('source', 'gsplit')} < '{_hex_threshold(cum)}' "
    f"THEN '{name}'"
    for name, cum in _SPLITS[:-1])


@register(
    "x7_group_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source,
             CASE
               {_SQL_GROUP_SPLIT_CASE}
               ELSE '{_SPLITS[-1][0]}'
             END AS split
      FROM documents
    ),
    leak AS (
      SELECT COUNT(*) AS n_leaky FROM (
        SELECT source FROM assigned
        GROUP BY source HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT split, COUNT(*) AS n_docs,
           COUNT(DISTINCT source) AS n_groups,
           (leak.n_leaky = 0) AS leak_free
    FROM assigned CROSS JOIN leak
    GROUP BY split, leak.n_leaky
    """,
)
def x7_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — GROUP-aware train/valid/test assignment: the split coin
    hashes the GROUP key (source), never the document, so all
    documents of one source land in one split. This is the leakage
    rule every ML split must obey when rows within a group are
    correlated (near-duplicate crawls of one site, frames of one
    video, records of one patient): doc-level splitting
    (x7_split_assignment) puts siblings on both sides of the
    train/eval wall and inflates eval scores.

    Shape: the assignment is still a pure scan-level hash function —
    no group table to join, no shuffle to assign (the coin recomputes
    identically wherever the row is); the audit agg shuffles once on
    source. ``leak_free`` is the falsifiable form of the guarantee,
    computed from the assigned relation (a source appearing in two
    splits would flip it). Split shares land near 90/5/5 in
    EXPECTATION over groups — per-corpus shares wobble with group
    sizes, which is the documented price of leakage safety."""
    d = _t(spark, sf_dir, "documents")
    coin = hash_coin(F.col("source"), "gsplit")
    split = None
    for name, cum in _SPLITS[:-1]:
        cond = coin < _hex_threshold(cum)
        split = (F.when(cond, name) if split is None
                 else split.when(cond, name))
    split = split.otherwise(_SPLITS[-1][0])
    assigned = d.select("doc_id", "source", split.alias("split"))
    leak = (assigned.groupBy("source")
                    .agg(F.countDistinct("split").alias("ns"))
                    .agg(F.sum(F.when(F.col("ns") > 1, 1)
                                .otherwise(0)).alias("n_leaky")))
    return (assigned.groupBy("split")
                    .agg(F.count(F.lit(1)).alias("n_docs"),
                         F.countDistinct("source").alias("n_groups"))
                    .crossJoin(F.broadcast(leak))
                    .select("split", "n_docs", "n_groups",
                            (F.col("n_leaky") == 0).alias("leak_free")))


# ---------------------------------------------------------------------------
# OP-X7k — k-fold cross-validation assignment
# ---------------------------------------------------------------------------

_KFOLD = 5


@register(
    "x7_kfold_assignment",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('fold:'
                    || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % {_KFOLD} AS INTEGER) AS fold
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n_total,
                   COUNT(DISTINCT doc_id) AS n_ids
            FROM assigned)
    SELECT a.fold,
           COUNT(*) AS n_test,
           CAST(t.n_total - COUNT(*) AS BIGINT) AS n_train,
           (SUM(CASE WHEN a.fold BETWEEN 0 AND {_KFOLD - 1}
                THEN 1 ELSE 0 END) = COUNT(*)) AS fold_in_range,
           (t.n_total = t.n_ids) AS disjoint_and_complete
    FROM assigned a CROSS JOIN tot t
    GROUP BY a.fold, t.n_total, t.n_ids
    """,
)
def x7_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — k-fold cross-validation assignment (k = 5): fold =
    60-bit md5 hash of the unit key mod k — every document is in
    EXACTLY one test fold and k-1 train folds, with no fold table to
    store (the a21/x9 portable-hash recipe; re-derivable anywhere,
    so each of the k training jobs recomputes membership as a scan
    filter instead of joining an assignment table). The CV contract
    is emitted as verdict columns: folds in range, and
    disjoint-and-complete (each unit assigned once — keyed off the
    distinct-id count, falsifiable if the corpus ever carried
    duplicate ids). Per-fold test/train counts are the report every
    CV harness logs; the hash-mod spread makes them near-equal
    without a balancing shuffle. Shape: one scan, one bounded agg."""
    d = _t(spark, sf_dir, "documents")
    fold = (md5_prefix_long(F.concat(F.lit("fold:"),
                                     F.col("doc_id").cast("string")),
                            15) % _KFOLD).cast("int")
    assigned = d.select("doc_id", fold.alias("fold"))
    tot = assigned.agg(F.count(F.lit(1)).alias("n_total"),
                       F.countDistinct("doc_id").alias("n_ids"))
    return (assigned.crossJoin(F.broadcast(tot))
                    .groupBy("fold", "n_total", "n_ids")
                    .agg(F.count(F.lit(1)).alias("n_test"),
                         F.sum(F.when(F.col("fold")
                                      .between(0, _KFOLD - 1), 1)
                                .otherwise(0)).alias("n_in_range"))
                    .select("fold", "n_test",
                            (F.col("n_total") - F.col("n_test"))
                             .cast("long").alias("n_train"),
                            (F.col("n_in_range") == F.col("n_test"))
                             .alias("fold_in_range"),
                            (F.col("n_total") == F.col("n_ids"))
                             .alias("disjoint_and_complete")))


# ---------------------------------------------------------------------------
# OP-X7p — Poisson bootstrap: resampled confidence without resampling
# ---------------------------------------------------------------------------

#: Poisson(1) CDF thresholds for k = 0..5 — shortest-round-trip doubles,
#: identical literals in both engines; draws above k=5 (P ~ 6e-4)
#: truncate to 6 (standard bootstrap practice at this tail).
_POIS_CDF = (0.36787944117144233, 0.7357588823428847,
             0.9196986029286058, 0.9810118431238463,
             0.9963401531726563, 0.9994058151824183)
_N_REPLICAS = 3


def _pois_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {t!r} THEN {k}"
        for k, t in enumerate(_POIS_CDF))
    return f"(CASE {cases} ELSE 6 END)"


@register(
    "x7_poisson_bootstrap",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             {sql_half_up_cents('o_totalprice')} AS cents
      FROM orders
    ),
    reps AS (SELECT UNNEST(range({_N_REPLICAS})) AS replica),
    weighted AS (
      SELECT r.replica, b.cents,
             {_pois_sql("(('0x' || substr(md5('boot' "
                        "|| CAST(r.replica AS VARCHAR) || ':' "
                        "|| CAST(b.o_orderkey AS VARCHAR)), 1, 15))"
                        "::BIGINT) / 1152921504606846976.0")} AS w
      FROM base b CROSS JOIN reps r
    ),
    stats AS (
      SELECT replica,
             CAST(SUM(w) AS BIGINT) AS n_eff,
             CAST(SUM(w * cents) AS BIGINT) AS wsum
      FROM weighted GROUP BY replica
    ),
    truth AS (
      SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s FROM base
    )
    SELECT st.replica, st.n_eff,
           CAST(ROUND(CAST(st.wsum * 1.0 / st.n_eff
                AS DECIMAL(38,10)), 2) AS DOUBLE) AS replica_mean,
           CAST(ROUND(CAST(t.s * 1.0 / t.n
                AS DECIMAL(38,10)), 2) AS DOUBLE) AS point_mean,
           (ABS(st.wsum * 1.0 / st.n_eff - t.s * 1.0 / t.n)
            < 0.05 * (t.s * 1.0 / t.n)) AS replica_within_5pct
    FROM stats st CROSS JOIN truth t
    """,
)
def x7_poisson_bootstrap(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """OP-X7 — the POISSON BOOTSTRAP: distributed confidence
    estimation without materializing resamples. A classical bootstrap
    draws n rows with replacement — impossible to coordinate across
    executors; the Poisson trick gives every row an independent
    Poisson(1) weight per replica (multinomial -> Poisson
    approximation), so each replica is ONE weighted aggregation over
    the same scan and replicas differ only in the hash salt. The
    replica spread of the statistic is its sampling distribution —
    the standard scalable CI recipe (and the one-line route to a
    jackknife/bag-of-little-bootstraps ladder).

    Determinism: the Poisson draw inverts the CDF (literal
    thresholds, k <= 6 truncation) on the portable md5 coin keyed by
    (replica, orderkey) — integer weights, exact BIGINT weighted
    sums, only the final mean decimal-routed; the within-5% gate
    compares raw identical doubles. Shape: one scan x replicas (a
    projection fan-out, no shuffle growth), one hash agg per
    replica."""
    o = _t(spark, sf_dir, "orders")
    cents = half_up_cents(F.col("o_totalprice"))
    base = o.select("o_orderkey", cents.alias("cents"))
    reps = base.withColumn(
        "replica",
        F.explode(F.array(*[F.lit(i) for i in range(_N_REPLICAS)])))
    u = (md5_prefix_long(F.concat(F.lit("boot"),
                                  F.col("replica").cast("string"),
                                  F.lit(":"),
                                  F.col("o_orderkey").cast("string")),
                         15)
         / F.lit(1152921504606846976.0))
    w = F.lit(6)
    for k, t in reversed(list(enumerate(_POIS_CDF))):
        w = F.when(u < t, F.lit(k)).otherwise(w)
    weighted = reps.withColumn("w", w)
    stats = (weighted.groupBy("replica")
                     .agg(F.sum("w").alias("n_eff"),
                          F.sum(F.col("w") * F.col("cents"))
                           .alias("wsum")))
    truth = base.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("cents").alias("s"))
    rmean = F.col("wsum") * 1.0 / F.col("n_eff")
    pmean = F.col("s") * 1.0 / F.col("n")
    return (stats.crossJoin(F.broadcast(truth))
                 .select("replica",
                         F.col("n_eff").cast("long").alias("n_eff"),
                         F.round(rmean.cast("decimal(38,10)"), 2)
                          .cast("double").alias("replica_mean"),
                         F.round(pmean.cast("decimal(38,10)"), 2)
                          .cast("double").alias("point_mean"),
                         (F.abs(rmean - pmean) < 0.05 * pmean)
                          .alias("replica_within_5pct")))


# ---------------------------------------------------------------------------
# OP-X7s — covariate balance (standardized mean difference)
# ---------------------------------------------------------------------------

_SMD_SQL_ONE = """
      SELECT '{name}' AS covariate,
             COUNT(CASE WHEN variant = 'A' THEN 1 END) AS n_a,
             COUNT(CASE WHEN variant = 'B' THEN 1 END) AS n_b,
             CAST(SUM(CASE WHEN variant = 'A' THEN {col} END)
                  AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN variant = 'B' THEN {col} END)
                  AS BIGINT) AS sb,
             CAST(SUM(CASE WHEN variant = 'A' THEN {col} * {col} END)
                  AS BIGINT) AS qa,
             CAST(SUM(CASE WHEN variant = 'B' THEN {col} * {col} END)
                  AS BIGINT) AS qb
      FROM per_user"""


@register(
    "x7_smd_balance",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN substr(md5('ab' || ':'
                               || CAST(user_id AS VARCHAR)), 1, 1)
                       < '8' THEN 'A' ELSE 'B' END AS variant,
             COUNT(*) AS n_events,
             COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
               AS n_purch,
             COUNT(DISTINCT ts::DATE) AS active_days
      FROM events GROUP BY user_id
    ),
    wide AS (
      {_SMD_SQL_ONE.format(name='n_events', col='n_events')}
      UNION ALL
      {_SMD_SQL_ONE.format(name='n_purch', col='n_purch')}
      UNION ALL
      {_SMD_SQL_ONE.format(name='active_days', col='active_days')}
    ),
    stat AS (
      SELECT covariate, n_a, n_b,
             (sa * 1.0 / n_a - sb * 1.0 / n_b)
               / NULLIF(sqrt(((qa * 1.0 / n_a
                               - (sa * 1.0 / n_a) * (sa * 1.0 / n_a))
                              + (qb * 1.0 / n_b
                                 - (sb * 1.0 / n_b)
                                   * (sb * 1.0 / n_b))) / 2.0), 0)
               AS smd_raw
      FROM wide
    )
    SELECT covariate, n_a, n_b,
           CAST(ROUND(CAST(smd_raw AS DECIMAL(38,10)), 4) AS DOUBLE)
             AS smd,
           COALESCE(ABS(smd_raw) < 0.1, TRUE) AS balanced
    FROM stat
    """,
)
def x7_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OP-X7 — covariate BALANCE between experiment arms: the
    standardized mean difference (mean_A − mean_B over the pooled
    std) of each pre-treatment covariate, gated at the conventional
    |SMD| < 0.1. The middle check of the experimentation trio — a26
    validates the SPLIT (SRM), this validates that the arms are
    COMPARABLE on what they brought in (a lucky-but-lopsided draw
    biases the readout even when the ratio is perfect), a27 reads the
    metric. Under hash assignment the arms are balanced in
    expectation — the honest A/A reading — and the gate would catch a
    seed collision or key-correlated assignment bug.

    Determinism: per-arm Σx and Σx² are exact BIGINTs over integer
    covariates, so means/variances are pure functions of identical
    ints; the one sqrt chain is NULLIF-guarded and decimal-routed at
    4dp while the gate compares the raw identical doubles. Shape: one
    per-user agg + a 3-covariate conditional-sum agg (the unpivot is
    three aliased aggregates, not a scan per covariate)."""
    ev = _t(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                  .agg(F.count(F.lit(1)).alias("n_events"),
                       F.count(F.when(
                           F.col("event_type") == "purchase", 1))
                        .alias("n_purch"),
                       F.countDistinct(F.to_date("ts"))
                        .alias("active_days"))
                  .withColumn(
                      "variant",
                      F.when(F.substring(
                                 F.md5(F.concat(
                                     F.lit("ab"), F.lit(":"),
                                     F.col("user_id").cast("string"))),
                                 1, 1) < "8", "A").otherwise("B")))
    rows = []
    for name in ("n_events", "n_purch", "active_days"):
        c = F.col(name)
        rows.append(per_user.agg(
            F.lit(name).alias("covariate"),
            F.count(F.when(F.col("variant") == "A", 1)).alias("n_a"),
            F.count(F.when(F.col("variant") == "B", 1)).alias("n_b"),
            F.sum(F.when(F.col("variant") == "A", c)).alias("sa"),
            F.sum(F.when(F.col("variant") == "B", c)).alias("sb"),
            F.sum(F.when(F.col("variant") == "A", c * c)).alias("qa"),
            F.sum(F.when(F.col("variant") == "B", c * c)).alias("qb")))
    wide = rows[0].unionByName(rows[1]).unionByName(rows[2])
    ma = F.col("sa") * 1.0 / F.col("n_a")
    mb = F.col("sb") * 1.0 / F.col("n_b")
    va = F.col("qa") * 1.0 / F.col("n_a") - ma * ma
    vb = F.col("qb") * 1.0 / F.col("n_b") - mb * mb
    smd_raw = (ma - mb) / F.nullif(F.sqrt((va + vb) / 2.0),
                                   F.lit(0.0))
    return wide.select(
        "covariate", "n_a", "n_b",
        F.round(smd_raw.cast("decimal(38,10)"), 4).cast("double")
         .alias("smd"),
        F.coalesce(F.abs(smd_raw) < 0.1, F.lit(True))
         .alias("balanced"))


# ---------------------------------------------------------------------------
# X9 — curriculum shard assignment (staircase-ranked difficulty, r8)
# ---------------------------------------------------------------------------

@register(
    "x9_curriculum_shards",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, len({SQL_TOKENS}) AS n_tokens FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM scored
    )
    SELECT doc_id, n_tokens, CAST(rn AS BIGINT) AS rank,
           CAST(((rn - 1) * 8) // n AS INTEGER) AS shard
    FROM ranked
    """,
)
def x9_curriculum_shards(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """X9 — CURRICULUM shard assignment: documents ranked easiest →
    hardest (difficulty proxy: token count; short docs first) and cut
    into 8 equal-population shards a curriculum-learning schedule
    trains through in order — the ordered counterpart of
    x9_epoch_shuffle (which deliberately destroys order) and the
    packing family's upstream: shard k feeds epoch k's packer.

    The global rank is the exact two-level staircase
    (operators/staircase.py): token counts are tie-heavy, so buckets
    are (n_tokens, floor(doc_id/8192)) — ≤ 8192 rows per bucket BY
    CONSTRUCTION, rank-window partition count grows with the corpus,
    per-bucket counts broadcast back as prefix offsets. The shard cut
    ((rn−1)·8) div n is pure integer arithmetic — no float boundary
    can move a document across shards between engines."""
    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id",
                      F.size(tokens_col("text")).alias("n_tokens"))
    from ..operators.staircase import bucketed_row_number
    ranked = bucketed_row_number(
        scored.withColumn("_ckb", F.floor(F.col("doc_id") / 8192)),
        [], ["n_tokens", "_ckb"],
        [F.col("n_tokens"), F.col("_ckb")], [F.col("doc_id")],
        out="rank")
    n = scored.agg(F.count(F.lit(1)).alias("_n"))
    return (ranked.crossJoin(F.broadcast(n))
                  .select("doc_id", "n_tokens", "rank",
                          F.expr("CAST(((rank - 1) * 8) div _n "
                                 "AS INT)").alias("shard")))


# ---------------------------------------------------------------------------
# X7 — exact-quota stratified sample (staircase coin rank, r8)
# ---------------------------------------------------------------------------

@register(
    "x7_stratified_quota",
    oracle=f"""
    WITH coined AS (
      SELECT doc_id, lang, source,
             {_sql_coin('doc_id', 'q')} AS coin
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, source, coin,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY coin, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM coined
    )
    SELECT doc_id, lang, source, CAST(rn AS BIGINT) AS stratum_rank
    FROM ranked WHERE rn <= (n + 4) // 5
    """,
)
def x7_stratified_quota(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """X7 — EXACT-QUOTA stratified sampling: exactly ceil(n_s/5) docs
    per language stratum (a hard 20% quota), selected by hash-coin
    order — the complement of x7_stratified_mix, whose coin-threshold
    filter hits each stratum's rate only in EXPECTATION (binomial
    noise ±√n). Exact quotas are what eval-set construction and
    budgeted labeling runs contract for ("exactly 2,000 per
    language"), and the coin order keeps the pick reproducible and
    membership-stable under corpus growth *within* the kept prefix.

    The within-stratum rank is the staircase again (lang is a
    BOUNDED key — the a24/a41 trap): buckets are the coin's 2-hex-
    char prefix (256 order-consistent bands of the uniform coin, so
    bucket sizes are balanced n_s/256), per-bucket counts broadcast
    back; the quota cut (n+4) div 5 is pure integers."""
    d = _t(spark, sf_dir, "documents")
    coined = d.select("doc_id", "lang", "source",
                      hash_coin(F.col("doc_id"), "q").alias("coin"))
    from ..operators.staircase import bucketed_row_number
    ranked = bucketed_row_number(
        coined.withColumn("_cb", F.substring("coin", 1, 2)),
        ["lang"], ["_cb"], [F.col("_cb")],
        [F.col("coin"), F.col("doc_id")], out="rn")
    nlang = d.groupBy("lang").agg(F.count(F.lit(1)).alias("_n"))
    return (ranked.join(F.broadcast(nlang), "lang")
                  .filter(F.col("rn")
                          <= (F.col("_n") + 4) / 5)
                  .select("doc_id", "lang", "source",
                          F.col("rn").alias("stratum_rank")))


# ---------------------------------------------------------------------------
# X7 — dedup-safe split: exact-dup clusters never straddle splits (r8)
# ---------------------------------------------------------------------------

@register(
    "x7_dedup_safe_split",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
               AS ckey
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, ckey,
             CASE WHEN {_sql_coin('ckey', 'ds')} < 'cccccc'
                  THEN 'train' ELSE 'holdout' END AS split
      FROM keyed
    ),
    per_split AS (
      SELECT split, COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT ckey) AS BIGINT) AS n_clusters
      FROM assigned GROUP BY split
    ),
    straddle AS (
      SELECT COUNT(*) AS n_straddling FROM (
        SELECT ckey FROM assigned
        GROUP BY ckey HAVING COUNT(DISTINCT split) > 1
      )
    )
    SELECT split, n_docs, n_clusters,
           CAST(n_straddling AS BIGINT) AS n_straddling_clusters,
           (n_straddling = 0) AS leakage_free
    FROM per_split, straddle
    """,
)
def x7_dedup_safe_split(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """X7 — DEDUP-SAFE train/holdout split: the split coin is thrown
    on the document's CONTENT KEY (md5 of the normalized text), so
    every exact-duplicate cluster lands wholly in one split — the
    fix for the classic eval-contamination bug where a holdout doc's
    duplicate sits in train (x2_cross_split_contamination MEASURES
    that leakage after the fact; this split makes it structurally
    zero, and x7_group_split applies the same idea at the coarser
    source granularity). ~80/20 by the 'cccccc' hex threshold.

    Verdict: per-split doc/cluster counts plus the straddling-
    cluster count, oracle-pinned — ``leakage_free`` must be TRUE by
    construction (a cluster's split is a function of its key alone).
    Shape: one scan → content key (never shuffles raw text: the key
    is a 32-char digest), bounded split agg + an exact distinct per
    split; the straddle check is a (key, split)-distinct agg."""
    d = _t(spark, sf_dir, "documents")
    ckey = F.md5(F.regexp_replace(F.lower("text"),
                                  "[^a-z0-9]+", " "))
    assigned = d.select(
        "doc_id", ckey.alias("ckey"),
        F.when(hash_coin(F.col("ckey"), "ds") < "cccccc", "train")
         .otherwise("holdout").alias("split"))
    per_split = (assigned.groupBy("split")
                         .agg(F.count(F.lit(1)).alias("n_docs"),
                              F.countDistinct("ckey").cast("long")
                               .alias("n_clusters")))
    straddle = (assigned.groupBy("ckey")
                        .agg(F.countDistinct("split").alias("_ns"))
                        .agg(F.sum(F.when(F.col("_ns") > 1, 1)
                                    .otherwise(0)).cast("long")
                              .alias("n_straddling")))
    return (per_split.crossJoin(F.broadcast(straddle))
                     .select("split", "n_docs", "n_clusters",
                             F.col("n_straddling")
                              .alias("n_straddling_clusters"),
                             (F.col("n_straddling") == 0)
                             .alias("leakage_free")))


# ---------------------------------------------------------------------------
# X9 — shard skew report (r8)
# ---------------------------------------------------------------------------

@register(
    "x9_shard_skew_report",
    oracle=f"""
    WITH sharded AS (
      SELECT doc_id, len({SQL_TOKENS}) AS n_tok,
             CAST(substr(md5('shard' || ':'
                    || CAST(doc_id AS VARCHAR)), 1, 1) AS VARCHAR)
               AS shard
      FROM documents
    ),
    per AS (
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM sharded GROUP BY shard
    ),
    tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS all_tokens,
             CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
             COUNT(*) AS n_shards
      FROM per
    )
    SELECT shard, n_docs, n_tokens,
           {sql_round_half_up(
               'n_tokens * 1.0 * tot.n_shards / tot.all_tokens', 6)}
             AS balance_ratio,
           {sql_round_half_up(
               'tot.max_tokens * 1.0 * tot.n_shards '
               '/ tot.all_tokens', 6)} AS worst_shard_ratio,
           (tot.max_tokens * 10 * tot.n_shards
            <= 15 * tot.all_tokens) AS balanced_ok
    FROM per, tot
    """,
)
def x9_shard_skew_report(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """X9 — the SHARD SKEW report: token mass per 16-way md5 shard
    (the x9_epoch_shuffle landing shape), each shard's balance ratio
    (1.0 = perfectly even), the worst shard's ratio, and a ≤ 1.5×
    gate as an integer cross-multiplication — the health check a
    data-parallel training run does before launch, because one hot
    shard sets the step time for every rank (x9_length_bucketing
    balances WITHIN batches; this balances ACROSS workers).

    Shape: one scan (tokenize once) → 16-row shard agg → 1-row total
    cross-join; ratios class-A. The md5 first hex char gives 16
    shards whose balance is a property of the hash, which is exactly
    what the report certifies."""
    d = _t(spark, sf_dir, "documents")
    sharded = d.select(
        F.substring(F.md5(F.concat(F.lit("shard"), F.lit(":"),
                                   F.col("doc_id").cast("string"))),
                    1, 1).alias("shard"),
        F.size(tokens_col("text")).alias("n_tok"))
    per = (sharded.groupBy("shard")
                  .agg(F.count(F.lit(1)).alias("n_docs"),
                       F.sum("n_tok").cast("long")
                        .alias("n_tokens")))
    tot = per.agg(F.sum("n_tokens").cast("long").alias("all_tokens"),
                  F.max("n_tokens").cast("long").alias("max_tokens"),
                  F.count(F.lit(1)).alias("n_shards"))
    from ..functions.scalars import round_half_up as _rhu
    return (per.crossJoin(F.broadcast(tot))
               .select("shard", "n_docs", "n_tokens",
                       _rhu(F.col("n_tokens") * 1.0
                            * F.col("n_shards")
                            / F.col("all_tokens"), 6)
                        .alias("balance_ratio"),
                       _rhu(F.col("max_tokens") * 1.0
                            * F.col("n_shards")
                            / F.col("all_tokens"), 6)
                        .alias("worst_shard_ratio"),
                       (F.col("max_tokens") * 10 * F.col("n_shards")
                        <= 15 * F.col("all_tokens"))
                       .alias("balanced_ok")))


# ---------------------------------------------------------------------------
# X6 — Poisson-bootstrap CI for the exact AUC (r10): the x6_auc_exact
# BIGINT midrank machinery composed with x7_poisson_bootstrap's
# replicate weights. Lives in this module beside the Poisson CDF
# constants.
# ---------------------------------------------------------------------------

_N_AUC_REPLICAS = 5


@register(
    "x6_bootstrap_auc_ci",
    oracle=f"""
    WITH pts AS (
      SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS score,
             (label >= 5) AS y
      FROM embeddings
    ),
    reps AS (SELECT UNNEST(range({_N_AUC_REPLICAS})) AS replica),
    wpts AS (
      SELECT r.replica, p.score, p.y,
             {_pois_sql("(('0x' || substr(md5('bauc' "
                        "|| CAST(r.replica AS VARCHAR) || ':' "
                        "|| CAST(p.vec_id AS VARCHAR)), 1, 15))"
                        "::BIGINT) / 1152921504606846976.0")} AS w
      FROM pts p CROSS JOIN reps r
    ),
    per_s AS (
      SELECT replica, score, CAST(SUM(w) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN y THEN w ELSE 0 END) AS BIGINT) AS np
      FROM wpts GROUP BY replica, score
    ),
    ranked AS (
      SELECT replica, n, np,
             CAST(COALESCE(SUM(n) OVER (PARTITION BY replica
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS bef
      FROM per_s
    ),
    reps_auc AS (
      SELECT replica,
             CAST(SUM(np) AS BIGINT) AS n_pos_eff,
             CAST(SUM(n - np) AS BIGINT) AS n_neg_eff,
             {sql_round_half_up(
                 '(CAST(SUM(np * (2 * bef + n + 1)) AS BIGINT)'
                 ' - CAST(SUM(np) AS BIGINT)'
                 '   * (CAST(SUM(np) AS BIGINT) + 1)) * 1.0'
                 ' / (2.0 * CAST(SUM(np) AS BIGINT)'
                 '    * CAST(SUM(n - np) AS BIGINT))', 6)} AS auc_rep
      FROM ranked GROUP BY replica
    ),
    pt_s AS (
      SELECT score, COUNT(*) AS n,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
      FROM pts GROUP BY score
    ),
    pt_ranked AS (
      SELECT n, np,
             CAST(COALESCE(SUM(n) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS bef
      FROM pt_s
    ),
    pt AS (
      SELECT {sql_round_half_up(
                 '(CAST(SUM(np * (2 * bef + n + 1)) AS BIGINT)'
                 ' - CAST(SUM(np) AS BIGINT)'
                 '   * (CAST(SUM(np) AS BIGINT) + 1)) * 1.0'
                 ' / (2.0 * CAST(SUM(np) AS BIGINT)'
                 '    * CAST(SUM(n - np) AS BIGINT))', 6)} AS point_auc
      FROM pt_ranked
    ),
    env AS (
      SELECT MIN(auc_rep) AS ci_lo, MAX(auc_rep) AS ci_hi
      FROM reps_auc
    )
    SELECT r.replica, r.n_pos_eff, r.n_neg_eff, r.auc_rep,
           p.point_auc, e.ci_lo, e.ci_hi,
           (p.point_auc >= e.ci_lo AND p.point_auc <= e.ci_hi)
             AS point_in_envelope
    FROM reps_auc r CROSS JOIN pt p CROSS JOIN env e
    """,
)
def x6_bootstrap_auc_ci(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """X6 — POISSON-BOOTSTRAP spread of the EXACT AUC: every model
    card that reports x6_auc_exact's one number should also say how
    much that number moves under resampling of the eval set — the
    difference between "0.51" and "0.51 ± noise floor" decides
    whether a candidate model actually beats the incumbent. Classic
    bootstrap resamples can't be coordinated across executors;
    the Poisson trick (x7_poisson_bootstrap) gives every point an
    independent pseudo-Poisson(1) weight per replica, and the
    Mann-Whitney midrank algebra extends to integer weights
    VERBATIM: a tied score group of total weight n occupies weighted
    ranks bef+1..bef+n, so 2·R⁺ = Σ np·(2·bef + n + 1) with n/np the
    WEIGHTED counts — the whole statistic stays BIGINT per replica,
    zero float accumulation, exactly as in the unweighted form.

    Each replica's weighted rank cumsum runs through the staircase
    (``bucketed_cumsum`` partitioned by replica over score-domain
    bands — never a per-replica global sort window); the replica
    count is a literal 5, so the fan-out is a bounded projection
    explode (one scan), and per-replica aggregates are one hash agg.
    auc values are class-A integer ratios through the floor kernel
    at 6dp; the min/max envelope and the point-in-envelope gate
    compare those bit-identical rounded values. Poisson coins are
    the portable md5 hex keyed by (replica, vec_id) against the
    literal CDF thresholds (truncated at 6) — byte-replayable in the
    oracle."""
    from ..operators.staircase import (bucketed_cumsum,
                                       double_value_bucket)
    from ..functions.scalars import round_half_up as _rhu

    e = load_table(spark, sf_dir, "embeddings")
    pts = e.select(
        "vec_id",
        F.element_at(_as_double_vec("embedding"), 1)
         .alias("score"),
        (F.col("label") >= 5).alias("y"))
    reps = pts.withColumn(
        "replica",
        F.explode(F.array(*[F.lit(i)
                            for i in range(_N_AUC_REPLICAS)])))
    u = (md5_prefix_long(F.concat(F.lit("bauc"),
                                  F.col("replica").cast("string"),
                                  F.lit(":"),
                                  F.col("vec_id").cast("string")), 15)
         / F.lit(1152921504606846976.0))
    w = F.lit(6)
    for k, t in reversed(list(enumerate(_POIS_CDF))):
        w = F.when(u < t, F.lit(k)).otherwise(w)

    def midrank_auc(per_s: DataFrame, part: list[str],
                    out: str) -> DataFrame:
        ranked = bucketed_cumsum(
            per_s.withColumn(
                "_qb", double_value_bucket(F.col("score"), 4096.0)),
            part, ["_qb"], [F.col("_qb")], [F.col("score")],
            F.col("n"), out="_cum")
        ranked = ranked.withColumn("bef",
                                   F.col("_cum") - F.col("n"))
        g = ranked.groupBy(*part) if part else ranked.groupBy()
        s = g.agg(
            F.sum(F.col("np") * (2 * F.col("bef") + F.col("n") + 1))
             .cast("long").alias("r2"),
            F.sum("np").cast("long").alias("n_pos"),
            F.sum(F.col("n") - F.col("np")).cast("long")
             .alias("n_neg"))
        u2 = F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)
        return s.withColumn(
            out, _rhu(u2 * 1.0
                      / (2.0 * F.col("n_pos") * F.col("n_neg")), 6))

    per_s = (reps.withColumn("w", w)
                 .groupBy("replica", "score")
                 .agg(F.sum("w").cast("long").alias("n"),
                      F.sum(F.when(F.col("y"), F.col("w"))
                             .otherwise(0)).cast("long")
                       .alias("np")))
    reps_auc = (midrank_auc(per_s, ["replica"], "auc_rep")
                .select("replica",
                        F.col("n_pos").alias("n_pos_eff"),
                        F.col("n_neg").alias("n_neg_eff"),
                        "auc_rep"))

    pt_s = (pts.groupBy("score")
               .agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum(F.when(F.col("y"), 1).otherwise(0))
                     .cast("long").alias("np")))
    point = midrank_auc(pt_s, [], "point_auc").select("point_auc")

    env = reps_auc.agg(F.min("auc_rep").alias("ci_lo"),
                       F.max("auc_rep").alias("ci_hi"))
    return (reps_auc.crossJoin(F.broadcast(point))
                    .crossJoin(F.broadcast(env))
                    .select("replica", "n_pos_eff", "n_neg_eff",
                            "auc_rep", "point_auc", "ci_lo", "ci_hi",
                            ((F.col("point_auc") >= F.col("ci_lo"))
                             & (F.col("point_auc") <= F.col("ci_hi")))
                             .alias("point_in_envelope")))
