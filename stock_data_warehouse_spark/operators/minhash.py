"""Portable md5 kernels, each beside its DuckDB twin: the hash coin
behind deterministic samples and splits, MinHash signatures and LSH
band hashes, plus the exact-Jaccard pair CTE the x2 oracles verify
candidates against.

Every hash is a salted md5 hex string (a MinHash is the string MIN per
hash index), so every coin, signature, band hash and candidate pair is
byte-identical in Spark and DuckDB — banding misses included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import SQL_SHINGLES, SQL_TOKENS, shingles_col, tokens_col


# ---------------------------------------------------------------------------
# md5 coins: a portable uniform draw per key, for deterministic samples
# and splits that both engines decide by string compare
# ---------------------------------------------------------------------------

def _hex_threshold(rate: float, digits: int = 6) -> str:
    """Hex string h such that P[substr(md5(k),1,digits) < h] ≈ rate.

    rate ≥ 1 returns ``"g"``: every hex string sorts below it (hex
    digits stop at 'f'), so the stratum keeps everything — the naive
    ``format(16**digits)`` would be a 7-char string that sorts BELOW
    ~94% of 6-char coins and silently kept almost nothing.
    """
    if rate >= 1.0:
        return "g"
    return format(int(rate * 16 ** digits), f"0{digits}x")


def hash_coin(key: F.Column, salt: str, digits: int = 6) -> F.Column:
    """Portable uniform draw: first ``digits`` hex chars of
    ``md5(salt || ':' || key)``. Compare against ``_hex_threshold``."""
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), key.cast("string"))),
        1, digits)


def _sql_coin(key_expr: str, salt: str, digits: int = 6) -> str:
    """DuckDB expression mirroring ``hash_coin`` byte-for-byte."""
    return (f"substr(md5('{salt}' || ':' || CAST({key_expr} AS VARCHAR)),"
            f" 1, {digits})")


#: Keep rate of the uniform x7 corpus sample and its coin threshold
#: (x7_hash_sample and the s9_sharded_export that writes it out).
_UNIFORM_RATE = 0.25
_UNIFORM_TH = _hex_threshold(_UNIFORM_RATE)


# ---------------------------------------------------------------------------
# MinHash signatures and bands
# ---------------------------------------------------------------------------

def _portable_sig(d: DataFrame, n_hashes: int = 16) -> DataFrame:
    """Portable-md5 MinHash signatures ``(doc_id, sig)`` over any
    (doc_id, text) relation — byte-replayable in DuckDB (string MIN of
    salted md5 hex per hash index; twin: ``_SQL_MH``)."""
    spark = d.sparkSession
    sh = (d.select("doc_id", shingles_col(tokens_col("text")).alias("s"))
           .repartition(spark.sparkContext.defaultParallelism, "doc_id")
           .filter(F.size("s") > 0))

    def salted_md5(i: int):
        # Returns a UNARY lambda: a two-parameter lambda (even via a
        # default arg) is promoted by PySpark to the (element, index)
        # form, which would shadow the salt with the index Column.
        prefix = f"{i}:"
        return lambda x: F.md5(F.concat(F.lit(prefix), x))

    return sh.select(
        "doc_id",
        F.array(*[
            F.array_min(F.transform("s", salted_md5(i)))
            for i in range(n_hashes)
        ]).alias("sig"))


def _portable_bands(d: DataFrame) -> DataFrame:
    """Portable-md5 MinHash band hashes ``(doc_id, band_idx,
    band_hash)`` over any (doc_id, text) relation — the signature/band
    pipeline shared by x2_neardup_minhash_portable and the incremental
    ingest form, byte-replayable in DuckDB (twin: ``_SQL_BANDS``)."""
    n_hashes, band_rows = 16, 4
    sig = _portable_sig(d, n_hashes)
    return sig.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.md5(F.array_join(
                F.slice("sig", b * band_rows + 1, band_rows), "|"))
            for b in range(n_hashes // band_rows)
        ])).alias("band_idx", "band_hash"))


#: DuckDB twin of :func:`_portable_sig` in long form: the body of a CTE
#: ``mh(doc_id, i, mh)`` over a CTE ``shingled(doc_id, s)`` of
#: non-empty shingle lists.
_SQL_MH = """
      SELECT t1.doc_id, t.i,
             min(md5(CAST(t.i AS VARCHAR) || ':' || t1.shingle)) AS mh
      FROM (SELECT doc_id, unnest(s) AS shingle FROM shingled) t1
      CROSS JOIN range(16) t(i)
      GROUP BY t1.doc_id, t.i
    """

#: DuckDB twin of :func:`_portable_bands`: the body of a CTE
#: ``bands(doc_id, band_idx, band_hash)`` over the CTE ``mh``.
_SQL_BANDS = """
      SELECT doc_id, i // 4 AS band_idx,
             md5(string_agg(mh, '|' ORDER BY i)) AS band_hash
      FROM mh GROUP BY doc_id, i // 4
    """

#: Shared CTE chain (ends in ``jpairs(doc_a, doc_b, n_common, jac)``):
#: the exact-Jaccard near-dup pairs at threshold 0.8, reused by the
#: pair, cluster and stream oracles so they cannot drift.
_SQL_JPAIRS = f"""
    toks AS (
      SELECT doc_id, {SQL_TOKENS} AS t FROM documents
    ),
    sh AS (
      SELECT doc_id, {SQL_SHINGLES} AS s FROM toks
    ),
    tok AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    cpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM tok a JOIN tok b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT doc_a, doc_b, n_common,
             CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jac
      FROM cpairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.8
    )"""
