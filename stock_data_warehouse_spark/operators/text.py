"""Text kernels: the tokenizer and the n-gram shingler, each a Column
form beside its DuckDB twin.

Every x2 near-dup, x4 text-analysis and x7 mixing query tokenizes and
shingles through these, on the Spark side and in its oracle, so the two
engines see the same token stream (lowercase, split on non-[a-z0-9],
drop empties; property-tested in tests/test_property_kernels.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def tokens_col(text: str | F.Column = "text") -> F.Column:
    """Lowercase → split on non-[a-z0-9] → drop empties.

    Cross-engine contract (property-tested vs ``SQL_TOKENS`` in
    tests/test_property_kernels.py): identical token streams for every
    ASCII string. The domain is ASCII BY DESIGN — unicode case-folding
    genuinely diverges between engines (Java ``lower('İ')`` yields
    'i' + U+0307 so the combining mark splits a token; DuckDB's yields
    a bare 'i'), so a non-ASCII corpus must be normalized or the
    divergent rows quarantined before the x2/x4 oracles can be
    trusted; a companion test asserts the documents corpus is ASCII at
    every shipped SF."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")


#: DuckDB expression mirroring ``tokens_col`` exactly.
SQL_TOKENS = ("list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
              "x -> x <> '')")


def shingles_col(toks: F.Column, n: int = 3) -> F.Column:
    """Distinct n-gram shingles of a token array (space-joined).

    Built from n shifted ``slice``s folded with ``zip_with`` — the token
    expression is referenced a CONSTANT number of times. The naive
    ``transform(sequence, i -> element_at(toks, i+j))`` form inlines
    (and re-evaluates) the tokenizer 3×n_grams times per row in Spark's
    interpreted higher-order path — measured 20×+ slower.
    """
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, j + 1, m),
                           lambda acc, x: F.concat_ws(" ", acc, x))
    return F.array_distinct(grams)


def sql_ngrams(n: int) -> str:
    """DuckDB n-gram comprehension over a token list named ``t`` — the
    single source for every shingle/n-gram oracle."""
    parts = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]"
                               for j in range(n))
    return (f"CASE WHEN len(t) >= {n} THEN list_distinct("
            f"[{parts} FOR i IN range(1, len(t) - {n - 2})]) "
            f"ELSE [] END")


#: DuckDB 3-gram shingle list over a token list named ``t``.
SQL_SHINGLES = sql_ngrams(3)
