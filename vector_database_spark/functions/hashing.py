"""Cross-engine deterministic hashing primitives.

Every hash here is defined purely in terms of md5 over UTF-8 bytes, so
an external oracle (DuckDB, any ANSI engine with md5) can reproduce the
exact same signatures — the dedup operators are hash-checkable
end-to-end, not just "approximately similar".

``h60(s) = int(md5(s)[17:32], 16)`` — a 60-bit non-negative hash.
Salted variant prepends ``"{salt}:"`` for independent permutations.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

H60_LO, H60_HI = 18, 15  # 1-based substring window into the md5 hex


def h60(col: Column | str, salt: int | None = None) -> Column:
    """60-bit md5-derived hash as a non-negative long.

    DuckDB equivalent: ``('0x' || substr(md5(s), 18, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if salt is not None:
        c = F.concat(F.lit(f"{salt}:"), c)
    return F.conv(F.substring(F.md5(c), H60_LO, H60_HI), 16, 10).cast("long")


def h60_sql(expr: str, salt: int | None = None) -> str:
    """The DuckDB-SQL rendering of the same hash (oracle side)."""
    inner = f"concat('{salt}:', {expr})" if salt is not None else expr
    return f"('0x' || substr(md5({inner}), {H60_LO}, {H60_HI}))::BIGINT"


def tokens(text_col: Column | str, lowercase: bool = True) -> Column:
    """Whitespace tokenization, identical to DuckDB's
    ``regexp_split_to_array(lower(trim(text)), '\\s+')``."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.trim(c)
    if lowercase:
        c = F.lower(c)
    return F.split(c, r"\s+")


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (the MinHash/SimHash feature set).

    DuckDB equivalent for n=3:
    ``list_distinct(list_transform(range(1, greatest(len(toks)-2,0)+1),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))``.
    """
    toks = tokens(text_col)
    cnt = F.size(toks) - F.lit(n - 1)
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard short texts.
    idxs = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + j) for j in range(n)]
    )
    return F.array_distinct(F.transform(idxs, gram))
