"""Shared text primitives: tokenization, shingling, deterministic
hashing.  All JVM-side column expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text_col: Column | str) -> Column:
    """Non-empty whitespace-delimited tokens (the corpus-wide token
    definition; the DuckDB twin is list_filter(string_split_regex(...)))."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a MATERIALIZED tokens column.

    `toks` must be a plain column reference (project `tokens(...)` into
    a named column first).  The n-gram builder references the array many
    times (size + n gets per gram); Catalyst does not share
    subexpressions across higher-order-function lambdas, so passing the
    raw `tokens(text)` expression here would re-split the text once per
    reference — measured 20x slower on the documents table.  Because
    the alias is referenced more than once, CollapseProject keeps the
    tokenizing projection as its own step and the array is computed
    once per row.

    Documents shorter than n tokens produce an empty array (not null).
    """
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get(toks, i + j) for j in range(n)]
    )
    return F.when(count > 0, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )


def positional_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-grams from a MATERIALIZED tokens column, in TOKEN ORDER
    and WITHOUT dedup — element i (0-based) is the n-gram starting at
    token i, so `posexplode` of the result yields (position, gram)
    pairs.  The positional twin of `shingles_from_tokens` (same
    materialize-the-tokens-first discipline; see its docstring), for
    consumers that need occurrence positions (repeated-span dedup),
    not just set membership.

    Documents shorter than n tokens produce an empty array (not null).
    """
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.get(toks, i + j) for j in range(n)]
    )
    return F.when(count > 0, F.transform(idx, gram)).otherwise(
        F.array().cast("array<string>")
    )


def portable_hash64(col: Column) -> Column:
    """ENGINE-PORTABLE signed 64-bit hash of a string: the first 16 hex
    digits of md5 as two 32-bit halves, combined with bit ops (shiftleft
    wraps into the sign bit without tripping ANSI overflow checks).
    DuckDB twin: hi::HUGEINT * 2^32 + lo, wrapped to signed BIGINT —
    see queries/dedup_scale.py:_SIMHASH_SQL."""
    d = F.md5(F.encode(col, "UTF-8"))
    hi = F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)
