"""Edit-distance fuzzy matching via deletion-neighborhood blocking —
entity resolution (name/title/id variants) without an all-pairs
comparison.

Spark evaluates ``levenshtein(a, b) <= k`` only as a join predicate on
a nested loop: O(|L|x|R|) string comparisons and a plan shape this repo
forbids.  The standard blocking fix (the SymSpell / FastSS deletion
neighborhood, public algorithm): every string generates itself plus all
strings with ONE character deleted; two strings within edit distance 1
ALWAYS share a variant —

- substitution at position i: both sides' delete-at-i agree;
- insertion/deletion: the shorter string IS a deletion variant of the
  longer.

So candidates ride one equi-join on the variant key and the exact
levenshtein verifies them (false candidates possible, false dismissals
impossible at distance <= 1).  Distance k generalizes to k-deletion
neighborhoods (FastSS, Bocek et al. 2007: ed(a,b) <= k implies the
depth-k deletion neighborhoods intersect — delete each side's edited
positions and the common remainder is in both).  This module ships
k=1 (len+1 variants/row, the workhorse) and k=2 (~len^2/2 variants/row
— the accuracy-vs-blowup trade, affordable for name/title-length
strings and gated by the same max_bucket discipline; short strings
share tiny variants like "" heavily, so hot buckets concentrate there
and the cap matters more at k=2).

Scale: variant fan-out is len(string)+1 rows per input — linear, not
quadratic; variants are hashed to 64-bit keys BEFORE the shuffle (the
same discipline as the shingle index, operators/dedup.py), so the
candidate exchange carries (long, id) instead of (string, id) — an
xxhash64 collision can only ADD a candidate, and the exact levenshtein
verify removes it.  Skew guard: a variant shared by many rows (short
strings, heavy templates) creates a hot bucket — a bucket over the
`max_bucket` cap fails the job loudly, since dropping it would silently
lose the pairs that share only hot variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.util import pair_structs, spread


def _variants(text: F.Column) -> F.Column:
    """The string itself + every one-character deletion."""
    idx = F.sequence(F.lit(1), F.length(text))
    # call_function: the F.substring wrapper wants literal pos/len,
    # these are per-element Columns
    dels = F.transform(
        idx,
        lambda i: F.concat(
            F.call_function("substring", text, F.lit(1), i - 1),
            F.call_function("substring", text, i + 1, F.length(text)),
        ),
    )
    return F.array_union(F.array(text), dels)


def _variants_k2(text: F.Column) -> F.Column:
    """Depth-2 deletion neighborhood: the string, every 1-deletion, and
    every 2-deletion (positions i < j removed from the ORIGINAL string,
    so indexes never shift under us)."""
    idx = F.sequence(F.lit(1), F.length(text))
    pairs = F.filter(
        F.flatten(
            F.transform(
                idx,
                lambda i: F.transform(
                    idx, lambda j: F.struct(i.alias("i"), j.alias("j"))
                ),
            )
        ),
        lambda s: s["i"] < s["j"],
    )
    del2 = F.transform(
        pairs,
        lambda s: F.concat(
            F.call_function("substring", text, F.lit(1), s["i"] - 1),
            F.call_function("substring", text, s["i"] + 1, s["j"] - s["i"] - 1),
            F.call_function("substring", text, s["j"] + 1, F.length(text)),
        ),
    )
    return F.array_union(_variants(text), del2)


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
    max_bucket: int = 1000,
) -> DataFrame:
    """All pairs within ``max_distance`` (1 or 2) edit distance:
    (id_a, id_b, distance), id_a < id_b, exact-verified.

    A variant bucket holding more than ``max_bucket`` ids raises at
    execution time, so the exact pair set is never silently cut."""
    if max_distance not in (1, 2):
        raise ValueError("deletion-neighborhood blocking ships max_distance in (1, 2)")
    variants = _variants if max_distance == 1 else _variants_k2
    base = df.select(F.col(id_col).alias("__fid"), F.col(text_col).alias("__ftxt"))
    # 64-bit variant keys: the shuffle carries (long, id), not the
    # variant strings themselves.  spread(): the |text|+1 substring
    # variants + hashes per row are CPU-bound and a single-split scan
    # runs them one-task (r13).  The per-(id, variant) dedup rides the
    # bucket aggregate below as collect_set — a separate dropDuplicates
    # here paid a second full shuffle of the exploded rows for the same
    # answer.
    blocked = spread(base).select(
        "__fid",
        F.explode(
            F.transform(variants(F.col("__ftxt")), lambda v: F.xxhash64(v))
        ).alias("__v"),
    )
    size_ok = F.assert_true(
        F.size("__ids") <= max_bucket,
        F.concat(
            F.lit(f"fuzzy_pairs: variant bucket exceeds max_bucket={max_bucket} "
                  f"(size="),
            F.size("__ids").cast("string"),
            F.lit(") — exact-pair contract violated; raise max_bucket"),
        ),
    ).isNull()
    buckets = (
        blocked.groupBy("__v")
        .agg(F.sort_array(F.collect_set("__fid")).alias("__ids"))
        .filter((F.size("__ids") >= 2) & size_ok)
    )
    cand = (
        buckets.select(F.explode(pair_structs(F.col("__ids"))).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ta = base.select(F.col("__fid").alias("id_a"), F.col("__ftxt").alias("__ta"))
    tb = base.select(F.col("__fid").alias("id_b"), F.col("__ftxt").alias("__tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__ta", "__tb").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )
