"""Frequent-items (heavy-hitter) mining via a mergeable Misra-Gries
sketch with exact re-verification.

The exact way to find all keys with frequency >= phi*N is a full
GROUP BY over the key — at 100 TB with a high-cardinality key (URLs,
user ids, n-grams) that shuffles the entire corpus.  This operator
shuffles almost nothing:

1. **Per-partition sketch** (`mapInPandas`, Arrow-batched): each
   partition maintains a batched Misra-Gries summary of capacity k —
   Arrow-batch `value_counts` merged into a counter, compressed back
   to k entries by subtracting the (k+1)-th largest count whenever the
   counter overflows 4k (the mergeable-summaries formulation:
   Agarwal et al., "Mergeable Summaries", PODS'12).  Each partition
   also emits ONE meta row carrying its exact row count and its exact
   accumulated per-key decrement bound, so the merge phase works with
   measured error, not the worst-case N/(k+1).
2. **Summary merge**: the P*(k+1) summary rows (thousands, not
   billions) are summed per key; a key is a CANDIDATE iff its summed
   lower bound plus the summed decrement bound reaches ceil(phi*N).
   The MG guarantee makes this a superset of every true heavy hitter.
3. **Exact verify**: the corpus is semi-joined against the broadcast
   candidate set and only those keys are exactly counted — map-side
   partial aggregation shuffles O(P * |candidates|) rows.

The final output is therefore EXACT (key, count, share) for every key
with count >= ceil(phi*N) — independent of partitioning (the candidate
set varies with the split, the verified result does not; property-
tested under repartition in tests/test_heavy_hitters.py) — which is
why q_heavy_hitters can be gated by a plain SQL oracle despite the
sketch in the middle.

Reference lineage: the reference keeps per-partition TTL'd sample maps
(`SparseMap.java:36-53`) — bounded per-partition state summarizing an
unbounded stream — the same bounded-summary discipline applied here to
frequency instead of recency.
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pulsar_sync_java_spark.operators.util import cached

SUMMARY_SCHEMA = StructType(
    [
        StructField("k", LongType()),  # null on the per-partition meta row
        StructField("n", LongType()),  # lower-bound count / meta: row count
        StructField("err", LongType()),  # 0 / meta: max per-key undercount
    ]
)


def _compress(counts: Counter, cap: int) -> tuple[Counter, int]:
    """Batched MG compression: subtract the (cap+1)-th largest count
    from every entry and drop the non-positive ones.  Any single key
    loses at most `d`; returns (compressed counts, d)."""
    if len(counts) <= cap:
        return counts, 0
    d = sorted(counts.values(), reverse=True)[cap]
    out = Counter({key: c - d for key, c in counts.items() if c - d > 0})
    return out, d


def _mg_partition(cap: int):
    def fn(pdfs: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: Counter = Counter()
        n_rows = 0
        err = 0
        for pdf in pdfs:
            if pdf["k"].isna().any():
                raise ValueError(
                    "mg_summaries: null key encountered — value_counts "
                    "would silently drop it while an exact GROUP BY keeps "
                    "the null group; filter or coalesce nulls upstream"
                )
            vc = pdf["k"].value_counts()
            n_rows += int(vc.sum())
            for key, c in vc.items():
                counts[key] += int(c)
            if len(counts) > 4 * cap:
                counts, d = _compress(counts, cap)
                err += d
        counts, d = _compress(counts, cap)
        err += d
        rows = [(int(key), int(c), 0) for key, c in counts.items()]
        rows.append((None, n_rows, err))
        yield pd.DataFrame(rows, columns=["k", "n", "err"])

    return fn


def mg_summaries(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries of `key_col` (a long key).

    Output follows SUMMARY_SCHEMA: per partition up to k count rows
    (lower bounds) plus one meta row (k IS NULL) with the partition's
    exact row count and decrement bound.  Narrow (no shuffle)."""
    keyed = df.select(F.col(key_col).cast("long").alias("k"))
    return keyed.mapInPandas(_mg_partition(k), SUMMARY_SCHEMA)


def heavy_hitters(
    df: DataFrame, key_col: str, phi: float, k: int | None = None
) -> DataFrame:
    """All keys with frequency >= ceil(phi * N), exactly.

    `k` is the per-partition sketch capacity; the default 2/phi keeps
    the worst-case merged undercount N/(k+1) below phi*N/2, so no true
    heavy hitter can be pruned even before the measured-error
    tightening.  Returns (key, n_occurrences, share) with exact
    counts; share is one IEEE division of two exact longs.

    The cached summary table stays for the session (one entry per
    input and k): releasing it would re-run the sketch pass on the
    returned plan's next execution.
    """
    if not 0 < phi < 1:
        raise ValueError(f"phi must be in (0,1), got {phi}")
    if k is None:
        k = math.ceil(2.0 / phi)
    # the meta collect below materializes the cache, leaving execution
    # with just the verify re-scan
    summaries = cached(mg_summaries(df, key_col, k), "heavy_hitters.heavy_hitters")
    meta = summaries.filter(F.col("k").isNull()).agg(
        F.sum("n").alias("total"), F.sum("err").alias("err_total")
    )
    total, err_total = meta.collect()[0]  # two bounded scalars
    total, err_total = int(total or 0), int(err_total or 0)
    threshold = math.ceil(phi * total)
    candidates = (
        summaries.filter(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.sum("n").alias("lb"))
        .filter(F.col("lb") + F.lit(err_total) >= F.lit(threshold))
        .select("k")
    )
    keyed = df.select(F.col(key_col).cast("long").alias("k"))
    return (
        keyed.join(F.broadcast(candidates), "k", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= F.lit(threshold))
        .select(
            "k",
            "n_occurrences",
            (F.col("n_occurrences").cast("double") / F.lit(float(total))).alias(
                "share"
            ),
        )
    )
