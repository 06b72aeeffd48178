"""As-of (floor) join — the reference's `SparseMap.get` semantics.

Reference behavior: cursor translation resolves a source MessageId to the
greatest sampled mapping key <= the probe (`SparseMap.java:55-62`,
`floorKey` at :57; used from `PulsarPartitionSyncWorker.java:211-218`).
That is exactly a backward as-of join keyed by partition.

Spark has no native ASOF JOIN, and the naive formulation
(range join `r.ts <= l.ts` + row_number) explodes quadratically per key —
fine at sf0.01, fatal at 100 TB.  The scale-correct formulation used here
is the **union-window** (merge) form:

    union(right tagged 0, left tagged 1)
      -> ONE shuffle on the `by` key
      -> sort within partition by (on, tag, tiebreak)
      -> last(struct-of-right-cols, ignorenulls) over unbounded-preceding
      -> keep left rows

One shuffle, zero row explosion, whole-stage codegen throughout; skewed
keys are handled by AQE.  Right columns travel as one struct so a match
is always a single consistent right row (never a column-wise mix).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_TAG = "__asof_side"
_PAYLOAD = "__asof_payload"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | str | None = None,
    right_tiebreak: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the right row with the
    greatest ``on`` value <= the left's ``on`` value within the same
    ``by`` group — or, with ``direction="forward"``, the SMALLEST ``on``
    value >=: the next sampled mapping at or after the probe (pandas
    merge_asof parity; same ONE union-window shuffle, just sorted
    descending).

    Left rows with no floor match are kept with nulls (left-outer
    semantics) — `SparseMap.get` "not found" when the probe precedes
    every sampled key (minus the reference's null-floorKey NPE bug,
    deliberately not reproduced; SURVEY.md §2 fine print).

    Equal-``on`` right rows are ordered by ``right_tiebreak`` (ascending;
    the last, i.e. greatest, wins) so results are deterministic.
    Output columns: all left columns, then each non-key right column;
    a non-key right column whose name is also a left column is an error.
    """
    by = [by] if isinstance(by, str) else list(by or [])
    right_tiebreak = list(right_tiebreak or [])

    right_vals = [c for c in right.columns if c not in by and c != on]
    clash = [c for c in right_vals if c in left.columns]
    if clash:
        raise ValueError(
            f"right columns collide with left: {clash}; rename them before the join"
        )

    payload = F.struct(*[F.col(c) for c in right_vals]).alias(_PAYLOAD)
    r = right.select(
        *[F.col(c) for c in by],
        F.col(on),
        F.lit(0).alias(_TAG),
        payload,
    )
    payload_type = r.schema[_PAYLOAD].dataType
    l = left.select(
        "*",
        F.lit(1).alias(_TAG),
        F.lit(None).cast(payload_type).alias(_PAYLOAD),
    )
    left_extra = [c for c in left.columns if c not in by and c != on]
    r_aligned = r.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_extra],
        *by,
        on,
        _TAG,
        _PAYLOAD,
    )
    combined = l.select(*r_aligned.columns).unionByName(r_aligned)

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    on_sorted = F.col(on).asc() if direction == "backward" else F.col(on).desc()
    # tag order is direction-independent: at equal `on`, right rows
    # (tag 0) sort before left rows (tag 1), so equality matches
    order: list[Column] = [on_sorted, F.col(_TAG).asc()]
    order += [F.col(_PAYLOAD)[c].asc_nulls_first() for c in right_tiebreak]
    w = (
        Window.partitionBy(*[F.col(c) for c in by])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = combined.withColumn(
        _PAYLOAD, F.last(F.col(_PAYLOAD), ignorenulls=True).over(w)
    )
    return filled.filter(F.col(_TAG) == 1).select(
        *left_extra,
        *by,
        on,
        *[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in right_vals],
    )
