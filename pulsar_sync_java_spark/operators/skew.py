"""Skew-resistant equi join via key salting.

AQE's skew-join split (enabled in session.py) handles most skew by
splitting oversized partitions at runtime, but it only works where
sort-merge join plans apply and after a shuffle has already placed the
hot key in one partition.  Explicit salting is the planning-time
companion for the pathological case — one key carrying a double-digit
percentage of a 100 TB fact table joined against a non-broadcastable
dim:

    left:  __salt = hash(entire row) % n      (hot key spread n ways)
    right: replicated once per salt value     (explode of 0..n-1)
    join on key + __salt                      (hot partition split n ways)

Replication multiplies the right side by n — use only when the right
side is orders of magnitude smaller than the hot key's row count, and
prefer broadcast when it simply fits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    n_salts: int = 8,
    how: str = "inner",
    hot_threshold: int | None = None,
) -> DataFrame:
    """Equi join with the left side's hot keys spread across `n_salts`
    shuffle partitions.  Result is IDENTICAL to `left.join(right, on,
    how)` (property-tested); only the partitioning changes.

    Two modes:

    - blanket (`hot_threshold=None`): every left row is salted and the
      whole right side replicated `n_salts` times.  Simple, but the
      replication cost is paid on every key.
    - targeted (`hot_threshold=k`): one pre-aggregation finds the keys
      with >= k left rows; ONLY those go through the salted path, the
      rest through the plain join, results unioned.  The hot-key set is
      bounded by |left| / k rows, so with a threshold at true-skew
      scale (millions of rows per key on a 100 TB fact table) it is
      guaranteed broadcastable, and the replication multiplier applies
      to the few genuinely hot dim rows only.  This is the production
      shape; blanket mode is the degenerate case for when everything
      is hot.

    Supported `how`: inner / left / left_outer (the right side is
    replicated, so right-outer and full-outer would duplicate
    unmatched right rows)."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    on = [on] if isinstance(on, str) else list(on)

    def _salted(lf: DataFrame, rt: DataFrame) -> DataFrame:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in lf.columns]), F.lit(n_salts))
        l_salted = lf.withColumn("__salt", salt.cast("int"))
        r_salted = rt.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        return l_salted.join(r_salted, [*on, "__salt"], how).drop("__salt")

    if hot_threshold is None:
        return _salted(left, right)

    hot = F.broadcast(
        left.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= hot_threshold)
        .select(*on)
    )
    l_hot = left.join(hot, on, "left_semi")
    l_cold = left.join(hot, on, "left_anti")
    r_hot = right.join(hot, on, "left_semi")
    return _salted(l_hot, r_hot).unionByName(l_cold.join(right, on, how))
