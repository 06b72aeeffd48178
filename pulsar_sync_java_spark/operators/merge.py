"""Keyed snapshot diff + MERGE-apply — the CDC write side.

`q_snapshot_diff` (queries/reference.py) derives a change feed from two
keyed snapshots; this module adds the inverse: `merge_apply` takes a
base snapshot and a change feed classified insert/update/delete and
produces the next snapshot.  Together they satisfy the roundtrip
identity `merge_apply(base, keyed_diff(base, target)) == target`
(property-tested in tests/test_merge_apply.py; the driver's
q_merge_apply hashes the applied snapshot against the target itself).

This is the lakehouse MERGE a replication sink runs against the
reference's feed: the reference only ever ADDS catalog entries
(`PulsarTenantSyncManager.java:75-84` — additive-only convergence,
plans/catalog_diff.py), so its apply step is a blind append; a sink
maintaining a keyed table needs the full upsert+delete apply.

Scale shape (100 TB base, CDC-batch-sized changes): the base is
LEFT ANTI joined against the broadcast touched-key set and unioned
with the upsert rows — the base never shuffles and never sorts; cost
is one scan of the base plus a broadcast build of the (small) change
batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Change classes a feed may carry. "unchanged" rows are tolerated and
#: ignored (a full keyed_diff feed can be applied as-is).
MERGE_OPS = ("insert", "update", "delete", "unchanged")


def keyed_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
) -> DataFrame:
    """Classify every key of two same-schema keyed snapshots.

    Returns one row per key present in either snapshot: the key
    columns, every non-key column taken from the NEW side (null for
    deletes), and `op_col` ∈ insert/update/delete/unchanged.  Null-safe
    on value comparison (a null→value or value→null flip is an
    update).  One full-outer join on the key — at scale both sides
    shuffle once, sort-merge.
    """
    val_cols = [c for c in old.columns if c not in key_cols]
    if old.columns != new.columns:
        raise ValueError(
            f"keyed_diff: snapshot schemas differ: {old.columns} vs {new.columns}"
        )
    o = old.select(
        *[F.col(k).alias(f"__ko_{k}") for k in key_cols],
        *[F.col(c).alias(f"__vo_{c}") for c in val_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__kn_{k}") for k in key_cols],
        *[F.col(c).alias(f"__vn_{c}") for c in val_cols],
    )
    cond = [o[f"__ko_{k}"] == n[f"__kn_{k}"] for k in key_cols]
    in_old = F.col(f"__ko_{key_cols[0]}").isNotNull()
    in_new = F.col(f"__kn_{key_cols[0]}").isNotNull()
    changed = F.lit(False)
    for c in val_cols:
        changed = changed | ~F.col(f"__vo_{c}").eqNullSafe(F.col(f"__vn_{c}"))
    return o.join(n, cond, "full_outer").select(
        *[
            F.coalesce(f"__ko_{k}", f"__kn_{k}").alias(k)
            for k in key_cols
        ],
        *[F.col(f"__vn_{c}").alias(c) for c in val_cols],
        F.when(~in_old, "insert")
        .when(~in_new, "delete")
        .when(changed, "update")
        .otherwise("unchanged")
        .alias(op_col),
    )


def merge_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    validate_ops: bool = True,
) -> DataFrame:
    """Apply a classified change feed to a keyed snapshot.

    `changes` carries the key columns, the full value columns for
    insert/update rows (delete rows' values are ignored), and `op_col`
    with values from MERGE_OPS; "unchanged" rows are no-ops.  Keys must
    be unique per snapshot and per feed (CDC batch semantics — the
    compacted last-image feed, not a raw event log).

    An op outside MERGE_OPS would otherwise be treated as touched-but-
    not-upserted — silently DELETING the row — so by default the feed
    is screened first (`validate_ops`: one limit(1) job over the
    CDC-batch-sized feed, trivial next to the apply; pass False when a
    caller already constrains the column, e.g. straight from
    keyed_diff).
    """
    if validate_ops:
        bad = (
            changes.filter(
                F.col(op_col).isNull() | ~F.col(op_col).isin(*MERGE_OPS)
            )
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"merge_apply: change feed contains op "
                f"{bad[0][op_col]!r} outside {MERGE_OPS} — refusing to "
                "apply (an unknown op would silently delete its row)"
            )
    out_cols = [c for c in base.columns if c != op_col]
    touched = changes.filter(F.col(op_col) != "unchanged").select(
        *[F.col(k) for k in key_cols]
    )
    kept = base.join(F.broadcast(touched), key_cols, "left_anti")
    upserts = changes.filter(F.col(op_col).isin("insert", "update")).select(*out_cols)
    return kept.select(*out_cols).unionByName(upserts)
