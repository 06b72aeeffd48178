"""Cursor translation — the reference's `syncCursor` path as reusable
batch plan components (SURVEY.md §3.3).

Pipeline: sparse sampling of the message-id mapping (R17) ->
cursor snapshot -> floor/as-of resolution (R21).  Creating and
advancing the translated cursors on the destination (R22/R23) is the
engine's merge step (`engine.py:_apply_cursors`).

The flagship declared query q_cursor_translate
(queries/reference.py) is this module applied to the `events` table;
here the operators are exposed for arbitrary message tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.asof import asof_join


def sparse_sample(
    messages: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
    interval: str = "60 seconds",
) -> DataFrame:
    """R17: keep one (position -> id) sample per key per interval — the
    reference keeps <=1 src->dst MessageId pair per 60 s per partition
    (`PulsarPartitionSyncWorker.java:236-239`), bounding mapping state
    to interval_count entries instead of message_count.

    Batch formulation: first row per (key, time bucket); the streaming
    twin is a windowed `first` with watermark eviction reproducing the
    1 h TTL (`SparseMap.java:36-53`) — streaming/replicate.py.
    """
    w = Window.partitionBy(*key_cols, "bucket").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    return (
        messages.withColumn("bucket", F.window(F.col(ts_col), interval).start)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*key_cols, ts_col, id_col)
    )


def latest_cursor(
    messages: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Cursor snapshot: each key's latest position (the reference reads
    `cursorStats.readPosition` per subscription,
    `PulsarPartitionSyncWorker.java:126-147`)."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col(id_col).desc()
    )
    return (
        messages.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*key_cols, ts_col, id_col)
    )


def translate(
    cursors: DataFrame,
    mapping: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    id_col: str = "event_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """R21: floor-resolve each cursor against the sampled mapping — the
    greatest sample at-or-before the cursor position
    (`SparseMap.java:55-62`).  Conservative by construction: the
    translated position is <= the true position, so a consumer resumed
    there replays, never skips (property-tested).

    `carry_cols` ride along unchanged (e.g. the subscription name, which
    identifies the cursor but plays no part in the floor resolution)."""
    m = mapping.select(
        *key_cols,
        F.col(ts_col),
        F.col(id_col).alias("translated_id"),
        F.col(ts_col).alias("translated_ts"),
    )
    c = cursors.select(
        *key_cols, *(carry_cols or []), ts_col, F.col(id_col).alias("cursor_id")
    )
    return asof_join(c, m, on=ts_col, by=key_cols, right_tiebreak=["translated_id"])

