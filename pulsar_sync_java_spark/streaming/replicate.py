"""Structured Streaming layer — the reference's data plane re-expressed
(BASELINE.json `spark_approach`: "Structured Streaming for cross-cluster
message replication").

Reference data plane (`PulsarPartitionSyncWorker.java`):
- consume from src with Earliest initial position (:111) -> full-history
  backfill then tail == `readStream` from the earliest offset;
- per message, copy value / conditional event-time / conditional key /
  properties (:220-230) == a projection (`message_projection`);
- produce to dst, then ack src only on success (:231-244) == Spark's
  write-sink-then-commit-checkpoint contract per micro-batch
  (`replicate`): a crash between produce and commit replays the batch —
  the same at-least-once floor;
- sample one MessageId pair per 60 s into a 1 h-TTL sparse map
  (:236-239, `SparseMap.java:36-53`) == windowed `min(struct)` with a
  watermark evicting window state (`sparse_mapping_stream`).

In tests a file source stands in for the Pulsar consumer (the connector
is a deploy-time `format("pulsar")` swap — same plan).  On a cluster
each source partition maps to a Spark task, preserving the reference's
per-partition ordering unit (R13).

Scale: the sparse-map window state is keyed by (key, window), so its
size is bounded by the watermark horizon, exactly the reference's
TTL-bounded maps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

# Canonical message-table schema (SURVEY.md §1.2) as a DDL string; the
# file-source tests and the Pulsar connector deployment share it.
MESSAGE_SCHEMA = (
    "tenant string, namespace string, topic string, partition int, "
    "ledger_id long, entry_id long, batch_idx int, "
    "key string, value binary, event_time timestamp, "
    "publish_time timestamp, properties map<string,string>"
)


def message_projection(df: DataFrame) -> DataFrame:
    """R15: the per-message copy (`PulsarPartitionSyncWorker.java:220-231`)
    — value always; event_time only when set (the reference checks
    `!= 0`, :223-225); key only when non-null (:226-228); properties
    always.  Pure narrow projection: pipelines inside the source stage,
    no shuffle."""
    return df.select(
        "tenant",
        "namespace",
        "topic",
        "partition",
        "ledger_id",
        "entry_id",
        "batch_idx",
        F.when(F.col("key").isNotNull(), F.col("key")).alias("key"),
        F.col("value"),
        F.when(
            F.col("event_time").isNotNull() & (F.unix_micros("event_time") != 0),
            F.col("event_time"),
        ).alias("event_time"),
        "publish_time",
        "properties",
    )


def read_message_stream(spark, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stand-in for the Pulsar consumer (R13).  Earliest
    initial position == the file source reads every existing file first;
    new files are the tail.  Deploy-time swap: `.format("pulsar")` with
    `startingOffsets=earliest`, same downstream plan."""
    reader = spark.readStream.schema(MESSAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def replicate(
    stream: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """The replication pipeline: projection -> append sink + checkpoint.

    At-least-once contract (R16): Spark writes the micro-batch to the
    sink, then commits the offset to the checkpoint — the exact
    produce-then-ack ordering of
    `PulsarPartitionSyncWorker.java:231-244` (ack at :242 only inside
    the produce-success branch).  Restart replays any batch whose
    offsets were not committed; never skips one.
    """
    return (
        message_projection(stream)
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


# Message identity: what the reference keys its dense/sparse MessageId
# maps on (`PulsarPartitionSyncWorker.java:71-74` — ledger/entry/batch
# within a topic partition).
MESSAGE_KEY = ["topic", "partition", "ledger_id", "entry_id", "batch_idx"]


def sparse_mapping_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str = "event_time",
    id_cols: list[str] | None = None,
    interval: str = "60 seconds",
    ttl: str = "1 hour",
) -> DataFrame:
    """R17 + R24 streaming: one sample per key per interval, state
    evicted by watermark after `ttl` — the sparse MessageId map
    (`PulsarPartitionSyncWorker.java:236-239` sampling,
    `SparseMap.java:36-53` head eviction) with the empty-map/NPE bugs
    structurally impossible.

    `min(struct(ts, ids...))` is the deterministic 'first sample in
    window' (earliest ts, lowest id tie-break) and — unlike
    first()/row_number — is a proper streaming aggregate with partial
    merge.
    """
    id_cols = id_cols or ["ledger_id", "entry_id"]
    sample = F.min(F.struct(F.col(ts_col), *[F.col(c) for c in id_cols])).alias("s")
    win = F.window(F.col(ts_col), interval)
    out = (
        stream.withWatermark(ts_col, ttl)
        .groupBy(*key_cols, win.alias("w"))
        .agg(sample)
    )
    return out.select(
        *key_cols,
        F.col("w.start").alias("bucket"),
        F.col(f"s.{ts_col}").alias("sample_ts"),
        *[F.col(f"s.{c}").alias(c) for c in id_cols],
    )
