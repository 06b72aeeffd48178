"""Structured Streaming layer — the reference's data plane re-expressed
(BASELINE.json `spark_approach`: "Structured Streaming for cross-cluster
message replication").  `SyncEngine.start_replication` runs it:
`read_message_stream` -> `replicate`.

Reference data plane (`PulsarPartitionSyncWorker.java`):
- consume from src with Earliest initial position (:111) -> full-history
  backfill then tail == `readStream` from the earliest offset;
- per message, copy value / conditional event-time / conditional key /
  properties (:220-230) == a projection (`message_projection`);
- produce to dst, then ack src only on success (:231-244) == Spark's
  write-sink-then-commit-checkpoint contract per micro-batch
  (`replicate`): a crash between produce and commit replays the batch —
  the same at-least-once floor, and the file sink's `_spark_metadata`
  log makes the committed output exactly-once.

A directory-backed file source stands in for the Pulsar consumer.  On a
cluster each source partition maps to a Spark task, preserving the
reference's per-partition ordering unit (R13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

# Canonical message-table schema (SURVEY.md §1.2) as a DDL string; the
# replication stream and the engine's `dst/messages` reads share it.
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


def read_message_stream(spark, source_dir: str) -> DataFrame:
    """File-based stand-in for the Pulsar consumer (R13).  Earliest
    initial position == the file source reads every existing file first;
    new files are the tail."""
    return spark.readStream.schema(MESSAGE_SCHEMA).parquet(source_dir)


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

