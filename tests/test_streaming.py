"""Streaming-layer tests (SURVEY.md §5 test plan #3) for the replication
path `SyncEngine.start_replication` runs: a file source stands in for
the Pulsar consumer, a parquet file sink for the producer, and
`availableNow` + awaitTermination replaces the reference's Awaitility
polling.  Covers the fidelity gaps the reference's E2E tests leave open
(key/event-time/properties) and checkpoint-restart at-least-once.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_sync_java_spark.sources.tables import load_table
from pulsar_sync_java_spark.streaming.replicate import (
    message_projection,
    read_message_stream,
    replicate,
)
from tests.conftest import SF_DIR


def build_messages(spark):
    """Map the events table onto the canonical message schema."""
    ev = load_table(spark, SF_DIR, "events")
    return ev.select(
        F.lit("public").alias("tenant"),
        F.lit("default").alias("namespace"),
        F.col("event_type").alias("topic"),
        (F.col("user_id") % 4).cast("int").alias("partition"),
        F.col("user_id").alias("ledger_id"),
        F.col("event_id").alias("entry_id"),
        F.lit(0).alias("batch_idx"),
        F.when(F.col("event_id") % 5 != 0, F.concat(F.lit("k"), F.col("user_id"))).alias("key"),
        F.encode(F.col("props"), "UTF-8").alias("value"),
        F.col("ts").alias("event_time"),
        F.col("ts").alias("publish_time"),
        F.create_map(F.lit("src"), F.col("event_type")).alias("properties"),
    )


def test_replicate_fidelity_and_restart(spark, tmp_path):
    """Fidelity (key/event_time/properties — untested in the reference,
    SURVEY.md §5) + checkpoint restart: new source files after a restart
    are replicated exactly once, committed offsets never replayed."""
    message_dir = str(tmp_path / "src")
    build_messages(spark).repartition(2).write.mode("overwrite").parquet(message_dir)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = read_message_stream(spark, message_dir)
    q = replicate(stream, sink, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    src = build_messages(spark)
    out = spark.read.parquet(sink)
    assert out.count() == src.count()
    # per-message fidelity via the (ledger_id, entry_id) identity
    j = src.alias("s").join(
        out.alias("o"), ["ledger_id", "entry_id"], "inner"
    )
    assert j.count() == src.count()
    mismatched = j.filter(
        ~(
            (F.col("s.key").eqNullSafe(F.col("o.key")))
            & (F.col("s.event_time").eqNullSafe(F.col("o.event_time")))
            & (F.col("s.value") == F.col("o.value"))
            & (F.element_at(F.col("s.properties"), "src").eqNullSafe(
                F.element_at(F.col("o.properties"), "src")))
        )
    )
    assert mismatched.count() == 0

    # restart with one more source file
    extra = build_messages(spark).limit(10).withColumn(
        "entry_id", F.col("entry_id") + 1_000_000
    )
    extra.write.mode("append").parquet(message_dir)
    q2 = replicate(read_message_stream(spark, message_dir), sink, ckpt).trigger(
        availableNow=True
    ).start()
    q2.awaitTermination(120)
    out2 = spark.read.parquet(sink)
    assert out2.count() == src.count() + 10
    # no duplicate identities -> committed batches were not replayed
    assert (
        out2.groupBy("ledger_id", "entry_id", "topic").count().filter("count > 1").count()
        == 0
    )


def test_projection_drops_zero_event_time(spark):
    """R15 fine print: the reference copies event-time only when != 0
    (PulsarPartitionSyncWorker.java:223-225)."""
    rows = spark.createDataFrame(
        [("t", "n", "top", 0, 1, 1, 0, "k", bytearray(b"v"), 0, 1000, {"a": "b"})],
        "tenant string, namespace string, topic string, partition int, "
        "ledger_id long, entry_id long, batch_idx int, key string, value binary, "
        "et long, pt long, properties map<string,string>",
    ).select(
        "*",
        F.timestamp_micros(F.col("et")).alias("event_time"),
        F.timestamp_micros(F.col("pt")).alias("publish_time"),
    )
    [r] = message_projection(rows).collect()
    assert r.event_time is None  # epoch-0 treated as unset
    assert r.publish_time is not None

