"""Streaming-layer tests (SURVEY.md §5 test plan #3): file source stands
in for the Pulsar consumer, memory/parquet sinks for the producer,
`availableNow` + awaitTermination replaces the reference's Awaitility
polling.  Covers the fidelity gaps the reference's E2E tests leave open
(key/event-time/properties), checkpoint-restart at-least-once, and
batch/stream equivalence of the windowed operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pulsar_sync_java_spark.plans.cursor_translate import sparse_sample
from pulsar_sync_java_spark.sources.tables import load_table
from pulsar_sync_java_spark.streaming.replicate import (
    dedup_stream,
    message_projection,
    read_message_stream,
    replicate,
    sessionize_stream,
    sparse_mapping_stream,
    tumbling_counts_stream,
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


@pytest.fixture(scope="module")
def message_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("messages")
    src = str(d / "src")
    build_messages(spark).repartition(2).write.mode("overwrite").parquet(src)
    return src


def run_to_memory(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def test_replicate_fidelity_and_restart(spark, tmp_path):
    """Fidelity (key/event_time/properties — untested in the reference,
    SURVEY.md §5) + checkpoint restart: new source files after a restart
    are replicated exactly once, committed offsets never replayed.

    Uses a private source dir (this test appends files; the shared
    module fixture must stay immutable for the other tests)."""
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


def test_sparse_mapping_stream_matches_batch(spark, message_dir):
    """Batch/stream equivalence on watermark-closed windows: the
    streaming windowed min(struct) sample equals the batch
    sparse_sample wherever the watermark has closed the window."""
    stream = sparse_mapping_stream(
        read_message_stream(spark, message_dir),
        key_cols=["topic", "partition"],
        id_cols=["entry_id"],
    )
    tbl = run_to_memory(stream, "sparse_map", mode="append")
    got = {
        (r.topic, r.partition, r.bucket, r.entry_id)
        for r in spark.table(tbl).collect()
    }
    msgs = build_messages(spark)
    batch = sparse_sample(
        msgs.select(
            "topic", "partition", F.col("event_time").alias("ts"),
            F.col("entry_id").alias("event_id"),
        ),
        key_cols=["topic", "partition"],
    )
    import datetime as dt

    max_ts = msgs.agg(F.max("event_time")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=1)  # ttl watermark
    want = {
        (r.topic, r.partition, b, r.event_id)
        for r in batch.collect()
        if (b := r.ts.replace(second=0, microsecond=0)) + dt.timedelta(minutes=1)
        <= horizon
    }
    # append mode emits exactly the watermark-closed windows; the open
    # tail is retained state — the reference's 'recent entries still in
    # the map' (SparseMap TTL, R24)
    assert want <= got
    assert len(got) <= batch.count()


def test_tumbling_stream_matches_batch(spark, message_dir):
    stream = tumbling_counts_stream(
        read_message_stream(spark, message_dir), key_cols=["topic"]
    )
    import datetime as dt

    tbl = run_to_memory(stream, "tumbling")
    got = {(r.topic, r.window_start, r.n_events) for r in spark.table(tbl).collect()}
    msgs = build_messages(spark)
    batch = (
        msgs.groupBy("topic", F.window("event_time", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    max_ts = msgs.agg(F.max("event_time")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=2)  # watermark delay
    closed = {(r.topic, r.w.start, r.n) for r in batch.collect() if r.w.end <= horizon}
    open_tail = {(r.topic, r.w.start, r.n) for r in batch.collect() if r.w.end > horizon}
    # append mode: exactly the closed windows are emitted; the open tail
    # (inside the watermark horizon at end-of-stream) is retained state
    assert closed <= got
    assert got.isdisjoint(open_tail) or got == closed | open_tail


def test_sliding_stream_matches_batch(spark, message_dir):
    """Hopping-window twin of q_window_sliding: every closed 1-h window
    sliding 15 min must match the batch grouping."""
    import datetime as dt

    stream = tumbling_counts_stream(
        read_message_stream(spark, message_dir),
        key_cols=["topic"],
        slide="15 minutes",
    )
    tbl = run_to_memory(stream, "sliding")
    got = {(r.topic, r.window_start, r.n_events) for r in spark.table(tbl).collect()}
    msgs = build_messages(spark)
    batch = msgs.groupBy(
        "topic", F.window("event_time", "1 hour", "15 minutes").alias("w")
    ).agg(F.count(F.lit(1)).alias("n"))
    max_ts = msgs.agg(F.max("event_time")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=2)
    closed = {(r.topic, r.w.start, r.n) for r in batch.collect() if r.w.end <= horizon}
    open_tail = {(r.topic, r.w.start, r.n) for r in batch.collect() if r.w.end > horizon}
    assert closed <= got
    assert got.isdisjoint(open_tail) or got == closed | open_tail


def test_sessionize_stream_matches_batch(spark, message_dir):
    """Session-window twin of q_window_session: every closed streaming
    session must match the batch lag/cumsum sessionization on the same
    rows — same keys, same start (min ts), same event count, and
    session_end == last event + gap (the native operator's definition;
    the batch twin reports max ts, so the gap is added here).

    Gap-edge note: session_window starts a new session when the
    inter-event gap is >= 30 min (windows [t, t+gap) merge only on
    OVERLAP), so the batch oracle uses >= too; q_window_session's SQL
    uses > — indistinguishable on microsecond-resolution data."""
    import datetime as dt

    stream = sessionize_stream(
        read_message_stream(spark, message_dir), key_cols=["topic", "partition"]
    )
    tbl = run_to_memory(stream, "sessions")
    got = {
        (r.topic, r.partition, r.session_start, r.session_end, r.n_events)
        for r in spark.table(tbl).collect()
    }
    assert got, "no closed sessions emitted"
    assert all(end > start for (_, _, start, end, _) in got)

    # batch sessionization (q_window_session formulation) over the same
    # keys: lag -> new-session flag -> cumulative sum -> per-session agg
    from pyspark.sql import Window

    gap_us = 30 * 60 * 1_000_000
    msgs = build_messages(spark).select(
        "topic", "partition", "event_time", "ledger_id", "entry_id"
    )
    w = Window.partitionBy("topic", "partition").orderBy(
        F.col("event_time").asc(), F.col("ledger_id").asc(), F.col("entry_id").asc()
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        msgs.withColumn(
            "is_new",
            F.when(
                F.lag("event_time").over(w).isNull()
                | (
                    F.unix_micros(F.col("event_time"))
                    - F.unix_micros(F.lag("event_time").over(w))
                    >= gap_us
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("is_new").over(frame))
        .groupBy("topic", "partition", "session_id")
        .agg(
            F.min("event_time").alias("t_min"),
            F.max("event_time").alias("t_max"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    gap_td = dt.timedelta(minutes=30)
    batch = {
        (r.topic, r.partition, r.t_min, r.t_max + gap_td, r.n)
        for r in sess.collect()
    }
    max_ts = msgs.agg(F.max("event_time")).collect()[0][0]
    horizon = max_ts - dt.timedelta(hours=2)  # watermark delay
    closed = {s for s in batch if s[3] <= horizon}
    open_tail = batch - closed
    # append mode: every closed session is emitted exactly as the batch
    # formulation computes it; the open tail may or may not have been
    # flushed by the final availableNow watermark advance
    assert closed <= got, f"missing: {list(closed - got)[:3]}"
    assert got <= batch, f"phantom sessions: {list(got - batch)[:3]}"
    assert got.isdisjoint(open_tail) or got == batch


def test_pulsar_connector_option_mapping():
    """The deploy adapter reproduces the reference's client settings
    (`PulsarSync.java:53-61` URL formats;
    `PulsarPartitionSyncWorker.java:107-114` consumer build) as
    connector options — broker-free unit check."""
    from pulsar_sync_java_spark.streaming.pulsar_connector import (
        PulsarEndpoint,
        consumer_options,
        producer_options,
    )

    ep = PulsarEndpoint("broker-1", tcp_port=6650, http_port=8080)
    assert ep.service_url == "pulsar://broker-1:6650"
    assert ep.admin_url == "http://broker-1:8080"

    opts = consumer_options(
        ep, subscription_name="pulsar-sync", topics=["t1", "t2"]
    )
    assert opts["service.url"] == "pulsar://broker-1:6650"
    assert opts["admin.url"] == "http://broker-1:8080"
    assert opts["predefinedSubscription"] == "pulsar-sync"
    assert opts["startingOffsets"] == "earliest"  # Earliest initial pos
    assert opts["pulsar.reader.autoUpdatePartitions"] == "false"
    assert opts["pulsar.consumer.autoUpdatePartitions"] == "false"
    assert opts["topics"] == "t1,t2"

    pat = consumer_options(ep, topics_pattern="persistent://public/default/.*")
    assert pat["topicsPattern"] == "persistent://public/default/.*"
    with pytest.raises(ValueError, match="exactly one"):
        consumer_options(ep)
    with pytest.raises(ValueError, match="exactly one"):
        consumer_options(ep, topics="t", topics_pattern=".*")

    w = producer_options(ep, "persistent://public/default/out")
    assert w["topic"] == "persistent://public/default/out"
    assert w["service.url"] == "pulsar://broker-1:6650"


def test_pulsar_stream_without_jar_fails_actionably():
    """Without the connector jar, read_pulsar_stream must raise the
    actionable --packages message, not a bare ClassNotFoundException —
    while every OTHER load failure surfaces verbatim (masking a bad
    URL behind --packages advice sends the operator debugging the
    wrong thing).

    Driven through stub sessions rather than the live one: the fake
    broker tests register a Python source under the real `pulsar`
    name, and that registration is session-global and irreversible —
    a live-session jar-absent load can no longer be produced once any
    of them has run."""
    from pulsar_sync_java_spark.streaming.pulsar_connector import (
        PulsarEndpoint,
        read_pulsar_stream,
    )

    class _Reader:
        def __init__(self, exc):
            self._exc = exc

        def format(self, _):
            return self

        def options(self, **_):
            return self

        def load(self):
            raise self._exc

    class _Spark:
        def __init__(self, exc):
            self.readStream = _Reader(exc)

    jar_absent = Exception(
        "[DATA_SOURCE_NOT_FOUND] Failed to find data source: pulsar."
    )
    with pytest.raises(RuntimeError, match="--packages"):
        read_pulsar_stream(
            _Spark(jar_absent), PulsarEndpoint("localhost"), topics="t"
        )

    other = ValueError("Unable to connect: bad service url")
    with pytest.raises(ValueError, match="bad service url"):
        read_pulsar_stream(
            _Spark(other), PulsarEndpoint("localhost"), topics="t"
        )


def test_fake_pulsar_validates_connector_option_contract(tmp_path):
    """The fake broker's reader/writer hard-validate the option names
    and shapes the PUBLIC connector requires — the drift guard: rename
    a key in consumer_options/producer_options and these constructors
    (and therefore the end-to-end binding test below) fail loudly."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from pulsar_sync_java_spark.streaming.fake_pulsar import (
        STORAGE_ROOT_OPTION,
        _FakePulsarStreamReader,
        _FakePulsarStreamWriter,
    )

    good = {
        "service.url": "pulsar://src:6650",
        "admin.url": "http://src:8080",
        "predefinedSubscription": "pulsar-sync",
        "startingOffsets": "earliest",
        "topics": "t1",
        STORAGE_ROOT_OPTION: str(tmp_path),
    }
    _FakePulsarStreamReader(CaseInsensitiveDict(good))  # valid: no raise

    def broken(**patch):
        opts = {**good, **patch}
        return CaseInsensitiveDict(
            {k: v for k, v in opts.items() if v is not None}
        )

    with pytest.raises(ValueError, match="service.url"):
        _FakePulsarStreamReader(broken(**{"service.url": None}))
    with pytest.raises(ValueError, match="pulsar://"):
        _FakePulsarStreamReader(broken(**{"service.url": "http://src:6650"}))
    with pytest.raises(ValueError, match="admin.url"):
        _FakePulsarStreamReader(broken(**{"admin.url": "src:8080"}))
    with pytest.raises(ValueError, match="predefinedSubscription"):
        _FakePulsarStreamReader(broken(predefinedSubscription=None))
    with pytest.raises(ValueError, match="earliest"):
        _FakePulsarStreamReader(broken(startingOffsets="oldest"))
    with pytest.raises(ValueError, match="exactly one"):
        _FakePulsarStreamReader(broken(topicsPattern=".*"))
    with pytest.raises(ValueError, match="exactly one"):
        _FakePulsarStreamReader(broken(topics=None))
    with pytest.raises(ValueError, match="storage root"):
        _FakePulsarStreamReader(
            broken(**{STORAGE_ROOT_OPTION: str(tmp_path / "absent")})
        )

    prod = CaseInsensitiveDict(
        {
            "service.url": "pulsar://dst:6650",
            "admin.url": "http://dst:8080",
            "topic": "out",
            STORAGE_ROOT_OPTION: str(tmp_path),
        }
    )
    from pulsar_sync_java_spark.streaming.replicate import MESSAGE_SCHEMA

    names = [c.split(" ")[0] for c in MESSAGE_SCHEMA.split(", ")]
    _FakePulsarStreamWriter(prod, names)  # valid: no raise
    with pytest.raises(ValueError, match="'topic'"):
        _FakePulsarStreamWriter(
            CaseInsensitiveDict({k: v for k, v in prod.items() if k != "topic"}),
            names,
        )
    with pytest.raises(ValueError, match="message columns"):
        _FakePulsarStreamWriter(prod, names[:-2])


def test_format_pulsar_binding_end_to_end(spark, tmp_path):
    """r6 verdict #1 (carried from r5 #3): EXECUTE the real
    `format("pulsar")` binding — read_pulsar_stream ->
    message_projection -> write_pulsar_stream, the connector module's
    actual option dicts, resolved by Spark's source registry — against
    directory-backed fake brokers (streaming/fake_pulsar.py).  This is
    the engine's twin of the reference's dual-broker convergence test
    (`PulsarMessageSyncTest.java:38-64`: produce to src, sync, await
    dst == src), plus the tail-delivery re-sync the reference's
    Awaitility loop implies."""
    import os

    from pulsar_sync_java_spark.streaming.fake_pulsar import (
        STORAGE_ROOT_OPTION,
        register_fake_pulsar,
        subscription_path,
        topic_dir,
    )
    from pulsar_sync_java_spark.streaming.pulsar_connector import (
        PulsarEndpoint,
        read_pulsar_stream,
        write_pulsar_stream,
    )

    register_fake_pulsar(spark)
    src_root, dst_root = str(tmp_path / "src-broker"), str(tmp_path / "dst-broker")
    os.makedirs(src_root)
    os.makedirs(dst_root)
    topic = "persistent://public/default/events"

    msgs = build_messages(spark)
    first = msgs.filter(F.col("entry_id") % 2 == 0)
    tail = msgs.filter(F.col("entry_id") % 2 == 1)
    first.repartition(2).write.mode("overwrite").parquet(topic_dir(src_root, topic))

    def run_sync():
        stream = read_pulsar_stream(
            spark,
            PulsarEndpoint("src-broker"),
            subscription_name="pulsar-sync",
            topics=topic,
            extra_options={STORAGE_ROOT_OPTION: src_root},
        )
        q = (
            write_pulsar_stream(
                message_projection(stream),
                PulsarEndpoint("dst-broker"),
                topic,
                str(tmp_path / "ckpt"),
                extra_options={STORAGE_ROOT_OPTION: dst_root},
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def fidelity_mismatches(src_df, out_df) -> int:
        j = src_df.alias("s").join(
            out_df.alias("o"), ["ledger_id", "entry_id"], "inner"
        )
        assert j.count() == src_df.count()
        return j.filter(
            ~(
                F.col("s.key").eqNullSafe(F.col("o.key"))
                & F.col("s.event_time").eqNullSafe(F.col("o.event_time"))
                & F.col("s.publish_time").eqNullSafe(F.col("o.publish_time"))
                & (F.col("s.value") == F.col("o.value"))
                & F.element_at(F.col("s.properties"), "src").eqNullSafe(
                    F.element_at(F.col("o.properties"), "src")
                )
                & (F.col("s.partition") == F.col("o.partition"))
            )
        ).count()

    # --- run 1: full-history backfill converges dst to src
    run_sync()
    out = spark.read.parquet(topic_dir(dst_root, topic))
    assert out.count() == first.count()
    assert fidelity_mismatches(message_projection(first), out) == 0

    # --- tail delivery: new src messages, restarted sync from the
    # SAME checkpoint replicates exactly the delta (no re-produce of
    # batch-1 messages — the produce-then-ack + checkpoint contract)
    tail.coalesce(1).write.mode("append").parquet(topic_dir(src_root, topic))
    run_sync()
    out = spark.read.parquet(topic_dir(dst_root, topic))
    assert out.count() == msgs.count()
    assert (
        out.select("ledger_id", "entry_id").distinct().count() == msgs.count()
    )
    assert fidelity_mismatches(message_projection(msgs), out) == 0
    # the ack half executed: the broker-side subscription cursor was
    # committed under the subscription name consumer_options carried
    assert os.path.exists(subscription_path(src_root, "pulsar-sync"))


def test_format_pulsar_pattern_subscription_exactly_once(spark, tmp_path):
    """The other half of the consumer contract through the live
    binding: topicsPattern multi-topic subscription (the reference's
    namespace-wide sync: one worker owns every matching topic), feeding
    replicate_exactly_once into a keyed parquet sink — and a checkpoint
    WIPE replay (the transport redelivers everything) still appends
    nothing, proving the table-level exactly-once survives the
    at-least-once fake transport."""
    import os

    from pulsar_sync_java_spark.streaming.fake_pulsar import (
        STORAGE_ROOT_OPTION,
        register_fake_pulsar,
        topic_dir,
    )
    from pulsar_sync_java_spark.streaming.pulsar_connector import (
        PulsarEndpoint,
        read_pulsar_stream,
    )
    from pulsar_sync_java_spark.streaming.replicate import (
        replicate_exactly_once,
    )

    register_fake_pulsar(spark)
    root = str(tmp_path / "broker")
    os.makedirs(root)
    msgs = build_messages(spark)
    # one fake-broker topic per event type, reference topic naming
    for t in ("view", "click"):
        msgs.filter(F.col("topic") == t).coalesce(1).write.parquet(
            topic_dir(root, f"persistent://public/default/{t}")
        )
    n_expected = msgs.filter(F.col("topic").isin("view", "click")).count()

    sink = str(tmp_path / "sink")

    def run(ckpt):
        stream = read_pulsar_stream(
            spark,
            PulsarEndpoint("broker"),
            subscription_name="ns-sync",
            topics_pattern=r"persistent://public/default/(view|click)",
            extra_options={STORAGE_ROOT_OPTION: root},
        )
        q = (
            replicate_exactly_once(stream, sink, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run(str(tmp_path / "ckpt1"))
    out = spark.read.parquet(sink)
    assert out.count() == n_expected
    assert set(
        r.topic for r in out.select("topic").distinct().collect()
    ) == {"view", "click"}

    # checkpoint wipe: a FRESH checkpoint replays the entire broker
    # history; the keyed idempotent sink must drop every duplicate
    run(str(tmp_path / "ckpt2"))
    out = spark.read.parquet(sink)
    assert out.count() == n_expected


def test_dedup_stream_drops_duplicate_deliveries(spark, message_dir, tmp_path):
    """Effectively-once upgrade: duplicated (ledger, entry) deliveries
    collapse to one within the watermark horizon."""
    dup_dir = str(tmp_path / "dups")
    msgs = build_messages(spark).limit(50)
    msgs.write.mode("overwrite").parquet(dup_dir)
    msgs.write.mode("append").parquet(dup_dir)  # duplicate delivery
    stream = dedup_stream(
        read_message_stream(spark, dup_dir),
        key_cols=["ledger_id", "entry_id", "topic"],
    )
    tbl = run_to_memory(stream, "deduped")
    out = spark.table(tbl)
    assert out.count() == 50
    assert out.groupBy("ledger_id", "entry_id", "topic").count().filter("count > 1").count() == 0


def test_replicate_exactly_once_survives_checkpoint_loss(spark, tmp_path):
    """The disaster case at-least-once cannot cover: the checkpoint is
    lost and every batch replays from scratch.  The keyed idempotent
    sink must make the replay a no-op — same rows, same count, no
    duplicates (table-level exactly-once over an at-least-once
    transport)."""
    import shutil

    from pulsar_sync_java_spark.streaming.replicate import replicate_exactly_once

    src = str(tmp_path / "src")
    build_messages(spark).limit(500).repartition(2).write.mode("overwrite").parquet(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    q = replicate_exactly_once(
        read_message_stream(spark, src), sink, ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    first = spark.read.parquet(sink)
    n_first = first.count()
    assert n_first == 500

    # checkpoint wiped -> full replay of every source file
    shutil.rmtree(ckpt)
    q = replicate_exactly_once(
        read_message_stream(spark, src), sink, str(tmp_path / "ckpt2")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    after = spark.read.parquet(sink)
    assert after.count() == n_first
    # and a genuinely new message still lands
    extra = build_messages(spark).limit(1).withColumn(
        "entry_id", F.col("entry_id") + 10_000_000
    )
    extra.write.mode("append").parquet(src)
    q = replicate_exactly_once(
        read_message_stream(spark, src), sink, str(tmp_path / "ckpt3")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert spark.read.parquet(sink).count() == n_first + 1


def test_replicate_exactly_once_partitioned_probe(spark, tmp_path):
    """The scale variant: sink Hive-partitioned on `topic`, so each
    micro-batch's idempotency probe prunes to the topics present in the
    batch.  Same exactly-once contract through a checkpoint wipe."""
    import glob
    import shutil

    from pulsar_sync_java_spark.streaming.replicate import replicate_exactly_once

    src = str(tmp_path / "src")
    build_messages(spark).limit(300).repartition(2).write.mode("overwrite").parquet(src)
    sink = str(tmp_path / "sink")

    q = replicate_exactly_once(
        read_message_stream(spark, src), sink, str(tmp_path / "c1"),
        partition_col="topic",
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    n_first = spark.read.parquet(sink).count()
    assert n_first == 300
    # layout really is partitioned by topic
    assert glob.glob(f"{sink}/topic=*"), "expected Hive partition dirs"

    shutil.rmtree(str(tmp_path / "c1"))
    q = replicate_exactly_once(
        read_message_stream(spark, src), sink, str(tmp_path / "c2"),
        partition_col="topic",
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    out = spark.read.parquet(sink)
    assert out.count() == n_first
    assert (
        out.groupBy("topic", "partition", "ledger_id", "entry_id", "batch_idx")
        .count().filter("count > 1").count() == 0
    )


@pytest.mark.slow
def test_attribution_stream_matches_batch_interval_join(spark, message_dir):
    """Stream-stream interval join (view -> click within 1h per user)
    must emit exactly the batch interval join on the same rows: inner
    join results are never watermark-dropped for on-time data, so the
    bounded-source streaming result equals the static formulation."""
    from pulsar_sync_java_spark.streaming.replicate import attribution_stream

    stream = attribution_stream(read_message_stream(spark, message_dir))
    tbl = run_to_memory(stream, "attribution")
    got = {
        (r.user_id, r.view_event, r.click_event, r.lag_us)
        for r in spark.table(tbl).collect()
    }

    msgs = build_messages(spark)
    v = msgs.where("topic = 'view'").select(
        F.col("ledger_id").alias("user_id"),
        F.col("event_time").alias("view_time"),
        F.col("entry_id").alias("view_event"),
    )
    c = msgs.where("topic = 'click'").select(
        F.col("ledger_id").alias("c_user_id"),
        F.col("event_time").alias("click_time"),
        F.col("entry_id").alias("click_event"),
    )
    expected = {
        (r.user_id, r.view_event, r.click_event, r.lag_us)
        for r in v.join(
            c,
            F.expr(
                "user_id = c_user_id AND click_time > view_time "
                "AND click_time <= view_time + INTERVAL 1 HOUR"
            ),
        )
        .select(
            "user_id",
            "view_event",
            "click_event",
            (
                F.unix_micros("click_time") - F.unix_micros("view_time")
            ).alias("lag_us"),
        )
        .collect()
    }
    assert got == expected
    assert expected, "fixture produced no attributable pairs"


@pytest.mark.slow
def test_attribution_stream_outer_closes_unmatched_views(spark, message_dir):
    """Left-outer stream-stream join: every inner pair still appears,
    and views with no in-horizon click are emitted exactly once with a
    null click ONCE the click watermark passes their horizon; tail
    views the final watermark never passes stay open (not emitted) —
    the Structured Streaming outer-join contract."""
    import datetime as dt

    from pulsar_sync_java_spark.streaming.replicate import attribution_stream

    stream = attribution_stream(
        read_message_stream(spark, message_dir), how="left_outer"
    )
    tbl = run_to_memory(stream, "attribution_outer")
    rows = spark.table(tbl).collect()
    matched = {(r.user_id, r.view_event, r.click_event) for r in rows if r.click_event is not None}
    nulls = {(r.user_id, r.view_event) for r in rows if r.click_event is None}
    null_rows = [r for r in rows if r.click_event is None]
    assert len(null_rows) == len(nulls), "an unmatched view emitted twice"

    msgs = build_messages(spark)
    v = msgs.where("topic = 'view'").select(
        F.col("ledger_id").alias("user_id"),
        F.col("event_time").alias("view_time"),
        F.col("entry_id").alias("view_event"),
    )
    c = msgs.where("topic = 'click'").select(
        F.col("ledger_id").alias("c_user_id"),
        F.col("event_time").alias("click_time"),
        F.col("entry_id").alias("click_event"),
    )
    inner = {
        (r.user_id, r.view_event, r.click_event)
        for r in v.join(
            c,
            F.expr(
                "user_id = c_user_id AND click_time > view_time "
                "AND click_time <= view_time + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    assert matched == inner

    # batch ground truth for unmatched views, restricted to those whose
    # horizon the final click watermark (max click_time - 1h delay)
    # provably passed: all of them must have been emitted with nulls
    max_click = c.agg(F.max("click_time")).collect()[0][0]
    horizon = max_click - dt.timedelta(hours=2)  # delay + interval
    expected_closed_nulls = {
        (r.user_id, r.view_event)
        for r in v.join(
            c,
            F.expr(
                "user_id = c_user_id AND click_time > view_time "
                "AND click_time <= view_time + INTERVAL 1 HOUR"
            ),
            "left_anti",
        )
        .where(F.col("view_time") < F.lit(horizon))
        .collect()
    }
    assert expected_closed_nulls <= nulls
    # and nothing emitted null that actually HAS an in-horizon click
    assert nulls.isdisjoint({(u, ve) for (u, ve, _) in inner})
    assert expected_closed_nulls, "fixture produced no closed unmatched views"


@pytest.mark.slow
def test_attribution_stream_state_survives_restart(spark, tmp_path):
    """Stream-stream join state persists across a query restart: views
    delivered in run 1, their clicks only in run 2 (same checkpoint) —
    the pairs must still be emitted, proving the buffered view side is
    restored from the state store, not recomputed from the source."""
    import glob
    import os
    import shutil

    from pulsar_sync_java_spark.streaming.replicate import attribution_stream

    msgs = build_messages(spark)
    views = msgs.where("topic = 'view'")
    clicks = msgs.where("topic = 'click'")
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)

    got = set()
    for i, half in enumerate((views, clicks)):
        staged = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(staged)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        q = (
            attribution_stream(read_message_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    got = {
        (r.user_id, r.view_event, r.click_event)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }

    v = views.select(
        F.col("ledger_id").alias("user_id"),
        F.col("event_time").alias("view_time"),
        F.col("entry_id").alias("view_event"),
    )
    c = clicks.select(
        F.col("ledger_id").alias("c_user_id"),
        F.col("event_time").alias("click_time"),
        F.col("entry_id").alias("click_event"),
    )
    expected = {
        (r.user_id, r.view_event, r.click_event)
        for r in v.join(
            c,
            F.expr(
                "user_id = c_user_id AND click_time > view_time "
                "AND click_time <= view_time + INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    # the view buffer could only be evicted once the CLICK watermark
    # passed view_time + interval — and run 1 delivered zero clicks, so
    # the click watermark never moved and every view survived into run 2:
    # the restarted query must emit the COMPLETE batch join result
    assert got == expected
    assert expected, "fixture produced no attributable pairs"


# ------------------------------------------- SCD2 late policy + metrics


def test_progress_summary_mechanics():
    """streaming/progress.py: the summary must flatten a
    StreamingQueryProgress-shaped dict (per-operator state rows,
    memory, drop counters summed; watermark lifted) and tolerate the
    no-batch-yet None."""
    from pulsar_sync_java_spark.streaming.progress import progress_summary

    p = {
        "batchId": 7,
        "numInputRows": 1000,
        "eventTime": {"watermark": "1970-01-01T00:59:50.000Z"},
        "stateOperators": [
            {
                "operatorName": "symmetricHashJoin",
                "numRowsTotal": 40,
                "numRowsUpdated": 4,
                "memoryUsedBytes": 4096,
                "numRowsDroppedByWatermark": 3,
            },
            {
                "operatorName": "dedupe",
                "numRowsTotal": 10,
                "numRowsUpdated": 1,
                "memoryUsedBytes": 1024,
                "numRowsDroppedByWatermark": 2,
            },
        ],
    }
    s = progress_summary(p)
    assert s["batch_id"] == 7 and s["num_input_rows"] == 1000
    assert s["state_rows_total"] == 50
    assert s["state_memory_bytes"] == 5120
    assert s["dropped_by_watermark"] == 5
    assert s["watermark"] == "1970-01-01T00:59:50.000Z"
    assert [o["operator"] for o in s["operators"]] == [
        "symmetricHashJoin", "dedupe",
    ]
    empty = progress_summary(None)
    assert empty["batch_id"] is None and empty["dropped_by_watermark"] == 0


def test_progress_live_readout_and_input_accounting(spark, tmp_path):
    """Live smoke over a watermarked aggregate: the summary surfaces
    real state rows + an advancing watermark, and — the module's
    documented loss-certifying check, since this Spark build does NOT
    increment numRowsDroppedByWatermark for the aggregate's
    pre-aggregate late filter (caveat pinned HERE) — summed
    num_input_rows accounts for the late row that the emitted windows
    silently lack."""
    import glob
    import os
    import shutil

    from pulsar_sync_java_spark.streaming.progress import (
        drops_by_watermark,
        progress_summary,
    )

    b0 = spark.createDataFrame(
        [(1, 1000), (2, 2000), (3, 3600)], "event_id long, ts_s long"
    )
    # watermark after b0 = 3600 - 10s; ts 100 (window [60,120), far
    # below it) is silently excluded from the output
    b1 = spark.createDataFrame(
        [(4, 100), (5, 3700)], "event_id long, ts_s long"
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, b in enumerate([b0, b1]):
        staged = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(staged)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
    stream = (
        spark.readStream.schema("event_id long, ts_s long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(F.timestamp_seconds(F.col("ts_s")).alias("et"), "event_id")
        .withWatermark("et", "10 seconds")
        .groupBy(F.window("et", "1 minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    summaries = [progress_summary(p) for p in q.recentProgress]
    fed = sum(s["num_input_rows"] for s in summaries)
    assert fed == 5
    emitted = spark.sql("SELECT SUM(n) FROM wm_probe").collect()[0][0]
    # 4 on-time rows reach windows; the late row vanished from output —
    # visible ONLY through input-vs-output accounting on this build:
    assert emitted == 4
    assert drops_by_watermark(q) == 0  # pinned: aggregate drops are untracked
    assert any(
        s["watermark"] and s["watermark"] > "1970-01-01T00:00:01" for s in summaries
    )
    assert max(s["state_rows_total"] for s in summaries) >= 1


def test_cumulative_drop_counter_dedups_batches():
    """CumulativeDropCounter must survive overlapping recentProgress
    polls: re-fed batches count once, new batches accumulate — the
    lifetime total the capped recentProgress buffer cannot provide."""
    from pulsar_sync_java_spark.streaming.progress import (
        CumulativeDropCounter,
    )

    def prog(bid, dropped):
        return {
            "batchId": bid,
            "numInputRows": 10,
            "stateOperators": [
                {"operatorName": "x", "numRowsDroppedByWatermark": dropped}
            ],
            "eventTime": {},
        }

    c = CumulativeDropCounter()
    assert c.feed(prog(0, 3)) == 3
    assert c.feed(prog(1, 2)) == 5
    # overlapping poll re-delivers batches 0-1 plus new batch 2
    for p in [prog(0, 3), prog(1, 2), prog(2, 4)]:
        c.feed(p)
    assert c.total == 9
    assert c.feed(None) == 9  # pre-first-batch poll is a no-op

    # checkpoint wipe / restart: batch ids restart at 0 under a NEW
    # runId — those are different batches and must count again, not be
    # dedup-skipped (r8 ADVICE: key on (run_id, batch_id))
    def prog2(bid, dropped):
        p = prog(bid, dropped)
        p["runId"] = "run-2"
        return p

    assert c.feed(prog2(0, 7)) == 16
    assert c.feed(prog2(0, 7)) == 16  # re-poll of the new run dedups
    # memory stays bounded: contiguous batch ids collapse into the
    # per-run high-water mark, leaving no residue
    assert all(len(residue) == 0 for _, residue in c._runs.values())


def test_cumulative_drop_counter_mid_run_attach_stays_bounded():
    """r9 ADVICE: a counter first fed MID-RUN (batch 0 aged out of the
    capped recentProgress before monitoring attached) must anchor its
    high-water mark at the first batch id it sees — otherwise the gap
    below the attach point never fills, the mark stays at -1, and every
    subsequent batch id is retained in the residue forever, violating
    the documented O(runs + reorder window) bound in exactly the
    retention-cap scenario the class exists for."""
    from pulsar_sync_java_spark.streaming.progress import (
        CumulativeDropCounter,
    )

    def prog(bid, dropped):
        return {
            "batchId": bid,
            "numInputRows": 10,
            "stateOperators": [
                {"operatorName": "x", "numRowsDroppedByWatermark": dropped}
            ],
            "eventTime": {},
        }

    c = CumulativeDropCounter()
    # attach at batch 500; 0..499 are unobservable (aged out)
    total = 0
    for bid in range(500, 700):
        total += 1
        assert c.feed(prog(bid, 1)) == total
    # contiguous feed from the attach point drains fully into the mark
    assert all(len(residue) == 0 for _, residue in c._runs.values())
    assert all(mark == 699 for mark, _ in c._runs.values())
    # a bounded reorder window still works across the attach boundary
    assert c.feed(prog(701, 1)) == total + 1  # out of order
    assert c.feed(prog(700, 1)) == total + 2  # gap fills
    assert all(len(residue) == 0 for _, residue in c._runs.values())


