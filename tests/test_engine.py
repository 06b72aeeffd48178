"""End-to-end SyncEngine convergence tests — the reference's own test
strategy (SURVEY.md §5: arrange on src -> run the system -> assert
observable state on dst), with `availableNow` + awaitTermination in
place of dual embedded brokers + Awaitility.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from pulsar_sync_java_spark import engine as engine_module
from pulsar_sync_java_spark.engine import SyncEngine, SyncEngineConfig
from tests.conftest import jobs_of
from tests.test_streaming import build_messages


def _write_catalog(spark, cluster: str, tenants, namespaces, topics, subs):
    spark.createDataFrame(tenants, "tenant string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(cluster, "tenants.parquet"))
    spark.createDataFrame(
        namespaces, "tenant string, namespace string, policies string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(cluster, "namespaces.parquet")
    )
    spark.createDataFrame(
        topics,
        "tenant string, namespace string, topic string, partitions int, "
        "properties map<string,string>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(cluster, "topics.parquet")
    )
    spark.createDataFrame(
        subs, "topic string, partition int, cursor string, ts timestamp, event_id long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(cluster, "subscriptions.parquet")
    )


@pytest.fixture(scope="module")
def clusters(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("clusters")
    src, dst = str(root / "src"), str(root / "dst")

    msgs = build_messages(spark)
    msgs.repartition(2).write.mode("overwrite").parquet(
        os.path.join(src, "messages")
    )
    # src subscriptions: one cursor per topic at that topic's latest
    # partition-0 event (renamed: the engine's subscription schema uses
    # ts/event_id like the mapping)
    latest = (
        msgs.filter(F.col("partition") == 0)
        .groupBy("topic")
        .agg(
            F.max_by(
                F.struct(
                    F.col("event_time").alias("ts"),
                    F.col("entry_id").alias("event_id"),
                ),
                F.struct("event_time", "entry_id"),
            ).alias("s")
        )
        .select(
            "topic", F.lit(0).alias("partition"), F.lit("sub-a").alias("cursor"),
            F.col("s.ts").alias("ts"), F.col("s.event_id").alias("event_id"),
        )
    )
    topics = [
        (r.topic,) for r in msgs.select("topic").distinct().collect()
    ]
    _write_catalog(
        spark,
        src,
        [("public",), ("analytics",)],
        [("public", "default", '{"retention": "1h"}'), ("analytics", "raw", "{}")],
        [("public", "default", t, 4, {"owner": "sync"}) for (t,) in topics],
        [
            (r.topic, r.partition, r.cursor, r.ts, r.event_id)
            for r in latest.collect()
        ],
    )
    # dst: partially-populated catalogs (one tenant already there, one
    # that src lacks), empty messages/subscriptions
    _write_catalog(spark, dst, [("public",), ("dst-only",)], [], [], [])
    os.makedirs(os.path.join(dst, "messages"), exist_ok=True)
    return src, dst


@pytest.mark.slow
def test_engine_converges_and_is_idempotent(spark, clusters):
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig())

    created = engine.run_once()
    # catalog convergence: dst ⊇ src at every level, additive only
    for name in ("tenants", "namespaces", "topics"):
        s = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
        d = spark.read.parquet(os.path.join(dst, f"{name}.parquet"))
        assert s.join(d, s.columns[:2], "left_anti").count() == 0, name
    assert created["tenants"] == 1  # 'analytics' was missing
    assert created["namespaces"] == 2 and created["topics"] > 0
    # additive only: the dst-only tenant survives, nothing is duplicated
    tenants = os.path.join(dst, "tenants.parquet")
    want_tenants = ["analytics", "dst-only", "public"]
    assert sorted(r.tenant for r in spark.read.parquet(tenants).collect()) == want_tenants

    # message convergence: every src message replicated, none duplicated
    src_msgs = spark.read.parquet(os.path.join(src, "messages"))
    dst_msgs = spark.read.parquet(os.path.join(dst, "messages"))
    assert dst_msgs.count() == src_msgs.count()

    # cursors created at translated (floor) positions: ts <= src ts
    subs = spark.read.parquet(os.path.join(dst, "subscriptions.parquet"))
    src_subs = spark.read.parquet(os.path.join(src, "subscriptions.parquet"))
    assert created["cursors"] == subs.count() > 0
    j = subs.alias("d").join(
        src_subs.alias("s"), ["topic", "partition", "cursor"], "inner"
    )
    assert j.count() == subs.count()
    assert j.filter(F.col("d.ts") > F.col("s.ts")).count() == 0  # replay-only

    # second pass: fully idempotent — zero creates everywhere, no
    # message duplication (checkpoint: committed offsets not replayed)
    created2 = engine.run_once()
    assert created2 == {"tenants": 0, "namespaces": 0, "topics": 0, "cursors": 0}
    assert (
        spark.read.parquet(os.path.join(dst, "messages")).count()
        == src_msgs.count()
    )
    assert sorted(r.tenant for r in spark.read.parquet(tenants).collect()) == want_tenants


def _files_under(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.mark.slow
def test_idle_tick_writes_nothing(spark, clusters):
    """Every create is an append, so a tick on a converged pair writes
    no file under any dst catalog or subscription directory — the
    catalogs are not rewritten just to stay the same."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig(advance_cursors=True))
    engine.run_once()  # converged baseline
    dirs = [
        os.path.join(dst, f"{name}.parquet")
        for name in ("tenants", "namespaces", "topics", "subscriptions")
    ]
    before = {d: _files_under(d) for d in dirs}
    assert engine.run_once() == {
        "tenants": 0, "namespaces": 0, "topics": 0, "cursors": 0,
        "cursors_advanced": 0,
    }
    assert {d: _files_under(d) for d in dirs} == before


def test_run_once_fails_on_replication_overrun(spark, tmp_path):
    """A replication run that outlives its timeout is stopped and
    raises; the cursor tick never translates against a partially
    replicated history."""

    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout=None):  # noqa: N802 - pyspark API name
            return False

        def stop(self):
            self.stopped = True

    engine = SyncEngine(spark, str(tmp_path / "src"), str(tmp_path / "dst"))
    q = StuckQuery()
    engine.sync_catalog_once = lambda: {}
    engine.start_replication = lambda: q
    engine.sync_cursors_once = lambda: pytest.fail("cursor tick ran after an overrun")
    with pytest.raises(TimeoutError, match="replication did not finish"):
        engine.run_once()
    assert q.stopped


@pytest.mark.slow
def test_idle_ticks_run_few_jobs(spark, clusters):
    """Reads with declared schemas run no inference job, an idle catalog
    tick collects the missing rows of all three levels in one job (plus
    the broadcast builds of its anti-joins), and a cursor tick collects
    once, so neither plane pays for scheduling work it does not do."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig(advance_cursors=True))
    engine.run_once()  # converged baseline
    assert jobs_of(spark, engine.sync_catalog_once) <= 4
    assert jobs_of(spark, engine.sync_cursors_once) <= 5


def test_catalog_tick_with_creates_runs_few_jobs(spark, tmp_path):
    """A catalog tick that creates at all three levels runs each
    anti-join once: the one collect of the missing rows (with the
    broadcast builds of its anti-joins) and one append per level, so
    no append re-plans its level's anti-join."""
    src, dst = _tiny_pair(spark, str(tmp_path))
    engine = SyncEngine(spark, src, dst)
    created = {}
    jobs = jobs_of(spark, lambda: created.update(engine.sync_catalog_once()))
    assert created == {"tenants": 1, "namespaces": 2, "topics": 1}
    assert jobs <= 4 + 3
    assert engine.sync_catalog_once() == {"tenants": 0, "namespaces": 0, "topics": 0}


def test_catalog_diff_is_bounded(spark, tmp_path):
    """The catalog tick's collect of the missing rows fails fast past
    control_plane_max_rows, naming the remedy, and writes nothing."""
    src, dst = _tiny_pair(spark, str(tmp_path))  # 4 missing rows
    engine = SyncEngine(spark, src, dst, SyncEngineConfig(control_plane_max_rows=2))
    before = _files_under(dst)
    with pytest.raises(ValueError, match="catalog diff exceeds control_plane_max_rows=2"):
        engine.sync_catalog_once()
    assert _files_under(dst) == before


class _StillRunning:
    """A real replication run that is still running when the catalog
    tick fails: its wait returns only once it has been stopped, however
    fast the stream itself finishes."""

    def __init__(self, query) -> None:
        self._query, self._stopped = query, threading.Event()

    def awaitTermination(self, timeout=None):  # noqa: N802 - pyspark API name
        self._stopped.wait(timeout)
        return self._query.awaitTermination(timeout)

    def stop(self):
        self._query.stop()
        self._stopped.set()


def test_run_once_stops_stream_when_catalog_tick_raises(spark, clusters):
    """The catalog tick runs while the replication stream copies the
    delta; if it raises, the stream is stopped and the error re-raised,
    so no query outlives `run_once`."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst)
    order, queries = [], []
    start_replication = engine.start_replication

    def recording_start():
        order.append("replication")
        queries.append(start_replication())
        return _StillRunning(queries[-1])

    def failing_catalog():
        order.append("catalog")
        raise RuntimeError("catalog tick failed")

    engine.start_replication = recording_start
    engine.sync_catalog_once = failing_catalog
    engine.sync_cursors_once = lambda: pytest.fail("cursor tick ran after a failure")
    with pytest.raises(RuntimeError, match="catalog tick failed"):
        engine.run_once()
    assert order == ["replication", "catalog"]
    assert not queries[0].isActive
    assert spark.streams.active == []


class _FinishedQuery:
    """A replication run that has already finished; `stopped` is set
    once it is stopped."""

    def __init__(self) -> None:
        self.stopped = threading.Event()

    def awaitTermination(self, timeout=None):  # noqa: N802 - pyspark API name
        return True

    def stop(self):
        self.stopped.set()


class _OverrunQuery(_FinishedQuery):
    """A replication run whose wait reports an overrun."""

    def awaitTermination(self, timeout=None):  # noqa: N802 - pyspark API name
        return False


_NO_CATALOG_CREATES = {"tenants": 0, "namespaces": 0, "topics": 0}


def _stub_ticks(engine, catalog, cursors, query=None):
    """Replace the engine's two ticks (and, given `query`, its stream)
    with test doubles."""
    engine.sync_catalog_once = catalog
    engine.sync_cursors_once = cursors
    if query is not None:
        engine.start_replication = lambda: query


def test_run_once_overlaps_catalog_and_cursor_ticks(spark, tmp_path):
    """The catalog tick runs beside the cursor tick: a catalog tick that
    waits for the cursor tick to start sees it start."""
    engine = SyncEngine(spark, str(tmp_path / "src"), str(tmp_path / "dst"))
    cursor_started, seen = threading.Event(), []

    def catalog():
        seen.append(cursor_started.wait(30))
        return dict(_NO_CATALOG_CREATES)

    def cursors():
        cursor_started.set()
        return 0

    _stub_ticks(engine, catalog, cursors, _FinishedQuery())
    assert engine.run_once() == {**_NO_CATALOG_CREATES, "cursors": 0}
    assert seen == [True], "the catalog tick timed out waiting for the cursor tick"


def test_catalog_failure_during_cursor_tick_raises_after_it(spark, tmp_path):
    """The planes are independent: a catalog tick that fails while the
    cursor tick runs does not cut the cursor tick short; its error is
    re-raised once the cursor tick has finished."""
    engine = SyncEngine(spark, str(tmp_path / "src"), str(tmp_path / "dst"))
    cursor_started, catalog_failed, order = threading.Event(), threading.Event(), []

    def catalog():
        cursor_started.wait(30)
        order.append("catalog failed")
        catalog_failed.set()
        raise RuntimeError("catalog tick failed")

    def cursors():
        cursor_started.set()
        catalog_failed.wait(30)
        order.append("cursor tick finished")
        return 0

    _stub_ticks(engine, catalog, cursors, _FinishedQuery())
    with pytest.raises(RuntimeError, match="catalog tick failed"):
        engine.run_once()
    assert order == ["catalog failed", "cursor tick finished"]


class _Overrun:
    """A real replication run whose wait reports an overrun."""

    def __init__(self, query, waited: threading.Event) -> None:
        self._query, self._waited = query, waited

    def awaitTermination(self, timeout=None):  # noqa: N802 - pyspark API name
        self._query.awaitTermination(timeout)
        self._waited.set()
        return False

    def stop(self):
        self._query.stop()


@pytest.mark.parametrize(
    "path",
    ["converges", "catalog_raises", "catalog_raises_late", "cursor_raises", "overrun"],
)
def test_run_once_leaves_no_thread_or_stream(spark, request, tmp_path, path):
    """On every path `run_once` takes, normal or raising, the thread
    that ran the catalog tick has ended and no stream is active when it
    returns.  The catalog tick outlasts the stream wait on every path
    but the early failure, so joining it is what is tested.  Only the
    two paths that stop the stream run a real one; the others run on a
    finished stand-in."""
    real_stream = path in ("catalog_raises", "overrun")
    if real_stream:
        src, dst = request.getfixturevalue("clusters")
    else:
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    engine = SyncEngine(spark, src, dst)
    stream_waited, catalog_threads = threading.Event(), []

    def catalog():
        catalog_threads.append(threading.current_thread())
        if path == "catalog_raises":
            raise RuntimeError("catalog tick failed")
        stream_waited.wait(30)
        time.sleep(0.5)
        if path == "catalog_raises_late":
            raise RuntimeError("catalog tick failed")
        return dict(_NO_CATALOG_CREATES)

    def cursors():
        stream_waited.set()
        if path == "cursor_raises":
            raise RuntimeError("cursor tick failed")
        return 0

    _stub_ticks(engine, catalog, cursors, None if real_stream else _FinishedQuery())
    if path == "overrun":
        start_replication = engine.start_replication
        engine.start_replication = lambda: _Overrun(start_replication(), stream_waited)
    before = set(threading.enumerate())
    want = {
        "converges": None,
        "catalog_raises": "catalog tick failed",
        "catalog_raises_late": "catalog tick failed",
        "cursor_raises": "cursor tick failed",
        "overrun": "replication did not finish",
    }[path]
    if want is None:
        assert engine.run_once() == {**_NO_CATALOG_CREATES, "cursors": 0}
    else:
        with pytest.raises((RuntimeError, TimeoutError), match=want):
            engine.run_once()
    assert len(catalog_threads) == 1
    assert not catalog_threads[0].is_alive()
    assert set(threading.enumerate()) <= before
    assert spark.streams.active == []



@pytest.mark.parametrize("path", ["cursor_raises", "overrun"])
def test_catalog_error_is_chained_to_a_calling_thread_error(spark, tmp_path, path):
    """A catalog tick that fails after the calling thread has failed is
    not dropped: the calling thread's error propagates with the catalog
    error as its cause."""
    engine = SyncEngine(spark, str(tmp_path / "src"), str(tmp_path / "dst"))
    query = _OverrunQuery() if path == "overrun" else _FinishedQuery()
    cursor_failed = threading.Event()

    def catalog():
        # the overrun stops the stream before it raises
        (query.stopped if path == "overrun" else cursor_failed).wait(30)
        raise RuntimeError("catalog tick failed")

    def cursors():
        cursor_failed.set()
        raise RuntimeError("cursor tick failed")

    _stub_ticks(engine, catalog, cursors, query)
    want = {"cursor_raises": "cursor tick failed", "overrun": "replication did not finish"}
    with pytest.raises((RuntimeError, TimeoutError), match=want[path]) as raised:
        engine.run_once()
    assert isinstance(raised.value.__cause__, RuntimeError)
    assert str(raised.value.__cause__) == "catalog tick failed"


def test_run_once_stops_stream_when_setup_raises(spark, tmp_path, monkeypatch):
    """Nothing that raises between the stream's start and its wait
    leaves the stream running: here the catalog thread cannot start."""

    class _NoThread(ThreadPoolExecutor):
        def submit(self, *args, **kwargs):
            raise RuntimeError("cannot start the catalog thread")

    monkeypatch.setattr(engine_module, "ThreadPoolExecutor", _NoThread)
    engine = SyncEngine(spark, str(tmp_path / "src"), str(tmp_path / "dst"))
    query = _FinishedQuery()
    _stub_ticks(
        engine,
        lambda: pytest.fail("catalog tick ran"),
        lambda: pytest.fail("cursor tick ran"),
        query,
    )
    with pytest.raises(RuntimeError, match="cannot start the catalog thread"):
        engine.run_once()
    assert query.stopped.is_set()


def test_run_once_without_pinned_threads(spark, tmp_path, monkeypatch):
    """With pinned threads off, pyspark's `inheritable_thread_target`
    returns the session it is given instead of a wrapper factory; the
    catalog tick then runs as it is."""
    monkeypatch.setattr(engine_module, "inheritable_thread_target", lambda f=None: f)
    engine = SyncEngine(spark, str(tmp_path / "src"), str(tmp_path / "dst"))
    _stub_ticks(engine, lambda: dict(_NO_CATALOG_CREATES), lambda: 0, _FinishedQuery())
    assert engine.run_once() == {**_NO_CATALOG_CREATES, "cursors": 0}

def _tiny_pair(spark, root: str):
    src, dst = os.path.join(root, "src"), os.path.join(root, "dst")
    _write_catalog(
        spark,
        src,
        [("public",), ("analytics",)],
        [("public", "default", "{}"), ("analytics", "raw", "{}")],
        [("public", "default", "view", 2, {"owner": "sync"})],
        [],
    )
    _write_catalog(spark, dst, [("public",)], [], [], [])
    return src, dst


@pytest.mark.parametrize("drift", ["null_key", "missing_key_column"])
def test_null_catalog_key_raises_before_any_write(spark, tmp_path, drift):
    """A src catalog row with a NULL key never matches dst in the
    anti-join, so it would be appended again on every tick; a src table
    without a key column reads as all-NULL keys under the declared
    schema.  Either way the tick raises, naming the level and the row
    count, and writes nothing."""
    src, dst = _tiny_pair(spark, str(tmp_path))
    path = os.path.join(src, "namespaces.parquet")
    if drift == "null_key":
        rows = [("public", "default", "{}"), (None, "orphan", "{}")]
        schema = "tenant string, namespace string, policies string"
        want = "namespaces: 1 row"
    else:
        rows = [("default", "{}"), ("raw", "{}"), ("extra", "{}")]
        schema = "namespace string, policies string"
        want = "namespaces: 3 row"
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)
    before = _files_under(dst)
    with pytest.raises(ValueError, match=want):
        SyncEngine(spark, src, dst).sync_catalog_once()
    assert _files_under(dst) == before


def test_src_column_of_wrong_type_raises(spark, tmp_path):
    """A src catalog column whose type drifted from the declared schema
    fails the tick at read time instead of being re-inferred and
    copied to dst under the drifted type."""
    src, dst = _tiny_pair(spark, str(tmp_path))
    spark.createDataFrame([(1,), (2,)], "tenant int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "tenants.parquet"))
    # an empty dst level: an inferred read would copy both rows as ints
    spark.createDataFrame([], "tenant string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(dst, "tenants.parquet"))
    before = _files_under(dst)
    with pytest.raises(Exception, match=r"PARQUET_COLUMN_DATA_TYPE_MISMATCH.*\[tenant\]"):
        SyncEngine(spark, src, dst).sync_catalog_once()
    assert _files_under(dst) == before


@pytest.mark.slow
def test_engine_picks_up_new_src_entities(spark, clusters):
    """The reference's rescan loop: entities created on src AFTER the
    first sync appear on dst on the next tick (additive, exactly-once)."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig())
    engine.sync_catalog_once()

    tenants_path = os.path.join(src, "tenants.parquet")
    existing = spark.read.parquet(tenants_path).collect()
    spark.createDataFrame(
        existing + [("late-tenant",)], "tenant string"
    ).coalesce(1).write.mode("overwrite").parquet(tenants_path)

    created = engine.sync_catalog_once()
    assert created["tenants"] == 1
    d = spark.read.parquet(os.path.join(dst, "tenants.parquet"))
    assert d.filter(F.col("tenant") == "late-tenant").count() == 1
    # and once more: converged again
    assert engine.sync_catalog_once()["tenants"] == 0


@pytest.mark.slow
def test_deleted_dst_subscription_recreated_at_translated_position(
    spark, clusters
):
    """The one LIVE branch of the reference's R23 reset path
    (`PulsarPartitionSyncWorker.java:177-208`: reset only runs when the
    src position changed AND dst LACKS the subscription — i.e. after an
    external deletion on dst): if a dst subscription disappears between
    ticks, the next cursor tick must re-create it at the floor
    translation of the CURRENT src position, replay-only."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig())
    engine.run_once()  # converged baseline
    assert engine.sync_cursors_once() == 0  # create-once: nothing to do

    sub_path = os.path.join(dst, "subscriptions.parquet")
    before = spark.read.parquet(sub_path).collect()
    assert len(before) > 1
    victim = min(
        (r.topic, r.partition, r.cursor) for r in before
    )  # deterministic pick
    survivors = [r for r in before if (r.topic, r.partition, r.cursor) != victim]
    spark.createDataFrame(
        survivors, spark.read.parquet(sub_path).schema
    ).coalesce(1).write.mode("overwrite").parquet(sub_path)

    # external deletion observed -> exactly one re-create
    assert engine.sync_cursors_once() == 1
    after = {
        (r.topic, r.partition, r.cursor): (r.ts, r.event_id)
        for r in spark.read.parquet(sub_path).collect()
    }
    assert set(after) == {(r.topic, r.partition, r.cursor) for r in before}
    # re-created at the translated position: a floor (<=) of the src
    # cursor, and an actual sampled mapping entry
    src_ts = {
        (r.topic, r.partition, r.cursor): r.ts
        for r in spark.read.parquet(
            os.path.join(src, "subscriptions.parquet")
        ).collect()
    }
    assert after[victim][0] <= src_ts[victim]
    mapping = {
        (r.topic, r.partition, r.ts, r.event_id)
        for r in engine.build_mapping().collect()
    }
    assert (victim[0], victim[1], after[victim][0], after[victim][1]) in mapping
    # and the tick after that is a no-op again
    assert engine.sync_cursors_once() == 0


def test_control_plane_write_back_is_bounded(spark, clusters):
    """The cursor plane's driver collect (one translated row per src
    cursor) fails fast past control_plane_max_rows with a pointer at the
    remedy, instead of collecting an unbounded table onto the driver."""
    src, dst = clusters
    engine = SyncEngine(
        spark, src, dst, SyncEngineConfig(control_plane_max_rows=2)
    )
    # translation samples the replicated history (a no-op once the
    # module's clusters have converged)
    engine.start_replication().awaitTermination(600)
    with pytest.raises(ValueError, match="control_plane_max_rows") as e:
        engine.sync_cursors_once()
    # the bound names the remedy, not just the failure
    assert "raise control_plane_max_rows in SyncEngineConfig" in str(e.value)


@pytest.mark.slow
def test_cursor_advancement_opt_in(spark, clusters):
    """Opt-in improvement over the reference's frozen cursors: when new
    messages arrive and the src cursor progresses, the dst cursor
    follows forward — never backward, never past the src position
    (replay-only in both directions)."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig(advance_cursors=True))
    engine.run_once()  # ensure created + converged

    # produce NEW src messages two hours later, replicate them (the
    # checkpoint picks up only the new files), extending the mapping
    msgs_path = os.path.join(src, "messages")
    msgs = spark.read.parquet(msgs_path)
    newer = msgs.withColumn(
        "event_time", F.col("event_time") + F.expr("INTERVAL 2 HOURS")
    ).withColumn("entry_id", F.col("entry_id") + F.lit(1_000_000))
    newer.write.mode("append").parquet(msgs_path)
    engine.start_replication().awaitTermination(600)

    # src cursors jump to each partition's new latest message
    sub_path = os.path.join(src, "subscriptions.parquet")
    src_subs = spark.read.parquet(sub_path).collect()
    newest = (
        spark.read.parquet(msgs_path)
        .groupBy("topic", "partition")
        .agg(
            F.max_by(
                F.struct(
                    F.col("event_time").alias("ts"),
                    F.col("entry_id").alias("event_id"),
                ),
                F.struct("event_time", "entry_id"),
            ).alias("s")
        )
        .collect()
    )
    latest = {(r.topic, r.partition): r.s for r in newest}
    moved = [
        (r.topic, r.partition, r.cursor,
         latest[(r.topic, r.partition)].ts, latest[(r.topic, r.partition)].event_id)
        for r in src_subs
    ]
    spark.createDataFrame(
        moved, "topic string, partition int, cursor string, ts timestamp, event_id long"
    ).coalesce(1).write.mode("overwrite").parquet(sub_path)

    before = {
        (r.topic, r.partition, r.cursor): r.ts
        for r in spark.read.parquet(os.path.join(dst, "subscriptions.parquet")).collect()
    }
    n = engine.advance_cursors_once()
    after_rows = spark.read.parquet(os.path.join(dst, "subscriptions.parquet")).collect()
    after = {(r.topic, r.partition, r.cursor): r.ts for r in after_rows}
    assert n > 0
    assert set(after) == set(before)  # advancement never creates/drops
    src_ts = {(t, p, c): ts for (t, p, c, ts, _) in moved}
    moved_forward = 0
    for k, ts in after.items():
        assert ts >= before[k]          # monotone forward
        assert ts <= src_ts[k]          # floor: never past the true position
        moved_forward += ts > before[k]
    assert moved_forward == n
    # converged: a second pass moves nothing
    assert engine.advance_cursors_once() == 0


def _assert_jvm_local(df) -> None:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan, plan


def test_cursor_tick_results_stay_jvm_local(spark, clusters):
    """A cursor tick collects once: the subscriptions merge, with the
    translation built lazily inside it.  The merge is held as a JVM
    local relation, not as a `createDataFrame` over collected Python
    rows (a Python-RDD scan, so each later action on it would start a
    Python worker to unpickle the rows)."""
    src, dst = clusters
    engine = SyncEngine(spark, src, dst, SyncEngineConfig(advance_cursors=True))
    engine.start_replication().awaitTermination(600)
    collect, collected = engine._collect_control_plane, []

    def checked_collect(df, what):
        local, n = collect(df, what)
        _assert_jvm_local(local)
        collected.append(what)
        return local, n

    engine._collect_control_plane = checked_collect
    engine.sync_cursors_once()
    assert collected == ["subscriptions merge"]


def _data_files(path: str) -> dict[str, tuple[int, int]]:
    return {
        name: stat
        for name, stat in _files_under(path).items()
        if os.path.basename(name).startswith("part-")
    }


@pytest.mark.slow
def test_one_tick_creates_and_advances_with_one_write(spark, clusters, monkeypatch):
    """A tick that both creates and advances merges once and writes
    `subscriptions.parquet` once, by one overwrite; without
    `advance_cursors` the same kind of tick only appends its creates and
    leaves the existing rows and files as they were."""
    from pyspark.sql.readwriter import DataFrameWriter

    src, dst = clusters
    SyncEngine(spark, src, dst, SyncEngineConfig()).run_once()  # converged baseline

    # every src partition gets newer messages (a day after all so far),
    # replicated to dst
    msgs_path = os.path.join(src, "messages")
    msgs = spark.read.parquet(msgs_path)
    msgs.withColumn(
        "event_time", F.col("event_time") + F.expr("INTERVAL 1 DAY")
    ).withColumn("entry_id", F.col("entry_id") + F.lit(10_000_000)).write.mode(
        "append"
    ).parquet(msgs_path)
    SyncEngine(spark, src, dst).start_replication().awaitTermination(600)
    head = {
        (r.topic, r.partition): (r.s.ts, r.s.event_id)
        for r in spark.read.parquet(msgs_path)
        .groupBy("topic", "partition")
        .agg(
            F.max_by(
                F.struct(F.col("event_time").alias("ts"), F.col("entry_id").alias("event_id")),
                F.struct("event_time", "entry_id"),
            ).alias("s")
        )
        .collect()
    }

    src_sub_path = os.path.join(src, "subscriptions.parquet")
    dst_sub_path = os.path.join(dst, "subscriptions.parquet")
    sub_schema = "topic string, partition int, cursor string, ts timestamp, event_id long"

    def write_src_cursors(keys):
        rows = [(t, p, c, *head[(t, p)]) for (t, p, c) in keys]
        spark.createDataFrame(rows, sub_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src_sub_path)
        return {(t, p, c): ts for (t, p, c, ts, _) in rows}

    def dst_cursors():
        return {
            (r.topic, r.partition, r.cursor): (r.ts, r.event_id)
            for r in spark.read.parquet(dst_sub_path).collect()
        }

    writes = []
    mode, parquet = DataFrameWriter.mode, DataFrameWriter.parquet

    def recording_mode(self, save_mode):
        self._recorded_mode = save_mode
        return mode(self, save_mode)

    def recording_parquet(self, path, *args, **kwargs):
        writes.append((getattr(self, "_recorded_mode", None), path))
        return parquet(self, path, *args, **kwargs)

    # src cursors move to their partition heads and one cursor is new
    before = dst_cursors()
    (topic, part) = sorted(head)[0]
    src_ts = write_src_cursors([*before, (topic, part, "sub-new")])

    # advance_cursors=False: the new cursor is appended, nothing else moves
    files_before = _data_files(dst_sub_path)
    monkeypatch.setattr(DataFrameWriter, "mode", recording_mode)
    monkeypatch.setattr(DataFrameWriter, "parquet", recording_parquet)
    frozen = SyncEngine(spark, src, dst, SyncEngineConfig())
    assert frozen.sync_cursors_once() == 1
    assert frozen.last_advanced == 0
    assert writes == [("append", dst_sub_path)]
    files_after = _data_files(dst_sub_path)
    assert files_before.items() <= files_after.items()  # untouched
    assert len(files_after) == len(files_before) + 1
    after = dst_cursors()
    assert {k: v for k, v in after.items() if k in before} == before
    assert set(after) == set(before) | {(topic, part, "sub-new")}
    assert after[(topic, part, "sub-new")][0] <= src_ts[(topic, part, "sub-new")]

    # advance_cursors=True: one more new cursor and the pending advances,
    # one tick, one overwrite
    before = after
    (topic, part) = sorted(head)[-1]
    src_ts = write_src_cursors([*before, (topic, part, "sub-newer")])
    writes.clear()
    engine = SyncEngine(spark, src, dst, SyncEngineConfig(advance_cursors=True))
    assert engine.sync_cursors_once() == 1
    assert writes == [("overwrite", dst_sub_path)]
    assert len(_data_files(dst_sub_path)) == 1
    after = dst_cursors()
    assert set(after) == set(before) | {(topic, part, "sub-newer")}
    assert after[(topic, part, "sub-newer")][0] <= src_ts[(topic, part, "sub-newer")]
    for k, (ts, _) in before.items():
        assert before[k][0] <= after[k][0] <= src_ts[k], k
    advanced = sum(after[k][0] > ts for k, (ts, _) in before.items())
    assert engine.last_advanced == advanced > 0
    # converged: the next tick writes nothing
    writes.clear()
    assert engine.sync_cursors_once() == 0 and engine.last_advanced == 0
    assert writes == []


@pytest.mark.slow
def test_cli_main_ticks_and_converges(spark, tmp_path, capsys):
    """`python -m pulsar_sync_java_spark SRC DST --ticks 2` — the
    working CLI the reference's broken `PulsarSyncStarter.main` never
    provided: tick 1 applies the full catalog/cursor diff, tick 2 is
    the all-zero idempotent pass, each reported as one JSON line."""
    import json

    from pulsar_sync_java_spark.__main__ import main

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    msgs = build_messages(spark)
    msgs.repartition(2).write.parquet(os.path.join(src, "messages"))
    _write_catalog(
        spark,
        src,
        [("public",)],
        [("public", "default", "{}")],
        [("public", "default", "view", 2, {"owner": "sync"})],
        [
            (r.topic, r.partition, r.cursor, r.ts, r.event_id)
            for r in msgs.filter(
                (F.col("topic") == "view") & (F.col("partition") == 0)
            )
            .groupBy("topic")
            .agg(
                F.max_by(
                    F.struct(
                        F.col("event_time").alias("ts"),
                        F.col("entry_id").alias("event_id"),
                    ),
                    F.struct("event_time", "entry_id"),
                ).alias("s")
            )
            .select(
                "topic",
                F.lit(0).alias("partition"),
                F.lit("sub-a").alias("cursor"),
                F.col("s.ts").alias("ts"),
                F.col("s.event_id").alias("event_id"),
            )
            .collect()
        ],
    )
    _write_catalog(spark, dst, [], [], [], [])
    os.makedirs(os.path.join(dst, "messages"), exist_ok=True)

    rc = main([src, dst, "--ticks", "2"])
    assert rc == 0
    lines = [
        json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
        if l.startswith("{")
    ]
    assert len(lines) == 2
    t0, t1 = lines
    assert t0["tick"] == 0 and t0["tenants"] == 1 and t0["topics"] == 1
    assert t0["cursors"] == 1
    # second tick: converged — every apply count zero
    assert t1["tick"] == 1
    assert all(v == 0 for k, v in t1.items() if k != "tick"), t1
