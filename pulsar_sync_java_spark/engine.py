"""SyncEngine — the reference's user-facing surface (`PulsarSync`),
re-expressed over directory-backed clusters.

Reference API (`PulsarSync.java:37-51`): construct with src/dst
`PulsarConfig` + `SyncConfig`, call `start()`; the object then keeps
catalogs, messages and cursors converging src -> dst.  The engine
equivalent replaces broker endpoints with a *cluster directory*
convention (what a Pulsar connector would bind to at deploy time).
Every table is read with the schema declared here (`SCHEMAS`; messages
use `MESSAGE_SCHEMA`), never an inferred one:

    <cluster>/tenants.parquet        tenant string
    <cluster>/namespaces.parquet     tenant string, namespace string,
                                     policies string
    <cluster>/topics.parquet         tenant string, namespace string,
                                     topic string, partitions int,
                                     properties map<string,string>
    <cluster>/messages/              MESSAGE_SCHEMA (dst: the file
                                     sink's `_spark_metadata` log decides
                                     which files are read)
    <cluster>/subscriptions.parquet  topic string, partition int,
                                     cursor string, ts timestamp,
                                     event_id long

and the three reference loops become three engine methods:

| reference loop (cadence)                  | engine method            |
|-------------------------------------------|--------------------------|
| catalog managers, 3-min rescan (R25)      | `sync_catalog_once()`    |
| per-partition message workers (R13-R16)   | `start_replication()`    |
| `syncCursor`, 10-s rescan (R19-R23)       | `sync_cursors_once()`    |

Semantics preserved (SURVEY.md §2 fine print): additive-only
convergence, idempotent conflict-tolerant applies, produce-then-ack
at-least-once replication (checkpoint commit), sampled mapping +
floor/as-of cursor translation (replay-only error), create-once
cursors.

Schema drift: a declared schema makes a drifted src table fail loudly
instead of being re-inferred into a different plan.
- A column of the wrong type raises when the column is read (Spark
  refuses to convert, e.g., an `int` column read as `string`).
- A missing key column reads as all-NULL keys, which the catalog tick's
  NULL-key guard rejects (`ValueError`) before anything is written.
- A missing payload column (policies, properties, partitions) reads
  as NULL and is copied as NULL.

Write policy: the reference only ever creates entities, so every
create on dst is an append of the new rows; a converged tick writes
nothing.  A catalog tick collects the missing rows of all three levels
once (a tagged union of the anti-joins) and appends only the non-empty
levels from them.  The one rewrite is the opt-in cursor advance, which
replaces `subscriptions.parquet`.  A cursor tick merges the translated
src cursors with the dst subscriptions in one collect and writes
`subscriptions.parquet` at most once: an overwrite when a cursor
advanced (it carries the tick's creates too), else an append of the
created cursors.  Both collected results are control-plane small,
bounded by `control_plane_max_rows`, and are held as JVM local
relations: their rows are collected into the driver JVM, never into
Python, so later actions on them start no Python worker.  The DATA
plane (replication stream, mapping plan) never touches the driver.

Overlap: like the reference, which runs its catalog managers, its
message workers and `syncCursor` side by side on one scheduled pool
(`PulsarSync.java:44`), `run_once` runs the catalog tick on a second
driver thread for the whole pass: beside the replication stream, and
then beside the cursor tick, which reads no catalog table.  The cursor
tick waits for the stream, because the mapping must point at
replicated rows.  So a pass costs max(catalog, replicate + cursor),
not their sum.  The catalog thread is joined on every path; a catalog
failure stops the stream, and `run_once` re-raises it (see there).
"""

from __future__ import annotations

import operator
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.plans.catalog_diff import (
    NAMESPACE_KEY,
    TENANT_KEY,
    TOPIC_KEY,
    diff_catalogs,
)
from pulsar_sync_java_spark.plans.cursor_translate import sparse_sample, translate
from pulsar_sync_java_spark.sources.tables import ensure_session_confs
from pulsar_sync_java_spark.streaming.replicate import (
    MESSAGE_SCHEMA,
    read_message_stream,
    replicate,
)

CURSOR_KEY = ["topic", "partition", "cursor"]
# Declared read schemas of the cluster directory's tables (see the
# module docstring).
SCHEMAS = {
    "tenants": "tenant string",
    "namespaces": "tenant string, namespace string, policies string",
    "topics": (
        "tenant string, namespace string, topic string, partitions int, "
        "properties map<string,string>"
    ),
    "subscriptions": (
        "topic string, partition int, cursor string, ts timestamp, event_id long"
    ),
}
# catalog levels in create order, with their keys
_CATALOGS = {"tenants": TENANT_KEY, "namespaces": NAMESPACE_KEY, "topics": TOPIC_KEY}


def _local_count(df: DataFrame) -> int:
    """Row count of a filter over a local relation, with no job: the
    optimizer folds the filter into the relation, and collecting a
    local relation runs no job."""
    return df._jdf.collectAsList().size()


def _inheriting(spark: SparkSession, target):
    """`target` as a thread target that carries the calling thread's
    Spark local properties (job group, scheduler pool).  Without
    pinned threads (`PYSPARK_PIN_THREAD=false`) local properties are
    not per Python thread, and pyspark's wrapper factory is the session
    itself, so `target` runs as it is."""
    wrap = inheritable_thread_target(spark)
    return target if wrap is spark else wrap(target)


@dataclass(frozen=True)
class SyncEngineConfig:
    """`SyncConfig.java:29-41` equivalent (`autoUpdatePartition` is
    declared there but never read — SURVEY.md §2 dead surface; partition
    discovery here is inherent to the streaming source)."""

    auto_update_tenant: bool = True
    auto_update_namespace: bool = True
    auto_update_topic: bool = True
    sample_interval: str = "60 seconds"
    # Opt-in improvement over the reference: after creation the
    # reference never moves a cursor again (SURVEY.md §2 fine print —
    # the R23 reset path is dead in practice).  With this flag,
    # `sync_cursors_once` also advances existing dst cursors forward
    # (never backward) as the src cursor progresses.
    advance_cursors: bool = False
    # Fail-fast ceiling for the driver-JVM collects of the control
    # plane: a catalog tick's diff and a cursor tick's merge of the
    # translated src cursors with the dst subscriptions (parquet cannot
    # lazily self-overwrite).  Sane only while both are few — the
    # reference holds them in JVM maps (PulsarSync.java:44).  A larger
    # population, such as a first sync of a big catalog onto an empty
    # dst, needs this bound raised here, with a driver sized for the
    # collect.
    control_plane_max_rows: int = 1_000_000


class SyncEngine:
    """One engine instance per (src cluster, dst cluster) pair."""

    def __init__(
        self,
        spark: SparkSession,
        src_dir: str,
        dst_dir: str,
        config: SyncEngineConfig | None = None,
    ) -> None:
        ensure_session_confs(spark)
        self.spark = spark
        self.src = src_dir.rstrip("/")
        self.dst = dst_dir.rstrip("/")
        self.config = config or SyncEngineConfig()
        # advancement count of the most recent cursor tick (kept off the
        # sync_cursors_once return value so creates-only remains the
        # idempotency signal)
        self.last_advanced = 0

    def _read(self, cluster: str, name: str) -> DataFrame:
        return self.spark.read.schema(SCHEMAS[name]).parquet(
            os.path.join(cluster, f"{name}.parquet")
        )

    def _collect_control_plane(self, df: DataFrame, what: str) -> tuple[DataFrame, int]:
        """Bounded collect of a control-plane-small result into the
        driver JVM, returned as a DataFrame over a `LocalRelation` with
        its row count.  The rows never become Python objects, so later
        actions on the result run no Python worker (a `createDataFrame`
        over collected Python rows would give a Python-RDD scan).  The
        limit(bound+1) means an over-bound table costs one extra row,
        not an OOM, before the diagnosis."""
        bound = self.config.control_plane_max_rows
        jdf = df._jdf
        rows = jdf.limit(bound + 1).collectAsList()
        n = rows.size()
        if n > bound:
            raise ValueError(
                f"{what} exceeds control_plane_max_rows={bound}: the "
                "driver-side control plane assumes a control-plane-small "
                "table (the reference holds cursors in JVM maps — "
                "PulsarSync.java:44). For populations beyond this "
                "bound, raise control_plane_max_rows in SyncEngineConfig "
                "and size the driver for the collect."
            )
        local = self.spark._jsparkSession.createDataFrame(rows, jdf.schema())
        return DataFrame(local, self.spark), n

    # -- catalog plane ------------------------------------------------

    def sync_catalog_once(self) -> dict[str, int]:
        """One control-plane tick (the reference's 3-min rescan body):
        leveled anti-join diff, each level's missing rows appended to
        dst.  Returns the number of creates per level — all zero on a
        converged pair, and on every re-run after (idempotency).

        The missing rows of every enabled level are collected once: a
        union of the level diffs, tagged with the level and a NULL-key
        flag, held as a JVM local relation (`_collect_control_plane`),
        so a diff above `control_plane_max_rows` raises.  The counts
        and the NULL-key check are read from the local rows with no
        job, and each non-empty level is appended from its own rows,
        so the anti-joins run once and a converged tick writes nothing.
        A NULL-key src row never matches in the anti-join and would be
        re-appended on every tick, so any such row raises before
        anything is written."""
        enabled = {
            "tenants": self.config.auto_update_tenant,
            "namespaces": self.config.auto_update_namespace,
            "topics": self.config.auto_update_topic,
        }
        diff = diff_catalogs(
            *(self._read(self.src, name) for name in _CATALOGS),
            *(self._read(self.dst, name) for name in _CATALOGS),
        )
        levels = [name for name in _CATALOGS if enabled[name]]
        created = dict.fromkeys(_CATALOGS, 0)
        if not levels:
            return created
        tagged = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (
                getattr(diff, name).select(
                    "*",
                    F.lit(name).alias("level"),
                    reduce(
                        operator.or_, (F.col(k).isNull() for k in _CATALOGS[name])
                    ).alias("null_key"),
                )
                for name in levels
            ),
        )
        # one partition, so the bounded collect takes it in one job (a
        # take over several partitions runs one job per round)
        local, _ = self._collect_control_plane(tagged.coalesce(1), "catalog diff")

        def rows(name: str) -> DataFrame:
            return local.filter(F.col("level") == name)

        null_keys = {}
        for name in levels:
            created[name] = _local_count(rows(name))
            n_null = _local_count(rows(name).filter(F.col("null_key")))
            if n_null:
                null_keys[name] = n_null
        if null_keys:
            raise ValueError(
                "src catalog rows with a NULL key (they never match dst, so "
                "each tick would append them again): "
                + ", ".join(f"{name}: {n} row(s)" for name, n in null_keys.items())
            )
        # the anti-join keeps the src columns, which are the declared ones
        for name in levels:
            if created[name]:
                rows(name).select(*getattr(diff, name).columns).coalesce(
                    1
                ).write.mode("append").parquet(os.path.join(self.dst, f"{name}.parquet"))
        return created

    # -- data plane ---------------------------------------------------

    def start_replication(self):
        """The per-partition worker pipeline (R13-R16): src message
        stream -> projection -> dst sink, offsets committed to the
        checkpoint only after the sink write — produce-then-ack.  An
        availableNow trigger: the query replicates every message present
        at start, then stops."""
        stream = read_message_stream(self.spark, os.path.join(self.src, "messages"))
        writer = replicate(
            stream,
            os.path.join(self.dst, "messages"),
            os.path.join(self.dst, "_checkpoints", "replication"),
        )
        return writer.trigger(availableNow=True).start()

    def build_mapping(self) -> DataFrame:
        """R17: the sampled MessageId mapping, from the REPLICATED
        messages (a mapping entry must point at a position that exists
        on dst).  One sample per (topic, partition) per interval."""
        msgs = self.spark.read.schema(MESSAGE_SCHEMA).parquet(
            os.path.join(self.dst, "messages")
        )
        return sparse_sample(
            msgs.select(
                "topic",
                "partition",
                F.col("event_time").alias("ts"),
                F.col("entry_id").alias("event_id"),
            ),
            key_cols=["topic", "partition"],
            interval=self.config.sample_interval,
        )

    # -- cursor plane -------------------------------------------------

    def _translated(self) -> DataFrame:
        """R21: every src cursor floor-translated against the sampled
        mapping.  Lazy: `_apply_cursors` evaluates it inside its one
        bounded collect, so one tick scans the replicated history once.
        A cursor with no floor sample at-or-before it yet is skipped
        this tick (the reference's findMessageId miss; a later tick
        resolves it)."""
        src_subs = self._read(self.src, "subscriptions")
        return (
            translate(
                src_subs.select("topic", "partition", "cursor", "ts", "event_id"),
                self.build_mapping(),
                key_cols=["topic", "partition"],
                carry_cols=["cursor"],
            )
            .filter(F.col("translated_id").isNotNull())
            .select(*CURSOR_KEY, "translated_ts", "translated_id")
        )

    def _apply_cursors(
        self, translated: DataFrame, create: bool, advance: bool
    ) -> tuple[int, int]:
        """The one cursor merge rule: a full-outer merge of the
        translated cursors with the dst subscriptions on `CURSOR_KEY`.
        A translated cursor missing on dst is created at its translated
        position (R22, create-once) when `create`; an existing dst
        cursor moves to it when `advance` and only forward
        (`translated_ts > dst.ts`), so neither a src cursor that moved
        backward nor a floor behind the created position regresses dst.
        The merge is collected once and written at most once: an
        overwrite when a cursor advanced, else an append of the created
        rows, else nothing.  Returns (created, advanced)."""
        dst_subs = self._read(self.dst, "subscriptions").select(
            *CURSOR_KEY, "ts", "event_id", F.lit(True).alias("in_dst")
        )
        in_dst = F.col("in_dst").isNotNull()
        created = ~in_dst & F.lit(create)
        advanced = in_dst & F.lit(advance) & (F.col("translated_ts") > F.col("ts"))
        moved = created | advanced
        merged = (
            translated.join(dst_subs, CURSOR_KEY, "full_outer")
            .filter(in_dst | created)
            .select(
                *CURSOR_KEY,
                F.when(moved, F.col("translated_ts")).otherwise(F.col("ts")).alias("ts"),
                F.when(moved, F.col("translated_id"))
                .otherwise(F.col("event_id"))
                .alias("event_id"),
                created.alias("created"),
                advanced.alias("advanced"),
            )
        )
        local, _ = self._collect_control_plane(merged, "subscriptions merge")
        n_created = _local_count(local.filter(F.col("created")))
        n_advanced = _local_count(local.filter(F.col("advanced")))
        if n_advanced or n_created:
            rows = local if n_advanced else local.filter(F.col("created"))
            rows.select(*CURSOR_KEY, "ts", "event_id").coalesce(1).write.mode(
                "overwrite" if n_advanced else "append"
            ).parquet(os.path.join(self.dst, "subscriptions.parquet"))
        return n_created, n_advanced

    def sync_cursors_once(self) -> int:
        """One `syncCursor` tick (R19-R23): src subscription snapshot ->
        as-of floor translation against the sampled mapping ->
        create-once merge with dst.  Returns the number of cursors
        CREATED (0 when converged) — advancement of existing cursors
        (`advance_cursors=True`) is applied by the same merge and write
        but reported separately (`last_advanced`, and `run_once`'s
        'cursors_advanced') so the idempotency signal stays
        unambiguous."""
        n, self.last_advanced = self._apply_cursors(
            self._translated(), create=True, advance=self.config.advance_cursors
        )
        return n

    def advance_cursors_once(self) -> int:
        """Opt-in continuous cursor advancement (SURVEY.md §2 fine
        print): the reference freezes a cursor at its creation position
        — its R23 reset path is skipped whenever dst already has the
        subscription (`PulsarPartitionSyncWorker.java:190-192`), which
        it always does after create.  Here, an existing dst cursor
        moves FORWARD to the newest translated floor position when the
        src cursor has progressed; nothing is created.  Monotone by
        construction (see `_apply_cursors`), so the replay-only safety
        property holds in both directions.  Returns the number of
        cursors advanced."""
        return self._apply_cursors(self._translated(), create=False, advance=True)[1]

    # -- orchestration --------------------------------------------------

    def run_once(self) -> dict[str, int]:
        """One full availableNow convergence pass — the test-mode
        analogue of `PulsarSync.start()` (which schedules the same three
        bodies at 3 min / continuous / 10 s on one shared pool).  The
        replication stream starts first; the catalog tick runs on a
        second driver thread for the whole pass, beside the stream and
        then beside the cursor tick, which reads no catalog table.  The
        cursor tick runs only after the stream finished, so the mapping
        points at replicated rows.  'cursors' counts CREATES only
        (all-zero dict = converged, idempotent pass); forward moves of
        existing cursors are reported under 'cursors_advanced' when
        `advance_cursors` is enabled.

        Failures: the catalog thread is joined on every path, so no
        catalog job and no stream outlives the call.  A catalog tick
        that raises stops the stream; if it raised before the stream
        finished, the cursor tick does not start and the catalog error
        is re-raised, and if it raised while the cursor tick ran, its
        error is re-raised after the cursor tick.  A replication
        overrun stops the stream and raises `TimeoutError` before the
        cursor tick.  Any error on the calling thread (the overrun, a
        stream or cursor-tick error) stops the stream and propagates
        once the catalog thread has been joined, with a catalog error
        of the same pass chained to it as its cause."""
        catalog_failed = threading.Event()

        def catalog_tick() -> dict[str, int]:
            try:
                return self.sync_catalog_once()
            except BaseException:
                # set before the stop, so the stream wait below always
                # sees why a stream stopped by a catalog failure ended
                catalog_failed.set()
                q.stop()
                raise

        # built before the stream starts: the thread inherits the
        # caller's Spark local properties (job group, scheduler pool)
        target = _inheriting(self.spark, catalog_tick)
        q = self.start_replication()
        catalog = None
        try:
            # leaving the block joins the catalog thread, on every path
            with ThreadPoolExecutor(1, thread_name_prefix="sync-catalog-tick") as pool:
                try:
                    catalog = pool.submit(target)
                    finished = q.awaitTermination(600)
                    if not (finished or catalog_failed.is_set()):
                        raise TimeoutError("replication did not finish within 600 s")
                    # after a catalog failure `result` below re-raises it
                    cursors = None if catalog_failed.is_set() else self.sync_cursors_once()
                except BaseException:
                    q.stop()
                    raise
        except BaseException as err:
            # a catalog error of the same pass rides along, not dropped
            lost = catalog.exception() if catalog is not None else None
            if lost is None:
                raise
            raise err from lost
        created = catalog.result()
        created["cursors"] = cursors
        if self.config.advance_cursors:
            created["cursors_advanced"] = self.last_advanced
        return created
