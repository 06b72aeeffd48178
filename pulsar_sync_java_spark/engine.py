"""SyncEngine — the reference's user-facing surface (`PulsarSync`),
re-expressed over directory-backed clusters.

Reference API (`PulsarSync.java:37-51`): construct with src/dst
`PulsarConfig` + `SyncConfig`, call `start()`; the object then keeps
catalogs, messages and cursors converging src -> dst.  The engine
equivalent replaces broker endpoints with a *cluster directory*
convention (what a Pulsar connector would bind to at deploy time):

    <cluster>/tenants.parquet        tenant catalog
    <cluster>/namespaces.parquet     (tenant, namespace, policies)
    <cluster>/topics.parquet         (tenant, namespace, topic,
                                      partitions, properties)
    <cluster>/messages/              data plane, MESSAGE_SCHEMA parquet
    <cluster>/subscriptions.parquet  cursors: (topic, partition, cursor,
                                      ts, event_id)

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

Write policy: the reference only ever creates entities, so every
create on dst is an append of the new rows; a converged tick writes
nothing.  The one rewrite is the opt-in cursor advance, which replaces
`subscriptions.parquet`.  A cursor tick translates the src cursors
once, merges them with the dst subscriptions once, and writes
`subscriptions.parquet` at most once: an overwrite when a cursor
advanced (it carries the tick's creates too), else an append of the
created cursors.  Both intermediate results are control-plane small, bounded by
`control_plane_max_rows`, and are held as JVM local relations: their
rows are collected into the driver JVM, never into Python, so later
actions on them start no Python worker.  The DATA plane (replication
stream, mapping plan) never touches the driver.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.plans.catalog_diff import diff_catalogs
from pulsar_sync_java_spark.plans.cursor_translate import sparse_sample, translate
from pulsar_sync_java_spark.sources.tables import ensure_session_confs
from pulsar_sync_java_spark.streaming.replicate import (
    read_message_stream,
    replicate,
)

CURSOR_KEY = ["topic", "partition", "cursor"]
_CATALOGS = ("tenants", "namespaces", "topics")


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
    # Fail-fast ceiling for the two driver-JVM collects of a cursor
    # tick: the translated src cursors and their merge with the dst
    # subscriptions (parquet cannot lazily self-overwrite).  Sane only
    # while cursors are few — the reference holds them in JVM maps
    # (PulsarSync.java:44).  A larger population needs this bound
    # raised here, with a driver sized for the collect.
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
        return self.spark.read.parquet(os.path.join(cluster, f"{name}.parquet"))

    def _append(self, name: str, df: DataFrame) -> int:
        """Append `df` to the dst table `name` and return its row count.
        Nothing is written when there are no rows, so a converged tick
        leaves dst untouched."""
        n = df.count()
        if n:
            df.coalesce(1).write.mode("append").parquet(
                os.path.join(self.dst, f"{name}.parquet")
            )
        return n

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
                "driver-side cursor plane assumes a control-plane-small "
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
        converged pair, and on every re-run after (idempotency)."""
        enabled = {
            "tenants": self.config.auto_update_tenant,
            "namespaces": self.config.auto_update_namespace,
            "topics": self.config.auto_update_topic,
        }
        dst = {name: self._read(self.dst, name) for name in _CATALOGS}
        diff = diff_catalogs(
            *(self._read(self.src, name) for name in _CATALOGS), *dst.values()
        )
        return {
            name: self._append(name, getattr(diff, name).select(*dst[name].columns))
            if enabled[name]
            else 0
            for name in _CATALOGS
        }

    # -- data plane ---------------------------------------------------

    def start_replication(self, available_now: bool = True):
        """The per-partition worker pipeline (R13-R16): src message
        stream -> projection -> dst sink, offsets committed to the
        checkpoint only after the sink write — produce-then-ack.
        Continuous deployments pass available_now=False and a
        processingTime trigger upstream."""
        stream = read_message_stream(self.spark, os.path.join(self.src, "messages"))
        writer = replicate(
            stream,
            os.path.join(self.dst, "messages"),
            os.path.join(self.dst, "_checkpoints", "replication"),
        )
        if available_now:
            return writer.trigger(availableNow=True).start()
        return writer.start()

    def build_mapping(self) -> DataFrame:
        """R17: the sampled MessageId mapping, from the REPLICATED
        messages (a mapping entry must point at a position that exists
        on dst).  One sample per (topic, partition) per interval."""
        msgs = self.spark.read.parquet(os.path.join(self.dst, "messages"))
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
        mapping, evaluated once through the bounded collect and returned
        as a JVM local relation, so one tick scans the replicated
        history once.  A cursor with no floor sample at-or-before it yet
        is skipped this tick (the reference's findMessageId miss; a
        later tick resolves it)."""
        src_subs = self._read(self.src, "subscriptions")
        translated = (
            translate(
                src_subs.select("topic", "partition", "cursor", "ts", "event_id"),
                self.build_mapping(),
                key_cols=["topic", "partition"],
                carry_cols=["cursor"],
            )
            .filter(F.col("translated_id").isNotNull())
            .select(*CURSOR_KEY, "translated_ts", "translated_id")
        )
        return self._collect_control_plane(translated, "translated cursors")[0]

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

        def count(flag: str) -> int:
            # a filter over a local relation is folded into it by the
            # optimizer, and collecting a local relation runs no job
            return local.filter(F.col(flag))._jdf.collectAsList().size()

        n_created, n_advanced = count("created"), count("advanced")
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

    def advance_cursors_once(self, translated: DataFrame | None = None) -> int:
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
        if translated is None:
            translated = self._translated()
        return self._apply_cursors(translated, create=False, advance=True)[1]

    # -- orchestration --------------------------------------------------

    def run_once(self) -> dict[str, int]:
        """One full availableNow convergence pass: catalog tick,
        replication to completion, cursor tick — the test-mode analogue
        of `PulsarSync.start()` (which schedules the same three bodies
        at 3 min / continuous / 10 s).  'cursors' counts CREATES only
        (all-zero dict = converged, idempotent pass); forward moves of
        existing cursors are reported under 'cursors_advanced' when
        `advance_cursors` is enabled.  A replication overrun stops the
        stream and raises before the cursor tick."""
        created = self.sync_catalog_once()
        q = self.start_replication(available_now=True)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("replication did not finish within 600 s")
        created["cursors"] = self.sync_cursors_once()
        if self.config.advance_cursors:
            created["cursors_advanced"] = self.last_advanced
        return created
