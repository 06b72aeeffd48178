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
create on dst is an append of the new rows, written by the executors;
a converged tick writes nothing.  The one rewrite is the opt-in cursor
advance, which replaces `subscriptions.parquet`.  The driver holds only
rows bounded by `control_plane_max_rows`: the translated src cursors,
collected once per tick so creates and advances share one scan of the
replicated history, and the advance's merged subscriptions.  The DATA
plane (replication stream, mapping plan) never touches the driver.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.plans.catalog_diff import diff_catalogs
from pulsar_sync_java_spark.plans.cursor_translate import (
    pending_creates,
    sparse_sample,
    translate,
)
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
    # Fail-fast ceiling for the two driver collects: the translated src
    # cursors and the advance's subscriptions merge (parquet cannot
    # lazily self-overwrite).  Creates append and never pass through
    # the driver.  Sane only while cursors are few — the reference holds
    # them in JVM maps (PulsarSync.java:44).  Beyond this bound use a
    # partitioned merge (sinks.writers.write_partitioned +
    # idempotent_append), not a bigger driver.
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

    def _collect_control_plane(self, df: DataFrame, what: str) -> list:
        """Bounded driver-side collect for the cursor plane.  The
        limit(bound+1) means an over-bound table costs one extra row,
        not an OOM, before the diagnosis."""
        bound = self.config.control_plane_max_rows
        rows = df.limit(bound + 1).collect()
        if len(rows) > bound:
            raise ValueError(
                f"{what} exceeds control_plane_max_rows={bound}: the "
                "driver-side cursor plane assumes a control-plane-small "
                "table (the reference holds cursors in JVM maps — "
                "PulsarSync.java:44). For populations beyond this "
                "bound, switch to a partitioned merge "
                "(sinks.writers.write_partitioned + idempotent_append) "
                "or raise the bound explicitly in SyncEngineConfig."
            )
        return rows

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
        mapping, evaluated once through the bounded driver collect and
        returned as a local relation, so a tick's creates and advance
        share one scan of the replicated history.  A cursor with no floor
        sample at-or-before it yet is skipped this tick (the reference's
        findMessageId miss; a later tick resolves it)."""
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
        rows = self._collect_control_plane(translated, "translated cursors")
        return self.spark.createDataFrame(rows, translated.schema)

    def sync_cursors_once(self) -> int:
        """One `syncCursor` tick (R19-R23): src subscription snapshot ->
        as-of floor translation against the sampled mapping ->
        create-once anti-join -> append creates to dst.  Returns the
        number of cursors CREATED (0 when converged) — advancement of
        existing cursors (`advance_cursors=True`) runs in the same tick
        but is reported separately by `run_once` so the idempotency
        signal stays unambiguous."""
        translated = self._translated()
        creates = pending_creates(
            translated, self._read(self.dst, "subscriptions"), key_cols=CURSOR_KEY
        )
        n = self._append(
            "subscriptions",
            creates.select(
                *CURSOR_KEY,
                F.col("translated_ts").alias("ts"),
                F.col("translated_id").alias("event_id"),
            ),
        )
        self.last_advanced = (
            self.advance_cursors_once(translated)
            if self.config.advance_cursors
            else 0
        )
        return n

    def advance_cursors_once(self, translated: DataFrame | None = None) -> int:
        """Opt-in continuous cursor advancement (SURVEY.md §2 fine
        print): the reference freezes a cursor at its creation position
        — its R23 reset path is skipped whenever dst already has the
        subscription (`PulsarPartitionSyncWorker.java:190-192`), which
        it always does after create.  Here, an existing dst cursor
        moves FORWARD to the newest translated floor position when the
        src cursor has progressed.

        Monotone by construction (`translated_ts > dst.ts` guard): a
        src cursor that moved backward, or a mapping floor behind the
        already-created position, never regresses dst — the
        replay-only safety property is preserved in both directions.
        The engine's only rewrite, through the bounded driver collect.
        """
        if translated is None:
            translated = self._translated()
        dst_subs = self._read(self.dst, "subscriptions")
        moved = (
            translated.alias("t")
            .join(dst_subs.alias("d"), on=CURSOR_KEY, how="inner")
            .filter(F.col("t.translated_ts") > F.col("d.ts"))
            .select(
                *CURSOR_KEY,
                F.col("t.translated_ts").alias("ts"),
                F.col("t.translated_id").alias("event_id"),
            )
        )
        n = moved.count()
        if n:
            kept = dst_subs.join(moved.select(*CURSOR_KEY), CURSOR_KEY, "left_anti")
            merged = kept.unionByName(moved.select(*dst_subs.columns))
            rows = self._collect_control_plane(merged, "subscriptions merge")
            out = self.spark.createDataFrame(rows, merged.schema)
            out.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.dst, "subscriptions.parquet")
            )
        return n

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
