"""Custom stateful streaming operator: the reference's per-partition
sampled MessageId map as TRUE keyed state (`applyInPandasWithState`).

The windowed-aggregate formulation (streaming/replicate.py:
sparse_mapping_stream) covers the common case; this operator reproduces
the reference's *exact* imperative semantics, which a windowed agg
cannot:

- greedy rate-limit sampling: accept a sample iff >= `interval` elapsed
  since the LAST ACCEPTED sample (`PulsarPartitionSyncWorker.java:
  236-239` gates on `System.nanoTime() - lastRecordTime`), not one
  sample per aligned wall-clock bucket;
- put-time head eviction: on every accepted sample, drop live samples
  older than `ttl` before the newest timestamp seen
  (`SparseMap.java:36-53` evicts expired head entries inside put);
- the live-map size is observable per emission (`n_live`) — bounded by
  ttl/interval, the reference's <= 60 entries/partition envelope
  (BASELINE.md).

State per (topic, partition) key is a single struct
(last_sample_ts, live sample array) — bounded, Arrow-serialized once
per micro-batch per key.  At 100 TB scale the state size is
O(keys x ttl/interval), independent of message volume, exactly like the
reference's maps; the empty-map NPE bugs documented in SURVEY.md §2
fine print are structurally impossible (plain Python list handling).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("sample_ts", LongType()),  # epoch micros
        StructField("ledger_id", LongType()),
        StructField("entry_id", LongType()),
        StructField("n_live", IntegerType()),
    ]
)

_SAMPLE = StructType(
    [
        StructField("ts", LongType()),
        StructField("ledger_id", LongType()),
        StructField("entry_id", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("last_sample_ts", LongType()),
        StructField("live", ArrayType(_SAMPLE)),
    ]
)

_US = 1_000_000


def _sampler(interval_s: int, ttl_s: int):
    interval_us, ttl_us = interval_s * _US, ttl_s * _US

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        topic, partition = key
        if state.exists:
            last_ts, live = state.get
            live = [tuple(s) for s in live]
        else:
            last_ts, live = None, []
        out: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["event_time", "ledger_id", "entry_id"])
            ts_us = pdf["event_time"].astype("int64") // 1000  # ns -> us
            for ts, ledger, entry in zip(
                ts_us, pdf["ledger_id"], pdf["entry_id"]
            ):
                ts, ledger, entry = int(ts), int(ledger), int(entry)
                if last_ts is not None and ts - last_ts < interval_us:
                    continue  # rate gate: < interval since last ACCEPTED
                last_ts = ts
                # put-time head eviction (oldest-first, like SparseMap)
                live = [s for s in live if ts - s[0] <= ttl_us]
                live.append((ts, ledger, entry))
                out.append((topic, partition, ts, ledger, entry, len(live)))
        state.update((last_ts, live))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "topic",
                    "partition",
                    "sample_ts",
                    "ledger_id",
                    "entry_id",
                    "n_live",
                ],
            )

    return fn


def stateful_sparse_sampler(
    stream: DataFrame,
    interval_s: int = 60,
    ttl_s: int = 3600,
) -> DataFrame:
    """Keyed stateful sampler over the canonical message stream: emits
    the accepted (topic, partition, sample_ts, ledger, entry) samples
    plus the live-map size after each accept.  `sample_ts` is epoch
    micros (a plain long keeps the Arrow state round-trip exact)."""
    return stream.groupBy("topic", "partition").applyInPandasWithState(
        _sampler(interval_s, ttl_s),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------ grouped UDAF twin

UDAF_OUTPUT_SCHEMA = StructType(
    [
        StructField("group_key", StringType()),
        StructField("n", LongType()),
        StructField("mad", DoubleType()),
    ]
)

UDAF_STATE_SCHEMA = StructType(
    [
        StructField("vals", ArrayType(DoubleType())),
        # micro-batches processed: the observe-mode version tag
        StructField("batches", LongType()),
    ]
)

#: observe=True output: the plain columns + the version tag (n IS the
#: state size for this kernel — the full value list is the state)
UDAF_OBS_SCHEMA = StructType(
    list(UDAF_OUTPUT_SCHEMA.fields) + [StructField("version", LongType())]
)


def _grouped_mad(max_state_values: int, observe: bool = False):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (grp,) = key
        if state.exists:
            prev_vals, batches = state.get
            vals: list[float] = list(prev_vals)
        else:
            vals, batches = [], 0
        got_rows = False
        for pdf in pdfs:
            if len(pdf):
                got_rows = True
                vals.extend(float(v) for v in pdf["value"].values)
        if not got_rows:
            return
        if len(vals) > max_state_values:
            raise ValueError(
                f"stateful_grouped_udaf: group {grp!r} accumulated "
                f"{len(vals)} values > max_state_values={max_state_values} "
                f"— holistic state outgrew its declared bound; raise the "
                f"bound or switch this group to a mergeable sketch"
            )
        batches += 1
        state.update((vals, batches))
        import numpy as np

        arr = np.asarray(vals, dtype="float64")
        med = float(np.median(arr))
        mad = float(np.median(np.abs(arr - med)))
        row = (str(grp), len(vals), mad)
        schema = UDAF_OBS_SCHEMA if observe else UDAF_OUTPUT_SCHEMA
        yield pd.DataFrame(
            [row + (batches,) if observe else row],
            columns=[f.name for f in schema],
        )

    return fn


def stateful_grouped_udaf(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    max_state_values: int = 100_000,
    observe: bool = False,
) -> DataFrame:
    """Streaming twin of q_grouped_udaf's GROUPED_AGG pandas UDF
    (queries/scalar.py:337): per group key, the median absolute
    deviation over the stream PREFIX, re-emitted each micro-batch the
    group receives rows.

    MAD is HOLISTIC — no bounded partial state merges it exactly — so
    this twin keeps the group's full value list as keyed state and
    recomputes per batch: the honest cost of an exact holistic
    aggregate over a stream.  That state is O(values-per-group) and the
    operator says so loudly: crossing ``max_state_values`` raises
    (carrying the remediation) rather than degrading silently.  The
    scale posture for unbounded groups is the mergeable-sketch family
    (approx_percentile in windowed aggs), same division of labor the
    batch query documents for its JVM twin.

    Equivalence: emissions after all input is consumed equal the batch
    UDAF exactly — np.median on the same doubles, invariant to how the
    stream chunked them (asserted vs q_grouped_udaf's mad column in
    tests/test_streaming.py, including across a multi-batch split).

    ``observe=True`` appends a version column (micro-batches processed
    per key) so the emissions double as version-tagged state-size
    metrics — for THIS kernel the published ``n`` IS the state size
    (the full value list is the state), which is exactly the number
    the max_state_values raise above guards; ``udaf_state_metrics``
    maps the observed output onto the shared metrics shape consumed by
    ``state_metrics_summary``, making the approach-to-bound visible
    BEFORE the stream fails."""
    return (
        stream.select(
            F.col(key_col).cast("string").alias("group_key"),
            F.col(value_col).cast("double").alias("value"),
        )
        .groupBy("group_key")
        .applyInPandasWithState(
            _grouped_mad(max_state_values, observe),
            outputStructType=UDAF_OBS_SCHEMA if observe else UDAF_OUTPUT_SCHEMA,
            stateStructType=UDAF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def udaf_state_metrics(obs: DataFrame) -> DataFrame:
    """Map observe-mode stateful_grouped_udaf output onto the shared
    state-metrics shape (key, version, state_values, late_total,
    last_seen_us) for ``state_metrics_summary``.  late_total is 0 (the
    kernel is order-free, nothing quarantines) and last_seen_us is
    null (values carry no event time)."""
    return obs.select(
        F.col("group_key").alias("key"),
        "version",
        F.col("n").cast("long").alias("state_values"),
        F.lit(0).cast("long").alias("late_total"),
        F.lit(None).cast("long").alias("last_seen_us"),
    )


# ---------------------------------------------------------------- funnel

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_view", LongType()),      # epoch micros
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
        StructField("reached", IntegerType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [StructField("stage_ts", ArrayType(LongType()))]
)


def _funnel(stages: tuple[str, ...]):
    if len(stages) != 3:
        raise ValueError(
            "stateful_funnel emits the fixed 3-stage FUNNEL_OUTPUT_SCHEMA; "
            f"got {len(stages)} stages {stages!r}"
        )
    idx = {s: i for i, s in enumerate(stages)}
    n = len(stages)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.exists:
            (stage_ts,) = state.get
            t = [None if v is None else int(v) for v in stage_ts]
        else:
            t = [None] * n
        changed = False
        out: list[tuple] = []
        # ONE sort over the whole micro-batch: a group's rows arrive as
        # multiple Arrow chunks (maxRecordsPerBatch) in shuffle order,
        # so sorting each chunk independently would process events out
        # of time order whenever a group spans chunks — and a click
        # seen before its earlier view is skipped PERMANENTLY (state
        # corruption, not a transient)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = pd.concat(chunks, ignore_index=True) if chunks else None
        if batch is not None:
            batch = batch.sort_values(["event_time", "entry_id"])
            ts_us = batch["event_time"].astype("int64") // 1000
            for ts, stage in zip(ts_us, batch["topic"]):
                s = idx.get(stage)
                if s is None or t[s] is not None:
                    continue
                ts = int(ts)
                if s == 0:
                    t[0] = ts
                elif t[s - 1] is not None and ts > t[s - 1]:
                    t[s] = ts
                else:
                    continue
                changed = True
                reached = sum(v is not None for v in t)
                out.append((int(user), t[0], t[1], t[2], reached))
        if changed:
            state.update((t,))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in FUNNEL_OUTPUT_SCHEMA])

    return fn


def stateful_funnel(
    stream: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming twin of q_funnel_steps: a per-user funnel state machine
    over the canonical message stream (`topic` = stage, `ledger_id` =
    user) that emits a snapshot row every time a user advances a stage.
    The LAST emission per user equals the batch formulation — stage k's
    timestamp is the first stage-k event strictly after stage k-1's,
    which over a time-ordered stream is exactly the batch MIN chain
    (q_funnel_steps' chained min-aggregates); the equivalence is
    asserted in tests/test_streaming.py.

    Ordering contract: exact equivalence holds for event-time-ordered
    delivery per key — the same per-partition ordered-delivery
    assumption the reference's data plane guarantees
    (PulsarPartitionSyncWorker.java:224-231) and the other streaming
    twins rely on.  State per user is one fixed array of
    len(stages) longs — bounded, independent of event volume; at
    100 TB-scale event rates the state store grows with USERS, never
    with traffic."""
    return (
        stream.selectExpr(
            "ledger_id AS user_id", "topic", "event_time", "entry_id"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel(tuple(stages)),
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------------- transitions

TRANSITION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
        StructField("to_ts", LongType()),
    ]
)

TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("last_entry", LongType()),
        StructField("last_type", StringType()),
    ]
)


def _transitions():
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.exists:
            last_ts, last_entry, last_type = state.get
        else:
            last_ts, last_entry, last_type = None, None, None
        out: list[tuple] = []
        # ONE sort over the whole micro-batch (same chunk-spanning
        # correctness argument as _funnel: per-chunk sorting would pair
        # events out of time order whenever a user spans Arrow chunks)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = pd.concat(chunks, ignore_index=True) if chunks else None
        if batch is not None:
            batch = batch.sort_values(["event_time", "entry_id"])
            ts_us = batch["event_time"].astype("int64") // 1000
            for ts, entry, etype in zip(
                ts_us, batch["entry_id"], batch["topic"]
            ):
                ts, entry = int(ts), int(entry)
                if last_type is not None:
                    out.append((int(user), last_type, str(etype), ts))
                last_ts, last_entry, last_type = ts, entry, str(etype)
            state.update((last_ts, last_entry, last_type))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in TRANSITION_OUTPUT_SCHEMA]
            )

    return fn


def stateful_transitions(stream: DataFrame) -> DataFrame:
    """Streaming twin of q_markov_transitions' pairing stage: per-user
    keyed state holds only the LAST event, and every arriving event
    emits one (from_type, to_type) transition row — the raw input of
    the transition-matrix aggregate, produced incrementally instead of
    by a batch lag window.

    Equivalence: over event-time-ordered delivery per key (the
    reference's per-partition ordering guarantee, same contract as the
    other twins), the emitted pair multiset equals the batch
    lag-formulation exactly — including pairs that SPAN micro-batches,
    which the carried one-row state stitches (asserted across a
    two-run restart in tests/test_streaming.py).  State per user is one
    (ts, entry, type) row — bounded by USERS, not traffic."""
    return (
        stream.selectExpr(
            "ledger_id AS user_id", "topic", "event_time", "entry_id"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _transitions(),
            outputStructType=TRANSITION_OUTPUT_SCHEMA,
            stateStructType=TRANSITION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------------------- SCD2

SCD2_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
        StructField("version", IntegerType()),
    ]
)

SCD2_STATE_SCHEMA = StructType(
    [
        StructField("open_from_us", LongType()),
        StructField("open_type", StringType()),
        StructField("version", IntegerType()),
        # last event_time PROCESSED (>= open_from_us): the regression
        # guard must compare against this, not open_from_us — a late
        # event newer than the open interval's start but older than an
        # already-processed SAME-type event (batch 1: 10A,30A keeps
        # open_from=10; batch 2: 20B) is just as out-of-order and would
        # silently diverge from the batch gaps-and-islands oracle.
        StructField("last_seen_us", LongType()),
        # observability counters (round-8): quarantined-event total and
        # micro-batches processed (the metric-row version tag)
        StructField("late_count", LongType()),
        StructField("batches", LongType()),
    ]
)

#: Extended output schema used when quarantine or metrics are on: the
#: plain interval columns plus a row-kind discriminator and the
#: observability fields.  kind='interval' rows carry the original 5
#: columns; kind='late' rows carry the quarantined event (event_type,
#: valid_from_us = its event time); kind='metric' rows carry one
#: state-size/watermark snapshot per key per micro-batch, version-
#: tagged like stateful_heavy_hitters' summaries.
SCD2_OBS_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
        StructField("version", IntegerType()),
        StructField("state_values", LongType()),
        StructField("late_total", LongType()),
        StructField("last_seen_us", LongType()),
    ]
)


def _scd2(late_policy: str = "raise", observe: bool = False):
    extended = observe or late_policy == "quarantine"

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.exists:
            open_from, open_type, version, last_seen, late_count, batches = (
                state.get
            )
        else:
            open_from, open_type, version = None, None, 0
            last_seen, late_count, batches = None, 0, 0
        out: list[tuple] = []
        late_rows: list[tuple] = []
        # one sort over the whole micro-batch — same chunk-spanning
        # argument as _funnel/_transitions
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = pd.concat(chunks, ignore_index=True) if chunks else None
        if batch is not None:
            batch = batch.sort_values(["event_time", "entry_id"])
            ts_us = batch["event_time"].astype("int64") // 1000
            # cross-micro-batch late events (older than the last
            # PROCESSED event): the sort above orders WITHIN the batch
            # only, so their history placement is already lost — they
            # would silently emit history diverging from the batch
            # gaps-and-islands oracle (and, when older than open_from,
            # a negative-length interval).  Policy (round-7 verdict
            # task #6): 'raise' = loud-guard refusal, the contract
            # default; 'quarantine' = dead-letter the late rows
            # (kind='late') and keep the stream alive — at 100 TB a
            # single late event must not kill the pipeline.  Since the
            # batch is sorted, the late set is exactly the prefix with
            # ts < the carried last_seen.
            if (
                last_seen is not None
                and len(ts_us)
                and int(ts_us.iloc[0]) < last_seen
            ):
                if late_policy == "raise":
                    raise ValueError(
                        f"stateful_scd2: key {user} received event_time "
                        f"{int(ts_us.iloc[0])}us older than the last "
                        f"processed event {last_seen}us — cross-micro-batch "
                        "event-time ordering per key is a precondition (see "
                        "docstring); feed an ordered-per-key source, widen "
                        "batches, or run late_policy='quarantine'"
                    )
                mask = ts_us < last_seen
                for ts, etype in zip(ts_us[mask], batch["topic"][mask]):
                    late_rows.append(
                        (
                            "late", int(user), str(etype), int(ts),
                            None, None, None, None, None,
                        )
                    )
                late_count += int(mask.sum())
                batch, ts_us = batch[~mask], ts_us[~mask]
            for ts, etype in zip(ts_us, batch["topic"]):
                ts, etype = int(ts), str(etype)
                if open_type is None:
                    open_from, open_type, version = ts, etype, 1
                elif etype != open_type:
                    out.append((int(user), open_type, open_from, ts, version))
                    open_from, open_type, version = ts, etype, version + 1
                last_seen = ts
            batches += 1
            state.update(
                (open_from, open_type, version, last_seen, late_count, batches)
            )
        if not extended:
            if out:
                yield pd.DataFrame(
                    out, columns=[f.name for f in SCD2_OUTPUT_SCHEMA]
                )
            return
        rows = [("interval", *r, None, None, None) for r in out]
        rows.extend(late_rows)
        if batch is not None or late_rows:
            # version-tagged per-key state snapshot (the
            # stateful_heavy_hitters publication pattern): downstream
            # keeps the max-version row per key (state_metrics_summary)
            rows.append(
                (
                    "metric", int(user), None, None, None, int(batches),
                    1 if open_type is not None else 0,
                    late_count, last_seen,
                )
            )
        if rows:
            yield pd.DataFrame(rows, columns=[f.name for f in SCD2_OBS_SCHEMA])

    return fn


def stateful_scd2(
    stream: DataFrame,
    late_policy: str = "raise",
    observe: bool = False,
) -> DataFrame:
    """Streaming twin of q_scd2_history (queries/reference.py): per-key
    SCD type-2 maintenance over the replication feed.  Keyed state
    holds only the OPEN validity interval (from, type, version); a
    type change CLOSES the open interval — emitted exactly once, in
    append mode — and opens the next.

    PRECONDITION: events must arrive event-time-ordered per key
    ACROSS micro-batches (the reference's per-partition ordering
    guarantee, same contract as the other twins).  Within a
    micro-batch the operator sorts, but an event older than the LAST
    PROCESSED event that lands in a LATER batch cannot be reordered —
    its history placement is already lost (and when it is older than
    the open interval's start it would close a negative-length
    interval) — so the kernel tracks the last processed event_time in
    state and raises ``ValueError`` instead of emitting corrupted
    history (loud-guard discipline, as in ``stateful_grouped_udaf``).

    Under that precondition the closed-interval multiset equals the
    batch gaps-and-islands query's non-current rows, including
    intervals whose open and close events arrive in different
    micro-batches (the carried open-interval state stitches them;
    asserted across a checkpointed restart in
    tests/test_streaming.py).

    State per key is ONE row regardless of traffic — bounded by key
    cardinality, the same budget as the reference's per-partition
    cursor maps (PulsarPartitionSyncWorker.java cursor state).  The
    current (open) rows live in the state store, exactly where a
    lakehouse MERGE keeps its unclosed versions.

    ``late_policy='quarantine'`` downgrades the late-event raise to a
    dead-letter side output: quarantined events are emitted as
    kind='late' rows (and counted in the metric rows) while the
    stream stays alive — at 100 TB a single late event must not kill
    the pipeline; the default stays 'raise' because quarantine
    silently DROPS the late event from history, a decision the
    operator owner must opt into.  ``observe=True`` additionally
    publishes one kind='metric' state-snapshot row per key per
    micro-batch (state size, cumulative late count, last processed
    event time), version-tagged like stateful_heavy_hitters'
    summaries — the bounded-memory contract of ``SparseMap.java:36-53``
    made observable, so state growth is detected BEFORE the executor
    OOM.  Either flag switches the output to ``SCD2_OBS_SCHEMA``
    (split it with ``split_scd2_output``); with both off the plain
    ``SCD2_OUTPUT_SCHEMA`` behavior is bit-identical to before
    (equivalence-tested)."""
    if late_policy not in ("raise", "quarantine"):
        raise ValueError(
            f"stateful_scd2: unknown late_policy {late_policy!r} "
            "(expected 'raise' or 'quarantine')"
        )
    extended = observe or late_policy == "quarantine"
    return (
        stream.selectExpr(
            "ledger_id AS user_id", "topic", "event_time", "entry_id"
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _scd2(late_policy, observe),
            outputStructType=SCD2_OBS_SCHEMA if extended else SCD2_OUTPUT_SCHEMA,
            stateStructType=SCD2_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def split_scd2_output(obs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split an extended-mode stateful_scd2 output into its three
    channels: (closed intervals — plain SCD2_OUTPUT_SCHEMA columns,
    quarantined late events, per-key metric snapshots).  Each is a
    filter+project of the one stream, so a foreachBatch sink can route
    them to the history table, the dead-letter sink, and the metrics
    table without a second stateful pass."""
    intervals = obs.filter(F.col("kind") == "interval").select(
        "user_id", "event_type", "valid_from_us", "valid_to_us", "version"
    )
    late = obs.filter(F.col("kind") == "late").select(
        "user_id",
        "event_type",
        F.col("valid_from_us").alias("event_time_us"),
    )
    metrics = obs.filter(F.col("kind") == "metric").select(
        F.col("user_id").cast("string").alias("key"),
        F.col("version").cast("long").alias("version"),
        "state_values",
        "late_total",
        "last_seen_us",
    )
    return intervals, late, metrics


def state_metrics_summary(metrics: DataFrame) -> DataFrame:
    """Collapse version-tagged per-key state-metric rows (the shared
    (key, version, state_values, late_total, last_seen_us) shape
    emitted by split_scd2_output / udaf_state_metrics) into ONE
    kernel-level observability row: tracked-key count, max and total
    state values per key, total quarantined events, and the
    min/max last-processed event time across keys.  Latest version per
    key wins — the same max-version read as merge_shard_summaries, so
    re-published snapshots from earlier micro-batches never double
    count.  This row is the page a 100 TB operator actually watches:
    state growth trends here long before an executor OOMs."""
    latest = metrics.withColumn(
        "__mx", F.max("version").over(Window.partitionBy("key"))
    ).filter(F.col("version") == F.col("__mx"))
    return latest.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("state_values").alias("max_state_values"),
        F.sum("state_values").alias("total_state_values"),
        F.sum("late_total").alias("total_late"),
        F.min("last_seen_us").alias("min_last_seen_us"),
        F.max("last_seen_us").alias("max_last_seen_us"),
    )


# -------------------------------------------------------- retention

RETENTION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("cohort_day", StringType()),  # yyyy-MM-dd (UTC)
        StructField("day_offset", IntegerType()),
    ]
)

RETENTION_STATE_SCHEMA = StructType(
    [
        StructField("cohort_day_epoch", LongType()),
        StructField("seen_mask", LongType()),  # bit i = offset i counted
        StructField("last_seen_us", LongType()),  # regression guard
    ]
)

#: Tracked day offsets per user: one 64-bit mask.  Retention matrices
#: are read out to 30-60 days; offsets at or past the horizon raise
#: loudly (widen to an array-typed state if a deployment needs more).
RETENTION_HORIZON_DAYS = 64

_DAY_US = 86_400 * _US


def _retention():
    from datetime import date, timedelta

    epoch = date(1970, 1, 1)

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        if state.exists:
            cohort_day, mask, last_seen = state.get
        else:
            cohort_day, mask, last_seen = None, 0, None
        out: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        batch = pd.concat(chunks, ignore_index=True) if chunks else None
        if batch is not None:
            batch = batch.sort_values(["event_time", "entry_id"])
            ts_us = batch["event_time"].astype("int64") // 1000
            # same cross-batch ordering precondition + loud guard as
            # stateful_scd2: a user's cohort day is FIXED by their
            # first processed event, so an earlier event arriving in a
            # later batch would silently shift history
            if (
                last_seen is not None
                and len(ts_us)
                and int(ts_us.iloc[0]) < last_seen
            ):
                raise ValueError(
                    f"stateful_retention: key {user} received event_time "
                    f"{int(ts_us.iloc[0])}us older than the last processed "
                    f"event {last_seen}us — cross-micro-batch event-time "
                    "ordering per key is a precondition (see docstring)"
                )
            for ts in ts_us:
                ts = int(ts)
                day = ts // _DAY_US
                if cohort_day is None:
                    cohort_day = day
                off = day - cohort_day
                if off >= RETENTION_HORIZON_DAYS:
                    raise ValueError(
                        f"stateful_retention: key {user} active at "
                        f"day_offset {off} >= horizon "
                        f"{RETENTION_HORIZON_DAYS} — widen the state to "
                        "an array-typed seen set for longer matrices"
                    )
                bit = 1 << off
                if not (mask & bit):
                    mask |= bit
                    out.append(
                        (
                            int(user),
                            (epoch + timedelta(days=cohort_day)).isoformat(),
                            int(off),
                        )
                    )
                last_seen = ts
            state.update((cohort_day, mask, last_seen))
        if out:
            yield pd.DataFrame(
                out, columns=[f.name for f in RETENTION_OUTPUT_SCHEMA]
            )

    return fn


def stateful_retention(stream: DataFrame) -> DataFrame:
    """Streaming twin of q_retention_cohort (queries/behavior.py):
    incremental cohort-retention maintenance.  Keyed per-user state
    holds (cohort day = first processed event's UTC day, a 64-bit
    seen-offset mask, last event time); every FIRST activity of a user
    on a new day offset emits exactly one (user_id, cohort_day,
    day_offset) increment row, so the running retention matrix is just
    `SUM(1) GROUP BY cohort_day, day_offset` over the emitted stream —
    maintained event-by-event instead of recomputed from history.

    Equivalence: over event-time-ordered delivery per key (the same
    precondition, loud-guarded, as stateful_scd2/transitions), the
    emitted increments aggregate to EXACTLY the batch
    q_retention_cohort matrix, including cohorts whose activity spans
    micro-batches (asserted vs the batch query in
    tests/test_streaming.py).

    State per user is THREE LONGS regardless of traffic — smaller
    than the reference's per-partition cursor maps — with a loud
    64-day horizon bound (RETENTION_HORIZON_DAYS); at 100 TB the
    state store holds |users| fixed-size rows and each micro-batch
    shuffles only its own events once, by user."""
    return (
        stream.selectExpr("ledger_id AS user_id", "event_time", "entry_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _retention(),
            outputStructType=RETENTION_OUTPUT_SCHEMA,
            stateStructType=RETENTION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------- heavy hitters

HH_SUMMARY_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("version", LongType()),
        StructField("k", LongType()),  # null on the per-shard meta row
        StructField("n", LongType()),  # lower bound / meta: rows seen
        StructField("err", LongType()),  # 0 / meta: decrement bound
    ]
)

HH_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("err", LongType()),
        StructField("n", LongType()),
        StructField("version", LongType()),
    ]
)


def _hh_kernel(cap: int):
    from collections import Counter

    from pulsar_sync_java_spark.operators.heavy_hitters import _compress

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            keys, counts, err, n, version = state.get
            mg = Counter(dict(zip(keys, counts)))
        else:
            mg, err, n, version = Counter(), 0, 0, 0
        for pdf in pdfs:
            if pdf["k"].isna().any():
                raise ValueError(
                    "stateful_heavy_hitters: null key in shard "
                    f"{shard} — nulls would be silently dropped from the "
                    "summary; filter or coalesce them upstream"
                )
            vc = pdf["k"].value_counts()
            n += int(vc.sum())
            for kk, c in vc.items():
                mg[int(kk)] += int(c)
            if len(mg) > 4 * cap:
                mg, d = _compress(mg, cap)
                err += d
        mg, d = _compress(mg, cap)
        err += d
        version += 1
        state.update(
            (list(map(int, mg)), [int(c) for c in mg.values()], err, n, version)
        )
        rows = [(int(shard), version, int(kk), int(c), 0) for kk, c in mg.items()]
        rows.append((int(shard), version, None, n, err))
        yield pd.DataFrame(rows, columns=[f.name for f in HH_SUMMARY_SCHEMA])

    return fn


def stateful_heavy_hitters(
    stream: DataFrame,
    key_col: str = "ledger_id",
    k: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """Streaming twin of `operators/heavy_hitters.py`: an always-on
    Misra-Gries summary of the message feed's key distribution,
    maintained as keyed state and re-published every micro-batch.

    The key space is hash-sharded so state parallelism scales with
    `n_shards` while each key lives in EXACTLY ONE shard — the merged
    candidate cut can therefore use the owning shard's measured error
    alone (tighter than the batch operator's global bound).  Per shard
    the state is one bounded struct (<= k keys/counts + 3 longs) and
    each micro-batch emits the current summary tagged with a
    monotonically increasing version: downstream keeps the max-version
    rows per shard (`merge_shard_summaries`) and gets, at any moment,
    a candidate superset of every key with frequency >= phi * rows
    seen so far.  Counts are order-free, so unlike the SCD2/retention
    twins this kernel needs NO cross-batch event-time precondition,
    and replays after a checkpoint restart converge to identical
    summaries (equivalence-tested across a two-run split in
    tests/test_streaming.py).

    At 100 TB feed scale: state is O(n_shards * k) regardless of
    volume, each micro-batch shuffles only its own rows once (by
    shard) and publishes n_shards * (k+1) summary rows — the exact
    re-verify against the accumulated corpus stays a BATCH job over
    the lakehouse copy (the operator module's verify pass), scheduled
    as often as the freshness SLA needs."""
    keyed = stream.select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(key_col).cast("long").alias("k"),
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _hh_kernel(k),
        outputStructType=HH_SUMMARY_SCHEMA,
        stateStructType=HH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hh_state_metrics(summaries: DataFrame) -> DataFrame:
    """Map stateful_heavy_hitters' published summaries onto the shared
    state-metrics shape for ``state_metrics_summary`` — the summaries
    are ALREADY version-tagged per-shard state snapshots, so the
    adapter just reshapes: key = shard, state_values = summary entries
    held (the bounded <= k keys/counts struct the kernel carries),
    late_total = 0 (order-free kernel, nothing quarantines),
    last_seen_us = null (counts carry no event time).  With this, all
    three observed kernels (SCD2, grouped UDAF, heavy hitters) publish
    into one summary page."""
    per_version = summaries.filter(F.col("k").isNotNull()).groupBy(
        "shard", "version"
    ).agg(F.count(F.lit(1)).alias("state_values"))
    return per_version.select(
        F.col("shard").cast("string").alias("key"),
        "version",
        "state_values",
        F.lit(0).cast("long").alias("late_total"),
        F.lit(None).cast("long").alias("last_seen_us"),
    )


def merge_shard_summaries(summaries: DataFrame, phi: float) -> DataFrame:
    """Batch-side read of the published summaries: latest version per
    shard, then the per-shard-error candidate cut.  Returns candidate
    keys (a guaranteed superset of all keys with freq >= ceil(phi *
    total rows seen)) with their lower-bound counts — feed them to an
    exact count over the accumulated corpus to finish, exactly like
    the batch operator's verify pass."""
    latest = summaries.withColumn(
        "__maxv",
        F.max("version").over(Window.partitionBy("shard")),
    ).filter(F.col("version") == F.col("__maxv"))
    meta = latest.filter(F.col("k").isNull()).select(
        "shard", F.col("n").alias("shard_n"), F.col("err").alias("shard_err")
    )
    total_row = meta.agg(F.sum("shard_n").alias("t")).collect()[0]
    total = int(total_row["t"] or 0)
    import math

    threshold = math.ceil(phi * total)
    return (
        latest.filter(F.col("k").isNotNull())
        .groupBy("shard", "k")
        .agg(F.sum("n").alias("lb"))
        .join(meta, "shard")
        .filter(F.col("lb") + F.col("shard_err") >= F.lit(threshold))
        .select("k", "lb")
    )


# ----------------------------------------------- timer-closed sessions

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("closed_by", StringType()),  # 'gap' | 'timer'
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _session_closer(gap_s: int):
    gap_us = gap_s * _US

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        cols = [f.name for f in SESSION_OUTPUT_SCHEMA]
        if state.hasTimedOut:
            # watermark passed last_event + gap with no new rows: the
            # idle session is CLOSED BY TIMER and its state evicted —
            # SparseMap.java:36-53's time-based eviction, driven by
            # the stream's own event-time progress instead of put()
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(int(user), start, last, n, "timer")], columns=cols
            )
            return
        start, last, n = state.get if state.exists else (None, None, 0)
        out: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks, ignore_index=True).sort_values(
                ["event_time", "entry_id"]
            )
            ts_us = batch["event_time"].astype("int64") // 1000
            # Cross-batch disorder guard (the stateful_scd2 discipline):
            # an event older than the carried `last` — late within the
            # watermark delay but behind this key's state — could merge
            # or re-split already-carried sessions, which no carry-one-
            # interval kernel can replay correctly.  Silently clamping
            # would emit sessions that diverge from the batch gaps-and-
            # islands oracle (e.g. a negative-length session), so the
            # contract violation is LOUD instead.
            first = int(ts_us.iloc[0])
            if last is not None and first < last:
                raise ValueError(
                    f"stateful_sessionize: event-time regression for key "
                    f"{user}: event at {first}us behind carried state at "
                    f"{last}us. The kernel requires per-key event-time "
                    f"order across micro-batches (per-partition ordered "
                    f"source, SURVEY.md R13); widen the micro-batch or "
                    f"pre-sort the feed, or dead-letter late rows before "
                    f"this operator (see stateful_scd2's "
                    f"late_policy='quarantine')."
                )
            for ts in ts_us:
                ts = int(ts)
                if last is not None and ts - last >= gap_us:
                    out.append((int(user), start, last, n, "gap"))
                    start, n = None, 0
                if start is None:
                    start = ts
                last, n = ts, n + 1
            state.update((start, last, n))
            # (re)arm the idle timer: fires when the EVENT-TIME
            # watermark passes the session's last event + gap; a later
            # batch for this key re-arms (replaces) it
            state.setTimeoutTimestamp(last // 1000 + gap_s * 1000)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return fn


def stateful_sessionize(
    stream: DataFrame,
    gap_s: int = 1800,
    watermark_delay: str = "10 seconds",
) -> DataFrame:
    """Watermark-TIMER sessionization — the streaming twin of
    q_window_session's gaps-and-islands, and the one keyed-state
    mechanism the other kernels don't exercise: EVENT-TIME TIMEOUTS
    (`GroupStateTimeout.EventTimeTimeout` + `setTimeoutTimestamp`).

    A session closes two ways: a new event for the key arriving >=
    `gap_s` after the last one (closed_by='gap' — the ordinary path,
    which also spans micro-batches through the carried state), or the
    stream's event-time watermark passing last_event + gap with no new
    rows (closed_by='timer') — which is how an IDLE key's session ever
    closes at all, and how its state is EVICTED.  Without the timer,
    idle keys leak state forever; this is the reference's
    `SparseMap.java:36-53` TTL eviction expressed as watermark-driven
    state cleanup (SURVEY.md §1.3), with the eviction clock being the
    feed's own event-time progress, not the executor's wall clock.

    Equivalence (asserted in tests/test_streaming.py): over ordered-
    per-key delivery, every emitted session — by either close path —
    equals the batch gaps-and-islands session for the same rows; an
    event arriving BEHIND its key's carried state (late within the
    watermark delay, but out of per-key order across micro-batches)
    fails the stream loudly rather than silently merging/splitting
    carried sessions — the same raise-by-default contract as
    stateful_scd2's late-event guard;
    sessions whose close the final watermark never proves stay open in
    state (the streaming-vs-bounded tail, same contract as
    attribution_stream's outer rows).  State per key is ONE 3-long
    struct; total state is bounded by ACTIVE keys, not ever-seen keys —
    the timer is what turns "bounded by key cardinality" into "bounded
    by concurrent activity", the number that matters at 100 TB.
    """
    return (
        stream.selectExpr("ledger_id AS user_id", "event_time", "entry_id")
        .withWatermark("event_time", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_closer(gap_s),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
