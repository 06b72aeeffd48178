"""Streaming EWMA anomaly monitor — the streaming twin of
``queries/timeseries.py:q_ewma_smooth``.

The batch query folds the whole day-sorted series at once; a stream
sees the same series sliced arbitrarily across micro-batches, and an
EWMA fold is order-sensitive, so correctness means one thing: the
emitted (day, count, ewma) rows must be a pure function of the EVENT
data, not of how the stream was chopped into batches.  The kernel gets
that with a DAY-CLOSE discipline (the watermark idea expressed in
keyed state):

- per (event_type) key the state carries the running fold
  (n_closed, ewma) plus ONE pending open day (day, cnt);
- rows for the pending day accumulate across however many
  micro-batches touch it; the day FOLDS AND EMITS only when a later
  day's first row arrives (the day is then provably complete under
  in-order day arrival — same contract as a watermark that trails by
  one day);
- rows for days older than the last CLOSED day cannot be folded
  without rewriting history; they increment a per-key ``late_dropped``
  counter carried in state and surfaced on every emission (the
  CumulativeDropCounter theme, pushed into the kernel itself).

Under that discipline the emission sequence is identical for ANY
batching of the same in-day-order stream — pinned by the split/merge
invariance test (tests/test_anomaly_stream.py), which runs the same events
as one availableNow batch and as two sequential file drops and
asserts bit-equal output, including the ewma doubles (same Python
floats, same fold order — the q_ewma_smooth determinism argument one
level up the stack).

At scale the state per key is O(1) — two longs, two doubles — and the
shuffle is one keyed exchange of the raw events into the stateful
operator; at real volumes the upstream would pre-aggregate
(type, day) partial counts per batch first, which composes exactly
because counts are SUM-mergeable.

Alerting: a closed day spikes when cnt > spike_mult x the EWMA level
BEFORE that day (1.5x default — exact binary, same literal as the
batch twin).  The first closed day has no baseline and never spikes.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("day", StringType()),  # yyyy-mm-dd, event time
        StructField("cnt", LongType()),
        StructField("ewma_prev", DoubleType()),  # level BEFORE this day
        StructField("ewma", DoubleType()),  # level AFTER folding it
        StructField("spike", BooleanType()),
        StructField("n_closed", LongType()),  # days folded so far (incl.)
        StructField("late_dropped", LongType()),  # cumulative per key
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("n_closed", LongType()),
        StructField("ewma", DoubleType()),
        StructField("pending_day", StringType()),
        StructField("pending_cnt", LongType()),
        StructField("late_dropped", LongType()),
    ]
)


def _monitor(alpha: float, spike_mult: float):
    keep = 1.0 - alpha

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            n_closed, ewma, pending_day, pending_cnt, late = state.get
        else:
            n_closed, ewma, pending_day, pending_cnt, late = 0, 0.0, None, 0, 0

        # per-day counts across every chunk of this micro-batch
        counts: dict[str, int] = {}
        for pdf in pdfs:
            days = pdf["ts"].dt.strftime("%Y-%m-%d")
            for d, c in days.value_counts().items():
                counts[d] = counts.get(d, 0) + int(c)

        out: list[tuple] = []
        for day in sorted(counts):
            cnt = counts[day]
            if pending_day is not None and day == pending_day:
                pending_cnt += cnt
                continue
            if pending_day is not None and day < pending_day:
                # out-of-day-order arrival (outside the invariance
                # contract): counted as late, never folded — folding
                # it would need history rewrite if it predates the
                # last closed day, and the conservative rule keeps
                # the drop accounting batching-independent too.
                late += cnt
                continue
            # day > pending_day (or no pending yet): close the pending
            if pending_day is not None:
                prev = ewma
                ewma = (
                    float(pending_cnt)
                    if n_closed == 0
                    else ewma * keep + float(pending_cnt) * alpha
                )
                n_closed += 1
                out.append(
                    (
                        event_type,
                        pending_day,
                        pending_cnt,
                        prev,
                        ewma,
                        n_closed > 1 and pending_cnt > spike_mult * prev,
                        n_closed,
                        late,
                    )
                )
            pending_day, pending_cnt = day, cnt

        state.update((n_closed, ewma, pending_day, pending_cnt, late))
        if out:
            yield pd.DataFrame(out, columns=EWMA_OUTPUT_SCHEMA.fieldNames())

    return fn


def stateful_ewma_monitor(
    stream: DataFrame,
    alpha: float = 0.25,
    spike_mult: float = 1.5,
) -> DataFrame:
    """Keyed day-close EWMA monitor over a stream with ``event_type``
    and ``ts`` (timestamp) columns: emits one row per CLOSED event-time
    day per type — count, pre/post EWMA level, spike flag, and the
    cumulative late-row drop counter.  Emission is batching-invariant
    for in-day-order streams (module doc)."""
    return stream.select("event_type", "ts").groupBy(
        "event_type"
    ).applyInPandasWithState(
        _monitor(alpha, spike_mult),
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
