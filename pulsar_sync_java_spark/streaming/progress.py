"""Streaming query progress readout — the engine-side half of the
observability story.

This module reads what SPARK ITSELF tracks per micro-batch —
watermark position, state-store row counts and memory, input rates,
and the `numRowsDroppedByWatermark` counter (SPARK-24634).  Late-data
loss is the silent failure mode of every watermarked operator: the
batch result is simply missing rows, nothing raises.  At 100 TB the
difference between "the feed is clean" and "0.3% of events fall behind
the watermark every hour" lives on this page — the reference has no
analogue because it never reorders (per-partition push listener), but
any Spark deployment of the engine needs it on a dashboard.

Source of truth: `StreamingQuery.lastProgress` / `recentProgress`
(public PySpark API) — dicts mirroring `StreamingQueryProgress`.
Caveat (measured on this Spark build, pinned in the tests): which
late rows increment `numRowsDroppedByWatermark` is OPERATOR-dependent
— windowed aggregates filter sub-watermark input in a plain pre-
aggregate Filter (invisible to the counter), and the dedupe / join
state stores may admit-then-evict within the batch — so a ZERO counter
does NOT certify a loss-free feed.  The loss-certifying check is
end-to-end row accounting: `num_input_rows` summed across batches vs
rows actually emitted/affected downstream, which this summary also
carries.  The counter, where an operator populates it, remains the
cheapest first alarm.
"""

from __future__ import annotations

from typing import Any


def progress_summary(progress: dict | None) -> dict[str, Any]:
    """Distill one progress dict (``query.lastProgress``) into the flat
    record an ops table stores per micro-batch: batch id, input/process
    rates, event-time watermark, and per-stateful-operator totals —
    state rows, state memory, and rows dropped by the watermark.

    Returns an empty-ish record (batch_id = None) when the query has
    not completed a batch yet (`lastProgress` is None) so callers can
    log unconditionally.
    """
    if progress is None:
        return {
            "batch_id": None,
            "run_id": None,
            "num_input_rows": 0,
            "state_rows_total": 0,
            "state_memory_bytes": 0,
            "dropped_by_watermark": 0,
            "watermark": None,
            "operators": [],
        }
    ops = []
    for so in progress.get("stateOperators") or []:
        ops.append(
            {
                "operator": so.get("operatorName"),
                "state_rows": int(so.get("numRowsTotal") or 0),
                "updated_rows": int(so.get("numRowsUpdated") or 0),
                "memory_bytes": int(so.get("memoryUsedBytes") or 0),
                "dropped_by_watermark": int(
                    so.get("numRowsDroppedByWatermark") or 0
                ),
            }
        )
    return {
        "batch_id": progress.get("batchId"),
        "run_id": progress.get("runId"),
        "num_input_rows": int(progress.get("numInputRows") or 0),
        "state_rows_total": sum(o["state_rows"] for o in ops),
        "state_memory_bytes": sum(o["memory_bytes"] for o in ops),
        "dropped_by_watermark": sum(o["dropped_by_watermark"] for o in ops),
        "watermark": (progress.get("eventTime") or {}).get("watermark"),
        "operators": ops,
    }


def drops_by_watermark(query) -> int:
    """Late rows DROPPED across the RETAINED progress window of a
    (possibly finished) streaming query — sums `recentProgress`, so it
    works after ``availableNow`` termination too.  A non-zero return on
    a feed believed ordered is the investigate-now signal: some
    upstream partition is delivering behind the watermark horizon and
    its rows are silently missing from every windowed result.

    BOUNDED WINDOW, by Spark design: `recentProgress` retains only the
    last `spark.sql.streaming.numRecentProgressUpdates` batches
    (default 100), so on a long-running query this is the drop count
    of the recent window, NOT a lifetime total — fine for the alarm
    (any non-zero window is actionable), wrong for accounting.  For a
    lifetime total, accumulate per batch as batches complete:
    `CumulativeDropCounter` below, or persist `progress_summary` rows
    (each carries its batch_id) and sum the deduplicated log."""
    return sum(
        progress_summary(p)["dropped_by_watermark"]
        for p in (query.recentProgress or [])
    )


class CumulativeDropCounter:
    """Lifetime watermark-drop accounting that survives the
    `recentProgress` retention cap: feed it every progress dict as (or
    after) batches complete — re-feeding an already-counted batch is a
    no-op, so polling `recentProgress` periodically and bulk-feeding
    it is safe even when polls overlap.

    Dedup key is (run_id, batch_id), NOT batch_id alone (r8 ADVICE):
    batch ids restart at 0 after a checkpoint wipe and collide across
    queries, so a bare-batch_id key would silently skip or conflate
    drops when one counter outlives a run or is shared.  Each run's
    batches are tracked as a contiguous high-water mark plus a bounded
    out-of-order residue, so memory stays O(runs + reorder window)
    over an arbitrarily long stream."""

    def __init__(self) -> None:
        # run_id -> [max contiguous batch id counted, residue set of
        # counted ids above that mark]; the residue drains into the
        # mark as gaps fill, bounding memory to the reorder window.
        self._runs: dict[str, list] = {}
        self.total = 0

    def feed(self, progress: dict | None) -> int:
        s = progress_summary(progress)
        bid = s["batch_id"]
        if bid is None:
            return self.total
        run = str(s["run_id"])
        # The mark starts just below the FIRST batch id seen for the
        # run, not at -1: if monitoring attaches mid-run (batch 0 has
        # already aged out of recentProgress) the gap below the first
        # fed id would never fill, the mark would stay at -1, and
        # every later batch id would sit in the residue forever —
        # breaking the documented O(runs + reorder window) bound in
        # exactly the retention-cap scenario this class exists for.
        # Batches below the attach point are unobservable anyway; they
        # can never be fed, so anchoring the mark there loses nothing.
        mark, residue = self._runs.setdefault(run, [bid - 1, set()])
        if bid <= mark or bid in residue:
            return self.total
        residue.add(bid)
        self.total += s["dropped_by_watermark"]
        while mark + 1 in residue:
            mark += 1
            residue.discard(mark)
        self._runs[run][0] = mark
        return self.total

    def feed_recent(self, query) -> int:
        for p in query.recentProgress or []:
            self.feed(p)
        return self.total
