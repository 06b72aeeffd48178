"""Run bookkeeping shared by the workloads: the timed loop, failure
counting, samples, and the metric names and units the run prints."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback

from spans import StatusStore, Tracer

# Queries of the analytics mix, by class.  Construction-bound queries
# spend most of their time in driver-side construction (Python, py4j
# and eager jobs); execution-bound ones in the `count()` that runs them.
MIX = {
    "construction": ["q_mad_outliers", "q_bpe_encode"],
    "execution": ["q_simhash", "q_star_join"],
    "relational": ["q_cursor_translate", "q_window_session"],
}
MIX_QUERIES = [q for qs in MIX.values() for q in qs]

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "retained_heap_mb": "MB",
}

_PHASE = {"jobs": "count", "tasks": "count", "cpu_s": "s", "shuffle_bytes": "bytes"}
PER_LAYER = {
    "session.start_s": "s",
    "load.s": "s",
    "warmup.s": "s",
    "gen_s": "s",
    "trace.overhead_s": "s",
    "engine.tick_s": "s",
    "engine.other_s": "s",
    "catalog.s": "s",
    **{f"catalog.{k}": u for k, u in _PHASE.items()},
    "catalog.creates": "count",
    "replicate.s": "s",
    "replicate.rows": "count",
    "replicate.rows_per_s": "1/s",
    "replicate.batches": "count",
    "replicate.bytes_written": "bytes",
    "replicate.files_written": "count",
    "replicate.lag_rows": "count",
    "replicate.overruns": "count",
    "replicate.add_batch_ms": "ms",
    "replicate.wal_commit_ms": "ms",
    "replicate.latest_offset_ms": "ms",
    "replicate.query_planning_ms": "ms",
    "cursor.s": "s",
    **{f"cursor.{k}": u for k, u in _PHASE.items()},
    "cursor.input_rows": "count",
    "cursor.created": "count",
    "cursor.advanced": "count",
    "cursor.replay_s": "s",
    "mapping.samples": "count",
    "query.construct_s": "s",
    "query.plan_s": "s",
    "query.exec_s": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.tasks": "count",
    "query.cpu_s": "s",
    "query.shuffle_bytes": "bytes",
    "query.spill_bytes": "bytes",
    "query.geomean_s": "s",
    **{
        f"query.{q}.{k}": u
        for q in MIX_QUERIES
        for k, u in (("construct_s", "s"), ("construct_jobs", "count"), ("exec_s", "s"))
    },
    "cache.bytes": "bytes",
    "cache.entries": "count",
}


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, state) of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed it
            continue
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        out[int(d)] = (int(ppid), state)
    return out


def descendants() -> list[int]:
    """Every process this one started, directly or not."""
    procs, me, out = _processes(), os.getpid(), []
    for pid in procs:
        p = pid
        while p and p != me:
            p = procs.get(p, (0, ""))[0]
        if p == me and pid != me:
            out.append(pid)
    return out


def wait_for_exit(pids: list[int], timeout: float = 60.0) -> bool:
    """Wait until none of `pids` runs any more (zombies count as ended)."""
    deadline = time.monotonic() + timeout
    while True:
        procs = _processes()
        if all(procs.get(p, (0, "Z"))[1] == "Z" for p in pids):
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)


class Run:
    """One benchmark run: the session, the clock, counts and samples."""

    def __init__(self, spark, seed: int, seconds: int, trace: bool, work: str) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(spark) if trace else None
        self.store = StatusStore(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_s: list[float] = []
        self.traced_op_s: list[float] = []
        self.layers: list[dict[str, float]] = []
        self.run_layers: dict[str, float] = {}
        self.gen_s = 0.0
        self.mode = "untimed"

    def operation(self, fn, mode: str) -> None:
        """Run one operation; an exception or failed check counts it as
        failed, stops any stray stream, and the run goes on."""
        self.attempted += 1
        self.mode = mode
        try:
            fn(mode == "traced")
        except Exception as exc:  # run boundary: record, report, continue
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}"[:500])
            traceback.print_exc(file=sys.stderr)
            for q in self.spark.streams.active:
                q.stop()

    def record(self, seconds: float) -> None:
        """Called by an operation once its output has been verified."""
        print(f"# {self.mode} operation {seconds:.4f} s", file=sys.stderr, flush=True)
        if self.mode == "timed":
            self.op_s.append(seconds)
        elif self.mode == "traced":
            self.traced_op_s.append(seconds)

    def layer_sample(self, sample: dict[str, float]) -> None:
        self.layers.append(sample)

    def measure(self, op) -> None:
        """Closed loop: start the next operation only after the previous
        one finished, and only if it can finish within `seconds` at the
        pace of the last one.  In a traced run every other operation is
        traced, so the tracing overhead can be read off."""
        start, last, i = time.perf_counter(), 0.0, 0
        while i == 0 or time.perf_counter() - start + last <= self.seconds:
            t0 = time.perf_counter()
            self.operation(op, "traced" if self.trace and i % 2 == 0 else "timed")
            last = time.perf_counter() - t0
            i += 1

    # -- results ----------------------------------------------------------------

    def end_to_end(self, setup_s: float, op_s: float, heap_mb: float) -> dict[str, float]:
        return {"setup_s": setup_s, "op_s": op_s, "retained_heap_mb": heap_mb}

    def per_layer(self) -> dict[str, float]:
        out = {name: 0.0 for name in PER_LAYER}
        for name in PER_LAYER:
            values = [s[name] for s in self.layers if name in s]
            if values:
                out[name] = statistics.median(values)
        out.update(self.run_layers)
        out["gen_s"] = self.gen_s
        if self.traced_op_s and self.op_s:
            out["trace.overhead_s"] = median(self.traced_op_s) - median(self.op_s)
        return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def result_line(run: Run, metrics: dict[str, float], units: dict[str, str]) -> dict:
    """The JSON object printed as the last line of a run.  A metric left
    unmeasured because every operation failed reads 0 in a run whose
    `correct` is false."""
    if set(metrics) != set(units):
        raise ValueError(f"metric names differ from the declared ones: {set(metrics) ^ set(units)}")
    measured = all(math.isfinite(v) for v in metrics.values())
    return {
        "correct": run.failed == 0 and run.attempted > 0 and measured,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            name: {"value": float(metrics[name]) if math.isfinite(metrics[name]) else 0.0, "unit": unit}
            for name, unit in units.items()
        },
    }
