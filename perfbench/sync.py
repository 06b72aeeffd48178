"""The `steady_tick` workload: one timed operation is one
`SyncEngine.run_once` on an already-converged src/dst pair.

Before each tick, outside the timed region, the generator appends a
small seeded delta to src (a quarter of the topics get 4% more messages,
one new tenant and one new topic arrive) and moves every src cursor to
its partition head.  The history is much larger than the delta, so the
catalog plane and the cursor plane (which rescans the whole history)
dominate the tick; replication copies only the delta, and cursors are
both created (new topic) and advanced (`advance_cursors=True`).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Run, median
from pulsar_sync_java_spark.engine import SyncEngine, SyncEngineConfig
from pulsar_sync_java_spark.streaming.replicate import MESSAGE_KEY

# topics x partitions x messages per partition of the generated history
SHAPE = (16, 4, 6000)
SAMPLE_INTERVAL_S = 60


class SyncWorkload:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.spark = run.spark
        t0 = time.perf_counter()
        self.c = gen.generate(os.path.join(run.work, "clusters"), run.seed, *SHAPE)
        run.gen_s += time.perf_counter() - t0
        self.engine = SyncEngine(
            self.spark,
            self.c.src,
            self.c.dst,
            SyncEngineConfig(sample_interval=f"{SAMPLE_INTERVAL_S} seconds", advance_cursors=True),
        )
        self.dst_cursors: dict = {}
        self.replay_s = 0.0

    def setup(self) -> float:
        """Outside the timed region: the initial convergence from an empty
        dst, an idle tick on the converged pair, which must create and
        copy nothing, and one warm-up tick (the first tick after a delta
        is still some 15% slower than the ones after it).  Returns the
        set-up seconds."""
        t0 = time.perf_counter()
        self.run.operation(self._tick_and_check, "untimed")
        self.run.operation(self._idle_tick, "untimed")
        self.run.operation(self.operation, "untimed")
        return time.perf_counter() - t0

    def op_seconds(self) -> float:
        """Median seconds of one tick."""
        return median(self.run.op_s)

    def operation(self, traced: bool) -> None:
        t0 = time.perf_counter()
        gen.append_delta(self.c)
        self.run.gen_s += time.perf_counter() - t0
        # the delta's new tenant (two namespaces) and topic, and its cursors
        want = {"tenants": 1, "namespaces": 2, "topics": 1, "cursors": 2 * SHAPE[1]}
        self._tick_and_check(traced, want)

    def _tick_and_check(self, traced: bool = False, want: dict | None = None) -> None:
        files_before = self._dst_files()
        if not traced:
            t0 = time.perf_counter()
            created = self.engine.run_once()
            seconds = time.perf_counter() - t0
        else:
            tracer = self.run.tracer
            with tracer.instrument(self.engine) as queries:
                with tracer.span("engine.run_once") as root:
                    created = self.engine.run_once()
            seconds = tracer.span_by_id(root).seconds
        if want and {k: created[k] for k in want} != want:
            raise RuntimeError(f"tick created {created}, the delta holds {want}")
        self._check()
        self.run.record(seconds)
        if traced:
            self._layers(root, queries, created, files_before)

    def _idle_tick(self, traced: bool = False) -> None:
        created = self.engine.run_once()
        if any(created.values()):
            raise RuntimeError(f"idle tick changed dst: {created}")
        self._check()

    # -- verification (untimed) --------------------------------------------

    def _check(self) -> None:
        """Raise on any wrong output.  Overruns and the worst replication
        lag of the run are kept as per-layer counts."""
        layers = self.run.run_layers
        stray = self.spark.streams.active
        for q in stray:
            q.stop()
        if stray:
            layers["replicate.overruns"] = layers.get("replicate.overruns", 0) + 1
            raise RuntimeError(f"stream overrun: {len(stray)} query still active after run_once")
        lag = self.c.messages - self._dst_messages().count()
        layers["replicate.lag_rows"] = max(layers.get("replicate.lag_rows", 0), lag)
        if lag:
            raise RuntimeError(f"dst lags src by {lag} messages")
        self._check_catalogs()
        self._check_cursors()

    def _dst_messages(self):
        return self.spark.read.parquet(os.path.join(self.c.dst, "messages"))

    def finish(self) -> None:
        """Once per run: no message was copied twice.  (Every tick checks
        the count; a duplicate would persist until here.)"""
        self.run.operation(self._check_distinct, "untimed")

    def _check_distinct(self, traced: bool = False) -> None:
        d = self._dst_messages().select(*MESSAGE_KEY).distinct().count()
        if d != self.c.messages:
            raise RuntimeError(f"dst has {d} distinct messages, src has {self.c.messages}")

    def _check_catalogs(self) -> None:
        for name, cols in (
            ("tenants", ["tenant"]),
            ("namespaces", ["tenant", "namespace"]),
            ("topics", ["tenant", "namespace", "topic"]),
        ):
            src = _rows(os.path.join(self.c.src, f"{name}.parquet"), cols)
            dst = _rows(os.path.join(self.c.dst, f"{name}.parquet"), cols)
            if not src <= dst:
                raise RuntimeError(f"dst {name} lacks {len(src - dst)} src rows")

    def _check_cursors(self) -> None:
        t = pq.read_table(os.path.join(self.c.dst, "subscriptions.parquet"))
        # Spark writes INT96 timestamps (read back as ns); compare in us
        ts = t.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
        dst = {
            (tp, p, cur): (s, e)
            for tp, p, cur, s, e in zip(
                t.column("topic").to_pylist(),
                t.column("partition").to_pylist(),
                t.column("cursor").to_pylist(),
                ts,
                t.column("event_id").to_pylist(),
            )
        }
        if len(dst) != t.num_rows or set(dst) != set(self.c.cursors):
            raise RuntimeError(f"dst has {t.num_rows} cursors, src has {len(self.c.cursors)}")
        replay = 0
        for key, (src_ts, src_id) in self.c.cursors.items():
            d_ts, d_id = dst[key]
            if d_ts > src_ts or d_id > src_id:
                raise RuntimeError(f"cursor {key} is ahead of src: would skip messages")
            if key in self.dst_cursors and d_ts < self.dst_cursors[key][0]:
                raise RuntimeError(f"cursor {key} moved backward")
            replay = max(replay, src_ts - d_ts)
        if replay >= SAMPLE_INTERVAL_S * 1_000_000:
            raise RuntimeError(f"replay {replay / 1e6:.1f} s exceeds the mapping interval")
        self.dst_cursors = dst
        self.replay_s = replay / 1e6

    # -- per-layer numbers (traced run) --------------------------------------

    def _dst_files(self) -> dict[str, int]:
        root = os.path.join(self.c.dst, "messages")
        return {
            e.name: e.stat().st_size
            for e in os.scandir(root)
            if e.name.endswith(".parquet")
        }

    def _layers(self, root: int, queries: list, created: dict, files_before: dict) -> None:
        tr, store, m = self.run.tracer, self.run.store, {}
        kids = tr.children(root)
        by_name: dict[str, float] = {}
        for s in kids:
            phase = s.name.split(".")[0]
            by_name[phase] = by_name.get(phase, 0.0) + s.seconds
        tick = tr.span_by_id(root).seconds
        m["engine.tick_s"] = tick
        m["engine.other_s"] = tick - sum(by_name.values())
        for phase in ("catalog", "cursor"):
            m[f"{phase}.s"] = by_name.get(phase, 0.0)
            counts = store.groups([g for s in kids if s.name == phase for g in tr.subtree_groups(s.id)])
            m[f"{phase}.jobs"] = counts["jobs"]
            m[f"{phase}.tasks"] = counts["tasks"]
            m[f"{phase}.cpu_s"] = counts["cpu_s"]
            m[f"{phase}.shuffle_bytes"] = counts["shuffle_bytes"]
            if phase == "cursor":
                m["cursor.input_rows"] = counts["input_rows"]
        m["catalog.creates"] = sum(created.get(k, 0) for k in ("tenants", "namespaces", "topics"))
        m["cursor.created"] = created.get("cursors", 0)
        m["cursor.advanced"] = created.get("cursors_advanced", 0)
        m["cursor.replay_s"] = self.replay_s
        m["mapping.samples"] = self.engine.build_mapping().count()
        rep_s = by_name.get("replicate", 0.0)
        progress = [p for q in queries for p in _progress(q)]
        rows = sum(p.get("numInputRows", 0) for p in progress)
        new_files = {k: v for k, v in self._dst_files().items() if k not in files_before}
        m["replicate.s"] = rep_s
        m["replicate.rows"] = rows
        m["replicate.rows_per_s"] = rows / rep_s if rep_s else 0.0
        m["replicate.batches"] = sum(1 for p in progress if p.get("numInputRows", 0))
        m["replicate.bytes_written"] = sum(new_files.values())
        m["replicate.files_written"] = len(new_files)
        for key, name in (
            ("addBatch", "add_batch_ms"),
            ("walCommit", "wal_commit_ms"),
            ("latestOffset", "latest_offset_ms"),
            ("queryPlanning", "query_planning_ms"),
        ):
            m[f"replicate.{name}"] = sum(p.get("durationMs", {}).get(key, 0) for p in progress)
        self.run.layer_sample(m)


def _progress(query) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in query.recentProgress]


def _rows(path: str, cols: list[str]) -> set[tuple]:
    t = pq.read_table(path, columns=cols)
    return set(zip(*(t.column(c).to_pylist() for c in cols)))
