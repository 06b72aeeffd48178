"""Spans and Spark status-store counters for the traced run.

Spans are taken from outside the program: `instrument` replaces public
methods of one engine *instance* with timed wrappers, so `run_once`
itself runs unchanged and calls them.  Each layer span also tags the
Spark jobs it launches with a job group, which is how the status store
attributes jobs, stages, tasks, CPU and shuffle bytes to a layer.

Job groups are thread-local and the streaming micro-batch thread does
not inherit them, so the replication layer is read from the stream's
`recentProgress` instead (the queries `instrument` collects).
"""

from __future__ import annotations

import itertools
import json
import time
from collections.abc import Iterator
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    group: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; `dump` writes the spans at run end."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[tuple[int, str | None]] = []

    @contextmanager
    def span(self, name: str, tag_jobs: bool = False) -> Iterator[int]:
        sid = next(self._ids)
        parent, outer_group = self._stack[-1] if self._stack else (None, None)
        group = f"{name}#{sid}" if tag_jobs else outer_group
        if tag_jobs:
            self.sc.setJobGroup(group, name)
        self._stack.append((sid, group))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if tag_jobs:
                self._set_group(outer_group)
            self.spans.append(Span(sid, name, start, end, parent, group if tag_jobs else None))

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span timed before the tracer existed."""
        self.spans.append(Span(next(self._ids), name, start, end, None, None))

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group.split("#")[0])

    def wrap(self, fn, name: str, tag_jobs: bool = True):
        def traced(*args, **kwargs):
            with self.span(name, tag_jobs):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def instrument(self, engine) -> Iterator[list]:
        """Wrap the layer entry points of one `SyncEngine` instance for the
        duration of the block.  Yields a list that collects every
        StreamingQuery `start_replication` returns; its
        `awaitTermination` is timed as the stream-run span."""
        queries: list = []
        start_replication = engine.start_replication

        def traced_start(*args, **kwargs):
            with self.span("replicate.start"):
                q = start_replication(*args, **kwargs)
            queries.append(q)
            return _TracedQuery(q, self)

        entries = {
            "sync_catalog_once": self.wrap(engine.sync_catalog_once, "catalog"),
            "start_replication": traced_start,
            "sync_cursors_once": self.wrap(engine.sync_cursors_once, "cursor"),
            "advance_cursors_once": self.wrap(engine.advance_cursors_once, "cursor.advance"),
            "build_mapping": self.wrap(engine.build_mapping, "mapping", tag_jobs=False),
        }
        for attr, fn in entries.items():
            setattr(engine, attr, fn)
        try:
            yield queries
        finally:
            for attr in entries:
                delattr(engine, attr)

    def span_by_id(self, sid: int) -> Span:
        return next(s for s in reversed(self.spans) if s.id == sid)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def subtree_groups(self, sid: int) -> list[str]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            for s in self.spans:
                if s.id == cur and s.group:
                    out.append(s.group)
                if s.parent == cur:
                    todo.append(s.id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def maybe_span(tracer: Tracer | None, name: str, tag_jobs: bool = False):
    """`tracer.span(...)`, or nothing when the operation is not traced."""
    return tracer.span(name, tag_jobs) if tracer is not None else nullcontext()


class _TracedQuery:
    """A StreamingQuery whose awaitTermination is recorded as a span."""

    def __init__(self, query, tracer: Tracer) -> None:
        self._query = query
        self._tracer = tracer

    def awaitTermination(self, timeout=None):  # noqa: N802 - pyspark API name
        with self._tracer.span("replicate.run"):
            return self._query.awaitTermination(timeout)

    def __getattr__(self, name):
        return getattr(self._query, name)


class StatusStore:
    """Job, stage and task counters from Spark's status store, summed
    over the jobs of some job groups."""

    FIELDS = ("jobs", "stages", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes", "input_rows")

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._no_status = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def groups(self, groups: list[str]) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0)
        for group in groups:
            for job in self.tracker.getJobIdsForGroup(group):
                info = self.tracker.getJobInfo(job)
                out["jobs"] += 1
                for stage in info.stageIds if info else ():
                    self._add_stage(out, stage)
        return out

    def _add_stage(self, out: dict, stage_id: int) -> None:
        seq = self._store.stageData(stage_id, False, self._no_status, False, self._no_quantiles)
        for i in range(seq.size()):
            st = seq.apply(i)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_rows"] += st.inputRecords()
