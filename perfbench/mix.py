"""The `analytics_mix` workload: one timed operation is one pass over a
fixed list of declared queries (`harness.MIX`), each followed by
`count()`, on sf0.1 tables generated from the seed.

Every query's rows are compared with its DuckDB oracle once per run,
during the warm-up pass; each timed pass then checks row counts.
"""

from __future__ import annotations

import contextlib
import importlib.util
import math
import os
import sys
import time

import duckdb

from harness import MIX_QUERIES, Run, median
from spans import maybe_span
from pulsar_sync_java_spark.queries import all_oracles, all_queries
from pulsar_sync_java_spark.sources.tables import TABLES, load_table

SF = 0.1


def generate_tables(root: str, out: str, seed: int) -> str:
    """sf0.1 tables from the repo's own same-schema generator
    (`tools/gen_testdata.py`), seeded with the benchmark seed."""
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(root, "tools", "gen_testdata.py")
    )
    gt = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gt)
    gt.SEED, gt.ROOT = seed, out
    with contextlib.redirect_stdout(sys.stderr):
        gt.gen_sf(SF)
    return os.path.join(out, f"sf{SF:g}")


def normalize(cols: list[str], pdf) -> list[tuple]:
    """Order-insensitive row form: name-sorted columns, stringified
    values, sorted rows (the comparison `tests/conftest.py` makes)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(str(row[i]) for i in order) for row in pdf.itertuples(index=False, name=None))


class MixWorkload:
    def __init__(self, run: Run, root: str) -> None:
        self.run = run
        self.spark = run.spark
        t0 = time.perf_counter()
        self.sf_dir = generate_tables(root, os.path.join(run.work, "tables"), run.seed)
        run.gen_s += time.perf_counter() - t0
        queries, oracles = all_queries(), all_oracles()
        self.queries = {q: queries[q] for q in MIX_QUERIES}
        self.oracles = {q: oracles[q] for q in MIX_QUERIES}
        self.rows: dict[str, int] = {}
        self.per_query: dict[str, list[float]] = {q: [] for q in MIX_QUERIES}

    def setup(self) -> float:
        """Load every table handle, then a warm-up pass that is also the
        oracle comparison, and one more warm-up pass.  Returns the set-up
        seconds, oracle excluded."""
        t0 = time.perf_counter()
        tracer = self.run.tracer
        with maybe_span(tracer, "load"):
            for t in TABLES:
                with maybe_span(tracer, f"load.{t}", tag_jobs=True):
                    load_table(self.spark, self.sf_dir, t)
        self.run.run_layers["load.s"] = time.perf_counter() - t0
        self.oracle_s = 0.0
        self.run.operation(self._oracle_pass, "untimed")
        # passes keep getting faster for a while after the cold one
        self.run.operation(self.operation, "untimed")
        return time.perf_counter() - t0 - self.oracle_s

    def _oracle_pass(self, traced: bool = False) -> None:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for name, fn in self.queries.items():
                df = fn(self.spark, self.sf_dir)
                got = df.toPandas()
                t0 = time.perf_counter()
                rel = con.sql(self.oracles[name])
                want = rel.df()
                if sorted(df.columns) != sorted(rel.columns):
                    raise RuntimeError(f"{name}: columns {df.columns} != oracle {rel.columns}")
                if normalize(df.columns, got) != normalize(rel.columns, want):
                    raise RuntimeError(f"{name}: rows differ from the DuckDB oracle")
                self.rows[name] = len(want)
                self.oracle_s += time.perf_counter() - t0
        finally:
            con.close()

    def finish(self) -> None:
        """Nothing to check once more: every pass checked its row counts."""

    def op_seconds(self) -> float:
        """Seconds of one pass, as the sum of each query's median over the
        untraced passes: a host hiccup in one query of one pass then does
        not move it."""
        return sum(median(v) for v in self.per_query.values())

    def operation(self, traced: bool) -> None:
        tracer = self.run.tracer if traced else None
        with maybe_span(tracer, "mix.pass"):
            self._pass(tracer)

    def _pass(self, tracer) -> None:
        times, samples = {}, {}
        t0 = time.perf_counter()
        for name, fn in self.queries.items():
            q0 = time.perf_counter()
            if tracer is None:
                n = fn(self.spark, self.sf_dir).count()
            else:
                with tracer.span(f"query.{name}.construct", tag_jobs=True) as c_id:
                    df = fn(self.spark, self.sf_dir)
                with tracer.span(f"query.{name}.exec", tag_jobs=True) as e_id:
                    n = df.count()
                samples[name] = (df, c_id, e_id)
            times[name] = time.perf_counter() - q0
            if n != self.rows[name]:
                raise RuntimeError(f"{name}: {n} rows, oracle has {self.rows[name]}")
        self.run.record(time.perf_counter() - t0)
        if tracer is not None:
            self._layers(samples)
        elif self.run.mode == "timed":
            for name, t in times.items():
                self.per_query[name].append(t)
            # geometric mean of the per-query medians over the passes so far
            logs = [math.log(median(v)) for v in self.per_query.values()]
            self.run.run_layers["query.geomean_s"] = math.exp(sum(logs) / len(logs))

    def _layers(self, samples: dict) -> None:
        tr, store = self.run.tracer, self.run.store
        m = dict.fromkeys(
            ("query.construct_s", "query.plan_s", "query.exec_s", "query.jobs", "query.stages",
             "query.tasks", "query.cpu_s", "query.shuffle_bytes", "query.spill_bytes"), 0.0
        )
        for name, (df, c_id, e_id) in samples.items():
            c, e = tr.span_by_id(c_id), tr.span_by_id(e_id)
            built = store.groups([c.group])
            ran = store.groups([e.group])
            m[f"query.{name}.construct_s"] = c.seconds
            m[f"query.{name}.construct_jobs"] = built["jobs"]
            m[f"query.{name}.exec_s"] = e.seconds
            m["query.construct_s"] += c.seconds
            m["query.exec_s"] += e.seconds
            m["query.plan_s"] += _plan_seconds(self.spark, df)
            m["query.jobs"] += built["jobs"] + ran["jobs"]
            for k in ("stages", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes"):
                m[f"query.{k}"] += built[k] + ran[k]
        self.run.layer_sample(m)


def _plan_seconds(spark, df) -> float:
    """Catalyst analysis + optimization + planning of the query's own
    plan, from its QueryPlanningTracker (forces planning if needed)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        qe.tracker().phases()
    )
    return sum(phases.get(k).durationMs() for k in phases.keySet()) / 1000.0
