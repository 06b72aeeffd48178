"""Tests of the benchmark itself.  Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

import gen
from harness import END_TO_END, PER_LAYER, Run, result_line

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_byte_identical_per_seed(tmp_path):
    digests = []
    for i, seed in enumerate((3, 3, 4)):
        c = gen.generate(str(tmp_path / str(i)), seed, topics=4, partitions=2, messages=300)
        gen.append_delta(c)
        digests.append(_digest(str(tmp_path / str(i))))
    assert digests[0] == digests[1]
    assert digests[0].keys() == digests[2].keys()
    assert digests[0] != digests[2]


def test_generator_cursors_point_at_messages(tmp_path):
    c = gen.generate(str(tmp_path), 5, topics=4, partitions=2, messages=300)
    parts = {(p.topic, p.partition): p for p in c.partitions}
    for (topic, partition, _), (ts, entry) in c.cursors.items():
        assert parts[(topic, partition)].ts[entry] == ts
    before = c.messages
    added = gen.append_delta(c)
    assert c.messages == before + added
    assert all(c.cursors[(p.topic, p.partition, "sub-a")][1] == p.n - 1 for p in c.partitions)


def test_emitted_metric_names_equal_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == END_TO_END
    assert declared_layer == PER_LAYER

    run = Run(None, seed=1, seconds=1, trace=False, work=".")
    run.attempted = 1
    e2e = result_line(run, run.end_to_end(setup_s=1.0, op_s=1.0, heap_mb=1.0), END_TO_END)
    layer = result_line(run, run.per_layer(), PER_LAYER)
    assert set(e2e) == {"correct", "attempted", "failed", "metrics"}
    assert e2e["metrics"].keys() == declared_e2e.keys()
    assert layer["metrics"].keys() == declared_layer.keys()
    assert all(v["unit"] == declared_layer[k] for k, v in layer["metrics"].items())


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pulsar_sync_java_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return get_spark("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})


def test_phase_spans_cover_run_once(spark, tmp_path):
    from pulsar_sync_java_spark.engine import SyncEngine, SyncEngineConfig
    from spans import Tracer

    c = gen.generate(str(tmp_path), 7, topics=2, partitions=2, messages=200)
    engine = SyncEngine(spark, c.src, c.dst, SyncEngineConfig(advance_cursors=True))
    tracer = Tracer(spark)
    with tracer.instrument(engine) as queries:
        with tracer.span("engine.run_once") as root:
            created = engine.run_once()
    assert created["cursors"] == len(c.cursors)
    assert len(queries) == 1
    names = {s.name for s in tracer.children(root)}
    assert names == {"catalog", "replicate.start", "replicate.run", "cursor"}
    covered = sum(s.seconds for s in tracer.children(root))
    assert covered >= 0.95 * tracer.span_by_id(root).seconds
    # wrappers are removed again: the instance uses its class methods
    assert "sync_catalog_once" not in vars(engine)
