"""Deterministic load generator for the sync workloads.

Writes a source cluster and an (almost empty) destination cluster in the
directory layout `SyncEngine` reads (see `pulsar_sync_java_spark/engine.py`):

    <cluster>/tenants.parquet, namespaces.parquet, topics.parquet
    <cluster>/messages/*.parquet          MESSAGE_SCHEMA rows
    <cluster>/subscriptions.parquet       two cursors per partition

Everything is vectorised numpy/pyarrow and derived from the seed alone:
the same seed writes byte-identical files, another seed writes different
ones.  The generator never touches Spark, so its cost stays out of the
program's timings (it is reported separately as `gen_s`).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MSG_SCHEMA = pa.schema([
    ("tenant", pa.string()),
    ("namespace", pa.string()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("ledger_id", pa.int64()),
    ("entry_id", pa.int64()),
    ("batch_idx", pa.int32()),
    ("key", pa.string()),
    ("value", pa.binary()),
    ("event_time", pa.timestamp("us", tz="UTC")),
    ("publish_time", pa.timestamp("us", tz="UTC")),
    ("properties", pa.map_(pa.string(), pa.string())),
])
TENANT_SCHEMA = pa.schema([("tenant", pa.string())])
NAMESPACE_SCHEMA = pa.schema([
    ("tenant", pa.string()), ("namespace", pa.string()), ("policies", pa.string()),
])
TOPIC_SCHEMA = pa.schema([
    ("tenant", pa.string()),
    ("namespace", pa.string()),
    ("topic", pa.string()),
    ("partitions", pa.int32()),
    ("properties", pa.map_(pa.string(), pa.string())),
])
SUB_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("cursor", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("event_id", pa.int64()),
])
CURSORS = ("sub-a", "sub-b")
PAYLOAD_MIN, PAYLOAD_MAX = 64, 512
# Mean spacing of messages within one partition.  With the engine's
# 60 s mapping interval this puts ~60 messages in each sample bucket.
STEP_US = 1_000_000
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
LEDGER_SPAN = 10_000  # entries per ledger



@dataclass
class Partition:
    tenant: str
    namespace: str
    topic: str
    partition: int
    ts: np.ndarray  # event_time (us) of entry i at index i

    @property
    def n(self) -> int:
        return len(self.ts)


@dataclass
class Cluster:
    """What the generator wrote: enough to check the destination without
    asking Spark about the source."""

    src: str
    dst: str
    seed: int
    partitions_per_topic: int
    base_messages: int
    tenants: list[str] = field(default_factory=list)
    namespaces: list[tuple[str, str]] = field(default_factory=list)
    topics: list[tuple[str, str, str]] = field(default_factory=list)
    partitions: list[Partition] = field(default_factory=list)
    # (topic, partition, cursor) -> (ts_us, entry_id)
    cursors: dict[tuple[str, int, str], tuple[int, int]] = field(default_factory=dict)
    files: int = 0
    deltas: int = 0

    @property
    def messages(self) -> int:
        return sum(p.n for p in self.partitions)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _write_dir(table: pa.Table, path: str) -> None:
    """A table as Spark writes one: a directory holding one part file, so
    the engine can later append to it or overwrite it."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    _write(table, os.path.join(path, "part-00000.parquet"))


def _payloads(rng: np.random.Generator, n: int) -> pa.Array:
    lens = rng.integers(PAYLOAD_MIN, PAYLOAD_MAX + 1, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    data = rng.integers(0, 256, int(offsets[-1]), dtype=np.uint8)
    return pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
    )


def _append_messages(c: Cluster, rng: np.random.Generator, parts: list[Partition], k: int) -> None:
    """Append k messages to each of `parts`, one parquet file per topic
    (the streaming file source sees every file as new input)."""
    by_topic: dict[str, list[Partition]] = {}
    for p in parts:
        by_topic.setdefault(p.topic, []).append(p)
    for topic in sorted(by_topic):
        members = by_topic[topic]
        total = k * len(members)
        part_col, entry_col, ts_col = [], [], []
        for p in members:
            head = int(p.ts[-1]) if p.n else EPOCH_US
            ts = head + np.cumsum(rng.integers(STEP_US // 2, STEP_US * 3 // 2, k))
            part_col.append(np.full(k, p.partition, dtype=np.int32))
            entry_col.append(np.arange(p.n, p.n + k, dtype=np.int64))
            ts_col.append(ts)
            p.ts = np.concatenate([p.ts, ts])
        entry = np.concatenate(entry_col)
        event_time = np.concatenate(ts_col)
        keys = pa.array(np.char.add("k", rng.integers(0, 1000, total).astype(str)))
        key_null = pa.array(rng.random(total) < 0.1)
        table = pa.table({
            "tenant": pa.array([members[0].tenant] * total, pa.string()),
            "namespace": pa.array([members[0].namespace] * total, pa.string()),
            "topic": pa.array([topic] * total, pa.string()),
            "partition": np.concatenate(part_col),
            "ledger_id": entry // LEDGER_SPAN,
            "entry_id": entry,
            "batch_idx": np.zeros(total, dtype=np.int32),
            "key": pa.compute.if_else(key_null, pa.nulls(total, pa.string()), keys),
            "value": _payloads(rng, total),
            "event_time": pa.array(event_time, pa.timestamp("us", tz="UTC")),
            "publish_time": pa.array(
                event_time + rng.integers(0, 5_000, total), pa.timestamp("us", tz="UTC")
            ),
            "properties": pa.array(
                [[("origin", "bench")]] * total, pa.map_(pa.string(), pa.string())
            ),
        }, schema=MSG_SCHEMA)
        _write(table, os.path.join(c.src, "messages", f"part-{c.files:06d}.parquet"))
        c.files += 1


def _write_catalogs(c: Cluster, root: str, first_tenant_only: bool = False) -> None:
    tenants = c.tenants[:1] if first_tenant_only else c.tenants
    nss = [ns for ns in c.namespaces if ns[0] in tenants]
    tps = [] if first_tenant_only else c.topics
    _write_dir(pa.table({"tenant": tenants}, schema=TENANT_SCHEMA),
           os.path.join(root, "tenants.parquet"))
    _write_dir(pa.table({
        "tenant": [t for t, _ in nss],
        "namespace": [n for _, n in nss],
        "policies": ['{"retention": "1h"}'] * len(nss),
    }, schema=NAMESPACE_SCHEMA), os.path.join(root, "namespaces.parquet"))
    _write_dir(pa.table({
        "tenant": [t[0] for t in tps],
        "namespace": [t[1] for t in tps],
        "topic": [t[2] for t in tps],
        "partitions": pa.array([c.partitions_per_topic] * len(tps), pa.int32()),
        "properties": pa.array([[("owner", "sync")]] * len(tps),
                               pa.map_(pa.string(), pa.string())),
    }, schema=TOPIC_SCHEMA), os.path.join(root, "topics.parquet"))


def _write_src_subscriptions(c: Cluster) -> None:
    keys = sorted(c.cursors)
    _write_dir(pa.table({
        "topic": [k[0] for k in keys],
        "partition": pa.array([k[1] for k in keys], pa.int32()),
        "cursor": [k[2] for k in keys],
        "ts": pa.array([c.cursors[k][0] for k in keys], pa.timestamp("us", tz="UTC")),
        "event_id": pa.array([c.cursors[k][1] for k in keys], pa.int64()),
    }, schema=SUB_SCHEMA), os.path.join(c.src, "subscriptions.parquet"))


def _add_topic(c: Cluster, tenant: str, namespace: str) -> list[Partition]:
    name = f"topic-{len(c.topics):05d}"
    c.topics.append((tenant, namespace, name))
    parts = [Partition(tenant, namespace, name, i, np.empty(0, np.int64))
             for i in range(c.partitions_per_topic)]
    c.partitions.extend(parts)
    return parts


def _add_tenant(c: Cluster) -> str:
    tenant = f"tenant-{len(c.tenants):04d}"
    c.tenants.append(tenant)
    c.namespaces.extend([(tenant, "default"), (tenant, "raw")])
    return tenant


def _reset_dst(c: Cluster) -> None:
    """The destination as a fresh deployment sees it: the first tenant
    and its namespaces, and nothing else."""
    shutil.rmtree(c.dst, ignore_errors=True)
    os.makedirs(os.path.join(c.dst, "messages"))
    _write_catalogs(c, c.dst, first_tenant_only=True)
    _write_dir(SUB_SCHEMA.empty_table(), os.path.join(c.dst, "subscriptions.parquet"))


def generate(root: str, seed: int, topics: int, partitions: int, messages: int) -> Cluster:
    """Write src (topics x partitions x messages, catalogs, two cursors
    per partition) and a fresh dst under `root`.  Cursor sub-a sits at
    the partition head, sub-b at a random message of its history."""
    shutil.rmtree(root, ignore_errors=True)
    c = Cluster(os.path.join(root, "src"), os.path.join(root, "dst"), seed,
                partitions, messages)
    os.makedirs(os.path.join(c.src, "messages"))
    rng = np.random.default_rng([seed, 0])
    for _ in range(max(2, topics // 4)):
        _add_tenant(c)
    for i in range(topics):
        tenant, ns = c.namespaces[i % len(c.namespaces)]
        _add_topic(c, tenant, ns)
    _append_messages(c, rng, c.partitions, messages)
    picks = rng.integers(0, messages, len(c.partitions))
    for p, b in zip(c.partitions, picks):
        c.cursors[(p.topic, p.partition, "sub-a")] = (int(p.ts[-1]), p.n - 1)
        c.cursors[(p.topic, p.partition, "sub-b")] = (int(p.ts[b]), int(b))
    _write_catalogs(c, c.src)
    _write_src_subscriptions(c)
    _reset_dst(c)
    return c


def append_delta(c: Cluster) -> int:
    """One steady-state increment on src: a quarter of the topics get 4%
    more messages (of the base history), one new tenant arrives with one
    new topic, and every cursor moves to its partition head.  Seeded by
    (seed, delta number).  Returns the number of messages appended."""
    c.deltas += 1
    rng = np.random.default_rng([c.seed, 1, c.deltas])
    k = max(1, round(0.04 * c.base_messages))
    n_topics = len(c.topics)
    hot = sorted(rng.choice(n_topics, max(1, n_topics // 4), replace=False))
    per_topic = len(c.partitions) // n_topics
    parts = [p for t in hot for p in c.partitions[t * per_topic:(t + 1) * per_topic]]
    tenant = _add_tenant(c)
    parts += _add_topic(c, tenant, "default")
    _append_messages(c, rng, parts, k)
    for p in c.partitions:
        for cur in CURSORS:
            c.cursors[(p.topic, p.partition, cur)] = (int(p.ts[-1]), p.n - 1)
    _write_catalogs(c, c.src)
    _write_src_subscriptions(c)
    return k * len(parts)
