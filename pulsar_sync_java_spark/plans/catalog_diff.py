"""Catalog diff — the reference's entire control plane as one batch plan.

The reference walks tenant -> namespace -> topic hierarchies with async
managers, creating on dst whatever src has and dst lacks, tolerating
AlreadyExists conflicts, never deleting
(`PulsarTenantSyncManager.java:64-88`, `PulsarNamespaceSyncManager.java:67-94`,
`PulsarTopicSyncManager.java:67-94`, `PulsarPartitionTopicSyncManager.java:93-111`).

Re-expressed relationally, every level is the same operator:

    to_create = src LEFT ANTI JOIN dst ON key

- **Additive-only convergence**: the diff emits only inserts — no
  delete call exists anywhere in the reference (SURVEY.md §2 fine
  print), so the engine appends them and never subtracts.
- **Idempotency == conflict-tolerance**: applying a diff twice is a
  no-op because the second anti-join is empty — the relational
  equivalent of treating ConflictException as success
  (`PulsarTenantSyncManager.java:79`).
- A topic row carries its partition count as payload; the engine
  appends it as-is and derives no physical per-partition names (the
  R12 `<topic>-partition-<i>` generator is the declared query
  `q_partition_expand`, queries/reference.py).

Scale: catalogs are small relative to data (millions of topics at
most), but the same anti-join plan holds at any size — Spark picks
broadcast-anti when dst keys fit, shuffled-hash otherwise; nothing here
collects to the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

TENANT_KEY = ["tenant"]
NAMESPACE_KEY = ["tenant", "namespace"]
TOPIC_KEY = ["tenant", "namespace", "topic"]


@dataclass(frozen=True)
class CatalogDiff:
    """Insert-only diff between a source and destination catalog."""

    tenants: DataFrame
    namespaces: DataFrame
    topics: DataFrame


def missing(src: DataFrame, dst: DataFrame, key: list[str]) -> DataFrame:
    """Rows of src whose key is absent from dst (the upsert planner's
    insert set).  Payload columns (policies, properties, partitions)
    ride along from src, mirroring create-with-payload (R6/R9)."""
    return src.join(dst.select(*key), on=key, how="left_anti")


def diff_catalogs(
    src_tenants: DataFrame,
    src_namespaces: DataFrame,
    src_topics: DataFrame,
    dst_tenants: DataFrame,
    dst_namespaces: DataFrame,
    dst_topics: DataFrame,
) -> CatalogDiff:
    """The full control-plane tick: three leveled anti-joins — what the
    reference does with four manager classes and a 10-thread pool, as
    one declarative plan."""
    new_tenants = missing(src_tenants, dst_tenants, TENANT_KEY)
    new_namespaces = missing(src_namespaces, dst_namespaces, NAMESPACE_KEY)
    new_topics = missing(src_topics, dst_topics, TOPIC_KEY)
    return CatalogDiff(
        tenants=new_tenants,
        namespaces=new_namespaces,
        topics=new_topics,
    )
