"""Convergence tests for the catalog-diff plane — the reference's test
strategy (arrange on src -> run -> assert dst converges; SURVEY.md §5)
in batch form, plus the invariants its E2E tests leave untested:
idempotency, additive-only, payload carry-over.
"""

from __future__ import annotations

import pytest

from pulsar_sync_java_spark.plans.catalog_diff import diff_catalogs


@pytest.fixture()
def catalogs(spark):
    src_tenants = spark.createDataFrame(
        [("public",), ("test-tenant",), ("acme",)], ["tenant"]
    )
    dst_tenants = spark.createDataFrame([("public",)], ["tenant"])
    src_ns = spark.createDataFrame(
        [
            ("public", "default", '{"retention": 7}'),
            ("public", "test-ns", "{}"),
            ("acme", "prod", '{"retention": 30}'),
        ],
        ["tenant", "namespace", "policies"],
    )
    dst_ns = spark.createDataFrame(
        [("public", "default", '{"retention": 7}')],
        ["tenant", "namespace", "policies"],
    )
    src_topics = spark.createDataFrame(
        [
            ("public", "default", "orders", 2, True),
            ("public", "default", "audit", None, False),
            ("acme", "prod", "clicks", 3, True),
        ],
        "tenant string, namespace string, topic string, partitions int, partitioned boolean",
    )
    dst_topics = spark.createDataFrame(
        [("public", "default", "orders", 2, True)],
        "tenant string, namespace string, topic string, partitions int, partitioned boolean",
    )
    return src_tenants, src_ns, src_topics, dst_tenants, dst_ns, dst_topics


def test_diff_inserts_only_what_is_missing(spark, catalogs):
    """Mirror of PulsarTenantSyncTest/PulsarNamespaceSyncTest: after one
    sync tick, dst contains what src has."""
    d = diff_catalogs(*catalogs)
    assert {r.tenant for r in d.tenants.collect()} == {"test-tenant", "acme"}
    assert {(r.tenant, r.namespace) for r in d.namespaces.collect()} == {
        ("public", "test-ns"),
        ("acme", "prod"),
    }
    assert {r.topic for r in d.topics.collect()} == {"audit", "clicks"}


def test_apply_is_idempotent_and_additive(spark, catalogs):
    """Conflict-tolerance analogue: appending a diff's inserts to dst (the
    engine's only create) makes the next diff empty, so a second apply is
    a no-op; entities present only on dst are never removed."""
    src_tenants, src_ns, src_topics, dst_tenants, dst_ns, dst_topics = catalogs
    dst_extra = dst_tenants.union(spark.createDataFrame([("dst-only",)], ["tenant"]))

    def apply_once(t, n, p):
        d = diff_catalogs(src_tenants, src_ns, src_topics, t, n, p)
        return (
            t.unionByName(d.tenants.select(*t.columns)),
            n.unionByName(d.namespaces.select(*n.columns)),
            p.unionByName(d.topics.select(*p.columns)),
        )

    t_once, ns_once, top_once = apply_once(dst_extra, dst_ns, dst_topics)
    t_twice, ns_twice, top_twice = apply_once(t_once, ns_once, top_once)
    names_once = sorted(r.tenant for r in t_once.collect())
    names_twice = sorted(r.tenant for r in t_twice.collect())
    assert names_once == names_twice == ["acme", "dst-only", "public", "test-tenant"]
    assert ns_once.count() == ns_twice.count() == 3
    assert top_once.count() == top_twice.count() == 3

    again = diff_catalogs(src_tenants, src_ns, src_topics, t_once, ns_once, top_once)
    assert again.tenants.count() == again.namespaces.count() == again.topics.count() == 0


def test_policies_payload_rides_along(spark, catalogs):
    """The gap the reference's tests leave open (SURVEY.md §5): created
    namespaces carry their policies payload (R6 create-with-policies,
    PulsarNamespaceSyncManager.java:78-79)."""
    d = diff_catalogs(*catalogs)
    rows = {(r.tenant, r.namespace): r.policies for r in d.namespaces.collect()}
    assert rows[("acme", "prod")] == '{"retention": 30}'
