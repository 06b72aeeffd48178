"""The load_table handle memo (r14): repeated loads of the same table
return the SAME lazy DataFrame handle (plan-construction cost paid
once per session), while the memo never caches DATA — the handle is a
plain unmaterialized plan whose every action re-scans the parquet
files — and never leaks across sessions or directories."""

from __future__ import annotations

import os

from pulsar_sync_java_spark.sources.tables import _TABLE_HANDLES, load_table
from tests.conftest import SF_DIR


def test_same_session_same_dir_returns_one_handle(spark):
    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    assert a is b
    # a different table is a different handle
    c = load_table(spark, SF_DIR, "lineitem")
    assert c is not a


def test_handles_are_plain_lazy_plans_not_cached_data(spark):
    df = load_table(spark, SF_DIR, "orders")
    # not persisted: no storage level beyond NONE, nothing in the
    # cache manager — the memo must never become a persist in disguise
    assert df.storageLevel.useMemory is False
    assert df.storageLevel.useDisk is False
    # and actions still work (scan the files) after repeated fetches
    assert load_table(spark, SF_DIR, "orders").count() == df.count()


def test_handle_keyed_by_application_and_dir(spark):
    load_table(spark, SF_DIR, "orders")
    app = spark.sparkContext.applicationId
    keys = [k for k in _TABLE_HANDLES if k[0] == app]
    assert all(len(k) == 3 for k in keys)
    # a different sf_dir misses the memo (distinct key), so immutable
    # per-directory file listings can never cross-contaminate
    assert (
        app,
        os.path.realpath(SF_DIR),
        "orders",
    ) in _TABLE_HANDLES


def test_memo_hit_still_sets_session_confs(spark):
    """The confs are session-scoped and the memo is application-scoped:
    a second session of the same context gets them on a memo hit."""
    load_table(spark, SF_DIR, "orders")
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    load_table(other, SF_DIR, "orders")  # memo hit
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"
    assert other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_insert_drops_handles_of_other_applications(spark, monkeypatch):
    """Only one application is live per process: an insert evicts the
    handles of earlier applications and keeps the current one's."""
    app, root = spark.sparkContext.applicationId, os.path.realpath(SF_DIR)
    load_table(spark, SF_DIR, "lineitem")
    stale = ("app-stopped-earlier", root, "orders")
    monkeypatch.setitem(_TABLE_HANDLES, stale, object())
    monkeypatch.delitem(_TABLE_HANDLES, (app, root, "orders"), raising=False)
    load_table(spark, SF_DIR, "orders")  # a memo miss, so an insert
    assert stale not in _TABLE_HANDLES
    assert (app, root, "lineitem") in _TABLE_HANDLES
    assert (app, root, "orders") in _TABLE_HANDLES
