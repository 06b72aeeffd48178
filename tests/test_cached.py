"""The one cache helper (`operators/util.py`): undeclared keys are
refused, a repeat call of a caching query adds no cache entry and no
registry handle, and `release(prefix)` leaves no persistent RDD."""

from __future__ import annotations

import pytest

from pulsar_sync_java_spark.operators import util
from tests.conftest import SF_DIR


def test_cached_refuses_an_undeclared_key(spark):
    df = spark.range(5).selectExpr("id * 13 AS undeclared_probe")
    with pytest.raises(KeyError, match="undeclared"):
        util.cached(df, "undeclared")
    assert not df.storageLevel.useMemory


def test_repeat_bpe_encode_adds_no_cache_entry(spark):
    from pulsar_sync_java_spark.queries import all_queries

    def state():
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {k: len(v) for k, v in util._HANDLES.items()}, {i.id() for i in infos}

    q = all_queries()["q_bpe_encode"]
    q(spark, SF_DIR).count()
    first = state()
    assert first[0]["pipeline.bpe_learn"] == first[0]["pipeline.bpe_doc_word_counts"] == 1
    q(spark, SF_DIR).count()
    assert state() == first


def test_release_leaves_no_persistent_rdd_of_the_prefix(spark):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    keys = ["dedup.simhash_calibration." + k for k in ("fingerprints", "token_counts")]
    for i, key in enumerate(keys):
        util.cached(spark.range(50).selectExpr(f"id * {i + 7} AS release_probe"), key).count()
    assert all(util.census(spark)[k] > 0 for k in keys)
    assert set(jsc.getPersistentRDDs()) - before
    util.release("dedup.simhash_calibration")
    assert not set(jsc.getPersistentRDDs()) - before
    assert not any(k.startswith("dedup.simhash_calibration") for k in util.census(spark))
