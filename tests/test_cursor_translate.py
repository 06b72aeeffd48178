"""Property tests for the as-of/floor semantics (SURVEY.md §5 test plan
#4): a translated cursor never skips messages, translation is exact when
the cursor itself was sampled, and asof_join handles edges the
reference's SparseMap gets wrong (empty map -> NPE, SparseMap.java:38,57).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.asof import asof_join
from pulsar_sync_java_spark.plans.cursor_translate import (
    latest_cursor,
    sparse_sample,
    translate,
)
from pulsar_sync_java_spark.sources.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events").select("user_id", "ts", "event_id")


def test_translation_is_conservative(spark, events):
    """Floor conservatism: translated_ts <= cursor_ts for every cursor —
    replay-only error (SparseMap.java:57 floor + 60 s sampling bound)."""
    mapping = sparse_sample(events, ["user_id"])
    cursors = latest_cursor(events, ["user_id"])
    out = translate(cursors, mapping, ["user_id"]).collect()
    assert len(out) == cursors.count()
    for r in out:
        assert r.translated_ts is not None
        assert r.translated_ts <= r.ts


def test_translation_error_bounded_by_interval(spark, events):
    """BASELINE.md: replay <= one sampling interval *of the mapping* —
    the floor sample is in the same or an earlier bucket, and within
    the cursor's bucket the sample is the bucket's first message."""
    mapping = sparse_sample(events, ["user_id"])
    cursors = latest_cursor(events, ["user_id"])
    out = translate(cursors, mapping, ["user_id"])
    # the gap between cursor and its floor sample never exceeds the
    # cursor's own bucket width back to that bucket's first event;
    # in particular floor(bucket(translated)) <= bucket(cursor)
    bad = out.filter(
        F.date_trunc("minute", F.col("translated_ts"))
        > F.date_trunc("minute", F.col("ts"))
    )
    assert bad.count() == 0


def test_sampled_cursor_translates_exactly(spark):
    """Dense-hit analogue (PulsarPartitionSyncWorker.java:212-215): if
    the cursor position IS a sampled position, translation is exact."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 10),
        (1, base + dt.timedelta(seconds=30), 11),  # same bucket, not sampled
        (1, base + dt.timedelta(seconds=60), 12),  # next bucket -> sampled
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    mapping = sparse_sample(df, ["user_id"])
    cursors = latest_cursor(df, ["user_id"])
    [r] = translate(cursors, mapping, ["user_id"]).collect()
    assert r.cursor_id == 12 and r.translated_id == 12


def test_empty_mapping_yields_null_not_error(spark):
    """The reference NPEs on an empty SparseMap (SparseMap.java:38,57);
    the engine returns null-translated rows instead."""
    ev = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1)], "user_id long, ts timestamp, event_id long"
    )
    empty = ev.filter(F.lit(False))
    out = translate(latest_cursor(ev, ["user_id"]), empty, ["user_id"]).collect()
    assert len(out) == 1 and out[0].translated_id is None


def test_asof_tiebreak_deterministic(spark):
    left = spark.createDataFrame([(1, 10)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 10, 5), (1, 10, 9), (1, 10, 2)], "k long, t long, vid long"
    )
    [r] = asof_join(left, right, on="t", by="k", right_tiebreak=["vid"]).collect()
    assert r.vid == 9  # greatest tiebreak wins


def test_asof_join_forward_matches_brute_force(spark):
    """direction='forward' must attach the SMALLEST right `on` >= left's,
    per key — checked against a brute-force range-join formulation on
    real event data."""
    ev = load_table(spark, SF_DIR, "events")
    left = ev.select(
        (F.col("user_id") % 5).alias("k"),
        F.col("event_id").alias("lid"),
        F.unix_micros("ts").alias("t"),
    ).limit(300)
    right = ev.select(
        (F.col("user_id") % 5).alias("k"),
        F.col("event_id").alias("rid"),
        (F.unix_micros("ts") + 17).alias("t"),
    ).limit(200)

    got = {
        (r.k, r.lid): r.rid
        for r in asof_join(
            left, right, on="t", by="k", right_tiebreak=["rid"], direction="forward"
        ).collect()
    }
    cmp = F.col("r.t") >= F.col("l.t")
    brute = (
        left.alias("l")
        .join(right.alias("r"), (F.col("l.k") == F.col("r.k")) & cmp, "left")
        .groupBy("l.k", "l.lid")
        .agg(F.min_by(F.col("r.rid"), F.struct(F.col("r.t"), -F.col("r.rid"))).alias("rid"))
    )
    expected = {(r.k, r.lid): r.rid for r in brute.collect()}
    assert got == expected
    assert any(v is not None for v in got.values())
