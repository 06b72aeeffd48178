"""CDC merge-apply: roundtrip identity, null-safety, plan shape.

The driver's q_merge_apply already hash-proves apply(diff(old,new),
old) == new on the orders slices; these tests pin the operator's
general contract on adversarial small frames and the no-base-shuffle
plan (SURVEY.md §4 discipline).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.merge import keyed_diff, merge_apply


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def mk(spark, data, cols):
    return spark.createDataFrame(data, cols)


CASES = [
    # identical snapshots -> empty effective diff
    ([(1, "a"), (2, "b")], [(1, "a"), (2, "b")]),
    # disjoint keys -> pure insert + delete
    ([(1, "a"), (2, "b")], [(3, "c"), (4, "d")]),
    # mixed: update, delete, insert, unchanged
    ([(1, "a"), (2, "b"), (3, "c")], [(2, "B"), (3, "c"), (9, "z")]),
    # null values both ways (null->value and value->null are updates)
    ([(1, None), (2, "b")], [(1, "a"), (2, None)]),
    # empty old (initial load), empty new (full truncate)
    ([], [(1, "a")]),
    ([(1, "a")], []),
]


@pytest.mark.parametrize("old_rows,new_rows", CASES)
@pytest.mark.parametrize("validate", [True, False])
def test_roundtrip_identity(spark, old_rows, new_rows, validate):
    """A keyed_diff feed applies back to the target, screened or not
    (q_merge_apply applies it unscreened)."""
    schema = "k long, v string"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    diff = keyed_diff(old, new, ["k"])
    applied = merge_apply(old, diff, ["k"], validate_ops=validate)
    assert rows(applied) == rows(new)
    assert applied.columns == old.columns


def test_diff_classification_and_null_safety(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (5, "e")], "k long, v string"
    )
    got = {
        r["k"]: (r["op"], r["v"])
        for r in keyed_diff(old, new, ["k"]).collect()
    }
    assert got == {
        1: ("unchanged", "a"),
        2: ("update", "B"),
        3: ("update", "c"),  # null -> value is an update, not unchanged
        4: ("delete", None),
        5: ("insert", "e"),
    }


def test_multi_column_key_roundtrip(spark):
    schema = "k1 long, k2 string, v long"
    old = spark.createDataFrame([(1, "x", 10), (1, "y", 20), (2, "x", 30)], schema)
    new = spark.createDataFrame([(1, "x", 11), (2, "x", 30), (2, "y", 40)], schema)
    diff = keyed_diff(old, new, ["k1", "k2"])
    assert rows(merge_apply(old, diff, ["k1", "k2"])) == rows(new)


def test_unchanged_rows_are_noops_and_schema_mismatch_raises(spark):
    old = spark.createDataFrame([(1, "a")], "k long, v string")
    # a feed of ONLY unchanged rows must not touch the base
    feed = spark.createDataFrame([(1, "a", "unchanged")], "k long, v string, op string")
    assert rows(merge_apply(old, feed, ["k"])) == [(1, "a")]
    with pytest.raises(ValueError, match="schemas differ"):
        keyed_diff(old, old.select("v", "k"), ["k"])


def test_unknown_or_null_op_refused(spark):
    """A typo'd or null op would silently delete its row (touched but
    never upserted) — merge_apply must refuse the feed instead."""
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    for bad_op in ["Insert", None]:
        feed = spark.createDataFrame(
            [(1, "x", bad_op)], "k long, v string, op string"
        )
        with pytest.raises(ValueError, match="refusing to apply"):
            merge_apply(old, feed, ["k"])
    # and the hazard the validation exists for is real: with the
    # escape hatch engaged, the typo'd op silently deletes its row
    feed = spark.createDataFrame([(1, "x", "Insert")], "k long, v string, op string")
    assert rows(merge_apply(old, feed, ["k"], validate_ops=False)) == [(2, "b")]


def test_apply_plan_never_shuffles_base(spark, tmp_path):
    """The base side reaches the broadcast anti join scan-direct — no
    Exchange, no Sort anywhere in the apply plan (the union + broadcast
    anti preserve base partitioning)."""
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    base.write.mode("overwrite").parquet(str(tmp_path / "base"))
    base = spark.read.parquet(str(tmp_path / "base"))
    feed = spark.createDataFrame(
        [(1, 99, "update"), (2000, 1, "insert"), (5, None, "delete")],
        "k long, v long, op string",
    )
    plan = plan_of(merge_apply(base, feed, ["k"]))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert not re.findall(r"\(\d+\) Exchange\b", plan), plan
    assert not re.findall(r"\(\d+\) Sort\b", plan), plan
