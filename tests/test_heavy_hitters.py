"""Misra-Gries heavy hitters: exactness, MG guarantee, partition
invariance, and that the sketch actually compresses (no silent
degeneration into a full partial aggregate)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from pulsar_sync_java_spark.operators.heavy_hitters import (
    _compress,
    heavy_hitters,
    mg_summaries,
)


def exact_heavy(rows, phi):
    c = Counter(rows)
    n = sum(c.values())
    thr = math.ceil(phi * n)
    return {k: v for k, v in c.items() if v >= thr}, n


def skewed_rows():
    # 3 hot keys (1000, 600, 300 rows) over a 500-key cold tail (4 each)
    rows = [7] * 1000 + [13] * 600 + [99] * 300
    for k in range(1000, 1500):
        rows += [k] * 4
    return rows


@pytest.mark.parametrize("parts", [1, 7, 32])
def test_exact_and_partition_invariant(spark, parts):
    rows = skewed_rows()
    df = spark.createDataFrame([(k,) for k in rows], "k long").repartition(parts)
    got = {
        r["k"]: (r["n_occurrences"], r["share"])
        for r in heavy_hitters(df, "k", phi=0.05).collect()
    }
    want, n = exact_heavy(rows, 0.05)
    assert {k: v[0] for k, v in got.items()} == want
    for k, (cnt, share) in got.items():
        assert share == cnt / n


def test_mg_guarantee_no_heavy_key_lost_at_tight_capacity(spark):
    """Even at the minimum capacity the bound requires, every true
    heavy hitter must survive the candidate cut."""
    rows = skewed_rows()
    df = spark.createDataFrame([(k,) for k in rows], "k long").repartition(16)
    got = {r["k"] for r in heavy_hitters(df, "k", phi=0.05, k=40).collect()}
    want, _ = exact_heavy(rows, 0.05)
    assert got == set(want)


def test_sketch_actually_compresses(spark):
    """With per-partition distinct >> capacity, the summaries must be
    bounded by the capacity (not a full per-partition count table) and
    report a positive decrement bound."""
    rows = skewed_rows()
    df = spark.createDataFrame([(k,) for k in rows], "k long").coalesce(1)
    summ = mg_summaries(df, "k", k=20).collect()
    counts = [r for r in summ if r["k"] is not None]
    meta = [r for r in summ if r["k"] is None]
    assert len(counts) <= 20 < 503  # 503 distinct keys went in
    assert len(meta) == 1 and meta[0]["err"] > 0
    assert meta[0]["n"] == len(rows)


def test_compress_bound():
    c = Counter({i: i for i in range(1, 11)})  # 10 keys, counts 1..10
    out, d = _compress(c, 3)
    assert d == 7  # 4th largest
    assert dict(out) == {8: 1, 9: 2, 10: 3}
    assert len(out) <= 3
    # no-op below capacity
    out2, d2 = _compress(Counter({1: 5}), 3)
    assert d2 == 0 and dict(out2) == {1: 5}


def test_empty_and_bad_phi(spark):
    df = spark.createDataFrame([], "k long")
    assert heavy_hitters(df, "k", phi=0.1).count() == 0
    with pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, "k", phi=1.5)


def test_null_keys_refused(spark):
    """value_counts silently drops NaN while an exact GROUP BY keeps
    the null group — the sketch must refuse nullable keys loudly."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    df = spark.createDataFrame([(1,), (None,), (1,)], "k long")
    with pytest.raises((Py4JJavaError, PythonException), match="null key"):
        heavy_hitters(df, "k", phi=0.1).count()


def test_verify_join_is_broadcast(spark):
    """Plan contract: the verify pass probes the corpus with a
    BROADCAST semi join (the corpus side must not shuffle to meet the
    candidate set)."""
    import io
    from contextlib import redirect_stdout

    rows = skewed_rows()
    df = spark.createDataFrame([(k,) for k in rows], "k long")
    buf = io.StringIO()
    with redirect_stdout(buf):
        heavy_hitters(df, "k", phi=0.05).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_mg_undercount_invariant_property():
    """The guarantee the candidate cut rests on, under arbitrary batch
    splits: after batched MG maintenance, every key's kept count c'
    satisfies c_true - err <= c' <= c_true (absent keys: c_true <=
    err), where err is the accumulated per-key decrement bound."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        keys=st.lists(st.integers(0, 25), min_size=0, max_size=400),
        cap=st.integers(min_value=2, max_value=12),
        chunk=st.integers(min_value=1, max_value=50),
    )
    def check(keys, cap, chunk):
        mg, err = Counter(), 0
        for i in range(0, len(keys), chunk):
            for kk in keys[i : i + chunk]:
                mg[kk] += 1
            if len(mg) > 4 * cap:
                mg, d = _compress(mg, cap)
                err += d
        mg, d = _compress(mg, cap)
        err += d
        true = Counter(keys)
        assert len(mg) <= cap
        for kk, c_true in true.items():
            c_kept = mg.get(kk, 0)
            assert c_kept <= c_true
            assert c_kept >= c_true - err
        assert set(mg) <= set(true)

    check()
