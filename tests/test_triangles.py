"""count_triangles: exactness on known graphs, orientation invariance,
input normalization, and the pre_normalized orientation guard."""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException

from pulsar_sync_java_spark.operators.graph import count_triangles


def run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    r = count_triangles(df, **kw).collect()[0]
    return (r["n_nodes"], r["n_edges"], r["n_triangles"])


def test_known_graphs(spark):
    # single triangle
    assert run(spark, [(1, 2), (2, 3), (3, 1)]) == (3, 3, 1)
    # K4 has 4 triangles
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert run(spark, k4) == (4, 6, 4)
    # path graph: none
    assert run(spark, [(1, 2), (2, 3), (3, 4)]) == (4, 3, 0)
    # star (hub) graph: none — the degree orientation points every
    # leaf at the hub, so the hub pivots zero wedges
    star = [(0, i) for i in range(1, 12)]
    assert run(spark, star) == (12, 11, 0)


def test_normalizes_direction_duplicates_and_loops(spark):
    messy = [(2, 1), (1, 2), (2, 3), (3, 2), (1, 3), (5, 5)]
    # {1,2,3} triangle once; the self-loop drops, node 5 vanishes
    assert run(spark, messy) == (3, 3, 1)


def test_k5_minus_edge(spark):
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k5.remove((0, 1))
    # K5 has 10 triangles; removing one edge kills the 3 through it
    assert run(spark, k5) == (5, 9, 7)


def test_pre_normalized_rejects_unoriented_edges(spark):
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert run(spark, k4, pre_normalized=True) == (4, 6, 4)
    # both directions of every edge, still distinct rows: trusting it
    # would count each triangle more than once
    symmetric = k4 + [(b, a) for a, b in k4]
    with pytest.raises(SparkRuntimeException, match="src >= dst"):
        run(spark, symmetric, pre_normalized=True)
