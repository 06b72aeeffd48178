"""connected_components: exactness vs a brute-force reference, and
invariance to partitioning / contraction depth."""

from __future__ import annotations

import random

import pytest

from pulsar_sync_java_spark.operators.graph import connected_components


def _brute_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference labeling: BFS over adjacency, label = component min."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    label: dict[int, int] = {}
    for start in adj:
        if start in label:
            continue
        seen = {start}
        frontier = [start]
        while frontier:
            nxt = []
            for n in frontier:
                for m in adj[n]:
                    if m not in seen:
                        seen.add(m)
                        nxt.append(m)
            frontier = nxt
        lo = min(seen)
        for n in seen:
            label[n] = lo
    return label


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
    if not edges:
        df = df.limit(0)
    got = connected_components(df, **kw).collect()
    return {r["id"]: r["label"] for r in got}


def test_cc_matches_bruteforce_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(6):
        n_nodes = rng.randrange(2, 120)
        n_edges = rng.randrange(1, 260)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        assert _run(spark, edges) == _brute_components(edges), f"trial {trial}"


def test_cc_chain_and_clique_and_self_loop(spark):
    # a path (worst case for label propagation), a clique, a self-loop
    chain = [(i, i + 1) for i in range(40)]
    clique = [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    edges = chain + clique + [(999, 999)]
    got = _run(spark, edges)
    assert all(got[i] == 0 for i in range(41))
    assert all(got[100 + i] == 100 for i in range(5))
    assert got[999] == 999


def test_cc_invariant_to_contraction_depth(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(150)]
    expect = _brute_components(edges)
    # force multi-round contraction with a deep ladder, and none at all
    assert _run(spark, edges, ladder=(16, 7, 3, 2)) == expect
    assert _run(spark, edges, ladder=()) == expect


def test_cc_empty(spark):
    assert _run(spark, []) == {}


def test_cc_distributed_star_finish_matches_bruteforce(spark):
    """finish_budget=0 forces the large-star/small-star finish (the
    100 TB path: no single-task step at all) on graphs that stress it:
    a long path (max star rounds), cliques, singletons, and randoms."""
    rng = random.Random(23)
    cases = [
        [(i, i + 1) for i in range(80)],  # path: tall trees to flatten
        [(100 + i, 100 + j) for i in range(6) for j in range(i + 1, 6)]
        + [(7, 7), (3, 3)],  # clique + pure singleton markers
        [(rng.randrange(90), rng.randrange(90)) for _ in range(200)],
    ]
    for edges in cases:
        got = _run(spark, edges, finish_budget=0)
        assert got == _brute_components(edges)


def test_cc_star_finish_plan_has_no_single_task_step(spark):
    """The distributed finish must not contain repartition(1) anywhere
    in the returned plan (the single-task label step is only reachable
    under the count gate)."""
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, finish_budget=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # repartition(1) renders as 'Exchange SinglePartition' in physical
    # plans — assert on that (and prove the assertion CAN fail: the
    # gated path must contain it)
    assert "SinglePartition" not in plan, plan
    gated = connected_components(df, finish_budget=10**6)
    gated_plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" in gated_plan
    got = {r["id"]: r["label"] for r in out.collect()}
    assert got == _brute_components(edges)


def test_cc_count_gated_extra_contraction_rounds(spark):
    """A finish_budget below the first forest size triggers the gated
    /8 contraction loop (>=1 extra round) before labeling; result must
    be identical either way."""
    rng = random.Random(31)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(900)]
    expect = _brute_components(edges)
    # first pass over default partitioning leaves a forest much larger
    # than 32 edges -> the gated loop must run (and then either fit the
    # budget or fall through to the star finish); both must be exact
    assert _run(spark, edges, ladder=(32,), finish_budget=32) == expect
    assert _run(spark, edges, ladder=(32, 4), finish_budget=10**6) == expect


def test_cc_null_ids_are_dropped_not_poisonous(spark):
    df = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("x", "5"), ("6", None)],
        "src string, dst string",
    )
    got = {r["id"]: r["label"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_pagerank_conserves_mass_and_ranks_hubs(spark):
    """With bidirectional edges there are no dangling nodes, so total
    rank stays 1 every iteration; a hub connected to all spokes must
    out-rank every spoke."""
    from pulsar_sync_java_spark.operators.graph import pagerank

    star = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    extra = [(1, 2), (2, 1)]
    df = spark.createDataFrame(star + extra, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert all(v > 0 for v in got.values())
    hub = got[0]
    assert all(hub > got[i] for i in range(1, 9))
    # the two cross-linked spokes beat the plain spokes
    assert got[1] > got[3] and got[2] > got[3]


def test_tree_roots_both_regimes_agree_on_random_forest(spark):
    """Linear unroll (bounded depth) and pointer doubling (unbounded)
    must produce identical (root, depth) labels — checked on a random
    multi-root forest with chains deep enough to need real iteration."""
    from pulsar_sync_java_spark.operators.graph import tree_roots

    rng = random.Random(7)
    edges = []
    for node in range(1, 120):
        parent = rng.randrange(0, node)  # acyclic: parent < node
        if parent % 17 == 0 and parent != 0:
            continue  # leave some extra roots
        edges.append((node, parent))
    df = spark.createDataFrame(edges, "node long, parent long")
    fast = {
        (r["node"]): (r["root"], r["depth"])
        for r in tree_roots(df, max_depth=20).collect()
    }
    slow = {
        (r["node"]): (r["root"], r["depth"])
        for r in tree_roots(df).collect()
    }
    assert fast == slow
    # sanity vs a python walk
    par = dict(edges)
    def walk(n):
        d = 0
        while n in par:
            n, d = par[n], d + 1
        return n, d
    for n in list(fast):
        assert fast[n] == walk(n), n


def test_pagerank_empty_edges_returns_empty(spark):
    from pulsar_sync_java_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    out = pagerank(empty, iterations=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_shard_pack_prefix_sum_matches_naive_cumsum(spark):
    """Property test for the two-level distributed prefix sum behind
    q_shard_pack (queries/training.py): on random integer sizes the
    bucketed offset+within-bucket formulation must equal the naive
    global running total exactly, for bucket widths that divide, skip,
    and exceed the id range."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=0, max_value=5000),
                       min_size=1, max_size=60),
        width=st.sampled_from([1, 3, 16, 64, 1000]),
    )
    def check(sizes, width):
        # pure-python replica of the training.q_shard_pack arithmetic
        ids = list(range(len(sizes)))
        naive, acc = [], 0
        for s in sizes:
            naive.append(acc)  # exclusive prefix
            acc += s
        # two-level: bucket = id div width
        from collections import defaultdict
        btot = defaultdict(int)
        for i, s in zip(ids, sizes):
            btot[i // width] += s
        offs, run = {}, 0
        for b in sorted(btot):
            offs[b] = run
            run += btot[b]
        within = defaultdict(int)
        got = []
        for i, s in zip(ids, sizes):
            b = i // width
            got.append(offs[b] + within[b])
            within[b] += s
        assert got == naive

    check()


def test_tree_roots_deep_bound_keeps_clamped_semantics(spark):
    """A max_depth DEEPER than the 32-join codegen bound must still mean
    "advance at most max_depth parent steps" — executed as <=32-join
    segments with persist barriers, NOT silently rerouted to full-root
    pointer doubling (ADVICE r5: the reroute changed depth-clamped
    partial ancestors into full roots without warning)."""
    from pulsar_sync_java_spark.operators.graph import tree_roots

    chain = [(i, i - 1) for i in range(1, 100)]  # 0 <- 1 <- ... <- 99
    df = spark.createDataFrame(chain, "node long, parent long")

    clamped = {
        r["node"]: (r["root"], r["depth"])
        for r in tree_roots(df, max_depth=40).collect()
    }
    # node 99 sits at depth 99; a 40-step clamp stops at ancestor 59
    assert clamped[99] == (59, 40)
    # nodes within the clamp resolve fully
    assert clamped[17] == (0, 17)
    assert clamped[40] == (0, 40)

    # a bound deep enough to cover the chain resolves everything —
    # 119 chained joins would StackOverflow the planning thread as one
    # plan; the segment barriers must make it compile and run
    full = {
        r["node"]: (r["root"], r["depth"])
        for r in tree_roots(df, max_depth=120).collect()
    }
    assert full == {i: (0, i) for i in range(100)}


@pytest.mark.slow
def test_tree_roots_fixpoint_matches_union_find_on_random_forests(spark):
    """Property: on random forests with chains deeper than one doubling
    round, the convergence-detected unbounded mode equals a Python
    union-find (roots) and parent walk (depths)."""
    from pulsar_sync_java_spark.operators.graph import tree_roots

    # one deep-chain forest (59-deep: 6 doubling rounds) and one
    # shallower one (19-deep: 5 rounds) — two seeds of the deep shape
    # added ~50 s of pure doubling-round repetition for no extra
    # coverage (r9 suite-runtime pass); the differing depths now also
    # exercise two distinct round counts
    for seed, depth in ((3, 60), (11, 20)):
        rng = random.Random(seed)
        edges = []
        # several long chains plus random shallow attachments
        for base in (1000, 2000, 3000):
            for i in range(1, depth):
                edges.append((base + i, base + i - 1))
        for node in range(1, 200):
            parent = rng.randrange(0, node)
            if parent % 13 == 0 and parent != 0:
                continue
            edges.append((node, parent))
        df = spark.createDataFrame(edges, "node long, parent long")
        got = {
            r["node"]: (r["root"], r["depth"])
            for r in tree_roots(df).collect()
        }

        class _UF:
            def __init__(self):
                self.p = {}
            def find(self, x):
                r = x
                while self.p.get(r, r) != r:
                    r = self.p[r]
                return r
            def union(self, a, b):
                self.p[self.find(a)] = self.find(b)

        uf = _UF()
        par = dict(edges)
        for n, p in edges:
            uf.union(n, p)
        for n in got:
            # root agrees with union-find representative's walk-root
            r = uf.find(n)
            while r in par:
                r = par[r]
            d, x = 0, n
            while x in par:
                x, d = par[x], d + 1
            assert got[n] == (r, d), (seed, n)


def test_tree_roots_cycle_raises(spark):
    """A parent relation with a cycle has no fixpoint; the unbounded
    mode must fail loudly after its safety cap, not return garbage."""
    from pulsar_sync_java_spark.operators.graph import tree_roots

    cyc = [(1, 2), (2, 3), (3, 1), (10, 1)]
    df = spark.createDataFrame(cyc, "node long, parent long")
    with pytest.raises(ValueError, match="cycle"):
        tree_roots(df).collect()


def test_tree_roots_unbounded_matches_duckdb_recursive_cte(spark, duck):
    """Replay the genuine recursive-CTE oracle at sf0.001 against the
    CONVERGENCE-DETECTED unbounded mode (q_tree_ancestors itself runs
    the bounded regime, so the driver row never exercises this path)."""
    from pyspark.sql import functions as F

    from pulsar_sync_java_spark.operators.graph import tree_roots
    from pulsar_sync_java_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    parents = d.filter(F.col("doc_id") > 0).select(
        F.col("doc_id").alias("node"),
        F.floor((F.col("doc_id") - 1) / 2).alias("parent"),
    )
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in tree_roots(parents).collect()
    }
    want = {
        row[0]: (row[1], row[2])
        for row in duck.execute(
            """
            WITH RECURSIVE p AS (
              SELECT doc_id AS node, (doc_id - 1) // 2 AS parent
              FROM documents WHERE doc_id > 0
            ), walk(node, anc, depth) AS (
              SELECT node, parent, 1 FROM p
              UNION ALL
              SELECT w.node, p2.parent, w.depth + 1
              FROM walk w JOIN p p2 ON p2.node = w.anc
            )
            SELECT node, anc, depth FROM walk
            WHERE anc NOT IN (SELECT node FROM p)
            """
        ).fetchall()
    }
    # tree_roots also emits the root itself (depth 0); the CTE walk
    # starts from children only
    roots = {n for n, (r, _) in got.items() if got[n][1] == 0}
    assert {n: v for n, v in got.items() if n not in roots} == want
