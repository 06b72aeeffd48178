"""Connected components over near-duplicate pair graphs.

Turns pairwise dedup output (doc_a, doc_b edges from
`operators/dedup.py`) into keep/drop clusters: every node is labeled
with its component's minimum id.  This is the reference's `computeIfAbsent`
memoization shape (SURVEY.md R26) generalized to transitive closure —
and the step every web-scale dedup pipeline runs after candidate
pairing.

Algorithm: **spanning-forest contraction** (the "filtering" scheme of
Kiveris et al., *Connected Components in MapReduce and Beyond*,
ACM SoCC'14 — public paper; same regime as PAPERS.md's MapReduce CC
family).  Each round partitions the edge list arbitrarily and replaces
every partition with a local spanning forest (union-find): connectivity
is exactly preserved (a spanning forest of a union of spanning forests
is a spanning forest of the union graph), while edge count drops to at
most nodes-1 per partition.  Rounds fan in geometrically until the
surviving forest fits a single task, which resolves exact components
and emits (id, min-of-component).

Why not per-round min-label propagation?  Label propagation needs
diameter-many *blocking* rounds, each a join + aggregate + convergence
action — at 100 TB that is dozens of shuffles, and even on small graphs
every round pays full job latency.  Contraction needs O(log P) rounds,
every one a pure transform, so the whole edge-reduction phase is one
lazy pipeline and the (expensive) upstream pair generation is evaluated
exactly once (at the gating count, into a persisted forest).

Scale posture (100 TB corpus):
- the edge list after similarity thresholding is orders of magnitude
  smaller than the corpus (it is the duplicate survivors, not the
  documents); the first forest pass runs NARROW inside the producer's
  own reduce stage, so its per-task state is bounded by the producer's
  shuffle-partition sizing;
- each later round is one shuffle carrying only already-contracted
  forest edges (<= nodes-1 per upstream task), shrinking geometrically
  with the `ladder` fan-in;
- the FINISH is count-gated: a forest under `finish_budget` edges is
  labeled in one bounded task (state = O(budget), a hard constant
  chosen up front); a larger forest — a billion-node dup graph, where
  any single-task step would be the scale-killer — is resolved by
  alternating large-star/small-star rounds (Kiveris et al., SoCC'14),
  which are plain joins + partial-aggregate mins: no task ever holds a
  whole component, per-round state is ordinary shuffle-partition sized.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.util import cached

_EDGE_SCHEMA = "src bigint, dst bigint"
_LABEL_SCHEMA = "id bigint, label bigint"


class _UnionFind:
    """Path-halving union-find over arbitrary int node ids."""

    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        parent = self.parent
        root = parent.setdefault(x, x)
        while parent[root] != root:
            parent[root] = parent[parent[root]]
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    def union(self, a: int, b: int) -> bool:
        """Merge; True iff a and b were in different trees."""
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return False
        self.parent[rb] = ra
        return True


def _forest(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition spanning forest: keep exactly the edges that merge
    two so-far-disconnected trees (<= nodes-1 of them)."""
    uf = _UnionFind()
    keep_s: list[int] = []
    keep_d: list[int] = []
    for pdf in batches:
        for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            a, b = int(a), int(b)
            if a == b:
                # a self-loop merges nothing, but the node must survive
                # contraction (it is "in the graph"): keep its first
                # sighting as a singleton marker edge
                if a not in uf.parent:
                    uf.find(a)
                    keep_s.append(a)
                    keep_d.append(a)
            elif uf.union(a, b):
                keep_s.append(a)
                keep_d.append(b)
    yield pd.DataFrame(
        {
            "src": pd.Series(keep_s, dtype="int64"),
            "dst": pd.Series(keep_d, dtype="int64"),
        }
    )


def _label(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Single-task finish: exact components of the surviving forest,
    labeled with the component minimum (deterministic regardless of
    edge order or earlier partitioning)."""
    uf = _UnionFind()
    for pdf in batches:
        for a, b in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
            uf.union(int(a), int(b))
    comp_min: dict[int, int] = {}
    roots = {n: uf.find(n) for n in uf.parent}
    for node, root in roots.items():
        cur = comp_min.get(root)
        if cur is None or node < cur:
            comp_min[root] = node
    ids = list(roots)
    yield pd.DataFrame(
        {
            "id": pd.Series(ids, dtype="int64"),
            "label": pd.Series(
                [comp_min[roots[n]] for n in ids], dtype="int64"
            ),
        }
    )


def _symmetrize(e: DataFrame) -> DataFrame:
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., SoCC'14): for each center u
    with m = min(neighbors(u) + [u]), re-point every strictly LARGER
    neighbor v at m.  Connectivity-preserving; flattens tall trees.
    Only joins + a partially-aggregated min — no per-component task
    state anywhere."""
    sym = _symmetrize(e)
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", F.col("src")).alias("mn"))
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: for each center u with smaller neighbors S and
    m = min(S + [u]) (= min(S) since all of S < u), re-point every node
    of S + [u] except m itself at m."""
    smaller = _symmetrize(e).where(F.col("dst") < F.col("src"))
    mins = smaller.groupBy("src").agg(F.min("dst").alias("mn"))
    re_pointed = smaller.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("mn").alias("dst")
    )
    centers = mins.select(F.col("src"), F.col("mn").alias("dst"))
    return (
        re_pointed.union(centers)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_labels(forest: DataFrame, spread: int) -> DataFrame:
    """Distributed finish: alternate large-star / small-star to a
    fixpoint, at which the edge set IS the answer — a union of stars
    (v, component-min).  Every round is joins + min-aggregates over
    `spread` partitions; convergence is checked with a cheap
    (count, checksum) signature and confirmed with an exact
    set-difference probe before stopping."""
    # each round references the previous frame several times (symmetrize
    # + join with its own aggregate), so lineage grows EXPONENTIALLY if
    # left alone — plan analysis alone would OOM within a few rounds.
    # localCheckpoint truncates the plan to the materialized blocks each
    # round (executor-local: fine for this derived, recomputable forest).
    cur = (
        forest.where(F.col("src") != F.col("dst"))
        .repartition(spread)
        .localCheckpoint()
    )
    sig_prev: tuple | None = None
    while True:
        nxt = _small_star(_large_star(cur)).repartition(spread).localCheckpoint()
        # order-independent, overflow-proof signature: decimal sum of a
        # 64-bit row hash (sum of ~1e12 values of |x|<2^63 fits decimal 38)
        sig = tuple(
            nxt.agg(
                F.count("*"),
                F.sum(F.xxhash64("src", "dst").cast("decimal(28,0)")),
            ).first()
        )
        if sig == sig_prev and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur, sig_prev = nxt, sig
    centers = cur.select(F.col("dst").alias("id")).distinct()
    return cur.select(F.col("src").alias("id"), F.col("dst").alias("label")).union(
        centers.select("id", F.col("id").alias("label"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    ladder: tuple[int, ...] = (8,),
    finish_budget: int = 1 << 21,
) -> DataFrame:
    """(id, label) for every node that appears in `edges`, where label =
    the minimum node id of its connected component.  Edges are
    undirected (direction is ignored); isolated nodes never appear
    (callers wanting singleton clusters left-join this onto the node
    table and coalesce label to id).  Edge endpoints that cast to NULL
    (unparsable ids) are dropped up front rather than poisoning the
    forest kernels with NaN.

    NOT lazy: calling this RUNS Spark jobs (the upstream pair pipeline
    into the persisted forest, the gating count, and — over budget —
    the contraction/star rounds) before returning the DataFrame handle.
    Build it when you are ready to pay for the closure, not in an
    explain-only path.

    Phases:

    1. a NARROW local-forest pass on the upstream partitioning (runs
       inside the producer's reduce stage at its full parallelism;
       per-task union-find state is bounded by the producer's own
       shuffle-partition sizing);
    2. one contraction round per `ladder` rung — `repartition(p)` (a
       shuffle barrier on PURPOSE: `coalesce` would collapse the
       producer's stage down to p tasks) carrying only already-
       contracted forest edges;
    3. a count-gated finish on the PERSISTED forest (the one sizing
       action; the expensive upstream pair pipeline is still evaluated
       exactly once, into the cache):
       - forest <= `finish_budget` edges: single bounded task labels it
         exactly (state is O(finish_budget) by construction — never
         O(input));
       - larger: extra /8 contraction rounds while they still shrink
         the forest, then fully distributed large-star/small-star
         rounds (`_star_labels`) — for graphs whose NODE set alone
         overflows one task, no single-task step exists at all.

    `ladder` trades rounds against per-task state: each rung-p task
    holds ~(previous round's total forest)/p edges of union-find state.
    The default one rung suits dup-pair graphs, which are orders of
    magnitude smaller than the corpus; for a 100 TB corpus with a high
    dup rate add rungs (e.g. (512, 32, 4)) so the fan-in per round
    stays bounded.
    """
    e = edges.select(
        F.col(src).try_cast("long").alias("src"),
        F.col(dst).try_cast("long").alias("dst"),
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    e = e.mapInPandas(_forest, schema=_EDGE_SCHEMA)
    last_p = 0
    for p in ladder:
        e = e.repartition(p).mapInPandas(_forest, schema=_EDGE_SCHEMA)
        last_p = p
    # cache + count = the one evaluation of the upstream pair pipeline
    # (a cache, not localCheckpoint: plan-matched, so repeat calls reuse it)
    e = cached(e, "graph.connected_components.forest")
    cnt = e.count()
    # keep contracting while over budget and still shrinking materially
    p = max(last_p // 8, 1)
    while cnt > finish_budget and p > 1:
        nxt = cached(
            e.repartition(p).mapInPandas(_forest, schema=_EDGE_SCHEMA),
            "graph.connected_components.round",
        )
        ncnt = nxt.count()
        if ncnt > 0.7 * cnt:  # at the forest floor (~nodes-1); stop
            nxt.unpersist()
            break
        e.unpersist()
        e, cnt, p = nxt, ncnt, max(p // 8, 1)
    if cnt <= finish_budget:
        return e.repartition(1).mapInPandas(_label, schema=_LABEL_SCHEMA)
    # node set itself may overflow one task: distributed star finish,
    # with singleton marker edges (src == dst) re-attached at the end
    labels = _star_labels(e, spread=max(last_p, 8))
    singles = (
        e.where(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("id"))
        .distinct()
        .join(labels, "id", "left_anti")
        .select("id", F.col("id").alias("label"))
    )
    return labels.union(singles)


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (src, dst) —
    the iterative-algorithm family member of the engine (authority /
    importance weighting, e.g. domain-graph quality signals in a crawl
    pipeline).

    Distributed shape per iteration: ONE join of the (node, rank) table
    onto the out-degree-annotated edges + ONE aggregate of the mass
    arriving at each destination — shuffle volume is edges then nodes,
    never rank-vector x rank-vector.  The out-degree edge table and the
    node table are cached, but the rank chain itself stays LAZY: each
    rank table is consumed exactly once by the next iteration, so
    materializing it per iteration only adds a Spark job — measured
    3.2 s -> ~1 s at sf0.01 dropping the per-iteration persist+count.
    The whole run is ONE action over a
    linear 5-join plan.  A caller unrolling many tens of iterations
    should localCheckpoint every ~10 to bound plan depth.

    Cross-engine determinism (the reason this can be hash-gated): each
    per-edge contribution rank/outdeg is an IEEE double op on
    bit-identical inputs; it is then cast to DECIMAL(38,12), summed
    EXACTLY (order-independent), and the damping update runs in
    doubles again.  CAVEAT (measured in round 10, SCALE.md §4e): the
    double->DECIMAL(38,12) cast is NOT tie-proof across engines — the
    q_hits first draft hit 63 off-by-1e-12 sums at sf0.1 from exactly
    this cast.  This operator stays green on the fixed test data (its
    contribution values happen never to straddle a divergent
    rounding), but new cross-row sums of computed doubles should use
    the tie-free floor(x*1e12) fixed-point device instead.
    Dangling nodes (no out-edges) still receive mass but leak their
    own, matching the oracle's unrolled-CTE formulation.
    """
    nodes = cached(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "graph.pagerank.nodes",
    )
    n = nodes.count()
    if n == 0:
        # empty graph: empty rank table, not a ZeroDivisionError —
        # release the (empty) cache entry, nothing references it again
        out = nodes.select("node", F.lit(0.0).alias("rank")).localCheckpoint()
        nodes.unpersist()
        return out
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # nodes/ed stay cached for the session: one pair per distinct edge
    # plan, not per call.  Callers sweeping many DISTINCT graphs own
    # the release (spark.catalog.clearCache after materializing).
    ed = cached(edges.join(deg, "src"), "graph.pagerank.edges")

    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contrib = (
            ed.join(ranks, ed.src == ranks.node)
            .select(
                F.col("dst"),
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(38,12)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("double").alias("mass"))
        )
        ranks = nodes.join(contrib, nodes.node == contrib.dst, "left").select(
            "node",
            (
                F.lit(base)
                + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


_UNROLL_MAX = 32


def tree_roots(
    parents: DataFrame,
    node: str = "node",
    parent: str = "parent",
    max_depth: int | None = None,
) -> DataFrame:
    """Root and depth of every node in a forest — the distributed
    answer to a recursive CTE (Spark has none).  Returns
    (node, root, depth).

    `parents` lists (node, parent) edges, one row per non-root node;
    roots are nodes never appearing as a child.  Two regimes, chosen by
    whether the caller can BOUND the depth:

    - ``max_depth`` given (org charts, category trees, heap-shaped ids
      — anything with a known shallow bound): LINEAR UNROLL.  Each of
      the D rounds advances every unresolved node one parent step via a
      join against the cached parent table.  For D <= 32 the state
      is referenced ONCE per round, so the whole walk is a single lazy
      D-join plan — no per-round caching, no extra actions (measured:
      the doubling variant spends ~5 s/round on cache+action overhead
      for sub-second data).  A bound DEEPER than 32 keeps the exact
      depth-clamped semantics but is executed in <=32-join SEGMENTS
      with a persist+action barrier between them: whole-stage codegen
      recurses once per chained join and a ~130-deep single plan
      overflows the JVM planning thread's stack (measured, round 5),
      so deep bounds trade laziness (ceil(D/32) extra actions) for a
      plan that compiles.  Results are identical to the single-plan
      unroll at every depth.
    - ``max_depth=None`` (unknown/deep chains): POINTER DOUBLING to a
      COUNT-GATED FIXPOINT.  After k self-joins every node knows its
      2^k-step ancestor; each round counts the rows that still moved
      and stops as soon as none did — ceil(log2(actual_depth)) rounds,
      not ceil(log2(n)): a billion-node forest of depth 10 converges
      in 4 rounds instead of 30; each round's state is cached.  Roots
      self-loop with distance 0, so both regimes reach a fixed point
      instead of falling off the chain.  Input
      containing a CYCLE (not a forest) cannot converge; the loop
      raises ``ValueError`` after the ceil(log2(n)) safety cap rather
      than returning garbage.
    """
    ch = parents.select(F.col(node).alias("node"), F.col(parent).alias("parent"))
    all_nodes = (
        ch.select("node").unionByName(ch.select(F.col("parent").alias("node"))).distinct()
    )
    roots = all_nodes.join(ch, "node", "left_anti")
    state = ch.select(
        "node", F.col("parent").alias("anc"), F.lit(1).cast("long").alias("d")
    ).unionByName(
        roots.select("node", F.col("node").alias("anc"), F.lit(0).cast("long").alias("d"))
    )

    if max_depth is not None:
        up = cached(
            ch.select(F.col("node").alias("__p_node"), F.col("parent").alias("__p_parent")),
            "graph.tree_roots.parents",
        )
        seg_cache: DataFrame | None = None
        joins_in_seg = 0
        total_rounds = max(0, max_depth - 1)
        for r in range(total_rounds):
            state = (
                state.join(up, state.anc == up.__p_node, "left")
                .select(
                    "node",
                    F.coalesce("__p_parent", "anc").alias("anc"),
                    (F.col("d") + F.when(F.col("__p_parent").isNotNull(), 1).otherwise(0)).alias("d"),
                )
            )
            joins_in_seg += 1
            # segment barrier; never fires for max_depth <=
            # _UNROLL_MAX + 1, so the shallow path stays one lazy plan
            # with no actions
            if joins_in_seg >= _UNROLL_MAX and r < total_rounds - 1:
                state = cached(state, "graph.tree_roots.segment")
                state.count()
                if seg_cache is not None:
                    seg_cache.unpersist()
                seg_cache = state
                joins_in_seg = 0
        return state.select(
            "node", F.col("anc").alias("root"), F.col("d").alias("depth")
        )

    state = cached(state, "graph.tree_roots.state")
    n = state.count()
    # safety cap, NOT the iteration count: a forest converges (observes
    # a zero-moved round) within ceil(log2(n)) doubling rounds plus the
    # one observation round; only a cycle can still be moving at the cap
    cap = max(1, (max(n, 2) - 1).bit_length()) + 1
    converged = False
    for _ in range(cap):
        s, a = state.alias("s"), state.alias("a")
        nxt = cached(
            s.join(a, F.col("s.anc") == F.col("a.node")).select(
                F.col("s.node").alias("node"),
                F.col("a.anc").alias("anc"),
                (F.col("s.d") + F.col("a.d")).alias("d"),
                # the ancestor row advanced us iff it was not a root
                # self-loop; a round where NO row advances is the
                # fixpoint — everyone's anc is already a root
                (F.col("a.anc") != F.col("a.node")).alias("__moved"),
            ),
            "graph.tree_roots.round",
        )
        moved = nxt.filter(F.col("__moved")).count()
        state.unpersist()
        state = nxt
        if moved == 0:
            converged = True
            break
    if not converged:
        state.unpersist()
        raise ValueError(
            "tree_roots: no fixpoint after ceil(log2(n))+1 pointer-doubling "
            "rounds — the parent relation contains a cycle (not a forest)"
        )
    return state.select("node", F.col("anc").alias("root"), F.col("d").alias("depth"))


def count_triangles(
    edges: DataFrame,
    pre_normalized: bool = False,
) -> DataFrame:
    """Exact triangle count of an undirected simple graph, degree-
    oriented so no join ever fans out on a hub node's full
    neighborhood.

    `edges` carries one row per undirected edge as (src, dst) longs —
    direction and duplicates are normalized away here.  The classic
    scale hazard is enumeration through hubs: joining raw edge lists
    pivots C(deg, 2) wedges through every node, and a 10^6-degree hub
    at 100 TB is 10^12 wedges.  The standard fix (node-iterator with
    degree orientation): orient every edge from the (degree, id)-
    SMALLER endpoint to the larger, so each node's out-degree is
    bounded by O(sqrt(|E|)) on any graph — wedge count collapses from
    sum(deg^2) to arboricity-bounded sum(outdeg^2) — and each triangle
    survives as exactly ONE directed wedge a->b, b->c closed by a->c.

    Shuffle budget: edge normalization, the degree aggregate + its
    equi-joins back onto the edges (node-sized — deliberately NOT
    broadcast-hinted; AQE converts them at small scale and they ride
    sort-merge at 10^9 nodes), the wedge self-join on the pivot node,
    and the closing semi-check.

    `pre_normalized=True` declares the input ALREADY a simple-graph
    edge set — distinct rows with src < dst (src != dst implied) — and
    skips the normalize+persist stage here.  Orientation is checked
    inside the projection: a row with src >= dst (or a null endpoint)
    fails the query at execution, with no extra Spark job.
    Distinctness is not checked; it stays the caller's contract, as
    does caching: pass a cached frame, e.g. an a<b filter over the
    shared edge table (queries/extras.py:_copurchase_edges), so the
    operator reads one shared entry instead of a private duplicate.

    Returns one row: (n_nodes, n_edges, n_triangles).
    """
    if pre_normalized:
        e = edges.select(
            F.col("src").alias("a"),
            F.when(F.col("src") < F.col("dst"), F.col("dst"))
            .otherwise(
                F.raise_error(
                    F.lit("count_triangles: pre_normalized edge with src >= dst")
                )
            )
            .alias("b"),
        )
    else:
        e = cached(
            edges.select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            "graph.count_triangles.edges",
        )
    both = e.select(F.col("a").alias("node")).unionAll(
        e.select(F.col("b").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # orient by (deg, id): lo endpoint -> hi endpoint
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    ranked = e.join(da, "a").join(db, "b")
    lo_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = cached(
        ranked.select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        ),
        "graph.count_triangles.oriented",
    )
    # wedges (m, c) pivoting on lo: each unordered out-neighbor pair
    # once, via the m < c id order
    o1 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("m"))
    o2 = oriented.select(F.col("lo").alias("w"), F.col("hi").alias("c"))
    wedges = o1.join(o2, "w").filter(F.col("m") < F.col("c"))
    closing = e.select(
        F.least("a", "b").alias("m"), F.greatest("a", "b").alias("c")
    ).distinct()
    tri = wedges.join(closing, ["m", "c"], "left_semi")
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )
