"""Distributed k-means clustering over the embedding table — the
semantic-clustering primitive a training-data pipeline uses for
topic bucketing, diversity sampling, and cluster-level dedup (the
SemDeDup recipe: cluster, then near-dup only within clusters).

Relation to the reference: the reference engine has no ML operators —
this is part of the beyond-reference LLM-pipeline surface (build
brief), sitting on the same embeddings table as q_sim_topk /
q_embedding_neardup.

Determinism discipline (what makes an ITERATIVE float algorithm
hash-gateable at all — same playbook as q_pagerank's decimal-bridged
mass aggregation, graph.py):

- init is data-deterministic: centroids = the K smallest vec_ids;
- every squared distance is a sum of per-dim terms computed in IEEE
  doubles (bit-identical on bit-identical inputs), each term rounded
  to a scale-12 DECIMAL, then summed EXACTLY in decimal — decimal
  addition is order-independent, so Spark's partial-agg order can
  never flip an argmin, and the argmin compares exact decimals
  (never a lossy decimal->double cast, whose ulp differences between
  engines could flip a near-tie);
- argmin tie-break: smallest cluster id (struct-min in Spark,
  row_number in DuckDB — same total order);
- centroid update: per-dim EXACT decimal sum -> correctly-rounded
  double (DuckDB side bridges through VARCHAR because its native
  DECIMAL->DOUBLE cast divides in floating point and can be off by an
  ulp past 2^53 — measured in stats.py), then ONE double division by
  the (identical) member count.

Scale (100 TB posture): Lloyd's is inherently multi-pass, and each
pass is the right distributed shape — the centroid table is K rows of
D-dim arrays (KB-scale), BROADCAST to every task; the assignment pass
is a map-side zip_with fold (no shuffle beyond the K-row broadcast);
the update pass shuffles one (cluster, dim) row of partial decimal
sums per partition (partial aggregation pushes the combine map-side).
Nothing driver-side ever holds more than the K x D centroid table.
At 100 TB you'd add a mini-batch or sampled-update variant; the
full-pass shape here is the exact one Spark MLlib uses per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.functions.numeric import dec_arr_sum
from pulsar_sync_java_spark.operators.graph import connected_components
from pulsar_sync_java_spark.operators.util import cached
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.sources.tables import load_table

_K = 8
_ITERS = 2
_DEC = "decimal(30,12)"

# mini-batch sampling: per-iteration AFFINE hashes with md5-derived
# constants — deterministic, engine-portable, and INDEPENDENT across
# salts.  The previous (vec_id + salt) * K form was the same
# degeneracy the r10 calibration query exposed in the MinHash family:
# bucket(v, s+1) - bucket(v, s) is a near-constant shift mod 100, so
# successive mini-batches were structured rotations of each other,
# not the independent samples the comment claimed.  Per-salt (a, b)
# from md5_32 restores 2-universal independence; products bounded
# (2^31)*(2^31-1) < 2^62, exact BIGINT in both engines.
_MB_PCT = 50
_MB_P = 2147483647


def _mb_ab(salt: int) -> tuple[int, int]:
    from pulsar_sync_java_spark.operators.vectorized import md5_32

    return (md5_32("mba", salt) % _MB_P) or 1, md5_32("mbb", salt) % _MB_P


def _mb_bucket(vec_id, salt: int):
    a, b = _mb_ab(salt)
    return (
        ((vec_id % F.lit(2147483648)) + F.lit(1)) * F.lit(a) + F.lit(b)
    ) % F.lit(_MB_P) % F.lit(100)


def _mb_bucket_sql(salt: int) -> str:
    a, b = _mb_ab(salt)
    return (
        f"((((vec_id % 2147483648) + 1) * {a} + {b})"
        f" % {_MB_P}) % 100"
    )


def _dist2_dec(xcol, ccol):
    """Exact decimal squared distance between two double arrays.

    Per-dim (x-c)^2 in doubles, each term rounded to scale-12 decimal,
    folded with the accumulator-type re-cast (scale unchanged -> no
    rounding; see pipeline._dec_arr_sum for why the re-cast is needed).
    Stays DECIMAL so the argmin comparison is exact in both engines.
    """
    diff = F.zip_with(
        xcol,
        ccol,
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    return F.aggregate(
        diff,
        F.lit(0).cast(_DEC),
        lambda acc, t: (acc + t.cast(_DEC)).cast(_DEC),
    )


def _assign(e: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the K-row centroid table,
    score every vector map-side, exact-decimal argmin with cluster-id
    tie-break (struct-min = lexicographic (dist, cluster))."""
    j = e.crossJoin(F.broadcast(cent))
    scored = j.select(
        "vec_id",
        "cluster",
        _dist2_dec(F.col("embedding"), F.col("carr")).alias("dist"),
    )
    best = scored.groupBy("vec_id").agg(F.min(F.struct("dist", "cluster")).alias("b"))
    return best.select("vec_id", F.col("b.cluster").alias("cluster"))


# Above this K the literal-centroid argmin expression (K structs x D
# literals in the plan) outgrows what Catalyst analyzes cheaply; the
# broadcast-DataFrame Lloyd pass takes over (auto-K corpora; see
# kmeans_assignments).
_EXPR_MAX_K = 64


def _dbl_sql(v: float) -> str:
    """A Spark SQL double literal that parses back to the identical
    IEEE value (repr is the shortest round-trip representation;
    Double.parseDouble inverts it exactly)."""
    import math

    if not math.isfinite(v):
        raise ValueError(f"non-finite centroid component: {v!r}")
    return f"CAST('{v!r}' AS DOUBLE)"


def _assign_expr(cent_rows: list[tuple[int, list[float]]]):
    """Map-side nearest-centroid expression over DRIVER-HELD centroids
    (the MLlib shape: K x D doubles live on the driver between Lloyd
    passes; each pass ships them to tasks inside the plan).  Same
    exact-decimal distance and the same lexicographic (dist, cluster)
    argmin as `_assign` — `least()` over K structs is the same total
    order as `min(struct(dist, cluster))` — but with ZERO join and
    ZERO shuffle: the r13 profile measured the crossJoin->groupBy
    formulation at 18 jobs / 37 one-task stages for q_kmeans_assign,
    all scheduling overhead (guide §2.4: remove shuffles outright).

    Built as ONE SQL string through F.expr: the Column-API version of
    this expression is K x D F.lit() calls = hundreds of py4j round
    trips, measured ~1.5 s of pure driver time PER CONSTRUCTION at
    K=8, D=64 — the string parses in the JVM in milliseconds."""
    if not cent_rows:
        # a zero-arg least() is an AnalysisException deep inside the
        # plan; fail at the API boundary instead (r13 advice) — only
        # reachable if a caller bypasses the seed/empty-batch guards
        raise ValueError(
            "_assign_expr: empty centroid list — no clusters to assign to"
        )
    structs = []
    for cl, carr in cent_rows:
        arr = ", ".join(_dbl_sql(v) for v in carr)
        dist = (
            "aggregate("
            f"zip_with(embedding, array({arr}), "
            "(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
            "CAST(0 AS DECIMAL(30,12)), "
            "(acc, t) -> CAST(acc + CAST(t AS DECIMAL(30,12)) "
            "AS DECIMAL(30,12)))"
        )
        structs.append(
            f"named_struct('dist', {dist}, 'cluster', CAST({int(cl)} AS INT))"
        )
    best = structs[0] if len(structs) == 1 else (
        "least(" + ", ".join(structs) + ")"
    )
    return F.expr(f"({best}).cluster")


def _update_rows(
    batch: DataFrame, cent_rows: list[tuple[int, list[float]]]
) -> list[tuple[int, list[float]]]:
    """Centroid recompute with a bounded driver collect: per-
    (cluster, dim) exact decimal mean -> correctly-rounded double,
    exactly `_update`'s arithmetic (same posexplode rows, same decimal
    sum, same single division), but the K·D result rows return to the
    driver instead of pivoting through a second shuffle — the driver
    is the natural home of a KB-scale centroid table between passes.
    The assignment is computed IN-ROW (no join back onto the batch)."""
    assign = batch.select(
        _assign_expr(cent_rows).alias("cluster"), "embedding"
    )
    agg = (
        assign.select("cluster", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("double").cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("c")
        )
    )
    by_cl: dict[int, list[tuple[int, float]]] = {}
    for r in agg.collect():  # bounded: K x D rows
        by_cl.setdefault(int(r["cluster"]), []).append(
            (int(r["dim"]), float(r["c"]))
        )
    if not by_cl:
        # empty mini-batch (no row survived the sampling filter): the
        # Lloyd update over nothing keeps every centroid — carrying
        # the previous list forward is the standard mini-batch k-means
        # behavior and keeps the NEXT _assign_expr well-formed (r13
        # advice: an empty list made it emit a zero-arg least()).
        # Unreachable at the declared dials (sample_pct=35 over the
        # bench corpora always selects rows); the df path's empty
        # degradation differs, documented here rather than hidden.
        return cent_rows
    return sorted(
        (cl, [c for _, c in sorted(dims)]) for cl, dims in by_cl.items()
    )


def _update(e: DataFrame, assign: DataFrame) -> DataFrame:
    """Centroid recompute: per-(cluster, dim) exact decimal mean ->
    correctly-rounded double, rebuilt into dim-ordered arrays.  One
    shuffle keyed (cluster, dim) with map-side partial sums; the
    result is K rows."""
    pts = e.join(assign, "vec_id").select(
        "cluster", F.posexplode("embedding").alias("dim", "x")
    )
    agg = pts.groupBy("cluster", "dim").agg(
        (
            F.sum(F.col("x").cast("double").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    return agg.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("carr")
    )


# the Lloyd-iteration CTE chain (pts .. a2) — shared by the plain
# kmeans oracle and q_semantic_dedup's composed oracle
_KMEANS_CTES = f"""pts AS (
  SELECT vec_id, d.i AS dim, CAST(embedding[d.i] AS DOUBLE) AS x
  FROM embeddings e,
       (SELECT unnest(generate_series(1,
          (SELECT MAX(len(embedding)) FROM embeddings))) AS i) d
  WHERE d.i <= len(e.embedding)
),
c0 AS (
  SELECT CAST(vec_id AS INT) AS cluster, dim, x AS c
  FROM pts WHERE vec_id < {_K}
),
s0 AS (
  SELECT p.vec_id, c.cluster,
         SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(38,12))) AS dist
  FROM pts p JOIN c0 c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
a0 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM s0) t WHERE rn = 1
),
c1 AS (
  SELECT a.cluster, p.dim,
         CAST(CAST(SUM(CAST(p.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM pts p JOIN a0 a ON p.vec_id = a.vec_id
  GROUP BY a.cluster, p.dim
),
s1 AS (
  SELECT p.vec_id, c.cluster,
         SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(38,12))) AS dist
  FROM pts p JOIN c1 c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM s1) t WHERE rn = 1
),
c2 AS (
  SELECT a.cluster, p.dim,
         CAST(CAST(SUM(CAST(p.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM pts p JOIN a1 a ON p.vec_id = a.vec_id
  GROUP BY a.cluster, p.dim
),
s2 AS (
  SELECT p.vec_id, c.cluster,
         SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(38,12))) AS dist
  FROM pts p JOIN c2 c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
a2 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM s2) t WHERE rn = 1
)"""

_KMEANS_SQL = (
    "WITH " + _KMEANS_CTES + """
SELECT a2.vec_id, a2.cluster, CAST(n.cluster_size AS BIGINT) AS cluster_size
FROM a2 JOIN (SELECT cluster, COUNT(*) AS cluster_size
              FROM a2 GROUP BY cluster) n ON a2.cluster = n.cluster
"""
)


def derive_semdedup_dials(
    n: int, k: int | None = None
) -> tuple[int, int]:
    """The corpus-derived SemDeDup dials (r12 verdict #2), in ONE
    place so the query module and the CLI cannot drift: K = max(8,
    ceil(√N)) — balances the Lloyd assignment term (N·K) against the
    in-cell pair term (N²/K) at N^1.5 each (measured α(1→3) = 1.35,
    SCALE.md §11) — and block count S = max(1, round(√(512/K))),
    holding the pair stage's K·S² reduce groups near the
    measured-healthy 512.  An explicit `k` overrides the derivation
    but S still derives from it."""
    import math

    if k is None:
        k = max(_K, math.isqrt(max(n - 1, 0)) + 1)  # ceil(sqrt(n))
    s = max(1, round((_SEM_PAIR_GROUPS / k) ** 0.5))
    return k, s


def kmeans_assignments(
    e: DataFrame,
    sample_pct: int = 100,
    k: int = _K,
    init: str = "id_lt_k",
    impl: str = "auto",
) -> DataFrame:
    """Shared Lloyd driver behind q_kmeans_assign (full-pass),
    q_kmeans_minibatch (sampled-update) and `semantic_dedup`'s
    corpus-derived K: `k` clusters (default the oracle-pinned K=8),
    2 iterations, init = k smallest vec_ids; returns (vec_id,
    cluster, cluster_size).

    `sample_pct=100` is the exact full-pass algorithm — no filter is
    planned at all, so the oracle-gated default's bytes are untouched.
    Below 100, each Lloyd ITERATION scores and re-centers only the
    rows whose portable per-iteration bucket (`_mb_bucket`, salted by
    the iteration index) falls under `sample_pct`; the FINAL
    assignment always runs over the full corpus.  That is the
    mini-batch shape SCALE.md §4a names as the 100 TB upgrade: per
    iteration the corpus-wide work drops from O(N·K·D) score +
    O(N·D) update-shuffle to the same terms over N·pct rows, while
    the broadcast-K-row assignment plan shape is IDENTICAL (plan
    test covers both).  A cluster that loses every sampled member
    keeps no centroid and drops out — deterministic in both engines
    (the update join simply emits K' < K rows); with the data-ordered
    init and real embeddings this does not occur at any test SF.

    `init` selects the seeding rule: ``"id_lt_k"`` (default) is the
    oracle-replayable literal `vec_id < k` — it assumes 0-based
    contiguous ids (the test corpora) and is what every declared
    query's SQL twin replays; ``"k_smallest"`` seeds from the k
    actually-smallest vec_ids (rank order), identical on contiguous
    ids but correct on RE-KEYED corpora where the literal filter
    would silently select no centroids — the production
    `semantic_dedup` path uses it (review-pass catch).  Either way,
    zero seedable centroids raises loudly instead of returning an
    empty assignment.

    Two result-identical execution paths (r13 optimization round):

    - ``k <= _EXPR_MAX_K`` (every declared query; small-corpus
      auto-K): the MLlib shape — centroids are COLLECTED to the
      driver per pass (bounded K x D doubles; py4j/pickle double
      transfer is bit-exact both ways) and the next pass's argmin is
      a map-side `least()` expression, so each Lloyd iteration is one
      scan + one partial-aggregated K·D-row shuffle instead of
      crossJoin -> N-row argmin shuffle -> join -> two more shuffles.
      Profiled at sf0.1: 18 jobs / 37 one-task stages -> 5 jobs, and
      the same restructure removes the per-pass N-row exchanges that
      at 100 TB would each shuffle the corpus-sized assignment.
    - ``k > _EXPR_MAX_K``: the prior broadcast-DataFrame Lloyd pass
      (K-row centroid table crossJoined under a broadcast hint) — a
      K x D literal plan would bloat Catalyst analysis, and the
      crossJoin formulation's shuffles amortize at that K.

    `impl` forces a path ("expr" / "df"; default "auto" = the K rule;
    a forced "expr" above `_EXPR_MAX_K` raises) — the equality of the
    two paths is property-pinned in tests/test_new_query_props.py."""
    from pulsar_sync_java_spark.operators.util import spread

    use_expr = (impl == "expr") or (impl == "auto" and k <= _EXPR_MAX_K)
    # the expr path inlines K centroid literals and one literal CASE
    # size-map arm per cluster; `auto` never takes it above the bound
    if use_expr and k > _EXPR_MAX_K:
        raise ValueError(
            f"kmeans_assignments: k={k} exceeds _EXPR_MAX_K={_EXPR_MAX_K}; "
            "the literal centroid and CASE size map are for a handful of "
            "clusters — use impl='df', which joins the cluster sizes back "
            "with a broadcast join"
        )
    # Every Lloyd pass is a CPU-bound per-row projection (K decimal-
    # exact distance folds per vector); a single-split scan would run
    # them all on one task.  Measured at sf0.1: the K=8 argmin pass
    # drops 1.18s -> 0.45s under the spread exchange.
    e = spread(e)
    if use_expr:
        return _kmeans_assignments_expr(e, sample_pct, k, init)
    if init == "k_smallest":
        from pyspark.sql import Window

        # k rows: the rank window is trivially small
        cent = (
            e.orderBy("vec_id")
            .limit(k)
            .select(
                (
                    F.row_number().over(Window.orderBy("vec_id")) - 1
                ).alias("cluster"),
                F.transform(
                    "embedding", lambda x: x.cast("double")
                ).alias("carr"),
            )
        )
    else:
        cent = e.filter(F.col("vec_id") < k).select(
            F.col("vec_id").cast("int").alias("cluster"),
            F.transform("embedding", lambda x: x.cast("double")).alias("carr"),
        )
    if cent.limit(1).count() == 0:
        raise ValueError(
            f"kmeans_assignments: init={init!r} with k={k} selected "
            "zero seed centroids — the corpus is empty, or its "
            "vec_ids are not 0-based contiguous (use "
            "init='k_smallest' for re-keyed corpora); refusing to "
            "emit an empty assignment silently"
        )
    for it in range(_ITERS):
        batch = (
            e
            if sample_pct >= 100
            else e.filter(
                _mb_bucket(F.col("vec_id"), it) < sample_pct
            )
        )
        assign = _assign(batch, cent)
        cent = _update(batch, assign)
    final = _assign(e, cent)
    sizes = final.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return final.join(F.broadcast(sizes), "cluster").select(
        "vec_id", "cluster", "cluster_size"
    )


def _kmeans_assignments_expr(
    e: DataFrame,
    sample_pct: int,
    k: int,
    init: str,
) -> DataFrame:
    """The driver-held-centroid Lloyd loop (see kmeans_assignments).
    EAGER like connected_components: calling this runs the seed
    collect plus one bounded K·D-row collect per iteration."""
    if init == "k_smallest":
        seed_rows = sorted(
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in e.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        )
        cent_rows = [
            (i, carr) for i, (_, carr) in enumerate(seed_rows)
        ]
    else:
        cent_rows = sorted(
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in e.filter(F.col("vec_id") < k)
            .select("vec_id", "embedding")
            .collect()
        )
    if not cent_rows:
        raise ValueError(
            f"kmeans_assignments: init={init!r} with k={k} selected "
            "zero seed centroids — the corpus is empty, or its "
            "vec_ids are not 0-based contiguous (use "
            "init='k_smallest' for re-keyed corpora); refusing to "
            "emit an empty assignment silently"
        )
    for it in range(_ITERS):
        batch = (
            e
            if sample_pct >= 100
            else e.filter(
                _mb_bucket(F.col("vec_id"), it) < sample_pct
            )
        )
        cent_rows = _update_rows(batch, cent_rows)
    # the sizes collect below materializes the cache, so the returned
    # plan is a cache read + literal-CASE projection
    final = cached(
        e.select("vec_id", _assign_expr(cent_rows).alias("cluster")),
        "clustering.kmeans_assignments_expr",
    )
    # cluster sizes: K rows collected once, re-attached as a literal
    # CASE map — no join, no exchange (the size table is K rows; the
    # broadcast-join alternative costs a build + an AQE stage).  A
    # cluster absent from the collect cannot appear in `final` (same
    # deterministic expression), so the CASE is total over the output.
    size_rows = sorted(
        (int(r["cluster"]), int(r["n"]))
        for r in final.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    size_case = "CASE cluster " + " ".join(
        f"WHEN {cl} THEN CAST({n} AS BIGINT)" for cl, n in size_rows
    ) + " END"
    return final.select(
        "vec_id", "cluster", F.expr(size_case).alias("cluster_size")
    )


@query("q_kmeans_assign", oracle=_KMEANS_SQL)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (K=8, 2 Lloyd iterations, init = K smallest vec_ids):
    every vector's final cluster assignment plus its cluster's size.

    The oracle is the SAME algorithm unrolled as chained CTEs —
    exactly how q_pagerank is gated (extras.py) — so the hash check
    covers every iteration's argmin and centroid arithmetic, not just
    the last step.  See module docstring for why each step is
    bit-reproducible across engines and partition orders."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assignments(e, sample_pct=100)


_KMEANS_MB_SQL = f"""
WITH pts AS (
  SELECT vec_id, d.i AS dim, CAST(embedding[d.i] AS DOUBLE) AS x
  FROM embeddings e,
       (SELECT unnest(generate_series(1,
          (SELECT MAX(len(embedding)) FROM embeddings))) AS i) d
  WHERE d.i <= len(e.embedding)
),
c0 AS (
  SELECT CAST(vec_id AS INT) AS cluster, dim, x AS c
  FROM pts WHERE vec_id < {_K}
),
b0 AS (SELECT * FROM pts WHERE {_mb_bucket_sql(0)} < {_MB_PCT}),
s0 AS (
  SELECT p.vec_id, c.cluster,
         SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(38,12))) AS dist
  FROM b0 p JOIN c0 c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
a0 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM s0) t WHERE rn = 1
),
c1 AS (
  SELECT a.cluster, p.dim,
         CAST(CAST(SUM(CAST(p.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM b0 p JOIN a0 a ON p.vec_id = a.vec_id
  GROUP BY a.cluster, p.dim
),
b1 AS (SELECT * FROM pts WHERE {_mb_bucket_sql(1)} < {_MB_PCT}),
s1 AS (
  SELECT p.vec_id, c.cluster,
         SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(38,12))) AS dist
  FROM b1 p JOIN c1 c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
a1 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM s1) t WHERE rn = 1
),
c2 AS (
  SELECT a.cluster, p.dim,
         CAST(CAST(SUM(CAST(p.x AS DECIMAL(38,12))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM b1 p JOIN a1 a ON p.vec_id = a.vec_id
  GROUP BY a.cluster, p.dim
),
s2 AS (
  SELECT p.vec_id, c.cluster,
         SUM(CAST((p.x - c.c) * (p.x - c.c) AS DECIMAL(38,12))) AS dist
  FROM pts p JOIN c2 c ON p.dim = c.dim
  GROUP BY p.vec_id, c.cluster
),
a2 AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM s2) t WHERE rn = 1
)
SELECT a2.vec_id, a2.cluster, CAST(n.cluster_size AS BIGINT) AS cluster_size
FROM a2 JOIN (SELECT cluster, COUNT(*) AS cluster_size
              FROM a2 GROUP BY cluster) n ON a2.cluster = n.cluster
"""


@query("q_kmeans_minibatch", oracle=_KMEANS_MB_SQL)
def q_kmeans_minibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini-batch k-means (r6 verdict #2; SCALE.md §4a upgrade path):
    same K/iterations/init as q_kmeans_assign, but each Lloyd
    iteration scores and re-centers only a deterministic 50%
    portable-hash sample (salted per iteration), so at 100 TB the
    per-round corpus passes shrink by the sample factor — SemDeDup
    runs many rounds, and the full pass is only paid once, by the
    final assignment.  Oracle: the same sampled algorithm unrolled as
    CTEs, each update stage filtered by the bit-identical bucket
    expression, so every sampled argmin and centroid is hash-gated
    just like the full-pass query."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assignments(e, sample_pct=_MB_PCT)


# --------------------------------------------------- semantic dedup

# SemDeDup (Abbas et al. 2023) end-to-end: k-means buckets the
# embedding space, exact cosine runs ONLY within clusters (the recipe's
# entire point — candidate pairs bounded by cluster populations, never
# corpus all-pairs), and connected components turn the pair set into
# keep/drop groups.  The oracle replays the identical Lloyd iterations
# (shared _KMEANS_CTES), the identical decimal-exact cosine, and a
# recursive-CTE closure — composing the q_kmeans_assign and
# q_dedup_cluster gates into one hash-checked pipeline.
_SEMDEDUP_SQL = (
    "WITH RECURSIVE " + _KMEANS_CTES + """,
norms AS (
  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS nx
  FROM pts GROUP BY vec_id
),
cand AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
),
dots AS (
  SELECT c.va, c.vb,
         CAST(SUM(CAST(xa.x * xb.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
  FROM cand c
  JOIN pts xa ON xa.vec_id = c.va
  JOIN pts xb ON xb.vec_id = c.vb AND xb.dim = xa.dim
  GROUP BY c.va, c.vb
),
sim AS (
  SELECT d.va, d.vb
  FROM dots d
  JOIN norms na ON na.vec_id = d.va
  JOIN norms nb ON nb.vec_id = d.vb
  WHERE d.dot / (sqrt(na.nx) * sqrt(nb.nx)) >= 0.35
),
edges AS (
  SELECT va AS a, vb AS b FROM sim UNION SELECT vb, va FROM sim
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b <> r.a
),
labels AS (
  SELECT a AS vec_id, LEAST(a, MIN(b)) AS lbl FROM reach GROUP BY a
)
SELECT k.vec_id, k.cluster,
       COALESCE(l.lbl, k.vec_id) AS sem_group,
       COALESCE(l.lbl, k.vec_id) <> k.vec_id AS is_dup
FROM a2 k LEFT JOIN labels l ON l.vec_id = k.vec_id
"""
)


_SEM_THRESHOLD = 0.35
_SEM_KSUB = 16
# Reduce-group target for the pair stage: K·S² ≈ this (the measured-
# healthy width from the r12 sf1 sweep); semantic_dedup derives S
# from it as K grows.
_SEM_PAIR_GROUPS = 512
# Block decomposition width for the in-cell pair self-join: the join
# key is (cluster, block_a, block_b) with block = pmod(xxhash64(id),
# S), so the pair stage fans out over K*S^2 reduce groups instead of
# K.  Without it the join keys on the K-value cluster id alone and
# the ENTIRE quadratic pair stage runs at <= K-task parallelism — at
# sf1 (50k vectors, K=8) the measured stage sat on 3 reducers for
# minutes while 29 cores idled (SCALE.md §11, the r12 scaling sweep's
# headline find).  Each unordered pair lands in exactly ONE
# (block_a, block_b) group, so the candidate set — and the oracle —
# is unchanged; the cost is an S-fold replication of the byte-wide
# coded rows through the shuffle (~70 B/row), the classic
# block-decomposed self-join trade.
_SEM_PAIR_BLOCKS = 8

# the flat-PQ prefilter model, memoized per corpus path: the artifact
# is TINY (d x 16 x 1 codewords), deterministic (seeded sample + fixed
# Lloyd iterations — re-derivable from data + seed), and a production
# deployment stores it beside the corpus rather than retraining per
# query — the session-lifetime analogue of the persisted shingle
# projection.
# Correctness never depends on it: the prefilter bound is lossless, so
# even a stale model only changes how much is pruned, never the answer.
_SEM_PQ_CACHE: dict[str, tuple[int, list]] = {}


def _sem_pq_model(e: DataFrame, sf_dir: str) -> tuple[int, list]:
    from pulsar_sync_java_spark.operators.similarity import (
        _l2_normalize,
        _seeded_sample,
        pq_train,
    )

    got = _SEM_PQ_CACHE.get(sf_dir)
    if got is None:
        X = _l2_normalize(
            _seeded_sample(e, "vec_id", "embedding", 256, 42,
                           caller="q_semantic_dedup")
        )
        dim = X.shape[1]
        books = pq_train(
            e, [[0.0] * dim], "vec_id", "embedding",
            m=dim, k_sub=_SEM_KSUB, iters=3, seed=42, sample=X,
        )
        got = _SEM_PQ_CACHE[sf_dir] = (dim, books)
    return got


def semantic_dedup(
    e: DataFrame,
    sf_dir: str,
    k: int | None = None,
    blocks: int | None = None,
    threshold: float = _SEM_THRESHOLD,
    sample_pct: int = 100,
) -> DataFrame:
    """The PRODUCTION SemDeDup entry point (r12 verdict #2): same
    pipeline as the declared q_semantic_dedup, but the two scale dials
    default to corpus-derived values instead of literals —

    - ``k=None`` → K = max(8, ceil(√N)) (one count job): the SemDeDup
      K ~ √N prescription, which balances the Lloyd assignment term
      (N·K) against the in-cell pair term (N²/K) at N^1.5 each —
      α ≈ 1.5 per decade instead of the α ≈ 2.5 a frozen K inherits
      (SCALE.md §11.3; measured sf1: 538 s at K=8 → 149 s at K=224).
      A deployment that wants α ≈ 1 sets K ∝ N (constant cell size)
      explicitly; beyond ~10⁵ clusters the broadcast centroid table
      outgrows the flat Lloyd and the IVF coarse quantizer
      (operators/similarity.py) is the clustering stage instead.
    - ``blocks=None`` → S = max(1, round(√(512/K))): holds the pair
      stage's reduce-group count K·S² near the measured-healthy 512
      as K grows, so small-K corpora keep full task width (the r12
      parallelism-collapse fix) without S-fold replicating the coded
      rows once K alone already provides the width.

    Seeding uses the rank-based ``k_smallest`` init (identical to the
    declared query's literal on 0-based-contiguous ids, correct on
    re-keyed corpora — see `kmeans_assignments`).

    Equivalence: auto-derived and explicitly-passed same-valued dials
    produce identical results by construction (property-pinned in
    tests/test_new_query_props.py)."""
    if k is None or blocks is None:
        k, ds = derive_semdedup_dials(
            e.count() if k is None else 0, k=k
        )
        blocks = ds if blocks is None else blocks
    return _semantic_dedup_pipeline(e, sf_dir, k, blocks, threshold,
                                    sample_pct, init="k_smallest")


@query("q_semantic_dedup", oracle=_SEMDEDUP_SQL)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: cluster the embedding space with the gated
    k-means (K=8, 2 Lloyd iterations), PQ-prefilter the same-cluster
    pairs on coded arithmetic, exact-cosine verify the survivors, and
    connected-component the >= 0.35 pairs into semantic dup groups —
    every vector labeled with its group (min vec_id) and whether it
    would be dropped (non-keeper).  K is pinned to 8 here because the
    oracle replays the same K; production deployments call
    `semantic_dedup`, which derives K (and the block count) from the
    corpus instead of inheriting this literal.

    The in-cell pair scan is the 100 TB cost center (r10 verdict #6),
    so it now runs CODED: each vector carries d 4-bit-ish PQ codes
    (flat layout, 1-dim subspaces, k_sub=16 — the finest grain, chosen
    because this corpus is isotropic PQ-worst-case) plus its exact
    residual norm eps, the pair join shuffles BYTE-wide codes instead
    of d-double embeddings, and the approximate dot is one numpy Gram
    fancy-index per Arrow batch (pq_gram_dot_udf — a JVM higher-order
    fold here is CodegenFallback, measured 19x slower at sf0.1).  The
    prefilter is PROVABLY LOSSLESS — |cos - adc| <= eps_a + eps_b +
    eps_a*eps_b for unit vectors (derivation in pq_flat_encode_udf) —
    so a pair is cut only when no exact cosine >= 0.35 is possible,
    and the ORACLE IS UNCHANGED: same answer by construction, with
    exact cosine computed only for survivors via two vec_id join-backs
    (measured at sf0.001/0.01/0.1: ~65% of in-cell pairs cut, zero
    false negatives — and on clustered real embeddings eps shrinks,
    cutting harder).  A 1e-9 safety margin absorbs IEEE slop in the
    bound arithmetic.

    Scale shape: quadratic term bounded per CLUSTER (raise K until
    clusters fit the pair budget; SemDeDup uses K ~ sqrt(N)); the
    coded pair shuffle carries ~d bytes a row at production code
    widths vs 8d for raw vectors; survivor verification reuses
    per-vector norms from the column-pruned verify projection; the
    closure is the same spanning-forest contraction as
    q_dedup_cluster.  Determinism: the prefilter cannot change the
    survivor set (lossless bound), every Lloyd argmin and every
    verified cosine keeps the decimal-exact discipline, so the
    composed pipeline stays hash-gateable end to end."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _semantic_dedup_pipeline(
        e, sf_dir, _K, _SEM_PAIR_BLOCKS, _SEM_THRESHOLD, 100
    )


def _semantic_dedup_pipeline(
    e: DataFrame,
    sf_dir: str,
    k: int,
    blocks: int,
    threshold: float,
    sample_pct: int,
    init: str = "id_lt_k",
) -> DataFrame:
    from pulsar_sync_java_spark.operators.vectorized import (
        pq_flat_encode_udf,
        pq_gram_dot_udf,
    )

    dim, books = _sem_pq_model(e, sf_dir)
    # impl="df" on purpose (r13): the LAZY Lloyd chain keeps this
    # cache plan-matched across repeated invocations, where the eager
    # driver-centroid path would re-run its seed/update collect jobs
    # on every call before ever reaching the cache.
    assign = cached(
        kmeans_assignments(e, sample_pct=sample_pct, k=k, init=init,
                           impl="df").select("vec_id", "cluster"),
        "clustering.semantic_dedup_pipeline",
    )
    enc = pq_flat_encode_udf(books).asNondeterministic()(F.col("embedding"))
    # two-step projection so the Arrow kernel is planned ONCE per row
    # (eps and codes both split from the same __enc column — two
    # direct uses of `enc` would plan two pythonUDF evaluations);
    # codes narrow to tinyint — the byte-wide payload the coded pair
    # shuffle exists for (k_sub=16 fits 4 bits)
    coded = (
        e.join(assign, "vec_id")
        .select("cluster", "vec_id", enc.alias("__enc"))
        .select(
            "cluster",
            "vec_id",
            F.element_at("__enc", 1).alias("__eps"),
            F.transform(
                F.slice("__enc", 2, dim), lambda x: x.cast("tinyint")
            ).alias("__codes"),
        )
    )
    # block-decomposed self-join (see _SEM_PAIR_BLOCKS): a pair
    # (va, vb) with blocks (ba, bb) is produced by exactly the
    # (cluster, ba, bb) group — side A replicates each row across the
    # S possible partner blocks, side B across the S possible own
    # blocks of its partner, and the 3-column equi-join meets in the
    # middle
    S = blocks
    blk = F.pmod(F.xxhash64("vec_id"), F.lit(S)).cast("int")
    parts = F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
    a = coded.select(
        F.col("cluster"),
        blk.alias("__blk_a"),
        parts.alias("__blk_b"),
        F.col("vec_id").alias("va"),
        F.col("__eps").alias("__ea"),
        F.col("__codes").alias("__ca"),
    )
    b = coded.select(
        F.col("cluster"),
        parts.alias("__blk_a"),
        blk.alias("__blk_b"),
        F.col("vec_id").alias("vb"),
        F.col("__eps").alias("__eb"),
        F.col("__codes").alias("__cb"),
    )
    # the ADC pair fold is an Arrow kernel, NOT a JVM higher-order
    # aggregate: HOF lambdas are CodegenFallback (interpreted, ~60 us
    # per pair measured at sf0.1 — a 19x regression), while the kernel
    # is one numpy Gram fancy-index per batch (vectorized.py doctrine)
    adc = pq_gram_dot_udf(books)(F.col("__ca"), F.col("__cb"))
    bound = (
        F.col("__ea")
        + F.col("__eb")
        + F.col("__ea") * F.col("__eb")
        + F.lit(1e-9)
    )
    cand = (
        a.join(b, ["cluster", "__blk_a", "__blk_b"])
        .filter(F.col("va") < F.col("vb"))
        .withColumn("__adc", adc)
        .filter(F.col("__adc") >= F.lit(threshold) - bound)
        .select("va", "vb")
    )
    proj = e.select(
        "vec_id",
        "embedding",
        dec_arr_sum(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
        ).alias("nx"),
    )
    verify = cand.join(
        proj.select(
            F.col("vec_id").alias("va"),
            F.col("embedding").alias("ea"),
            F.col("nx").alias("nxa"),
        ),
        "va",
    ).join(
        proj.select(
            F.col("vec_id").alias("vb"),
            F.col("embedding").alias("eb"),
            F.col("nx").alias("nxb"),
        ),
        "vb",
    )
    dot = dec_arr_sum(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double"))
    )
    sim = verify.select(
        "va",
        "vb",
        (dot / (F.sqrt("nxa") * F.sqrt("nxb"))).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)
    labels = connected_components(sim, src="va", dst="vb")
    return (
        assign.join(labels, assign.vec_id == labels.id, "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("label"), F.col("vec_id")).alias("sem_group"),
            (
                F.coalesce(F.col("label"), F.col("vec_id")) != F.col("vec_id")
            ).alias("is_dup"),
        )
    )
