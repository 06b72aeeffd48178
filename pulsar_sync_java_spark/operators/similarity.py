"""Similarity search over embedding columns (array<float>).

Two paths (BASELINE.json north star):
- `cosine_topk` — brute-force exact: one pass over all vectors, per-row
  dot/norm in JVM higher-order functions, TakeOrderedAndProject top-k.
  O(n·d), embarrassingly parallel, no shuffle — correct at any scale
  where a full scan is affordable (and the oracle-checked baseline).
- `lsh_topk` — random-hyperplane LSH: H fixed pseudo-random planes give
  every vector an H-bit signature; candidates = vectors whose signature
  is within `max_hamming` of the query's; exact cosine re-rank on the
  candidates only.  Plan shape: signature is a literal-vector dot
  product in codegen (planes are deterministic from a seed, shipped as
  literals, NOT data) -> cheap bitmask filter -> exact re-rank on a tiny
  fraction.  At 100 TB the signature column is precomputed once and the
  filter prunes partitions by signature prefix.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.util import cached, pair_structs, spread


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    Deliberately NOT spread (r13, measured): one dot+norm fold per
    row costs ~60 ms serial on the whole bench corpus, less than the
    exchange + extra AQE stages a spread adds — q_ann_pq_topk
    regressed ~1.5 s with a spread here (its candidate inputs are
    already spread upstream, and spread always adds its exchange).
    Multi-fold exact scans that DO benefit carry their own spread
    (q_sim_topk, ann_calibration's anchor)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = df.select(
        F.col(id_col), cosine(F.col(vec_col), q).alias("cos_sim")
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def _planes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (the standard Charikar
    construction), seeded via Python's Mersenne-Twister `random.Random`
    — stable across runs, machines and CPython versions.

    (An earlier ±1 variant drew signs from an LCG's lowest bit, which
    for a power-of-two modulus alternates with period 2 — every plane
    degenerated to the SAME alternating pattern, i.e. one effective
    hyperplane, and LSH bucketing collapsed to a 2-bucket split.)
    """
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)
    ]


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    max_hamming: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: signature filter, then exact re-rank.

    Recall/speed dial: expected candidate fraction is
    P[hamming(sig_a, sig_q) <= r] which for random vectors concentrates
    near sum_{i<=r} C(H,i)/2^H; raising max_hamming trades scan
    fraction for recall.  The query's own bucket is always probed, so
    an exact-duplicate vector is always found: the query signature is
    computed by the SAME numpy kernel as the corpus signatures
    (hyperplane_sign_bits), so identical vectors cannot sign-flip
    apart on a near-zero dot product.
    """
    import numpy as np

    from pulsar_sync_java_spark.operators.vectorized import (
        hyperplane_sign_bits,
        hyperplane_signature_udf,
    )

    planes = _planes(len(query_vec), num_planes, seed)
    q_sig = int(
        hyperplane_sign_bits(
            np.asarray([query_vec], dtype=np.float64), np.asarray(planes)
        )[0]
    )
    sig = hyperplane_signature_udf(planes)(F.col(vec_col))
    candidates = spread(df).withColumn("__sig", sig).filter(
        F.bit_count(F.col("__sig").bitwiseXOR(F.lit(q_sig))) <= max_hamming
    )
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def _multi_cosine_topk(
    scored: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Per-query exact top-k over (query_id, id, cos_sim) candidate
    rows: the batch twin of `cosine_topk`'s (cos DESC, id ASC) cut —
    row_number over a query-partitioned window selects the identical
    per-query set the single-query TakeOrdered does."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def lsh_topk_multi(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    max_hamming: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Batch `lsh_topk`: answer EVERY (query_id, vector) probe from ONE
    corpus signature pass.  Per-query results match `lsh_topk`
    exactly (same planes, same numpy query-signature kernel, same
    hamming filter, same decimal tie-breaks) — the equivalence the
    calibration harness and tests pin.

    Plan: one signature projection over the corpus (the per-call cost
    `lsh_topk` pays |Q| times), a |Q|-row broadcast of (query_id,
    signature, vector) nested-loop-joined on the bit_count hamming
    predicate, exact cosine on the survivors, per-query window top-k.
    The query vector rides the candidate rows because exact cosine on
    every candidate IS the LSH re-rank — unlike the PQ path there is
    no code-sized intermediate to preserve."""
    import numpy as np

    from pulsar_sync_java_spark.operators.vectorized import (
        hyperplane_sign_bits,
        hyperplane_signature_udf,
    )

    if not queries:
        raise ValueError("lsh_topk_multi: empty probe batch")
    dim = len(queries[0][1])
    planes = _planes(dim, num_planes, seed)
    qsigs = hyperplane_sign_bits(
        np.asarray([[float(v) for v in qv] for _, qv in queries],
                   dtype=np.float64),
        np.asarray(planes),
    )
    qdf = df.sparkSession.createDataFrame(
        [
            (int(qid), int(sig), [float(v) for v in qv])
            for (qid, qv), sig in zip(queries, qsigs)
        ],
        "query_id long, __qsig long, __qv array<double>",
        verifySchema=False,  # rows built here as exact int/list[float]
    )
    sig = hyperplane_signature_udf(planes)(F.col(vec_col))
    corpus = spread(df).select(id_col, vec_col).withColumn("__sig", sig)
    pairs = corpus.join(
        F.broadcast(qdf),
        F.bit_count(F.col("__sig").bitwiseXOR(F.col("__qsig")))
        <= max_hamming,
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col),
        cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
    )
    return _multi_cosine_topk(scored, k, id_col)


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: list[list[float]]
) -> DataFrame:
    """Add a `__cluster` column: index of the nearest centroid (squared
    L2; ties -> lowest index).  Centroids close over an Arrow-
    vectorized numpy kernel (operators/vectorized.py) — the k x d
    distance loop per row is exactly the interpreted-HOF hot spot that
    module exists for.  At 100 TB this projection is the one
    precomputed into a partition column (see ivf_topk)."""
    from pulsar_sync_java_spark.operators.vectorized import nearest_centroid_udf

    return df.withColumn("__cluster", nearest_centroid_udf(centroids)(F.col(vec_col)))


def _seeded_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    seed: int,
    caller: str = "kmeans_centroids",
):
    """The quantizer training sample: the `n` vectors with the smallest
    seeded xxhash64 of their id — reproducible, no data-order
    dependence, ONE Spark job.  Shared by the coarse quantizer
    (kmeans_centroids) and the PQ codebooks (pq_train) so IVF-PQ
    training costs a single collect.  Returns a float64 numpy matrix."""
    import numpy as np

    rows = (
        spread(df)
        .select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(n)
        .collect()
    )
    if not rows:
        raise ValueError(
            f"{caller}: input has no rows — cannot train a quantizer "
            f"(vec_col={vec_col!r})"
        )
    return np.asarray([[float(x) for x in r[1]] for r in rows], dtype=np.float64)


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 2,
    seed: int = 42,
    sample=None,
) -> list[list[float]]:
    """Deterministic k-means for the IVF coarse quantizer, trained on a
    bounded sample.

    A coarse quantizer does not need full-corpus Lloyd passes — its
    residual errors are corrected by the exact re-rank inside the
    probed lists — so training runs driver-side in numpy over a
    deterministic pseudo-random sample (the `sample_per_centroid * k`
    vectors with the smallest seeded hash of their id: reproducible,
    no data-order dependence, ONE Spark job).  The previous
    formulation ran one distributed assign + per-dimension mean
    aggregation per Lloyd iteration — 2 driver round-trip jobs each —
    which at 100 TB is exactly the anti-pattern (iterating the full
    corpus to fit 16 cluster centers).  Empty clusters keep their
    previous centroid.

    `sample` lets a caller that already collected the seeded sample
    (the IVF-PQ trainer, which fits coarse + subspace codebooks from
    the SAME rows) pass it in, skipping the collect.  METRIC-SPACE
    CONTRACT (r10 advice): pass the sample in the SAME space the
    index assigns cells in — the IVF-PQ path trains on L2-NORMALIZED
    rows (its cells are assigned on normalized vectors), the plain-IVF
    path on RAW rows; a caller mixing the two gets a quantizer in the
    wrong metric space.  The guard below only catches emptiness — the
    normalization choice is the caller's, stated here so both callers
    (the IVF-PQ trainers: normalized; `ivf_topk`: raw) are auditable
    against it."""
    if sample is not None and len(sample) == 0:
        raise ValueError(
            "kmeans_centroids: empty `sample` — cannot train a "
            f"quantizer (vec_col={vec_col!r})"
        )
    X = sample if sample is not None else _seeded_sample(
        df, id_col, vec_col, 256 * k, seed
    )
    C = X[:k].copy()  # hash order == seeded random -> first k are the seeds
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for ci in range(k):
            members = X[assign == ci]
            if len(members):
                C[ci] = members.mean(axis=0)
    return [[float(v) for v in c] for c in C]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into
    `n_centroids` inverted lists, probe the `nprobe` lists nearest the
    query, exact cosine re-rank inside them only.

    The scale path vs hyperplane LSH (`lsh_topk`): at 100 TB the
    cluster assignment is a precomputed partition column — probing
    nprobe/n_centroids of the corpus becomes partition PRUNING at the
    parquet scan, not a filter; recall is tuned by nprobe with cost
    linear in the probed fraction.

    `centroids` supplies an external coarse model (RAW-space — this
    path, unlike IVF-PQ, quantizes unnormalized vectors); multi-query
    callers (ann_calibration) train once and pass it per probe instead
    of paying a sample collect + driver Lloyd per call."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(df, id_col, vec_col, n_centroids, iters, seed)
    )
    order = sorted(
        range(len(cents)),
        key=lambda i: sum((a - b) ** 2 for a, b in zip(query_vec, cents[i])),
    )
    probe = order[:nprobe]
    assigned = assign_clusters(spread(df), vec_col, cents)
    cand = assigned.filter(F.col("__cluster").isin(*probe)).drop("__cluster")
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_topk_multi(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Batch `ivf_topk` against a supplied coarse model: ONE cluster
    assignment pass over the corpus answers every probe (the per-call
    Arrow argmin projection is what `ivf_topk` re-pays per query).
    Per-query results match `ivf_topk(..., centroids=centroids)`
    exactly: same RAW-space probe order (driver-side squared-L2 over
    the same centroid list), same in-cell exact cosine, same
    tie-breaks.

    Plan: assign once -> equi-join the |Q| x nprobe broadcast
    (query_id, cell) probe table on the cell id -> broadcast the
    |Q|-row query-vector frame onto the candidates -> exact cosine ->
    per-query window top-k.  The probe table and the vector frame stay
    separate so the cell join carries no d-double payload; the
    candidate rows must carry the query vector regardless — exact
    cosine per candidate IS the in-cell re-rank."""
    if not queries:
        raise ValueError("ivf_topk_multi: empty probe batch")
    probe_rows = []
    for qid, qv in queries:
        order = sorted(
            range(len(centroids)),
            key=lambda i: sum(
                (a - b) ** 2 for a, b in zip(qv, centroids[i])
            ),
        )
        for cell in order[:nprobe]:
            probe_rows.append((int(qid), int(cell)))
    spark = df.sparkSession
    pdf = spark.createDataFrame(
        probe_rows, "query_id long, __cluster int", verifySchema=False
    )  # rows built above as exact ints
    qdf = spark.createDataFrame(
        [(int(qid), [float(v) for v in qv]) for qid, qv in queries],
        "query_id long, __qv array<double>",
        verifySchema=False,  # exact int/list[float]
    )
    from pulsar_sync_java_spark.operators.vectorized import (
        nearest_centroid_udf,
    )

    # asNondeterministic is the ivf_pq_topk pushdown barrier, not a
    # semantics claim: the equi-join's implied isnotnull(__cluster)
    # otherwise pushes below this projection and ExtractPythonUDFs
    # plans the k x d argmin kernel TWICE over the corpus (verified by
    # plan inspection — 2 ArrowEvalPython stages without the barrier).
    assigned = spread(df).withColumn(
        "__cluster",
        nearest_centroid_udf(centroids)
        .asNondeterministic()(F.col(vec_col)),
    )
    scored = (
        assigned.join(F.broadcast(pdf), "__cluster")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
    )
    return _multi_cosine_topk(scored, k, id_col)


def embedding_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 48,
    bands: int = 6,
    max_bucket: int = 2000,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH.

    Three scale-critical choices (vs the naive full-signature bucket):
    - **Center the corpus first.** Real embedding corpora live in a
      narrow cone (all-pairs cosine ~0.7+), so hyperplanes through the
      origin barely separate them — measured: 12 uncentered planes left
      50% of ALL pairs in shared buckets (n²/2 candidates).  Subtracting
      the mean vector (one tiny agg, shipped back as a literal) makes
      background pairs ~orthogonal, so each plane splits ~50/50 and
      buckets shrink geometrically.
    - **Band the bits** (bands x rows_per_band = num_planes), minhash-
      LSH style: a near-dup pair only needs ONE fully-agreeing band, so
      recall stays high (miss prob (1-p^r)^b) while each band's buckets
      stay small.
    - **Precompute norms** before the pair join — norms are per-vector
      (n·d work), not per-pair (pairs·d); only the dot product is
      per-pair.  Measured 3x on the pair stage.

    Exact cosine (on the ORIGINAL vectors) verifies every candidate, so
    false positives are impossible; recall is the only approximation.
    """
    # The centering mean does NOT need to be exact — it only has to put
    # the corpus cone near the origin so hyperplanes split ~50/50 (the
    # exact-cosine verify step is what guarantees precision; banding
    # guarantees recall for >=threshold pairs, whose signatures agree on
    # ~every plane regardless of a slightly-shifted mean).  So it comes
    # from a bounded deterministic sample (same seeded-hash TakeOrdered
    # discipline as kmeans_centroids): ONE narrow bounded job, instead
    # of the previous full-corpus posexplode + per-dimension aggregate —
    # at 100 TB that aggregate was a whole extra corpus scan with d-fold
    # row amplification, paid per invocation.
    sample_rows = (
        spread(df)
        .select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0))
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(4096)
        .select(vec_col)
        .collect()
    )
    if not sample_rows:
        return df.select(
            F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cos_sim"),
        ).limit(0)
    import numpy as np

    vecs = [r[0] for r in sample_rows]
    lens = {len(v) for v in vecs}
    if len(lens) > 1:
        # fail HERE with the real story: a ragged corpus would otherwise
        # die later inside the signature kernel with an opaque numpy
        # shape error (the LSH planes are a fixed d x k matrix)
        raise ValueError(
            "embedding_near_pairs requires a fixed embedding dimension; "
            f"sample contains lengths {sorted(lens)[:5]}"
        )
    sample = np.asarray(vecs, dtype=np.float64)
    dim = sample.shape[1]
    from pulsar_sync_java_spark.operators.vectorized import (
        hyperplane_signature_udf,
    )

    mean = [float(x) for x in sample.mean(axis=0)]

    planes = _planes(dim, num_planes, seed)
    rows_per_band = max(num_planes // bands, 1)
    # Signature = one Arrow-vectorized kernel (centering + planes x dim
    # dot products fused in numpy; see operators/vectorized.py).  The
    # spread barrier keeps it parallel and un-inlined.
    sig = cached(
        spread(df).select(
            F.col(id_col),
            F.col(vec_col),
            _norm(F.col(vec_col)).alias("nrm"),
            hyperplane_signature_udf(planes, mean)(F.col(vec_col)).alias("sig"),
        ),
        "similarity.embedding_near_pairs",
    )
    band_mask = (1 << rows_per_band) - 1
    # Banded rows carry ONLY (band, bucket, id): the vectors are the
    # wide payload (d doubles/row) and must not be amplified bands-fold
    # through the shuffle.  Candidates come from one groupBy per bucket
    # (util.pair_structs; oversized buckets dropped whole), then the
    # vectors+norms join back on the deduplicated pair set only — tiny,
    # so AQE broadcasts it against the vector branches.
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sig"), b * rows_per_band)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    cand = (
        buckets.select(F.explode(pair_structs(F.col("__ids"))).alias("p"))
        .select(F.col("p.a").alias("id_a"), F.col("p.b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = sig.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        F.col("nrm").alias("norm_a"),
    )
    vb = sig.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        F.col("nrm").alias("norm_b"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (_dot(F.col("vec_a"), F.col("vec_b")) / (F.col("norm_a") * F.col("norm_b"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
    prereduce: bool = True,
) -> DataFrame:
    """Exact k-NN JOIN: for every row of `queries`, the k most cosine-
    similar rows of `corpus` — the batch generalization of cosine_topk
    (one query) that a training pipeline runs to attach retrieval
    neighbors to every example.

    Output: (query_id, neighbor_id, cos_sim, rank), rank 1..k per query
    in (cos_sim desc, neighbor_id asc) total order.

    Plan shape, built for |corpus| >> |queries|:
    - `queries` is broadcast (with per-query norms precomputed), so
      scoring is one shuffle-free pass over the corpus: each corpus row
      computes its own norm ONCE and a decimal-exact dot product per
      query (functions/numeric.py:dec_arr_sum — the q_sim_topk
      formulation, bit-identical to the DuckDB oracle);
    - `prereduce` inserts a partition-local top-k (mapInPandas: one
      running pandas top-k per batch iterator) BEFORE the ranking
      shuffle, so the window stage receives at most
      partitions * |queries| * k rows instead of |corpus| * |queries|
      — the two-phase top-k that keeps the final shuffle O(P·Q·k) at
      any corpus size.  Scores pass through Arrow untouched (float64
      round-trip is bit-exact), so the reduction cannot change the
      result (property-tested);
    - the final window ranks the survivors per query.
    """
    from pulsar_sync_java_spark.functions.numeric import dec_arr_sum
    from pyspark.sql import Window

    sq = lambda c: F.transform(c, lambda x: x.cast("double") * x.cast("double"))  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        dec_arr_sum(sq(F.col(vec_col))).alias("__ny"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        dec_arr_sum(sq(F.col(vec_col))).alias("__nx"),
    )
    prod = F.zip_with(
        "__cv", "__qv", lambda x, y: x.cast("double") * y.cast("double")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            (
                dec_arr_sum(prod) / (F.sqrt("__nx") * F.sqrt("__ny"))
            ).alias("cos_sim"),
        )
    )
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))

    if prereduce:
        schema = scored.schema

        def local_topk(batches):
            import pandas as pd

            best: pd.DataFrame | None = None
            for pdf in batches:
                cur = pd.concat([best, pdf]) if best is not None else pdf
                cur = cur.sort_values(
                    ["query_id", "cos_sim", "neighbor_id"],
                    ascending=[True, False, True],
                )
                best = cur.groupby("query_id", sort=False).head(k)
            if best is not None:
                yield best

        scored = scored.mapInPandas(local_topk, schema)

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantization ADC scan + exact re-rank inside probed cells
# (Jegou, Douze, Schmid — "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011).  IVF prunes cells; PQ cuts the in-cell scan
# payload from d*4 bytes/vector to M bytes/vector (~32x at d=64, M=8),
# so the candidate scan reads ONLY the tiny codes column — the full
# vector is fetched for just the `rerank` survivors.
#
# All PQ paths operate on L2-NORMALIZED vectors: on the unit sphere
# squared L2 is 2 - 2*cos, monotone in cosine, so the ADC (asymmetric
# distance computation) ranking agrees with the exact cosine re-rank
# that follows — without normalization an L2-trained codebook would
# rank by a metric the re-rank does not use.
# ---------------------------------------------------------------------------


def _l2_normalize(X):
    """Row-normalize a numpy matrix; zero rows pass through unscaled."""
    import numpy as np

    n = np.sqrt((X * X).sum(axis=1, keepdims=True))
    n[n == 0.0] = 1.0
    return X / n


def pq_train(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_sub: int = 256,
    iters: int = 3,
    seed: int = 42,
    sample=None,
) -> list[list[list[float]]]:
    """Train the M x k_sub product-quantization codebooks over COARSE
    RESIDUALS (normalized vector minus its nearest coarse centroid),
    driver-side in numpy on the same bounded seeded sample the coarse
    quantizer used (`_seeded_sample` — pass `sample` to share the one
    collect).  Returns codebooks shaped (m, k_sub, d_sub) as plain
    lists (the tiny model artifact stored next to the index, like the
    centroids).

    Per subspace: seeds are the first k_sub sample residuals (hash
    order == seeded random; tiled if the sample is smaller), then
    `iters` Lloyd steps; empty codewords keep their previous value —
    the kmeans_centroids determinism contract, per subspace."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k, d = C.shape
    if d % m != 0:
        raise ValueError(
            f"pq_train: dim {d} not divisible by m={m} subspaces — "
            "pick m | d (PQ splits the vector into equal subvectors)"
        )
    d_sub = d // m
    if sample is not None and len(sample) == 0:
        raise ValueError(
            "pq_train: empty `sample` — cannot train codebooks "
            f"(vec_col={vec_col!r})"
        )
    # `sample` contract: rows must already be L2-NORMALIZED (the
    # kmeans_centroids sample-sharing contract — see its docstring)
    X = sample if sample is not None else _l2_normalize(
        _seeded_sample(df, id_col, vec_col, 256 * k, seed, caller="pq_train")
    )
    cells = ((C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)
    R = (X - C[cells]).reshape(len(X), m, d_sub)
    books = np.empty((m, k_sub, d_sub), dtype=np.float64)
    for j in range(m):
        Xj = R[:, j, :]
        if len(Xj) >= k_sub:
            Bj = Xj[:k_sub].copy()
        else:
            Bj = Xj[np.arange(k_sub) % len(Xj)].copy()
        cells_idx = np.arange(k_sub)
        for _ in range(iters):
            a = ((Bj * Bj).sum(axis=1)[None, :] - 2.0 * (Xj @ Bj.T)).argmin(
                axis=1
            )
            # group-by-cell via stable sort + slices: O(n log n) rather
            # than k_sub full-array masks (measured ~0.9 s/train at the
            # bench dials, m=16 x k_sub=256 x 3 iters).  The stable
            # sort keeps members in ascending row order — the same
            # rows, in the same order, as the Xj[a == ci] mask.  Each
            # slice mean runs as np.add.reduce / n, which IS ndarray
            # .mean()'s exact computation (umr_sum then true_divide by
            # the count — bit-identical), minus the _methods._mean
            # wrapper that cost ~35 us x m*iters*k_sub calls (r14
            # cProfile: 12,320 mean calls, 0.47 s).
            order = np.argsort(a, kind="stable")
            sa = a[order]
            Xs = Xj[order]
            starts = np.searchsorted(sa, cells_idx, side="left")
            ends = np.searchsorted(sa, cells_idx, side="right")
            for ci in range(k_sub):
                s0, e0 = starts[ci], ends[ci]
                if e0 > s0:
                    Bj[ci] = np.add.reduce(Xs[s0:e0], axis=0) / (e0 - s0)
        books[j] = Bj
    return [[[float(v) for v in row] for row in book] for book in books]


def _pq_probe_order(query_vec: list[float], centroids: list[list[float]]):
    """Cells ranked by squared L2 of the NORMALIZED query to each coarse
    centroid — driver-side, k x d floats, no Spark job."""
    import numpy as np

    q = _l2_normalize(np.asarray([query_vec], dtype=np.float64))[0]
    C = np.asarray(centroids, dtype=np.float64)
    d2 = ((C - q[None, :]) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d2, kind="stable")], q


def _pq_lut_rows(q_norm, centroids, codebooks, probe):
    """Per-probed-cell ADC lookup tables: LUT[m][c] = ||r_m - b_mc||^2
    where r = q_norm - centroid[cell].  One (cell, lut) row per probed
    cell — nprobe x m x k_sub doubles, broadcast to the scan."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k_sub, d_sub)
    m, _, d_sub = B.shape
    rows = []
    for cell in probe:
        r = (q_norm - C[cell]).reshape(m, d_sub)
        lut = ((B - r[:, None, :]) ** 2).sum(axis=2)  # (m, k_sub)
        rows.append(
            (int(cell), [[float(x) for x in sub] for sub in lut])
        )
    return rows


def adc_lut_fold(
    lut_col: Column | str = "__lut", codes_col: Column | str = "__codes"
) -> Column:
    """THE ADC lookup-table fold — sum of per-subspace LUT entries
    selected by the 0-based codes (element_at is 1-based, hence the
    +1).  One definition for every consumer (_pq_adc_topc,
    ann_calibration's audit): a fix to the fold — indexing, or a
    codegen workaround — lands once.
    Bounded use only: LUT folds run on candidate/audit frames of m
    lookups per row; a corpus-scale pair fold belongs in the Arrow
    kernel (vectorized.py:pq_gram_dot_udf — HOFs are CodegenFallback,
    measured 19x slower per pair at sf0.1)."""
    return F.aggregate(
        F.zip_with(
            F.col(lut_col) if isinstance(lut_col, str) else lut_col,
            F.col(codes_col) if isinstance(codes_col, str) else codes_col,
            lambda sub, c: F.element_at(sub, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_adc_topc(
    coded: DataFrame,
    lut_rows,
    rerank: int,
    id_col: str,
    cell_col: str = "__cell",
    codes_col: str = "__codes",
) -> DataFrame:
    """ADC scan: broadcast-join the per-cell LUTs onto the codes frame
    (already cell-filtered), sum the per-subspace table lookups in JVM
    higher-order functions (zip_with + aggregate — m element_at's per
    row, no Python), and TakeOrderedAndProject the `rerank` best.
    Ties break on id for determinism."""
    spark = coded.sparkSession
    lutdf = spark.createDataFrame(
        lut_rows, f"{cell_col} int, __lut array<array<double>>",
        verifySchema=False,  # rows built here as exact int/list[float]
    )
    adc = adc_lut_fold("__lut", codes_col)
    return (
        coded.join(F.broadcast(lutdf), cell_col)
        .select(F.col(id_col), adc.alias("__adc"))
        .orderBy(F.col("__adc").asc(), F.col(id_col).asc())
        .limit(rerank)
    )


def ivf_pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_sub: int = 256,
    rerank: int = 64,
    iters: int = 1,
    pq_iters: int = 3,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    codebooks=None,
) -> DataFrame:
    """IVF-PQ approximate top-k: coarse-quantize (normalized) vectors
    into `n_centroids` cells, product-quantize the residuals to M
    byte-codes, ADC-scan the codes inside the `nprobe` probed cells,
    exact-cosine re-rank only the `rerank` ADC survivors.

    vs `ivf_topk`: the probed-cell scan ranks M-byte codes via
    broadcast lookup tables instead of computing exact cosine on full
    d-float vectors — at 100 TB the in-cell candidate scan reads ~3%
    of the bytes, and the exact metric touches only `rerank` rows.
    Training (coarse + codebooks) shares ONE bounded driver-side
    sample; everything distributed is one Arrow encode projection, a
    broadcast LUT join, and a top-C.

    Pass `centroids` + `codebooks` (together) to probe with an
    EXTERNAL model — the calibration harness (`ann_calibration`) uses
    this to audit a given model rather than retrain; production callers
    leave them None and get the deterministic seeded training."""
    if (centroids is None) != (codebooks is None):
        raise ValueError(
            "ivf_pq_topk: pass centroids and codebooks together — a "
            "coarse model and codebooks from different trainings rank "
            "in inconsistent metric spaces"
        )
    if centroids is not None:
        cents, books = centroids, codebooks
    else:
        X = _l2_normalize(
            _seeded_sample(df, id_col, vec_col, 256 * n_centroids, seed,
                           caller="ivf_pq_topk")
        )
        cents = kmeans_centroids(
            df, id_col, vec_col, n_centroids, iters, seed, sample=X
        )
        books = pq_train(
            df, cents, id_col, vec_col, m, k_sub, pq_iters, seed, sample=X
        )
    order, q_norm = _pq_probe_order(query_vec, cents)
    probe = order[:nprobe]

    from pulsar_sync_java_spark.operators.vectorized import pq_encode_udf

    # asNondeterministic is a PUSHDOWN BARRIER, not a semantics claim:
    # the kernel is pure, but letting Catalyst push the cell filter
    # below the projection substitutes element_at(encode(v),1) into
    # the predicate and ExtractPythonUDFs then plans TWO
    # ArrowEvalPython stages — the full k x d + M-subspace encode ran
    # twice over the corpus (caught by plan inspection; the contract
    # is ONE encode pass per row).  The filter stays above the single
    # encode stage.
    enc = pq_encode_udf(cents, books).asNondeterministic()(F.col(vec_col))
    coded = (
        spread(df)
        .select(F.col(id_col), enc.alias("__enc"))
        .select(
            id_col,
            F.element_at("__enc", 1).alias("__cell"),
            F.slice("__enc", 2, len(books)).alias("__codes"),
        )
        .filter(F.col("__cell").isin(*probe))
    )
    topc = _pq_adc_topc(
        coded, _pq_lut_rows(q_norm, cents, books, probe), rerank, id_col
    )
    cand = df.join(F.broadcast(topc.select(id_col)), id_col)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_pq_topk_multi(
    df: DataFrame,
    queries: list[tuple[int, list[float]]],
    centroids: list[list[float]],
    codebooks,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    rerank: int = 64,
) -> DataFrame:
    """Batch `ivf_pq_topk` against a supplied model: ONE Arrow encode
    pass over the corpus serves every probe, coding the DataFrame
    in-plan.  Per-query results match `ivf_pq_topk(..., centroids=...,
    codebooks=...)` exactly: same
    normalized probe order, same LUT math (`_pq_lut_rows` +
    `adc_lut_fold`), same (ADC ASC, id ASC) rerank cut and
    (cosine DESC, id ASC) final tie-breaks.

    Payload discipline: the broadcast LUT frame carries ONLY
    (query_id, cell, lut); the ADC candidate rows carry ONLY
    (query_id, id, adc); the d-double query vectors live in a separate
    |Q|-row frame broadcast onto the `rerank` SURVIVORS at the exact
    re-rank.  The encode projection
    keeps the single-query path's pushdown barrier (one
    ArrowEvalPython stage — plan-asserted by the equivalence tests'
    plan check)."""
    from pyspark.sql.window import Window

    from pulsar_sync_java_spark.operators.vectorized import pq_encode_udf

    if not queries:
        raise ValueError("ivf_pq_topk_multi: empty probe batch")
    lut_rows = []
    qvec_rows = []
    for qid, qv in queries:
        order, q_norm = _pq_probe_order([float(v) for v in qv], centroids)
        qvec_rows.append((int(qid), [float(v) for v in qv]))
        for cell, lut in _pq_lut_rows(
            q_norm, centroids, codebooks, order[:nprobe]
        ):
            lut_rows.append((int(qid), int(cell), lut))
    spark = df.sparkSession
    # verifySchema=False: rows are built above with explicit int()/
    # float() conversions; the default per-element verifier walks the
    # ~nprobe*m*k_sub LUT doubles on the driver (~0.3s per
    # construction, measured via cProfile r14)
    ludf = spark.createDataFrame(
        lut_rows, "query_id long, __cell int, __lut array<array<double>>",
        verifySchema=False,
    )
    qdf = spark.createDataFrame(
        qvec_rows, "query_id long, __qv array<double>",
        verifySchema=False,
    )
    cells_union = sorted({r[1] for r in lut_rows})
    enc = pq_encode_udf(centroids, codebooks).asNondeterministic()(
        F.col(vec_col)
    )
    coded = (
        spread(df)
        .select(F.col(id_col), enc.alias("__enc"))
        .select(
            id_col,
            F.element_at("__enc", 1).alias("__cell"),
            F.slice("__enc", 2, len(codebooks)).alias("__codes"),
        )
        .filter(F.col("__cell").isin(*cells_union))
    )
    adc = adc_lut_fold("__lut", "__codes")
    scored = coded.join(F.broadcast(ludf), "__cell").select(
        "query_id", F.col(id_col), adc.alias("__adc")
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col(id_col).asc()
    )
    cand = (
        scored.withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= rerank)
        .select("query_id", id_col)
    )
    scored_exact = (
        df.select(id_col, vec_col)
        .join(F.broadcast(cand), id_col)
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            cosine(F.col(vec_col), F.col("__qv")).alias("cos_sim"),
        )
    )
    return _multi_cosine_topk(scored_exact, k, id_col)


# ---------------------------------------------------------------------------
# ANN calibration harness (r10 verdict #3): the ANN twin of
# q_sketch_calibration.  The r10 lesson — partial oracles (in-plan
# recall flags) can go stale silently if the thing they measure
# degrades together with the flag's inputs — generalizes to the ANN
# family: a broken quantizer changes BOTH the approx result and any
# flag computed from it, so the monitor must anchor on the EXACT side
# (hash-gateable) and express approx health as bounded flags against
# that anchor.
# ---------------------------------------------------------------------------


def ann_calibration(
    df: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 16,
    max_hamming: int = 9,
    n_centroids: int = 16,
    nprobe: int = 14,
    iters: int = 1,
    m: int = 16,
    k_sub: int = 256,
    rerank: int = 64,
    pq_iters: int = 3,
    seed: int = 42,
    recall_min: int = 8,
    rank_corr_min: float = 0.50,
    adc_err_max: float = 0.60,
    centroids: list[list[float]] | None = None,
    codebooks=None,
    paths: tuple = ("lsh", "ivf", "pq"),
) -> DataFrame:
    """Per-query ANN quality monitoring over a batch of probe vectors:
    one row per query with the EXACT top-k anchor (top-1 id + id sum —
    SQL-replayable, hash-gateable) beside bounded health flags for
    every approximate path the engine ships:

    - ``recall_{lsh,ivf,pq}_ok``: recall@k >= recall_min/k vs the
      exact top-k, each method run with its production dials;
    - ``rank_corr_ok``: Spearman rank correlation between the ADC
      (PQ lookup-table) ranking and the exact cosine ranking over the
      AUDIT SET = exact top-k ∪ a deterministic k-row background
      sample (ids ≡ 7 mod 41).  Two deliberate choices: the reranked
      OUTPUT order would correlate trivially (it IS exact order), so
      the monitor ranks by raw ADC; and the top-k alone are near-ties
      on an isotropic corpus (measured ρ as low as 0.16 on a HEALTHY
      model at sf0.001 — ordering noise, not model damage), so the
      audit set spans the full distance range, where a healthy coded
      metric separates neighbors from background (measured ρ ≥ 0.87
      across sf0.001/0.01/0.1 x 3 probes) and a corrupted one cannot;
    - ``adc_err_ok``: max |(2 - 2 cos_exact) - adc| over the audit
      set — the coded metric's absolute distance error (both sides
      are squared L2 on the unit sphere; measured ≤ 0.41 healthy
      across all sf x probe combinations, ~2x the bound under a
      zeroed codebook whose reconstruction collapses to the cell
      centroid).

    A garbage codebook leaves recall/rank-corr near chance and blows
    the ADC error by an order of magnitude (pinned by the mis-trained
    codebook test), while a healthy retrain keeps every flag TRUE with
    wide margin — so the flags detect model corruption, not noise.

    Exact side: the q_sim_topk decimal-exact cosine discipline
    (zip_with products folded through DECIMAL(38,12)), multi-query via
    a broadcast of the len(query_ids)-row query frame — one corpus
    scan for ALL probes, window top-k per query.  Pass `centroids` +
    `codebooks` to audit an EXTERNAL model (the mis-training test
    hook); default trains the same deterministic seeded model
    `ivf_pq_topk` ships.

    Scale: the probe batch is serving-sized (|Q| rows broadcast); the
    corpus pays one scan for the exact anchor (the calibration cost —
    run it on a sampled slice at 100 TB) plus the three production
    probe paths; every per-query frame is k rows.

    `paths` selects which approximate arms to audit (subset of
    ("lsh", "ivf", "pq")); omitted arms skip their corpus pass AND
    their flag columns.  To judge a supplied model alone, audit it
    with paths=("pq",): the LSH arm is model-independent and the IVF
    arm trains its own raw-space quantizer.  The rank/ADC audit
    requires "pq"."""
    from pyspark.sql.window import Window

    from pulsar_sync_java_spark.functions.numeric import dec_arr_sum
    from pulsar_sync_java_spark.operators.vectorized import pq_encode_udf

    if not query_ids:
        # catch the misconfigured monitor at the harness boundary —
        # an empty pinned-probe set would otherwise surface as a bare
        # IndexError deep inside the first batch arm
        raise ValueError("ann_calibration: empty query_ids probe set")
    if (centroids is None) != (codebooks is None):
        # the ivf_pq_topk pairing contract, doubly important here: a
        # codebooks-only call would silently retrain a HEALTHY model
        # and audit that instead of the suspect one — every flag green
        # for a corrupted model, the exact silent-green failure this
        # harness exists to prevent
        raise ValueError(
            "ann_calibration: pass centroids and codebooks together — "
            "auditing a mixed or partially-defaulted model would judge "
            "a different quantizer than the one supplied"
        )

    sq = lambda c: F.transform(  # noqa: E731
        c, lambda x: x.cast("double") * x.cast("double")
    )
    # per-query norms fold ONCE into the |Q|-row broadcast frame
    # (bit-identical to folding per joined row — the decimal sum is a
    # pure function of the query vector)
    qdf = df.filter(F.col(id_col).isin([int(q) for q in query_ids])).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        dec_arr_sum(sq(F.col(vec_col))).alias("__ny"),
    )
    qvecs = {
        int(r["query_id"]): [float(x) for x in r["__qv"]]
        for r in qdf.select("query_id", "__qv").collect()  # probe batch
    }
    missing = set(int(q) for q in query_ids) - set(qvecs)
    if missing:
        raise ValueError(f"ann_calibration: probe ids absent: {sorted(missing)}")

    prod = F.zip_with(
        vec_col, "__qv", lambda x, y: x.cast("double") * y.cast("double")
    )
    # corpus-row norms fold once per row BEFORE the query cross join
    # (not |Q| times after it) — same values, 1/|Q| the fold work on
    # the anchor scan.  spread(): the anchor scan's |Q|+1 decimal
    # folds per corpus row are the exact arm's cost; a single-split
    # scan would run them on one task (r13 profile)
    corpus = spread(df).select(
        id_col, vec_col, dec_arr_sum(sq(F.col(vec_col))).alias("__nx")
    )
    scored = (
        corpus.crossJoin(F.broadcast(qdf))
        .select(
            "query_id",
            id_col,
            dec_arr_sum(prod).alias("__dot"),
            "__nx",
            "__ny",
        )
    )
    cos = F.col("__dot") / (F.sqrt("__nx") * F.sqrt("__ny"))
    we = Window.partitionBy("query_id").orderBy(
        cos.desc(), F.col(id_col).asc()
    )
    exact = cached(
        scored.withColumn("__rk", F.row_number().over(we))
        .filter(F.col("__rk") <= k)
        .select("query_id", id_col, cos.alias("__cos"), "__rk"),
        "similarity.ann_calibration",
    )

    # Each recall arm is the BATCH variant of its production path —
    # one corpus pass (signature scan / cluster assignment / Arrow
    # encode) answers all |Q| probes, where the per-query functions
    # would re-pay that pass per probe.  The batch variants are
    # pinned per-query bit-identical to the single-query paths by
    # tests/test_dedup_ops.py, so the flags still judge the
    # production plans.
    probes = sorted(qvecs.items())

    def recall_flag(approx: DataFrame, name: str) -> DataFrame:
        # broadcast the |Q| x k exact anchor: the batch arms' window
        # output has no row-count statistics, so Spark would otherwise
        # sort-merge two k-row frames
        hits = (
            approx.select("query_id", id_col)
            .join(F.broadcast(exact.select("query_id", id_col)),
                  ["query_id", id_col])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("__hits"))
        )
        return hits.select(
            "query_id", (F.col("__hits") >= recall_min).alias(name)
        )

    r_lsh = (
        recall_flag(
            lsh_topk_multi(
                df, probes, k, id_col, vec_col, num_planes, max_hamming,
                seed,
            ),
            "recall_lsh_ok",
        )
        if "lsh" in paths
        else None
    )
    # ONE seeded-sample collect serves BOTH trainers (r14): the IVF
    # arm's raw-space quantizer and the PQ model's normalized sample
    # draw the same n=256*k smallest-hash rows with the same seed, so
    # collecting twice was a redundant corpus scan + driver transfer
    # (~0.35s measured).  Raw rows here; each consumer applies its own
    # metric-space transform (IVF trains raw, PQ normalizes) —
    # bit-identical to the private collects it replaces.
    raw_sample = (
        _seeded_sample(
            df, id_col, vec_col, 256 * n_centroids, seed,
            caller="ann_calibration",
        )
        if ("ivf" in paths) or ("pq" in paths and centroids is None)
        else None
    )
    r_ivf = None
    if "ivf" in paths:
        # one RAW-space sample + Lloyd for all IVF probes (ivf_topk's
        # own metric space — distinct from the PQ model's normalized
        # sample)
        cents_ivf = kmeans_centroids(
            df, id_col, vec_col, n_centroids, iters, seed,
            sample=raw_sample,
        )
        r_ivf = recall_flag(
            ivf_topk_multi(
                df, probes, cents_ivf, k, id_col, vec_col, nprobe
            ),
            "recall_ivf_ok",
        )
    if "pq" not in paths:
        base = exact.groupBy("query_id").agg(
            F.max(F.when(F.col("__rk") == 1, F.col(id_col)))
            .cast("long")
            .alias("exact_top1"),
            F.sum(id_col).cast("long").alias("exact_id_sum"),
        )
        out = base
        for arm, name in ((r_lsh, "recall_lsh_ok"), (r_ivf, "recall_ivf_ok")):
            if arm is not None:
                out = out.join(
                    F.broadcast(arm), "query_id", "left"
                ).withColumn(
                    name, F.coalesce(name, F.lit(False))
                )
        return out
    if centroids is None:
        X = _l2_normalize(raw_sample)
        cents = kmeans_centroids(
            df, id_col, vec_col, n_centroids, iters, seed, sample=X
        )
        books = pq_train(
            df, cents, id_col, vec_col, m, k_sub, pq_iters, seed, sample=X
        )
    else:
        cents, books = centroids, codebooks
    r_pq = recall_flag(
        ivf_pq_topk_multi(
            df, probes, cents, books, k, id_col, vec_col, nprobe, rerank
        ),
        "recall_pq_ok",
    )

    # ADC audit set: exact top-k ∪ deterministic background rows (ids
    # ≡ 7 mod 41, smallest k — fetched by a pushed-down id filter, one
    # cheap scan), so the rank audit spans the full distance range.
    bg_ids = [
        int(r[0])
        for r in df.select(id_col)
        .filter((F.col(id_col) % 41) == 7)
        .orderBy(id_col)
        .limit(k)
        .collect()
    ]
    bg = (
        corpus.filter(F.col(id_col).isin(bg_ids))
        .crossJoin(F.broadcast(qdf))
        .select(
            "query_id",
            id_col,
            (
                dec_arr_sum(prod) / (F.sqrt("__nx") * F.sqrt("__ny"))
            ).alias("__cos"),
        )
    )
    audit = (
        exact.select("query_id", id_col, "__cos")
        .unionByName(bg)
        # a background id can also be an exact neighbor: both arms
        # compute the identical decimal-exact __cos, so the dedup is
        # value-safe
        .dropDuplicates(["query_id", id_col])
    )
    # broadcast per-(query, cell) LUTs for ALL cells (|Q| x
    # n_centroids rows — the audit must cover whatever cell an audit
    # row landed in)
    lut_rows = []
    for qid, qv in sorted(qvecs.items()):
        _, q_norm = _pq_probe_order(qv, cents)
        for cell, lut in _pq_lut_rows(
            q_norm, cents, books, list(range(len(cents)))
        ):
            lut_rows.append((qid, cell, lut))
    # verifySchema=False: lut_rows built above as exact int/list[float];
    # the verifier walked |Q| x n_centroids x m x k_sub doubles (~0.4s
    # of driver time per construction, measured via cProfile r14)
    ludf = df.sparkSession.createDataFrame(
        lut_rows, "query_id long, __cell int, __lut array<array<double>>",
        verifySchema=False,
    )
    enc = pq_encode_udf(cents, books).asNondeterministic()(F.col(vec_col))
    coded = (
        df.select(id_col, vec_col)
        .join(F.broadcast(audit), id_col)
        .select("query_id", id_col, "__cos", enc.alias("__enc"))
        .select(
            "query_id",
            id_col,
            "__cos",
            F.element_at("__enc", 1).alias("__cell"),
            F.slice("__enc", 2, len(books)).alias("__codes"),
        )
    )
    adc = adc_lut_fold("__lut", "__codes")
    we2 = Window.partitionBy("query_id").orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col(id_col).asc()
    )
    ranked = (
        coded.join(F.broadcast(ludf), ["query_id", "__cell"])
        .select("query_id", id_col, "__cos", adc.alias("__adc"))
        .withColumn("__erk", F.row_number().over(we2))
        .withColumn("__adc_rk", F.row_number().over(wa))
    )
    n = F.count(F.lit(1)).cast("double")
    metrics = ranked.groupBy("query_id").agg(
        (
            F.lit(1.0)
            - F.lit(6.0)
            * F.sum(
                (F.col("__erk") - F.col("__adc_rk"))
                * (F.col("__erk") - F.col("__adc_rk"))
            ).cast("double")
            / (n * (n * n - F.lit(1.0)))
        ).alias("__rank_corr"),
        F.max(
            F.abs(F.lit(2.0) - F.lit(2.0) * F.col("__cos") - F.col("__adc"))
        ).alias("__adc_err"),
    )

    base = exact.groupBy("query_id").agg(
        F.max(F.when(F.col("__rk") == 1, F.col(id_col)))
        .cast("long")
        .alias("exact_top1"),
        F.sum(id_col).cast("long").alias("exact_id_sum"),
    )
    out = base
    cols = ["query_id", "exact_top1", "exact_id_sum"]
    for arm, name in ((r_lsh, "recall_lsh_ok"), (r_ivf, "recall_ivf_ok")):
        if arm is not None:
            out = out.join(F.broadcast(arm), "query_id", "left")
            cols.append(name)
    return (
        out.join(F.broadcast(r_pq), "query_id", "left")
        .join(F.broadcast(metrics), "query_id", "left")
        .select(
            *cols[:3],
            *[
                F.coalesce(c, F.lit(False)).alias(c)
                for c in cols[3:]
            ],
            F.coalesce("recall_pq_ok", F.lit(False)).alias("recall_pq_ok"),
            (F.coalesce("__rank_corr", F.lit(-1.0)) >= rank_corr_min).alias(
                "rank_corr_ok"
            ),
            (F.coalesce("__adc_err", F.lit(1e18)) <= adc_err_max).alias(
                "adc_err_ok"
            ),
        )
    )
