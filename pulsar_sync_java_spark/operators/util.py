"""Shared operator plumbing."""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The package's whole cache population, key -> why: one key per call
#: site, "<module>.<function>[.<frame>]".  Entries hold aggregate or
#: feature rows, never corpus payloads.  Lifetime belongs to the key:
#: session entries stay (plan-matched reuse on repeat calls),
#: calibration_report releases `dedup.simhash_calibration`, and the
#: graph.py loops unpersist superseded states.  A SHARED entry is the
#: FLAT shape its consumers probe most; they derive views by filter or
#: rename, never by caching on top of it (nested cached relations
#: re-inline into every consumer: q_bfs_khop's analysis went 1.1 ->
#: 3.2 s).  Stacking by design: CC rounds, tree_roots states, q_hits
#: score frames, q_bfs_khop frontiers, triangle orientation.
CACHES = {
    "dedup.shingle_arrays": "the shingle-array projection: overlap metrics and set sizes all read it (2.6 -> 1.3 s cold at sf0.1)",
    "dedup.simhash_calibration.fingerprints": "fingerprints feed the pigeonhole pairing and both pair lookups; uncached the simhash kernel runs 3x",
    "dedup.simhash_calibration.token_counts": "token counts feed the norms and both dot sides; uncached the tokenize runs 4x (3.1 -> 1.3 s at sf0.1 with the fingerprints)",
    "graph.connected_components.forest": "the contracted forest: its count gates the finish and the returned label plan reads it; repeat calls reuse it",
    "graph.connected_components.round": "each contraction round is counted, then contracted again or read by the label plan",
    "graph.count_triangles.edges": "the normalized edge table: degrees, orientation, closing check and the census read it",
    "graph.count_triangles.oriented": "both wedge legs read the oriented edges, so the degree join runs once",
    "graph.pagerank.nodes": "the node table: its count sizes the teleport term and every iteration reads it",
    "graph.pagerank.edges": "the out-degree join every unrolled iteration reads",
    "graph.tree_roots.parents": "the parent table every bounded-depth hop joins",
    "graph.tree_roots.segment": "a segment barrier: the next join chain starts from a cache, below the planner's recursion bound (StackOverflowError past ~130 joins)",
    "graph.tree_roots.state": "the pointer-doubling start state: its count sets the round cap and round one reads it twice",
    "graph.tree_roots.round": "each doubling round is counted for convergence and read twice by the next",
    "heavy_hitters.heavy_hitters": "the P*(k+1)-row Misra-Gries summaries: the meta collect and the candidate cut read them, so the sketch pass runs once",
    "similarity.embedding_near_pairs": "the signature projection: the banded subtree and both vector lookups read it (1.77 -> 1.21 s cold at sf0.1)",
    "similarity.ann_calibration": "the exact top-k anchor: the per-query aggregate, three recall joins and the ADC audit read it",
    "clustering.semantic_dedup_pipeline": "the (vec_id, cluster) assignment: both pair sides and the output join read it; uncached each reruns the Lloyd chain (5.3 -> 1.6 s warm at sf0.1)",
    "clustering.kmeans_assignments_expr": "the final (vec_id, cluster) assignment: the size collect materializes it and the returned plan reads it, so the K-fold argmin runs once",
    "dedup_scale.q_minhash_lsh": "MinHash signatures: the banded subtree and both signature lookups read them, so the md5 kernel runs once",
    "dedup_scale.q_sketch_calibration": "MinHash signatures, plan-matched with q_minhash_lsh: the banded subtree and two lookups read them",
    "dedup_scale.q_ann_pq_topk": "the 10-row approximate result: the cardinality aggregate and the recall join read it, so encode+ADC runs once",
    "dedup_scale.q_incremental_dedup": "MinHash signatures, plan-matched with q_minhash_lsh: the delta and the corpus index read them",
    "aggregates.q_hll_intersect": "the distinct (type, key) set: the sketch aggregate and the exact joins read it",
    "behavior.q_assoc_rules": "per-basket sorted item arrays: pair explode, support explode and the basket count read them",
    "extras.copurchase_edges": "the symmetric co-purchase edge table of the mod=5 slice, shared by q_triangle_count, q_bfs_khop and q_degree_assortativity",
    "extras.q_label_prop": "the mod=7 symmetric co-purchase edge table that all three LPA iterations probe; no other query reads the slice",
    "extras.q_bfs_khop": "each BFS level feeds the next frontier and the visited union; uncached the subtree doubles per level (60 jobs at sf0.1)",
    "extras.q_degree_assortativity": "the node degree table: both pair-join sides and the global statistics read it",
    "extras.q_hits.edges": "the bipartite edge table every HITS iteration joins",
    "extras.q_hits.authority": "each authority score frame feeds its max and the join back; uncached the subtree doubles per iteration (6.5 -> 0.9 s at sf0.1)",
    "extras.q_hits.hub": "each hub score frame feeds its max and the join back, as the authority frames do",
    "extras.q_tfidf_topterms": "the (doc, term) tf aggregate: the join branch and the df aggregate read it",
    "extras.q_bm25_topk": "the (doc, term) tf aggregate, the inverted index: doc lengths, posting filter and token totals read it",
    "pipeline.q_chi2_terms": "the (lang, token) count aggregate: marginals, total and scoring read it",
    "pipeline.bpe_learn": "the char-split word vocabulary: training collects it once and every merge chain of the four BPE queries reads it",
    "pipeline.bpe_doc_word_counts": "the (doc, lang, word) counts, the one corpus-sized encode step, shared by the three BPE encode queries",
    "pipeline.q_char_diversity": "the (doc, char) count aggregate: the diversity aggregate and the argmax read it",
    "stats.q_skew_report": "the per-key size aggregate: the percentile summary and the top-5 read it",
    "stats.q_ks_drift": "the distinct-value count table: cumsums, bucket totals and slice totals read it, so the corpus is scanned once",
    "training.q_dedup_keepers": "MinHash signatures, plan-matched with q_minhash_lsh: the banded subtree and both lookups read them",
    "training.q_corpus_materialize": "the feature table is the pushdown barrier: uncached, Catalyst inlines the tokenizer into a scan filter (13x)",
}

# key -> the handles whose cache entry is live.  A handle another caller
# unpersisted (a loop's superseded state) is dropped the next time its
# key is touched, so this never outgrows Spark's own cache population.
_HANDLES: dict[str, list[DataFrame]] = {}
_HANDLES_LOCK = threading.Lock()


def _live(key: str) -> list[DataFrame]:
    live = [h for h in _HANDLES.pop(key, []) if h.storageLevel != StorageLevel.NONE]
    if live:
        _HANDLES[key] = live
    return live


def cached(df: DataFrame, key: str) -> DataFrame:
    """`df` persisted under the declared `key` (see `CACHES`).

    `df.storageLevel` is a plan-matched CacheManager lookup: when the
    plan is already cached, under this key or any other, `df` is
    returned as it is, so a repeat call adds no entry, no handle and no
    'Asked to cache already cached data' warning."""
    if key not in CACHES:
        raise KeyError(f"undeclared cache key {key!r}: declare it in CACHES")
    with _HANDLES_LOCK:
        live = _live(key)
        if df.storageLevel == StorageLevel.NONE:
            df.persist()
            _HANDLES[key] = live + [df]
    return df


def release(prefix: str) -> None:
    """Unpersist every live entry whose key starts with `prefix`."""
    with _HANDLES_LOCK:
        for key in [k for k in _HANDLES if k.startswith(prefix)]:
            for h in _HANDLES.pop(key):
                h.unpersist()


def census(spark) -> dict[str, int]:
    """Key -> cached bytes (memory + disk) of the live entries, read
    from the status store's RDD storage info.  An entry no action has
    materialized yet reads 0."""
    sc = spark.sparkContext._jsc.sc()
    size = {i.id(): i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()}
    cm = spark._jsparkSession.sharedState().cacheManager()
    out: dict[str, int] = {}
    with _HANDLES_LOCK:
        for key in list(_HANDLES):
            for h in _live(key):
                b = cm.lookupCachedData(h._jdf).get().cachedRepresentation().cacheBuilder()
                rdd = b.cachedColumnBuffers().id() if b.isCachedColumnBuffersLoaded() else None
                out[key] = out.get(key, 0) + size.get(rdd, 0)
    return out


def pair_structs(ids: Column) -> Column:
    """All unordered element pairs of a SORTED array, as structs
    `(a, b)` with `a < b` by construction (a sits at a lower index).

    This is the single-shuffle candidate-pair shape shared by every
    LSH/inverted-index operator: `groupBy(bucket).agg(sort_array(
    collect_list(id)))` then `explode(pair_structs(ids))` replaces the
    bucket-census + per-bucket SELF-JOIN formulation, which cost four
    shuffle barriers (census agg, census join, self-join, and the
    joins' exchanges) where this costs one.  Measured at sf0.1: the
    MinHash pair stage dropped ~2.5x end-to-end.

    Work per bucket is |bucket|²/2 struct builds — identical to the
    rows the self-join would emit, so the skew guard (cap buckets at
    `max_bucket` BEFORE exploding) carries over unchanged.  The
    collect_list state per group is likewise bounded by the same cap.
    """
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids) - i - 1),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


_TARGET_BYTES_PER_TASK = 4 << 20  # ~4 MB of input per kernel task
_MIN_TASKS = 4


def _spread_count(df: DataFrame) -> int:
    """Partition count for a kernel-feeding exchange: scale with input
    size, cap at cluster parallelism.

    `defaultParallelism` unconditionally was measured 2x slower on the
    bench tables at local[32] than local[8]: with a few thousand rows,
    32 tasks per stage x several stages is pure scheduling + Python
    worker overhead.  Input size comes from Catalyst's plan statistics
    (file-size based for parquet scans — no job is run); the byte
    target is sized so that even a Python-codec kernel gets enough
    rows per task to amortize its Arrow batch setup.  At 100 TB the
    estimate saturates the cap immediately, so every core gets work.
    Leaf nodes without stats report Long.Max-ish defaults and also
    saturate the cap — the safe side.
    """
    cap = df.sparkSession.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    want = -(-size // _TARGET_BYTES_PER_TASK)  # ceil
    return max(min(cap, want), min(_MIN_TASKS, cap))


def spread(df: DataFrame, full: bool = False, width: int | None = None) -> DataFrame:
    """Round-robin repartition to a size-scaled partition count
    (`_spread_count`), for CPU-bound per-row projections (sketch
    signatures, fingerprints, Python codec batches).

    `full=True` pins the cluster's full parallelism regardless of input
    size — for exchanges feeding row-AMPLIFYING stages (shingle explode
    -> million-row groupBy), where the work above the exchange is many
    times the bytes below it and the size heuristic under-provisions
    (measured: n-gram Jaccard 3.4s at 4 tasks vs 2.2s at 32).
    `width=n` pins an explicit count instead — for call sites whose
    best width lies between the two (operators/dedup.py:_shingle_width).

    Why this exists: Spark's scan parallelism comes from input splits.
    A small parquet file (or one with a single row group) is ONE split,
    so an expensive projection downstream runs in one task no matter
    how many cores exist — measured 32x under-parallelism on the local
    test tables.  The count is explicit (REPARTITION_BY_NUM), so AQE
    never coalesces the exchange back to one task.  The exchange is
    also a per-branch materialization barrier: a computed array column
    crosses it as plain data, so explode/size consumers above it
    cannot inline (and re-evaluate) the array expression.  It does NOT
    deduplicate work across self-join branches — measured under AQE,
    no ReusedExchange/stage-cache hit materializes for these DAGs, each
    branch recomputes its (column-pruned) subtree; see
    lsh_candidate_pairs for why that trade is still right.

    The exchange is added on every call, and building it runs no job.
    On a many-split cluster scan it costs one shuffle of the raw rows,
    below any explode amplification.
    """
    if width is not None:
        n = width
    elif full:
        n = df.sparkSession.sparkContext.defaultParallelism
    else:
        n = _spread_count(df)
    return df.repartition(n)
