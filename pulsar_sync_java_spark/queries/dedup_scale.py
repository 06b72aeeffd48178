"""Scale-path dedup / similarity / multimodal queries (BASELINE.json
north star) — the `queries()` surface over operators/dedup.py,
operators/similarity.py, operators/multimodal.py.

Oracle-checked everywhere: n-gram Jaccard / containment / repeated
spans (inverted indexes), multimodal metadata, and — via the portable
md5-based hash mode — MinHash/LSH and SimHash, whose signatures the
DuckDB oracle replays bit-for-bit.  The two ANN queries (approximate
by design) carry PARTIAL oracles since r7 — cardinality hashed plus an
in-plan recall@10 >= 0.9 flag vs the exact co-computed baseline — with
production dials additionally property-tested against exact ground
truth in tests/test_dedup_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.dedup import (
    containment_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_pairs_against_corpus,
    minhash_signatures,
    repeated_spans,
    scrub_repeated_spans,
    simhash64,
    simhash_calibration,
    simhash_near_pairs,
)
from pulsar_sync_java_spark.operators.multimodal import (
    attach_payload,
    phash64,
    audio_windows,
    extract_media_features,
    frame_sample,
    resize_images,
)
from pulsar_sync_java_spark.operators.similarity import (
    ann_calibration,
    cosine_topk,
    embedding_near_pairs,
    ivf_pq_topk,
    ivf_topk,
    lsh_topk,
)
from pulsar_sync_java_spark.operators.util import _spread_count, cached
from pulsar_sync_java_spark.operators.vectorized import (
    portable_family_sql_values,
)
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.sources.tables import load_table


# The portable MinHash family constants, INLINED into every oracle
# (md5-derived independent rows — see portable_minhash_family for the
# degeneracy the r10 calibration query exposed in the old family).
_FAM64 = portable_family_sql_values(64)

# Shared inverted-index CTE chain for the exact-overlap oracles
# (mirrors operators/dedup._shingle_overlap): distinct 3-gram shingles,
# set sizes, the max_bucket=1000 stop-shingle guard, and per-pair
# intersection counts.  Every consumer appends only its scoring
# SELECT, so the pipeline semantics cannot diverge between them.
# _OVERLAP_TAIL is the sizes/hot/pruned/inter block factored out so
# the calibration oracle (which needs these CTEs on top of the
# MinHash chain — both start from the IDENTICAL `sh`) shares the ONE
# definition instead of a copy that could silently drift.
_OVERLAP_TAIL = """, sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
), hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000
), pruned AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN hot USING (shingle)
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

_OVERLAP_CTES = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i
), sh AS (
  SELECT DISTINCT doc_id, t[d.i] || ' ' || t[d.i+1] || ' ' || t[d.i+2] AS shingle
  FROM toks, dims d WHERE d.i <= len(t) - 2
)""" + _OVERLAP_TAIL

_JACCARD_SQL = _OVERLAP_CTES + """
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
"""


@query("q_ngram_jaccard", oracle=_JACCARD_SQL)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-duplicate pairs (>= 0.5) via the
    shingle inverted index — cost bounded by shingle bucket size, never
    by doc-pair count (operators/dedup.py:jaccard_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(d, threshold=0.5, max_bucket=1000)


_CONTAINMENT_SQL = _OVERLAP_CTES + """
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(inter AS DOUBLE) / least(sa.set_size, sb.set_size) >= 0.8
"""


@query("q_containment_dedup", oracle=_CONTAINMENT_SQL)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram CONTAINMENT pairs (>= 0.8): |A∩B| / min(|A|,|B|) —
    the near-superset detector Jaccard structurally misses (a doc
    embedded whole in a 10x-longer doc is Jaccard ~0.1, containment
    ~1.0; Broder's resemblance/containment companion metric).  Same
    inverted-index plan as q_ngram_jaccard — the persisted shingle
    projection is plan-matched SHARED between the two metrics
    (operators/dedup.py:containment_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs(d, threshold=0.8, max_bucket=1000)


# Portable MinHash oracle: md5-prefix 32-bit base hashes + the affine
# mod-(2^31-1) family of operators/vectorized.py:portable_minhash_family
# — per-row (a_i, b_i) are md5-derived constants INLINED below as a
# VALUES list (one Python source of truth; a*h+b < 2^63 - 1, exact
# BIGINT in both engines).  Band membership needs no bucket hash at
# all: two docs share a band iff their 4-long signature slices are
# EQUAL, which SQL expresses directly (the engine's xxhash64 bucket id
# is just a grouping key for that same equality).
# Shared portable-MinHash CTE chain (tokens -> shingles -> md5 base
# hashes -> affine family -> 64-long signatures -> 16 band slices):
# both the symmetric (q_minhash_lsh) and asymmetric
# (q_incremental_dedup) pair builders append only their candidate
# SELECTs, so the signature semantics cannot diverge between them —
# same discipline as _OVERLAP_CTES above.
_MINHASH_CTES = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i
), sh AS (
  SELECT DISTINCT doc_id, t[d.i] || ' ' || t[d.i+1] || ' ' || t[d.i+2] AS shingle
  FROM toks, dims d WHERE d.i <= len(t) - 2
), hs AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh
), fam AS (
  SELECT CAST(i AS BIGINT) AS i, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
  FROM (VALUES {_FAM64}) t(i, a, b)
), sig AS (
  SELECT doc_id, f.i, MIN((f.a * h + f.b) % 2147483647) AS s
  FROM hs CROSS JOIN fam f
  GROUP BY doc_id, f.i
), slices AS (
  SELECT doc_id, i // 4 AS band, string_agg(s, ',' ORDER BY i) AS slice
  FROM sig GROUP BY doc_id, i // 4
)
"""

_MINHASH_SQL = _MINHASH_CTES + """
, ok_buckets AS (
  -- the engine's max_bucket=1000 skew guard: oversized buckets dropped whole
  SELECT band, slice FROM slices GROUP BY band, slice HAVING COUNT(*) <= 1000
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM slices x
  JOIN ok_buckets ob ON x.band = ob.band AND x.slice = ob.slice
  JOIN slices y
    ON x.band = y.band AND x.slice = y.slice AND x.doc_id < y.doc_id
)
SELECT c.doc_a, c.doc_b,
       SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END)::DOUBLE / 64 AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
GROUP BY c.doc_a, c.doc_b
HAVING SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END)::DOUBLE / 64 >= 0.5
"""


@query("q_minhash_lsh", oracle=_MINHASH_SQL)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16-band LSH candidate pairs with estimated Jaccard
    >= 0.5, in PORTABLE-hash mode (md5-based base hashes + affine
    mod-(2^31-1) family) so the DuckDB oracle replays the signatures —
    and therefore the candidate pairs and estimates — bit-for-bit.
    Recall against exact Jaccard ground truth is separately
    property-tested in tests/test_dedup_ops.py."""
    d = load_table(spark, sf_dir, "documents")
    sigs = cached(minhash_signatures(d, num_hashes=64), "dedup_scale.q_minhash_lsh")
    return lsh_candidate_pairs(sigs, bands=16).filter(F.col("est_jaccard") >= 0.5)


_CALIBRATION_SQL = _MINHASH_CTES.rstrip() + _OVERLAP_TAIL + """
, ok_buckets AS (
  SELECT band, slice FROM slices GROUP BY band, slice HAVING COUNT(*) <= 1000
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM slices x
  JOIN ok_buckets ob ON x.band = ob.band AND x.slice = ob.slice
  JOIN slices y
    ON x.band = y.band AND x.slice = y.slice AND x.doc_id < y.doc_id
), est AS (
  SELECT c.doc_a, c.doc_b,
         CAST(SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
  GROUP BY c.doc_a, c.doc_b
)
SELECT e.doc_a, e.doc_b, e.n_match,
       CAST(e.n_match AS DOUBLE) / 64 AS est_jaccard,
       CAST(COALESCE(i.inter, 0) AS BIGINT) AS inter,
       CAST(za.set_size + zb.set_size - COALESCE(i.inter, 0) AS BIGINT)
         AS union_size,
       CAST(COALESCE(i.inter, 0) AS DOUBLE)
         / (za.set_size + zb.set_size - COALESCE(i.inter, 0)) AS exact_jaccard,
       ABS(CAST(e.n_match AS DOUBLE) / 64
           - CAST(COALESCE(i.inter, 0) AS DOUBLE)
             / (za.set_size + zb.set_size - COALESCE(i.inter, 0))) AS abs_err
FROM est e
JOIN sizes za ON za.doc_id = e.doc_a
JOIN sizes zb ON zb.doc_id = e.doc_b
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
"""


@query("q_sketch_calibration", oracle=_CALIBRATION_SQL)
def q_sketch_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch QA — MinHash estimate vs exact ground truth, per LSH
    candidate pair, with NO similarity threshold: the sketch's error
    is measured exactly where the pipeline would act on it, including
    the false-positive tail (band collisions whose exact Jaccard is ~0
    — the rows a threshold query never shows).  Emits (pair, n_match,
    est_jaccard, inter, union_size, exact_jaccard, abs_err) — the
    monitoring table a production dedup pipeline samples to decide
    whether its banding dials still fit the corpus.

    Fully hash-gated (no partial oracle): portable-hash signatures are
    bit-replayed by DuckDB (the q_minhash_lsh machinery) and the exact
    side is the q_ngram_jaccard inverted index, so est, exact and
    their |difference| are each single IEEE operations on identical
    integer operands in both engines.  The exact side inherits the
    max_bucket=1000 hot-shingle cap — "exact" means exact over the
    capped index, the same answer q_ngram_jaccard serves.

    Plan shape: candidate pairs from the banded shuffle
    (lsh_candidate_pairs), exact intersections from the shingle
    inverted index (_shingle_overlap — plan-matched cache SHARED with
    q_ngram_jaccard/q_containment_dedup over the same corpus); the
    est-pairs LEFT JOIN exact-inters shuffles on the pair key ON
    PURPOSE (both sides scale with the corpus — broadcasting either
    is the 100 TB bug), while the doc-sized size lookups broadcast
    the tiny pair side (AQE BuildLeft, plan-audited).
    At 100 TB this runs on a SAMPLE of candidate pairs — the
    calibration statistic converges long before the pair set does —
    but sampling is the caller's dial, not baked into the metric."""
    from pulsar_sync_java_spark.operators.dedup import (
        _shingle_overlap,
        shingle_set_sizes,
    )

    d = load_table(spark, sf_dir, "documents")
    sigs = cached(
        minhash_signatures(d, num_hashes=64), "dedup_scale.q_sketch_calibration"
    )
    pairs = lsh_candidate_pairs(sigs, bands=16).select(
        "doc_a",
        "doc_b",
        (F.col("est_jaccard") * 64).cast("long").alias("n_match"),
        "est_jaccard",
    )
    ov = _shingle_overlap(d, "doc_id", "text", 3, 1000, True).select(
        "doc_a", "doc_b", "inter"
    )
    # sizes read the SAME persisted shingle projection the overlap
    # metric just built (size is hash-invariant) — zero extra scans
    sizes = shingle_set_sizes(d)
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    j = (
        pairs.join(ov, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)).cast("long"))
        .withColumn(
            "union_size",
            (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("long"),
        )
    )
    exact = F.col("inter").cast("double") / F.col("union_size")
    return j.select(
        "doc_a",
        "doc_b",
        "n_match",
        "est_jaccard",
        "inter",
        "union_size",
        exact.alias("exact_jaccard"),
        F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
    )


# Portable SimHash oracle: md5-based signed 64-bit token hashes
# (functions/text.py:portable_hash64), per-bit strict-majority votes,
# then ALL-pairs bit_count(xor) <= 3 — exactly the answer the engine's
# pigeonhole chunk index computes without pair enumeration (Hamming <= 3
# guarantees >= 1 of the 4 16-bit chunks equal, so the bucketed join
# finds every qualifying pair).
_SIMHASH_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
), th AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                   THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 8))::BIGINT::HUGEINT * 4294967296
             + ('0x' || substr(md5(t), 9, 8))::BIGINT AS u
    FROM tok
  )
), votes AS (
  SELECT doc_id, b.i,
         SUM((h >> b.i) & 1) AS ones,
         COUNT(*) AS n
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) b
  GROUP BY doc_id, b.i
), fp AS (
  SELECT d.doc_id,
         COALESCE(CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                            THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT),
                  0) AS simhash
  FROM documents d
  LEFT JOIN (
    SELECT doc_id,
           SUM(CASE WHEN ones * 2 > n THEN 1::HUGEINT << i ELSE 0::HUGEINT END) AS u
    FROM votes GROUP BY doc_id
  ) v ON v.doc_id = d.doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# SimHash calibration oracle: the _SIMHASH_SQL fingerprint CTEs
# (portable md5 token hashes, strict-majority votes) feed an audit set
# of near-dup candidates ∪ a deterministic background pair sample,
# scored with the EXACT token-count cosine (integer dot and norms,
# IEEE sqrt/divide — bit-replayable, no partial oracle needed).
_SIMHASH_CAL_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS t
  FROM documents
), th AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                   THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT) AS h
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 8))::BIGINT::HUGEINT * 4294967296
             + ('0x' || substr(md5(t), 9, 8))::BIGINT AS u
    FROM tok
  )
), votes AS (
  SELECT doc_id, b.i,
         SUM((h >> b.i) & 1) AS ones,
         COUNT(*) AS n
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS i) b
  GROUP BY doc_id, b.i
), fp AS (
  SELECT d.doc_id,
         COALESCE(CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                            THEN u - 18446744073709551616::HUGEINT ELSE u END AS BIGINT),
                  0) AS simhash
  FROM documents d
  LEFT JOIN (
    SELECT doc_id,
           SUM(CASE WHEN ones * 2 > n THEN 1::HUGEINT << i ELSE 0::HUGEINT END) AS u
    FROM votes GROUP BY doc_id
  ) v ON v.doc_id = d.doc_id
), near AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
), sa AS (
  SELECT doc_id FROM documents WHERE doc_id % 37 = 5 ORDER BY doc_id LIMIT 25
), sb AS (
  SELECT doc_id FROM documents WHERE doc_id % 41 = 7 ORDER BY doc_id LIMIT 25
), bg AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b
  FROM sa a CROSS JOIN sb b WHERE a.doc_id <> b.doc_id
), pairs AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT * FROM near UNION ALL SELECT * FROM bg
  )
), cnts AS (
  SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY doc_id, t
), norms AS (
  SELECT doc_id, CAST(SUM(c * c) AS BIGINT) AS n2 FROM cnts GROUP BY doc_id
), dots AS (
  SELECT p.doc_a, p.doc_b, CAST(SUM(ca.c * cb.c) AS BIGINT) AS dot
  FROM pairs p
  JOIN cnts ca ON ca.doc_id = p.doc_a
  JOIN cnts cb ON cb.doc_id = p.doc_b AND cb.t = ca.t
  GROUP BY p.doc_a, p.doc_b
)
SELECT p.doc_a, p.doc_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming,
       1.0 - CAST(bit_count(xor(fa.simhash, fb.simhash)) AS DOUBLE) / 64.0
         AS est_agree,
       COALESCE(d.dot, 0) AS dot,
       na.n2 AS na2,
       nb.n2 AS nb2,
       CAST(COALESCE(d.dot, 0) AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2))
         AS exact_cos
FROM pairs p
JOIN fp fa ON fa.doc_id = p.doc_a
JOIN fp fb ON fb.doc_id = p.doc_b
JOIN norms na ON na.doc_id = p.doc_a
JOIN norms nb ON nb.doc_id = p.doc_b
LEFT JOIN dots d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b
"""


@query("q_simhash_calibration", oracle=_SIMHASH_CAL_SQL)
def q_simhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash calibration twin (q_sketch_calibration is MinHash's,
    q_ann_calibration the coded ANN metric's): per candidate pair —
    the pigeonhole near-dups q_simhash serves ∪ a deterministic
    background sample spanning the full distance range — the
    fingerprint hamming and raw bit-agreement beside the EXACT
    token-count cosine (integer dot/norms, IEEE combine).  FULLY
    hash-gated: every emitted value is exactly replayable, so unlike
    the partial-oracle pattern nothing here can rot silently; the
    separation property (near-dups' exact cosine >> background's, and
    a collapsed hash family fails) is pinned in
    tests/test_dedup_ops.py against the operator's fingerprint
    injection hook (operators/dedup.py:simhash_calibration)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_calibration(d)


@query("q_simhash", oracle=_SIMHASH_SQL)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs within Hamming distance 3, found by
    the 16-bit pigeonhole chunk index (no pair enumeration), in
    PORTABLE-hash mode: the oracle rebuilds every fingerprint from
    md5-based token hashes and verifies the pair set against a
    brute-force all-pairs Hamming join."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(simhash64(d), max_hamming=3)


_EMB_NEARDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.95
"""


@query("q_embedding_neardup", oracle=_EMB_NEARDUP_SQL)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates (>= 0.95) via centered, banded
    hyperplane LSH — exact cosine computed only inside band buckets
    (operators/similarity.py:embedding_near_pairs).

    Oracle-checked against the exact all-pairs answer: candidates are
    verified with exact cosine on the original vectors, so the engine
    can never emit a false positive, and the banded-LSH miss
    probability for a >=0.95 pair is (1-p^8)^6 ~ 4% per pair
    (p = 1 - acos(0.95)/pi).  On this corpus the exact answer is empty
    (max all-pairs cosine ~0.60 — synthetic vectors are near-orthogonal)
    so the check pins the no-false-positive side, which is precisely
    the side the sketch can get wrong."""
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_pairs(e, threshold=0.95, num_planes=48, bands=6)


@query(
    "q_ann_lsh_topk",
    oracle="SELECT CAST(0 AS BIGINT) AS query_id, "
    "CAST(10 AS BIGINT) AS n_approx, TRUE AS recall_ok",
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for the vec_id=0 query via hyperplane signatures +
    exact re-rank of the Hamming-ball candidates.

    PARTIAL ORACLE (r7, extending the r6-verdict q_approx_distinct
    pattern): the neighbor set itself is not SQL-replayable (seeded
    hyperplanes), so the query hash-gates what IS checkable — result
    cardinality and an in-plan recall@10 >= 0.9 flag vs the exact
    cosine_topk baseline; the oracle emits the expected literals.
    Radius 9/16 (vs the 8/16 the sf0.1 multi-query test uses) because
    this corpus is worst-case ISOTROPIC and the single vec_id=0 query
    must clear 0.9 at sf0.001/0.01/0.1 alike (measured: 1.0/1.0/1.0 at
    mh=9; 0.8/1.0/1.0 at mh=8) — on clustered real embeddings the same
    recall comes at much smaller radii (see test_dedup_ops.py's
    settings note).  Production dials stay quantified by the
    recall-gate tests; this row pins the machinery end to end."""
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row.embedding]
    approx = lsh_topk(e, qv, k=10, num_planes=16, max_hamming=9)
    exact = cosine_topk(e, qv, k=10)
    hits = approx.join(exact.select("vec_id"), "vec_id", "inner")
    return (
        approx.agg(F.count(F.lit(1)).alias("n_approx"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            F.lit(0).cast("long").alias("query_id"),
            "n_approx",
            (F.col("n_hits") >= F.lit(9)).alias("recall_ok"),
        )
    )


@query(
    "q_ann_ivf_topk",
    oracle="SELECT CAST(0 AS BIGINT) AS query_id, "
    "CAST(10 AS BIGINT) AS n_approx, TRUE AS recall_ok",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for the vec_id=0 query via an IVF coarse quantizer
    (deterministic k-means, nprobe inverted lists, exact re-rank) —
    the partition-pruning scale path next to the hyperplane-LSH one.

    Same partial-oracle shape as q_ann_lsh_topk: cardinality + in-plan
    recall@10 >= 0.9 vs exact, hash-gated; nprobe 14/16 clears the
    gate at every SF on this isotropic corpus (measured 0.9/1.0/1.0;
    nprobe=10 gives 0.8 at sf0.001).  One Lloyd iteration: measured
    identical recall to two at half the job count (the quantizer only
    needs rough cells)."""
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row.embedding]
    approx = ivf_topk(e, qv, k=10, n_centroids=16, nprobe=14, iters=1)
    exact = cosine_topk(e, qv, k=10)
    hits = approx.join(exact.select("vec_id"), "vec_id", "inner")
    return (
        approx.agg(F.count(F.lit(1)).alias("n_approx"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            F.lit(0).cast("long").alias("query_id"),
            "n_approx",
            (F.col("n_hits") >= F.lit(9)).alias("recall_ok"),
        )
    )


@query(
    "q_ann_pq_topk",
    oracle="SELECT CAST(0 AS BIGINT) AS query_id, "
    "CAST(10 AS BIGINT) AS n_approx, TRUE AS recall_ok",
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 for the vec_id=0 query via IVF-PQ (r9 verdict #4):
    coarse cells prune the corpus, 16 x 8-bit product-quantization
    codes rank candidates inside the probed cells by ADC lookup-table
    distance, and exact cosine re-ranks only the top-64 survivors
    (operators/similarity.py: ivf_pq_topk).  vs q_ann_ivf_topk the
    in-cell scan reads M-byte codes instead of d-float vectors — the
    payload cut (~16x at d=64) that completes the 100 TB ANN story.

    Same partial-oracle shape as q_ann_lsh_topk/q_ann_ivf_topk:
    cardinality + in-plan recall@10 >= 0.9 vs exact, hash-gated.
    Dials (nprobe 14/16, m=16 subspaces, rerank=64) measured
    0.9/1.0/1.0 at sf0.001/0.01/0.1 — the sf0.001 0.9 is a CELL-probe
    miss (one true neighbor in the 15th-ranked cell; nprobe=16
    recovers 1.0 at rerank=64), not an ADC failure, and is
    deterministic (seeded quantizers), so the gate is stable.  m=16
    over m=8 because this corpus is worst-case isotropic: residuals
    after coarse quantization are near-full-norm, so finer subspaces
    carry the ranking (m=8 needed rerank=256 for the same recall)."""
    e = load_table(spark, sf_dir, "embeddings")
    row = e.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in row.embedding]
    approx = cached(
        ivf_pq_topk(
            e, qv, k=10, n_centroids=16, nprobe=14, m=16, k_sub=256,
            rerank=64, iters=1,
        ),
        "dedup_scale.q_ann_pq_topk",
    )
    exact = cosine_topk(e, qv, k=10)
    hits = approx.join(exact.select("vec_id"), "vec_id", "inner")
    return (
        approx.agg(F.count(F.lit(1)).alias("n_approx"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
        .select(
            F.lit(0).cast("long").alias("query_id"),
            "n_approx",
            (F.col("n_hits") >= F.lit(9)).alias("recall_ok"),
        )
    )


_ANN_CAL_QIDS = [0, 101, 202]

_ANN_CAL_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN ({", ".join(str(i) for i in _ANN_CAL_QIDS)})
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) AS i
), pairs AS (
  SELECT q.query_id, e.vec_id,
         CAST(e.embedding[d.i] AS DOUBLE) AS x,
         CAST(q.qv[d.i] AS DOUBLE) AS y
  FROM embeddings e, q, dims d
  WHERE d.i <= len(e.embedding)
), scored AS (
  SELECT query_id, vec_id,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS nx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS ny
  FROM pairs GROUP BY query_id, vec_id
), ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC,
                                     vec_id ASC) AS rk
  FROM scored
)
SELECT query_id,
       CAST(MAX(CASE WHEN rk = 1 THEN vec_id END) AS BIGINT) AS exact_top1,
       CAST(SUM(vec_id) AS BIGINT) AS exact_id_sum,
       TRUE AS recall_lsh_ok, TRUE AS recall_ivf_ok, TRUE AS recall_pq_ok,
       TRUE AS rank_corr_ok, TRUE AS adc_err_ok
FROM ranked WHERE rk <= 10 GROUP BY query_id
"""


@query("q_ann_calibration", oracle=_ANN_CAL_SQL)
def q_ann_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN twin of q_sketch_calibration (r10 verdict #3): a
    per-query monitoring table over a 3-probe batch — recall@10 of the
    LSH, IVF and IVF-PQ paths (each at its production dials) against
    the exact top-10, plus Spearman rank correlation and max absolute
    distance error of the PQ coded metric over the exact-top-k ∪
    background audit set (operators/similarity.py:ann_calibration has
    the full metric definitions and the measured healthy/garbage
    margins).

    PARTIAL ORACLE (the q_hll_intersect pattern): the EXACT side —
    top-1 id and top-10 id-sum per probe, decimal-exact cosine — is
    hash-gated against a full DuckDB replay; the approx side is
    bounded flags the oracle emits as literals.  This is the r10
    lesson institutionalized: an in-plan recall flag computed from the
    same model it judges can rot silently, so the anchor is the exact
    answer, and a mis-trained codebook is pinned to FAIL the gate by
    tests/test_dedup_ops.py.  Flag bounds (recall >= 8/10, rho >=
    0.5, err <= 0.6) sit well outside measured healthy variation
    (worst 8/10, 0.87, 0.41 across sf0.001/0.01/0.1 x 3 probes) and
    well inside mis-trained failure."""
    e = load_table(spark, sf_dir, "embeddings")
    return ann_calibration(e, _ANN_CAL_QIDS)


_MULTIMODAL_SQL = """
SELECT doc_id,
       'image' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
       CAST((octet_length(encode(text)) * 31) % 480 + 1 AS INT) AS height,
       CAST(octet_length(encode(text)) % 16 AS INT) AS n_frames,
       md5(text) AS checksum
FROM documents
"""


_FRAME_SAMPLE_SQL = """
WITH feats AS (
  SELECT doc_id,
         md5(text) AS checksum,
         CAST(octet_length(encode(text)) % 16 AS INT) AS n_frames
  FROM documents
)
SELECT doc_id, checksum, CAST(u.i AS INT) AS frame_idx
FROM feats, LATERAL unnest(generate_series(0, n_frames - 1, 4)) AS u(i)
WHERE n_frames > 0
"""


@query("q_frame_sample", oracle=_FRAME_SAMPLE_SQL)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: every-4th-frame row explosion
    over the decoded (stubbed) frame count — the row-amplification
    shape of a real video pipeline, fully oracle-checked because the
    fake decode is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_payload(d, media_type="video")
    return frame_sample(media, every_nth=4)


_IMAGE_RESIZE_SQL = """
WITH dims AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS w,
         CAST((octet_length(encode(text)) * 31) % 480 + 1 AS INT) AS h
  FROM documents
)
SELECT doc_id,
       w AS orig_width, h AS orig_height,
       CAST(CASE WHEN w <= 224 AND h <= 224 THEN w
                 WHEN w * 224 >= h * 224 THEN 224
                 ELSE GREATEST(1, w * 224 // h) END AS INT) AS width,
       CAST(CASE WHEN w <= 224 AND h <= 224 THEN h
                 WHEN w * 224 >= h * 224 THEN GREATEST(1, h * 224 // w)
                 ELSE 224 END AS INT) AS height
FROM dims
"""


@query("q_image_resize", oracle=_IMAGE_RESIZE_SQL)
def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: mapInPandas fit-to-224-box with
    integer-exact geometry (operators/multimodal.py:resize_images); the
    pixel resample is the stubbed codec, the geometry and Arrow batch
    shape are real and fully oracle-checked.  The binary payload is
    projected away here (the oracle compares metadata; the payload
    contract is covered in tests/test_dedup_ops.py)."""
    d = load_table(spark, sf_dir, "documents")
    resized = resize_images(attach_payload(d), 224, 224)
    return resized.select(
        "doc_id", "orig_width", "orig_height", "width", "height"
    )


_AUDIO_WINDOW_SQL = """
WITH durs AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) // 8 AS BIGINT) AS duration_ms
  FROM documents
  WHERE octet_length(encode(text)) // 8 > 0
)
SELECT doc_id, duration_ms,
       CAST(u.i // 10 AS INT) AS window_idx,
       CAST(u.i AS BIGINT) AS start_ms
FROM durs, LATERAL unnest(generate_series(0, duration_ms - 1, 10)) AS u(i)
"""


@query("q_audio_window", oracle=_AUDIO_WINDOW_SQL)
def q_audio_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio windowing plumbing: payloads pseudo-decode to 16 kHz PCM
    (integer-exact stub), then explode into fixed 10 ms windows — the
    audio twin of q_frame_sample, one row per window, zero shuffle
    (operators/multimodal.py:audio_windows)."""
    d = load_table(spark, sf_dir, "documents")
    media = attach_payload(d, media_type="audio")
    return audio_windows(media, window_ms=10)


@query("q_multimodal_meta", oracle=_MULTIMODAL_SQL)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload column ->
    mapInPandas (Arrow batches) -> typed feature rows.  The decode stub
    derives metadata deterministically from payload bytes, so the whole
    Python path is oracle-checkable — the codec swap-in point is
    operators/multimodal.py:decode_image."""
    d = load_table(spark, sf_dir, "documents")
    return extract_media_features(attach_payload(d))


# Incremental (batch-vs-corpus) dedup oracle: the same portable
# signature chain as _MINHASH_SQL, but candidates come from the
# ASYMMETRIC join of new-batch slices (doc_id % 10 = 7) against corpus
# slices, with the skew guard counted over CORPUS bucket members only —
# mirroring operators/dedup.py:lsh_pairs_against_corpus.
_INCR_DEDUP_SQL = _MINHASH_CTES + """
, ok_buckets AS (
  SELECT band, slice FROM slices WHERE doc_id % 10 <> 7
  GROUP BY band, slice HAVING COUNT(*) <= 1000
), cand AS (
  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS dup_of
  FROM slices x
  JOIN ok_buckets ob ON x.band = ob.band AND x.slice = ob.slice
  JOIN slices y ON x.band = y.band AND x.slice = y.slice
  WHERE x.doc_id % 10 = 7 AND y.doc_id % 10 <> 7
)
SELECT c.new_id, c.dup_of,
       SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END)::DOUBLE / 64 AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.new_id
JOIN sig sb ON sb.doc_id = c.dup_of AND sb.i = sa.i
GROUP BY c.new_id, c.dup_of
HAVING SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END)::DOUBLE / 64 >= 0.5
"""


@query("q_incremental_dedup", oracle=_INCR_DEDUP_SQL)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: docs with doc_id % 10 == 7 play the
    incoming crawl delta, the rest the standing corpus; each new doc is
    matched to the corpus docs it near-duplicates (portable MinHash
    bands, est Jaccard >= 0.5) WITHOUT ever re-pairing the corpus with
    itself (operators/dedup.py:lsh_pairs_against_corpus).  At 100 TB
    this is the nightly-delta path: corpus cost is one bucket
    aggregation (or a pre-materialized index), delta cost is
    delta-sized and broadcastable."""
    d = load_table(spark, sf_dir, "documents")
    sigs = cached(
        minhash_signatures(d, num_hashes=64), "dedup_scale.q_incremental_dedup"
    )
    batch = sigs.filter(F.col("doc_id") % 10 == 7)
    corpus = sigs.filter(F.col("doc_id") % 10 != 7)
    return lsh_pairs_against_corpus(batch, corpus).filter(
        F.col("est_jaccard") >= 0.5
    )


# ------------------------------------------------------ span-level dedup

# Detection CTE chain shared by BOTH span oracles (the _MINHASH_CTES /
# _KMEANS_CTES discipline): the scrub oracle must scrub exactly the
# spans the detector detects, so the chain exists once.
_SPAN_DETECT_CTES = """toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), pos AS (
  SELECT doc_id, d.i AS p,
         t[d.i] || ' ' || t[d.i+1] || ' ' || t[d.i+2] || ' ' || t[d.i+3] AS g
  FROM toks,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS i) d
  WHERE len(t) >= 4
), dfreq AS (
  SELECT g, COUNT(DISTINCT doc_id) AS nd FROM pos GROUP BY g
  HAVING COUNT(DISTINCT doc_id) >= 2
), marked AS (
  SELECT pos.doc_id, pos.p, dfreq.nd FROM pos JOIN dfreq USING (g)
), isl AS (
  SELECT doc_id, p, nd,
         p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS isl_id
  FROM marked
)"""

_SPAN_DEDUP_SQL = (
    "WITH " + _SPAN_DETECT_CTES + """
SELECT doc_id,
       CAST(MIN(p) AS BIGINT) AS span_start,
       CAST(MAX(p) - MIN(p) + 4 AS BIGINT) AS span_len,
       CAST(MIN(nd) AS BIGINT) AS n_docs
FROM isl GROUP BY doc_id, isl_id
"""
)


@query("q_span_dedup", oracle=_SPAN_DEDUP_SQL)
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level (repeated-span) dedup, the Lee et al. 2022
    cross-document dup-passage detector: every maximal token span whose
    4-gram windows ALL occur in >= 2 distinct documents, one row per
    (doc, span) with its 1-based start, token length, and the minimum
    window document-frequency (operators/dedup.py:repeated_spans — see
    its docstring for the suffix-array -> window-equivalence argument
    and the two-pass skew-proof plan shape)."""
    d = load_table(spark, sf_dir, "documents")
    return repeated_spans(d, n=4, min_df=2)


_SPAN_SCRUB_SQL = (
    "WITH " + _SPAN_DETECT_CTES + """, spans AS (
  SELECT doc_id, MIN(p) AS s, MAX(p) - MIN(p) + 4 AS l
  FROM isl GROUP BY doc_id, isl_id
  HAVING MAX(p) - MIN(p) + 4 >= 6
), cov AS (
  SELECT doc_id, list_sort(list_distinct(flatten(
           list(generate_series(s, s + l - 1))))) AS cps
  FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS BIGINT) AS n_tokens,
       CAST(len(COALESCE(c.cps, [])) AS BIGINT) AS n_removed,
       COALESCE(array_to_string(
         list_where(t.t,
           list_transform(generate_series(1, len(t.t)),
                          i -> NOT list_contains(COALESCE(c.cps, []), i))),
         ' '), '') AS scrubbed_text
FROM toks t LEFT JOIN cov c USING (doc_id)
"""
)


@query("q_span_scrub", oracle=_SPAN_SCRUB_SQL)
def q_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of span-level dedup: every document rewritten
    with its substantial repeated spans (>= 6 tokens, from the same
    4-gram/df>=2 detector as q_span_dedup) scrubbed — one row per doc
    with original/removed token counts and the scrubbed text a
    tokenizer would consume (operators/dedup.py:scrub_repeated_spans;
    see its docstring for the both-copies policy and the
    never-re-explode-the-corpus plan shape)."""
    d = load_table(spark, sf_dir, "documents")
    return scrub_repeated_spans(d, n=4, min_df=2, min_span=6)


# ---------------------------------------------------- sketch mergeability

_MINHASH_MERGE_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i
), sh AS (
  SELECT DISTINCT lang, t[d.i] || ' ' || t[d.i+1] || ' ' || t[d.i+2] AS shingle
  FROM toks, dims d WHERE d.i <= len(t) - 2
), hs AS (
  SELECT lang, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh
), fam AS (
  SELECT CAST(i AS BIGINT) AS i, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b
  FROM (VALUES {_FAM64}) t(i, a, b)
)
SELECT lang, CAST(f.i AS INT) AS i,
       MIN((f.a * h + f.b) % 2147483647) AS s
FROM hs CROSS JOIN fam f
GROUP BY lang, f.i
"""


@query("q_minhash_merge", oracle=_MINHASH_MERGE_SQL)
def q_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY as an identity-oracle query (the
    rollup_incremental pattern applied to MinHash): the engine computes
    each language's corpus-level signature by elementwise-MIN MERGING
    the per-document signatures; the oracle computes the signature of
    the language's shingle-set UNION directly.  Hash-green means
    min(minhash(A), minhash(B)) == minhash(A ∪ B) bit-for-bit — the
    algebraic law that lets 100 TB of per-partition (or per-day)
    signature partials collapse to corpus signatures through ordinary
    mergeable aggregation, without ever reshuffling documents.

    Plan: per-doc signatures are the standard zero-shuffle Arrow kernel
    (operators/dedup.py:minhash_signatures, portable mode); the merge
    is one posexplode + (lang, i) MIN aggregate — group count is
    languages x 64, so the shuffle carries signature entries, never
    shingles."""
    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=64).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    return (
        sigs.select("lang", F.posexplode("signature").alias("i", "s"))
        .groupBy("lang", "i")
        .agg(F.min("s").alias("s"))
    )


# ------------------------------------------- perceptual-hash near-dup


def _phash_bit_terms_sql() -> str:
    """Two's-complement assembly of the 64 dHash gradient bits from the
    1-based 72-cell brightness list `b` (bit 63 contributes the sign
    value directly — BIGINT cannot hold +2^63)."""
    terms = []
    for r in range(8):
        for c in range(8):
            k = r * 8 + c
            cond = f"b[{r * 9 + c + 1}] < b[{r * 9 + c + 2}]"
            val = -9223372036854775808 if k == 63 else (1 << k)
            terms.append(f"CASE WHEN {cond} THEN {val} ELSE 0 END")
    return "\n           + ".join(terms)


_PHASH_MAX_HAMMING = 3  # pigeonhole-complete for the 4x16-bit chunk index

_PHASH_SQL = f"""
WITH codes AS (
  SELECT doc_id, length(text) AS n,
         list_transform(range(1, length(text) + 1),
                        i -> ord(substr(text, i, 1))) AS cs
  FROM documents
), bright AS (
  SELECT doc_id,
         list_transform(range(72), j ->
           coalesce(list_aggregate(cs[(j * n) // 72 + 1 : ((j + 1) * n) // 72],
                                   'sum'), 0)) AS b
  FROM codes
), ph AS (
  SELECT doc_id, {_phash_bit_terms_sql()} AS phash
  FROM bright
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PHASH_MAX_HAMMING}
"""


@query("q_phash_neardup", oracle=_PHASH_SQL)
def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (r8 verdict #4) — the multimodal
    family's first actual DEDUP DECISION: payloads (the opaque binary
    column the ingest schema carries) are fingerprinted with a
    64-bit dHash over the deterministic stub decode
    (operators/multimodal.py:phash64 — an Arrow mapInPandas kernel,
    the sanctioned codec slow path), and near-duplicate pairs come
    from the SAME pigeonhole Hamming index SimHash uses
    (operators/dedup.py:simhash_near_pairs): 4x16-bit chunk buckets —
    complete for Hamming <= 3 — then the exact bit_count(xor) verify.

    No all-pairs anywhere (plan-asserted): candidates are generated by
    the chunk-bucket inverted index, exactly like a 100 TB image-dedup
    run where the quadratic product is impossible; the ORACLE is the
    naive all-pairs formulation DuckDB can afford at oracle scale, so
    a hash-green row proves the bucketed index finds EXACTLY the naive
    pair set.  The fingerprint rides as one BIGINT (8 bytes/row in
    every shuffle), and swapping the stub for a real decoder changes
    only the grid construction inside the kernel.

    Oracle-parity precondition: the SQL twin reads per-CHARACTER codes
    while the kernel reads BYTES — identical only because the
    synthetic corpus is pure ASCII (verified at every sf).  With a
    real decoder this concern disappears entirely (both sides would
    hash pixels, not text)."""
    d = load_table(spark, sf_dir, "documents")
    ph = phash64(attach_payload(d)).select(
        "doc_id", F.col("phash").alias("simhash")
    )
    # hash the kernel's output over the pairing's tasks; the count is
    # explicit (REPARTITION_BY_NUM) so that AQE does not coalesce the
    # exchange
    pairs = simhash_near_pairs(
        ph.repartition(_spread_count(ph), "doc_id"),
        max_hamming=_PHASH_MAX_HAMMING,
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )
