"""Near-duplicate detection operators for 100 TB corpora.

Four families, cheapest-first — the standard training-data pipeline
stack (each is a `queries()` entry; see queries/pipeline.py and
queries/dedup_scale.py):

1. exact        — hash-groupBy on content digest (q_dedup_exact);
2. n-gram Jaccard — exact set overlap via a shingle inverted index
                    (no n² pair enumeration; hot shingles capped);
3. MinHash + LSH — signature sketch + banded bucketing: candidate pairs
                    are generated only within buckets, estimated
                    similarity from signature agreement;
4. SimHash      — 64-bit weighted-majority fingerprint; near-dups are
                    small Hamming distances, bucketed by 16-bit chunks
                    (pigeonhole: distance <=3 -> one of 4 chunks equal).

Scale discipline shared by all: candidate generation is inverted-index
shaped (explode -> shuffle by token/band/chunk -> within-bucket join),
never a cross join; buckets above `max_bucket` are dropped exactly like
stop-shingles in web dedup (a bucket with b docs adds b² pairs; a stop
token's bucket adds nothing but noise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.functions.text import (
    positional_shingles_from_tokens,
    shingles_from_tokens,
    tokens,
)
from pulsar_sync_java_spark.operators.util import (
    _spread_count,
    cached,
    pair_structs,
    spread,
)


def _shingle_width(df: DataFrame) -> int:
    """Partition width for the shared shingle-array projection and its
    feeding exchange — BETWEEN the size heuristic and full parallelism
    (r14, superseding the r10 full-width pin).  The projection feeds
    ~10 downstream stages per calibration query, each scheduling
    `width` tasks, so full cluster width over-schedules: measured at
    sf0.1/local[32], the shingle quartet summed 6.4-7.0s at width 8 vs
    7.5-11.2s at 32 and 8.1-9.0s at 16, interleaved A/B; the r10
    4-task cliff (3.4s n-gram) is avoided by the 2x-size-scaled floor.
    With 8 task slots or fewer this equals `defaultParallelism`."""
    sc = df.sparkSession.sparkContext
    return min(
        sc.defaultParallelism,
        max(2 * _spread_count(df), max(sc.defaultParallelism // 4, 2)),
    )


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exploded distinct (id, xxhash64(shingle)) rows — the
    inverted-index input.

    Tokens are materialized in their own projection before the n-gram
    transform touches them (see shingles_from_tokens: lambdas get no
    subexpression sharing, so inlining the split is 20x slower).

    Shingles are emitted as xxhash64 longs, not strings: the consumers
    only count/join/group on shingle identity (df counts, contamination
    probes), so the downstream shuffle or broadcast carries 8-byte keys
    instead of ~(5·n)-byte strings.  Same collision argument as
    `jaccard_pairs(hash_shingles=True)`."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    sh = F.transform(shingles_from_tokens(F.col("__toks"), n), lambda s: F.xxhash64(s))
    return toks.select(F.col(id_col), F.explode(sh).alias("shingle"))


def _shingle_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    hash_shingles: bool,
) -> DataFrame:
    """The ONE cached (id, __sh shingle-array) projection every
    shingle consumer builds — byte-identical logical plan => ONE
    plan-matched cache entry shared across _shingle_overlap's two
    branches, both overlap metrics, `shingle_set_sizes`, and every
    other query over the same corpus (q_dedup_cluster reuses it).
    With `hash_shingles` the xxhash64 runs INSIDE the cached
    projection so the cache already holds longs: explode, shuffle, and
    collect_list downstream never touch a shingle string again."""
    ds = spread(df, width=_shingle_width(df))
    toks = ds.select(F.col(id_col), tokens(text_col).alias("__toks"))
    sh_arr = shingles_from_tokens(F.col("__toks"), n)
    if hash_shingles:
        sh_arr = F.transform(sh_arr, lambda s: F.xxhash64(s))
    return cached(
        toks.select(F.col(id_col), sh_arr.alias("__sh")), "dedup.shingle_arrays"
    )


def shingle_set_sizes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, set_size) — distinct-shingle set sizes per document, read
    from the SAME persisted projection the overlap metrics use (size
    is invariant under the per-element hash), so a consumer that also
    runs an overlap metric pays ZERO extra corpus scans for sizes
    (the q_sketch_calibration review finding: its private unhashed
    sizes branch re-tokenized the whole corpus)."""
    arr = _shingle_arrays(df, id_col, text_col, n, hash_shingles=True)
    return arr.select(F.col(id_col), F.size("__sh").alias("set_size"))


def _shingle_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_bucket: int,
    hash_shingles: bool,
) -> DataFrame:
    """Shared inverted-index pipeline behind the exact-overlap metrics
    (jaccard_pairs / containment_pairs): per-pair intersection counts
    joined with both set sizes — columns (doc_a, doc_b, inter, size_a,
    size_b).  ONE place owns the bucket-cap semantics, the hashed-key
    mode, and the persist point, so the metrics cannot diverge; and
    because both build the IDENTICAL logical plan up to here, Spark's
    plan-matched cache shares one persisted shingle projection between
    them."""
    arr = _shingle_arrays(df, id_col, text_col, n, hash_shingles)
    sizes = arr.select(F.col(id_col), F.size("__sh").alias("set_size"))
    sh = arr.select(F.col(id_col), F.explode("__sh").alias("shingle"))
    buckets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    inter = (
        buckets.select(F.explode(pair_structs(F.col("__ids"))).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("set_size").alias("size_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    hash_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Inverted index: explode shingles -> one groupBy(shingle) collecting
    the doc ids per shingle (buckets over `max_bucket` dropped whole:
    stop-shingles have quadratic cost and no discriminative value) ->
    in-bucket pair explosion (util.pair_structs) -> per-pair
    intersection counts -> Jaccard = inter / (|A| + |B| - inter).

    Cost is sum over shingles of bucket², bounded by max_bucket — never
    n² over documents.

    `hash_shingles` (default on) replaces each shingle string with its
    xxhash64 inside the persisted projection — Broder's original
    shingling discipline: the inverted-index shuffle then carries 8-byte
    keys instead of ~(5·n)-byte strings, cutting the dominant exchange's
    payload several-fold at corpus scale (and ~15% wall locally even at
    sf0.1, where fixed stage overhead dominates).  Jaccard stays exact
    up to 64-bit collisions *within one document's shingle set or one
    compared pair's union* — ≤ (pair-union size)²/2⁶⁵ per pair, ~1e-11
    at 10⁴-shingle documents — far below any realistic tolerance (raw
    strings remain available for an exactness proof: hash_shingles=False
    is plan-identical upstream of the projection).

    Plan-shape rules this encodes (measured, see operators/util.spread):
    - the shingle arrays are computed in ONE parallel projection and
      materialized through an exchange before anything consumes them:
      explode(<computed array>) and size(<computed array>) both make
      the optimizer inline the array expression into their operator and
      re-evaluate it (for explode, once per OUTPUT row — ~10x); after
      the exchange both consumers read a plain column (each branch
      recomputes the pruned projection — AQE does not share these
      exchanges, see lsh_candidate_pairs — but neither re-evaluates it
      per OUTPUT row);
    - candidate generation is ONE shuffle (the groupBy) — the census +
      per-shingle self-join formulation spent four shuffle barriers on
      the same pair set (see util.pair_structs);
    - set sizes join onto the (small, pruned) pair set at the end, not
      onto the exploded rows — AQE turns both into broadcasts.
    """
    return _shingle_overlap(
        df, id_col, text_col, n, max_bucket, hash_shingles
    ).select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter"))
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: containment = |A∩B| / min(|A|,|B|)
    — the near-superset detector Jaccard structurally misses (a page
    embedded whole inside a 10x-longer page has Jaccard ~0.1 but
    containment ~1.0; the standard companion metric in web dedup, cf.
    Broder's resemblance/containment pair).

    Same inverted-index shape and cost bound as `jaccard_pairs` (ONE
    candidate shuffle, buckets over `max_bucket` dropped whole, sizes
    joined onto the pruned pair set, 8-byte hashed shingle keys); only
    the final scoring expression differs, so everything said there about
    the 100 TB plan applies verbatim — and the persisted shingle-array
    projection is plan-matched SHARED with jaccard_pairs over the same
    corpus (one cache entry serves both metrics)."""
    return _shingle_overlap(
        df, id_col, text_col, n, max_bucket, hash_shingles=True
    ).select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / F.least(F.col("size_a"), F.col("size_b"))
        ).alias("containment"),
    ).filter(F.col("containment") >= threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 3,
) -> DataFrame:
    """MinHash sketch: signature[i] = min over shingles of hash_i(shingle).

    Entirely per-row, ZERO shuffle.  Tokenize -> shingle runs as one
    codegen'd JVM projection; the md5 base hash and the num_hashes x
    shingles min-hash matrix then run as an Arrow-vectorized numpy
    kernel (operators/vectorized.py) — that inner loop is 10^6-10^8
    multiply-adds per batch, which Spark's higher-order functions would
    evaluate interpreted (CodegenFallback) at ~100x the cost; measured
    3.2s -> ~0.3s at sf0.1.  The explode + num_hashes-column groupBy
    formulation both replace would shuffle every shingle row (~9x
    slower again).  E[signature agreement] = Jaccard similarity
    (Broder).

    Documents with fewer than n tokens (no shingles) are dropped HERE,
    by a cheap pushdown-friendly predicate — emitting nullable
    signatures instead would force every downstream isNotNull filter to
    re-evaluate this whole expression below the projection (measured
    60x: the duplicated expression also kicks the stage out of
    whole-stage codegen).

    The family is md5-based 32-bit base hashes under the affine
    mod-(2^31-1) family — bit-replayable by a DuckDB oracle (the
    value-hash gate), so every caller, oracle-gated or not, shares one
    signature space.  The md5 runs inside the Arrow kernel
    (hashlib's C digest), because as a column expression inside
    `transform` it evaluates interpreted (CodegenFallback) — measured
    ~10x slower.
    """
    from pulsar_sync_java_spark.operators.vectorized import (
        portable_minhash_signature_udf,
    )

    base = spread(df.filter(F.size(tokens(text_col)) >= n))
    toks = base.select(F.col(id_col), tokens(text_col).alias("__toks"))
    sh = toks.select(
        F.col(id_col), shingles_from_tokens(F.col("__toks"), n).alias("__sh")
    )
    sig = portable_minhash_signature_udf(num_hashes)(F.col("__sh"))
    return sh.select(F.col(id_col), sig.alias("signature"))


def _banded(sig: DataFrame, id_col: str, bands: int, num_hashes: int) -> DataFrame:
    """(id, band, bucket) rows for banded LSH — shared by the symmetric
    (corpus self-join) and asymmetric (batch-vs-corpus) pair builders.

    Generator first, hash after: explode the band indexes, then slice-
    hash in a separate projection within the same stage.  (Building
    struct(band, hash(slice)) inside a `transform` lambda and exploding
    that hit an interpreted-evaluation path ~50x slower; the explode
    output never crosses a shuffle with the signature attached, so
    there is no payload amplification either way.)"""
    rows_per_band = max(num_hashes // bands, 1)
    return sig.select(
        id_col,
        "signature",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).select(
        id_col,
        "band",
        F.xxhash64(
            F.slice(
                F.col("signature"), F.col("band") * rows_per_band + 1, rows_per_band
            )
        ).alias("bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    num_hashes: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """Banded LSH over MinHash signatures: split each signature into
    `bands` slices, bucket by (band index, slice hash), emit pairs
    sharing a bucket, with estimated Jaccard = fraction of agreeing
    signature positions.

    Two docs with Jaccard s collide in >=1 band with probability
    1-(1-s^r)^b (r = rows/band) — the classic S-curve; band count tunes
    the threshold.  Buckets above max_bucket are dropped (skew guard).
    `num_hashes` must match the signature width (a parameter, not a
    data probe: sniffing it with .first() would cost an extra job).

    Signatures must be non-null (minhash_signatures guarantees this by
    dropping shingle-less docs).  No exchange is added here: the
    signatures arrive already spread (minhash_signatures' barrier, or a
    cache of it), and that exchange keeps the kernel parallel and
    un-inlined.  The signature projection feeds the banded subtree
    plus both signature lookups; measured under AQE the
    three branches do NOT share one exchange (no ReusedExchange /
    stage-cache hit materializes), so the kernel runs once per branch.
    That is the deliberate trade: recomputing a linear per-row kernel
    in the two (column-pruned) lookup branches is cheaper at scale than
    amplifying the 64-long signature band-fold through the candidate
    shuffle.  A caller doing REPEATED lsh queries over one corpus
    should cache `signatures` first (`operators/util.py:cached`, a
    declared key) — measured 1.7x on warm runs.

    Shuffle discipline: the banded table carries ONLY (band, bucket,
    id) — exploding the full `num_hashes`-wide signature `bands` times
    would amplify the shuffle payload ~bands·num_hashes-fold.
    Candidate pairs come from ONE groupBy per (band, bucket) bucket
    (util.pair_structs; oversized buckets dropped whole — skew guard),
    then signatures are joined back by id on the deduplicated pairs
    only — a tiny set, so AQE broadcasts it against the signature
    exchange.
    """
    banded = _banded(signatures, id_col, bands, num_hashes)

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket))
    )
    cand = (
        buckets.select(F.explode(pair_structs(F.col("__ids"))).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = signatures.select(
        F.col(id_col).alias("doc_a"), F.col("signature").alias("sig_a")
    )
    sb = signatures.select(
        F.col(id_col).alias("doc_b"), F.col("signature").alias("sig_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree.cast("double") / F.size("sig_a")).alias("est_jaccard"),
        )
    )


def lsh_pairs_against_corpus(
    batch_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    num_hashes: int = 64,
    max_bucket: int = 1000,
) -> DataFrame:
    """ASYMMETRIC banded LSH: which existing corpus doc does each NEW
    doc near-duplicate?  Returns (new_id, dup_of, est_jaccard) — the
    incremental-ingestion path of a training pipeline, where a crawl
    delta is deduplicated AGAINST the standing corpus without ever
    re-pairing the corpus with itself.

    Cost shape vs the symmetric `lsh_candidate_pairs`: the corpus side
    is grouped once per (band, bucket) — same one-aggregation discipline
    and the same max_bucket skew guard (oversized buckets dropped
    whole, counted over CORPUS members only) — and the batch side's
    banded table is typically delta-sized, so AQE broadcasts it against
    the corpus bucket aggregate: the corpus is never self-joined and
    never shuffled beyond its bucket aggregation.  Pair count is
    bounded by Σ |batch∩bucket|·|corpus∩bucket|, never |batch|·|corpus|.
    For a STANDING corpus re-probed across many deltas, materialize the
    corpus bucket table once instead of re-aggregating per run.  Both
    signature inputs arrive spread (as in `lsh_candidate_pairs`), so no
    exchange is added here.
    """
    cbuckets = (
        _banded(corpus_sigs, id_col, bands, num_hashes)
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(id_col)).alias("__ids"))
        .filter(F.size("__ids") <= max_bucket)
    )
    bbanded = _banded(batch_sigs, id_col, bands, num_hashes).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    cand = (
        bbanded.join(cbuckets, ["band", "bucket"])
        .select("new_id", F.explode("__ids").alias("dup_of"))
        .filter(F.col("new_id") != F.col("dup_of"))
        .dropDuplicates(["new_id", "dup_of"])
    )
    sa = batch_sigs.select(
        F.col(id_col).alias("new_id"), F.col("signature").alias("sig_a")
    )
    sb = corpus_sigs.select(
        F.col(id_col).alias("dup_of"), F.col("signature").alias("sig_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        cand.join(sa, "new_id")
        .join(sb, "dup_of")
        .select(
            "new_id",
            "dup_of",
            (agree.cast("double") / F.size("sig_a")).alias("est_jaccard"),
        )
    )


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """64-bit SimHash: per token hash, each bit votes +1/-1; the
    fingerprint takes the majority sign per bit.  Near-duplicates have
    small Hamming distance (Charikar).

    Entirely per-row, ZERO shuffle: tokenize once (codegen JVM
    projection), then hash the tokens and take the 64 per-bit majority
    votes in one Arrow-vectorized numpy kernel
    (operators/vectorized.py).  Replaces both the explode + 64-column
    groupBy formulation (a full shuffle of every token row) and a
    64-term bitwiseOR reduce over higher-order filters (seconds of
    Janino compile, interpreted evaluation).  Empty docs -> fingerprint
    0.

    Tokens hash with the md5-based 64-bit base hash
    (= functions/text.py:portable_hash64, computed inside the Arrow
    kernel to dodge CodegenFallback), making the whole fingerprint
    bit-replayable by a DuckDB oracle.
    """
    from pulsar_sync_java_spark.operators.vectorized import (
        portable_simhash64_udf,
    )

    toks_df = spread(df).select(F.col(id_col), tokens(text_col).alias("__toks"))
    return toks_df.select(
        F.col(id_col), portable_simhash64_udf()(F.col("__toks")).alias("simhash")
    )


def simhash_near_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Hamming-ball pairing via the pigeonhole chunk trick: split the
    64-bit fingerprint into 4 x 16-bit chunks; any pair within Hamming
    distance 3 agrees on at least one chunk, so bucketing by
    (chunk index, chunk value) finds all such pairs with an
    inverted-index groupBy, then the exact bit_count(xor) filter
    verifies.

    Unlike the MinHash path, the fingerprint is ONE long — carrying it
    inside the bucket (collect_list of (id, simhash) structs) costs 8
    bytes/row over the ids-only shuffle and saves the entire join-back
    stage: the whole operator is a single shuffle plus the pair dedup.
    No exchange is added here: `simhash64` output arrives spread, and a
    caller with another fingerprint source repartitions it first
    (q_phash_neardup).
    """
    chunk = lambda i: F.shiftright(F.col("simhash"), i * 16).bitwiseAND(  # noqa: E731
        F.lit(0xFFFF)
    )
    chunked = sims.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("ci"), chunk(i).alias("cv")) for i in range(4)])
        ).alias("c"),
    ).select(id_col, "simhash", "c.ci", "c.cv")
    buckets = chunked.groupBy("ci", "cv").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash")))
        ).alias("__e")
    ).filter(F.size("__e") >= 2)
    return (
        buckets.select(F.explode(pair_structs(F.col("__e"))).alias("p"))
        .select(
            F.col("p.a.id").alias("doc_a"),
            F.col("p.b.id").alias("doc_b"),
            F.bit_count(
                F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    sample_k: int = 25,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Per-pair SimHash quality monitoring — the SimHash member of the
    calibration-twin family (q_sketch_calibration for MinHash,
    q_ann_calibration for the coded ANN metric): Charikar fingerprints
    estimate ANGLE between token-count vectors, so a healthy family
    must show bit-agreement tracking the exact cosine, and a
    degenerate one (every token hashing alike — the r10 failure class)
    collapses hamming to 0 while the exact cosine stays put.

    Audit set = near-dup candidates (the pigeonhole pairs within
    `max_hamming`, i.e. exactly what q_simhash serves) ∪ a
    deterministic BACKGROUND pair sample (the `sample_k` smallest ids
    ≡ 5 mod 37 crossed with ≡ 7 mod 41 — the q_ann_calibration
    background device), so the table spans the full distance range:
    near-ties alone cannot distinguish a broken family from ordering
    noise.

    Emits per pair, ALL exactly replayable (fully hash-gateable — no
    partial oracle): the fingerprint `hamming`, `est_agree` = 1 -
    hamming/64 (an exact binary fraction — the raw bit-agreement the
    Charikar estimate cos(pi*(1-agree)) is a monotone function of;
    the transcendental map itself is left out of the hashed row
    because libm cos is not correctly rounded), and the exact
    token-count cosine as integers `dot`/`na2`/`nb2` plus the IEEE
    `exact_cos` they determine.

    `fingerprints` injects an external signature table — the
    mis-trained-model hook (tests pin that a collapsed family FAILS
    the separation gate).

    Scale: the background side is sample_k^2 pairs by construction and
    the near-dup side is the capped pigeonhole candidate set, so the
    pair frame is broadcast-sized; the token-count join fans each pair
    out by ONE document's token vocabulary (pairs x ~tokens/doc rows),
    never corpus x corpus.  One tokenize pass feeds counts and norms.

    A long-lived caller that materializes the result at once frees the
    two cached frames with `release("dedup.simhash_calibration")`, as
    calibration_report does."""
    sims = cached(
        fingerprints
        if fingerprints is not None
        else simhash64(df, id_col, text_col),
        "dedup.simhash_calibration.fingerprints",
    )
    near = simhash_near_pairs(sims, id_col, max_hamming).select(
        "doc_a", "doc_b"
    )
    sa = (
        df.filter((F.col(id_col) % 37) == 5)
        .select(F.col(id_col).alias("doc_a"))
        .orderBy("doc_a")
        .limit(sample_k)
    )
    sb = (
        df.filter((F.col(id_col) % 41) == 7)
        .select(F.col(id_col).alias("doc_b"))
        .orderBy("doc_b")
        .limit(sample_k)
    )
    bg = (
        sa.crossJoin(sb)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
    )
    pairs = near.unionByName(bg).dropDuplicates(["doc_a", "doc_b"])

    cnts = cached(
        spread(df)
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__c")),
        "dedup.simhash_calibration.token_counts",
    )
    norms = cnts.groupBy(id_col).agg(
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__n2")
    )
    p = F.broadcast(pairs)
    dots = (
        cnts.select(
            F.col(id_col).alias("doc_a"), "__t", F.col("__c").alias("__ca")
        )
        .join(p, "doc_a")
        .join(
            cnts.select(
                F.col(id_col).alias("doc_b"),
                "__t",
                F.col("__c").alias("__cb"),
            ),
            ["doc_b", "__t"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).cast("long").alias("dot"))
    )
    fa = sims.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("__fa"))
    fb = sims.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("__fb"))
    na = norms.select(F.col(id_col).alias("doc_a"), F.col("__n2").alias("na2"))
    nb = norms.select(F.col(id_col).alias("doc_b"), F.col("__n2").alias("nb2"))
    ham = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
    return (
        pairs.join(fa, "doc_a")
        .join(fb, "doc_b")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        # dots is pair-count rows (the aggregate of the broadcast pair
        # fan-out) — broadcast it or Spark sort-merges two pair-scale
        # frames
        .join(F.broadcast(dots), ["doc_a", "doc_b"], "left")
        .withColumn("dot", F.coalesce(F.col("dot"), F.lit(0)).cast("long"))
        .select(
            "doc_a",
            "doc_b",
            ham.cast("int").alias("hamming"),
            (F.lit(1.0) - ham.cast("double") / F.lit(64.0)).alias(
                "est_agree"
            ),
            "dot",
            "na2",
            "nb2",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2")))
            ).alias("exact_cos"),
        )
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    min_df: int = 2,
) -> DataFrame:
    """Exact substring-level (span) dedup detection, the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape:
    find, for every document, the maximal token spans that also occur in
    other documents — the cross-document repeated passages a document-
    level near-dup pass (MinHash/SimHash) cannot see because the hosting
    documents are otherwise different.

    Window formulation (the distributable equivalent of the paper's
    suffix array): a span of length >= n repeats across docs iff every
    one of its n-token windows does, so
      1. explode positional n-grams (position, gram) per doc;
      2. inverted index: per-gram distinct-doc frequency (df);
      3. mark positions whose gram has df >= min_df;
      4. merge consecutive marked positions per doc into maximal
         islands (gaps-and-islands: pos - row_number is constant within
         a run); a run [s, e] covers tokens [s, e + n - 1].

    Emits one row per maximal span: (id_col, span_start [1-based token
    index], span_len [tokens], n_docs) where n_docs is the MINIMUM
    window df across the run — the number of documents guaranteed to
    contain every window of the span (the span itself may be shared by
    fewer docs than any single window; min-df is the conservative
    bound, and exactly what the drop decision needs).

    Scale shape: the corpus shuffles by gram twice (the distinct
    (gram, doc) projection for df — hot grams SPREAD across partitions
    because the first exchange keys on the pair — then the mark join),
    and only the MARKED subset reshuffles by doc for the island merge.
    No per-gram occurrence list is ever collected (a natural-language
    hot 4-gram has millions of occurrences; collect_list would OOM the
    executor — the two-pass join is the skew-proof form), and no
    suffix structure is built (the paper's single-node suffix array is
    replaced by the window equivalence above).

    Reference analogue: none (the reference replicates payloads
    verbatim); this extends the LLM-pipeline dedup family of SURVEY.md
    §2.2 per the round-7 verdict (next-round task #3).
    """
    toks = spread(df, full=True).select(
        F.col(id_col), tokens(text_col).alias("__toks")
    )
    pos = toks.select(
        F.col(id_col),
        F.posexplode(positional_shingles_from_tokens(F.col("__toks"), n)).alias(
            "__p0", "__g"
        ),
    ).select(
        F.col(id_col),
        # 1-based token position (matches SQL array indexing, so the
        # oracle needs no off-by-one shim)
        (F.col("__p0") + 1).alias("__p"),
        # 8-byte shuffle keys; collisions over a corpus-sized gram set
        # are ~n²/2^64 (the collision argument of shingle_rows)
        F.xxhash64("__g").alias("__gh"),
    )
    dfreq = (
        pos.select("__gh", id_col)
        .distinct()
        .groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_df)
    )
    marked = pos.join(dfreq, "__gh").select(id_col, "__p", "__nd")
    w = Window.partitionBy(id_col).orderBy("__p")
    isl = marked.withColumn("__isl", F.col("__p") - F.row_number().over(w))
    return isl.groupBy(id_col, "__isl").agg(
        F.min("__p").cast("long").alias("span_start"),
        (F.max("__p") - F.min("__p") + n).cast("long").alias("span_len"),
        F.min("__nd").alias("n_docs"),
    ).select(id_col, "span_start", "span_len", "n_docs")


def scrub_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    min_df: int = 2,
    min_span: int = 6,
) -> DataFrame:
    """The REMOVAL half of Lee et al. 2022 span dedup (`repeated_spans`
    is the detection half): rewrite every document with the tokens of
    its substantial repeated spans (length >= `min_span`) dropped,
    emitting (id_col, n_tokens, n_removed, scrubbed_text) for every
    document — the rows a tokenizer consumes after dup-passage
    removal.

    Policy: covered tokens are removed from EVERY hosting document
    (the conservative both-copies variant; the paper's keep-one-copy
    policy is a keeper choice layered on top, exactly what
    q_dedup_keepers does for whole documents).  `min_span` > the gram
    size keeps incidental single-window matches — noise on a small
    vocabulary — out of the scrub, the scaled-down analogue of the
    paper's 50-token threshold.

    Scale shape: the corpus is NEVER re-exploded for the scrub — the
    span table (already aggregate-sized) flattens into one covered-
    positions array per affected doc, equi-joins back on the doc key
    (broadcast at test scale, plain hash join at 100 TB), and the
    rewrite is a zero-shuffle positional `filter` lambda over the
    materialized token array.  Docs with no spans pass through with
    n_removed = 0.
    """
    spans = repeated_spans(df, id_col, text_col, n, min_df).filter(
        F.col("span_len") >= min_span
    )
    cov = spans.groupBy(id_col).agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(
                    F.sequence(
                        F.col("span_start"),
                        F.col("span_start") + F.col("span_len") - 1,
                    )
                )
            )
        ).alias("__cov")
    )
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    j = toks.join(cov, id_col, "left").select(
        F.col(id_col),
        "__toks",
        F.coalesce(F.col("__cov"), F.array().cast("array<long>")).alias("__cov"),
    )
    kept = F.filter(
        "__toks",
        lambda x, i: ~F.array_contains(F.col("__cov"), (i + 1).cast("long")),
    )
    return j.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size("__cov").cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("scrubbed_text"),
    )


def minhash_banding_audit(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket: int = 1000,
) -> dict:
    """The MinHash/banding estimate-vs-exact audit as ONE reusable
    kernel returning its counters (r11 verdict #3/#6): exact near-dup
    pairs from the shingle inverted index (exact_jaccard >=
    `threshold` — the q_sketch_calibration ground truth) full-outer
    joined with the banded LSH candidates, folded to one row:

    - ``n_exact`` / ``n_missed`` / ``band_miss_rate``: how many true
      near-dup pairs the banding surfaced vs missed — the S-curve
      dial-fitness signal (a corpus whose pair similarities drifted
      toward the knee gets missed at a rate a healthy corpus never
      shows);
    - ``n_cand`` / ``mean_abs_err`` / ``max_abs_err``: |est - exact|
      over the banded candidates (exact = 0 for band collisions) —
      the sketch-fidelity signal.

    `operators/calibration.py:calibration_report` reports these
    columns as its MinHash arm.  ONE
    Spark action; input should be pre-bounded by the caller (a batch,
    or a deterministic corpus sample) — the pair frame is then
    Σ bucket²-bounded by `max_bucket`, never n²."""
    # the ESTIMATE must sketch the same n-grams the exact side counts
    # (review catch: a non-default shingle_n with a default-n sketch
    # would compare two different similarity measures and report
    # phantom misses on a healthy corpus)
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, n=shingle_n,
    )
    cand = lsh_candidate_pairs(
        sigs, id_col=id_col, bands=bands, num_hashes=num_hashes,
        max_bucket=max_bucket,
    ).select("doc_a", "doc_b", "est_jaccard")
    exact = _shingle_overlap(
        df, id_col, text_col, shingle_n, max_bucket, True
    ).select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter"))
        ).alias("exact_jaccard"),
    )
    joined = cand.join(exact, ["doc_a", "doc_b"], "full_outer")
    is_exact = F.col("exact_jaccard") >= threshold
    is_cand = F.col("est_jaccard").isNotNull()
    err = F.abs(
        F.col("est_jaccard") - F.coalesce("exact_jaccard", F.lit(0.0))
    )
    row = joined.agg(
        F.sum(F.when(is_exact, 1).otherwise(0)).cast("long").alias("n_exact"),
        F.sum(F.when(is_exact & ~is_cand, 1).otherwise(0))
        .cast("long")
        .alias("n_missed"),
        F.sum(F.when(is_cand, 1).otherwise(0)).cast("long").alias("n_cand"),
        F.avg(F.when(is_cand, err)).alias("mean_abs_err"),
        F.max(F.when(is_cand, err)).alias("max_abs_err"),
    ).collect()[0]
    n_exact = int(row["n_exact"] or 0)
    return {
        "n_exact": n_exact,
        "n_missed": int(row["n_missed"] or 0),
        "n_cand": int(row["n_cand"] or 0),
        "band_miss_rate": (
            int(row["n_missed"] or 0) / n_exact if n_exact else 0.0
        ),
        "mean_abs_err": float(row["mean_abs_err"] or 0.0),
        "max_abs_err": float(row["max_abs_err"] or 0.0),
    }
