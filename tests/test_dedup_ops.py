"""Property tests for the sketch-based dedup/similarity operators —
their queries are rows-only in the oracle gate, so correctness is
asserted here against exact ground truth (SURVEY.md §5 spirit:
observable convergence, not implementation details).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash64,
    simhash_near_pairs,
)
from pulsar_sync_java_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    extract_media_features,
    frame_sample,
)
from pulsar_sync_java_spark.operators.similarity import (
    cosine_topk,
    embedding_near_pairs,
    ivf_topk,
    lsh_topk,
)
from pulsar_sync_java_spark.sources.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def documents(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def embeddings(spark):
    return load_table(spark, SF_DIR, "embeddings")


@pytest.fixture(scope="module")
def exact_pairs(spark, documents):
    """Exact Jaccard >= 0.5 ground truth (itself oracle-checked in
    test_oracle.py as q_ngram_jaccard)."""
    return {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(documents, threshold=0.5).collect()
    }


def test_testdata_contains_planted_near_dups(exact_pairs):
    # sanity: the corpus actually exercises the operators
    assert len(exact_pairs) > 0


def test_lsh_max_bucket_drops_oversized_buckets_whole(spark):
    """The skew guard the oracles must mirror: a band bucket with more
    members than max_bucket contributes NO pairs (dropped whole, like a
    stop shingle), while small buckets still pair."""
    rows = [(i, "the same exact duplicated text again and again") for i in range(30)]
    rows += [(100, "completely different words here entirely"),
             (101, "completely different words here entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, num_hashes=64)
    capped = lsh_candidate_pairs(sigs, bands=16, max_bucket=10).filter(
        F.col("est_jaccard") >= 0.5
    )
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    # the 30-clone bucket (> 10) is dropped whole; the pair bucket stays
    assert got == {(100, 101)}
    uncapped = lsh_candidate_pairs(sigs, bands=16, max_bucket=1000).filter(
        F.col("est_jaccard") >= 0.5
    )
    assert uncapped.count() == 30 * 29 // 2 + 1


def test_minhash_lsh_recalls_near_dups(spark, documents, exact_pairs):
    """LSH with 16 bands / 4 rows has collision prob 1-(1-s^4)^16 —
    > 0.999 at s=0.7; planted near-dups (s >= 0.7) must all surface,
    and signature agreement must estimate Jaccard within 0.25."""
    sigs = minhash_signatures(documents, num_hashes=64)
    cand = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in lsh_candidate_pairs(sigs, bands=16).collect()
    }
    strong = {p: j for p, j in exact_pairs.items() if j >= 0.7}
    assert strong, "expected strong near-dup pairs in testdata"
    missed = set(strong) - set(cand)
    assert not missed, f"LSH missed strong pairs: {missed}"
    for p, j in strong.items():
        assert abs(cand[p] - j) <= 0.25, (p, cand[p], j)


def test_minhash_estimates_unbiased_on_exact_dups(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, num_hashes=32)
    [pair] = lsh_candidate_pairs(sigs, bands=8).collect()
    assert pair.est_jaccard == 1.0


def test_simhash_finds_exact_and_near_dups(spark, documents, exact_pairs):
    """Identical docs have identical simhash (distance 0); the chunk
    index must surface them without pair enumeration."""
    dup = documents.limit(1).select(F.lit(10_000_000).alias("doc_id"), "text")
    with_dup = documents.select("doc_id", "text").unionByName(dup)
    sims = simhash64(with_dup)
    pairs = simhash_near_pairs(sims, max_hamming=3).collect()
    first_id = documents.limit(1).collect()[0].doc_id
    assert any(
        {r.doc_a, r.doc_b} == {first_id, 10_000_000} and r.hamming == 0 for r in pairs
    )


def test_lsh_topk_recall_vs_exact(spark, embeddings):
    row = embeddings.filter(F.col("vec_id") == 0).first()
    qv = [float(x) for x in row.embedding]
    exact = [r.vec_id for r in cosine_topk(embeddings, qv, k=10).collect()]
    approx = [r.vec_id for r in lsh_topk(embeddings, qv, k=10, num_planes=16, max_hamming=6).collect()]
    # the query vector itself is always in its own bucket
    assert 0 in approx
    recall = len(set(exact) & set(approx)) / 10
    # soft floor ON PURPOSE: this fixture is tiny (sf0.001, ~100 vecs)
    # where LSH recall is high-variance; the hard quality gate is the
    # recall@10 >= 0.9 assertion at sf0.1 further down this file
    assert recall >= 0.5, f"recall {recall}: exact={exact} approx={approx}"


def test_ivf_topk_recall_vs_exact(spark, embeddings):
    row = embeddings.filter(F.col("vec_id") == 0).first()
    qv = [float(x) for x in row.embedding]
    exact = [r.vec_id for r in cosine_topk(embeddings, qv, k=10).collect()]
    approx = [r.vec_id for r in ivf_topk(embeddings, qv, k=10, n_centroids=16, nprobe=4).collect()]
    # the query's own list is always probed, so vec 0 must appear
    assert 0 in approx
    recall = len(set(exact) & set(approx)) / 10
    # soft floor ON PURPOSE — see the LSH twin above; the hard gate is
    # the sf0.1 recall@10 >= 0.9 test below
    assert recall >= 0.5, f"recall {recall}: exact={exact} approx={approx}"


def test_ann_empty_input_raises_clear_errors(spark):
    """An empty corpus must fail loudly (ValueError naming the call),
    not with a TypeError from a None .first() subscript."""
    from pulsar_sync_java_spark.operators.similarity import kmeans_centroids

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="kmeans_centroids"):
        kmeans_centroids(empty)


@pytest.mark.slow
def test_ann_recall_at_10_meets_gate_sf01(spark):
    """Quantified quality bar for the two rows-only ANN queries: mean
    recall@10 vs exact cosine_topk over 8 queries at sf0.1 must be
    >= 0.9 on both paths (LSH and IVF).

    Settings note: this corpus is ISOTROPIC (synthetic near-orthogonal
    vectors; true neighbors sit at cos ~0.6 where a plane disagrees
    with prob acos(0.6)/pi ~ 0.30, i.e. expected Hamming ~4.7/16), so
    recall 0.9 needs radius 8/16 and nprobe 10/16 — measured: mh=8 ->
    avg 0.92, nprobe=10 -> avg 0.90; one step lower misses the gate.
    On clustered real-world embeddings the same recall comes at much
    smaller radii; the dials are the contract, this test pins what
    they buy on the worst-case (structureless) corpus."""
    from pulsar_sync_java_spark.operators.similarity import (
        assign_clusters,
        kmeans_centroids,
        knn_join,
    )
    from pulsar_sync_java_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.1", "embeddings").persist()
    try:
        qdf = e.filter(F.col("vec_id") < 8)
        queries = {
            r.vec_id: [float(x) for x in r.embedding] for r in qdf.collect()
        }
        # exact ground truth for all 8 queries in ONE job
        exact: dict[int, set[int]] = {}
        for r in knn_join(e, qdf, k=10).collect():
            exact.setdefault(r.query_id, set()).add(r.neighbor_id)

        def avg_recall(topk_fn) -> float:
            recs = []
            for qid, qv in queries.items():
                got = {r.vec_id for r in topk_fn(qv).collect()}
                recs.append(len(exact[qid] & got) / 10)
            return sum(recs) / len(recs)

        # --- LSH, runtime path
        r_lsh = avg_recall(
            lambda qv: lsh_topk(e, qv, k=10, num_planes=16, max_hamming=8)
        )
        assert r_lsh >= 0.9, f"lsh_topk recall@10 {r_lsh}"

        # --- IVF, runtime path (quantizer trained once, not per query)
        cents = kmeans_centroids(e, k=16, iters=1)
        assigned = assign_clusters(e, "embedding", cents).persist()
        try:

            def ivf_probe(qv):
                order = sorted(
                    range(len(cents)),
                    key=lambda i: sum(
                        (a - b) ** 2 for a, b in zip(qv, cents[i])
                    ),
                )
                cand = assigned.filter(
                    F.col("__cluster").isin(order[:10])
                ).drop("__cluster")
                return cosine_topk(cand, qv, k=10)

            r_ivf = avg_recall(ivf_probe)
        finally:
            assigned.unpersist()
        assert r_ivf >= 0.9, f"ivf recall@10 {r_ivf}"
    finally:
        e.unpersist()


def test_embedding_neardup_finds_planted_dup(spark, embeddings):
    """An exact copy of vec_id=0 shares every band bucket with it, so
    banded hyperplane LSH must surface the pair with cos_sim == 1."""
    dup = embeddings.filter(F.col("vec_id") == 0).select(
        F.lit(9_999_999).alias("vec_id"), "embedding"
    )
    with_dup = embeddings.select("vec_id", "embedding").unionByName(dup)
    pairs = embedding_near_pairs(with_dup, threshold=0.95).collect()
    assert any(
        {r.id_a, r.id_b} == {0, 9_999_999} and r.cos_sim >= 0.999999 for r in pairs
    )


def test_salted_join_equivalence(spark):
    """salted_join must return exactly what the plain join returns —
    including duplicate multiplicity and left-outer nulls — on data
    with one pathologically hot key."""
    from pulsar_sync_java_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(k, 0) for k in range(2, 30)],
        "k long, payload long",
    )
    right = spark.createDataFrame(
        [(1, "hot"), (2, "a"), (3, "b"), (99, "unmatched")], "k long, v string"
    )
    for how in ("inner", "left"):
        want = sorted(map(tuple, left.join(right, "k", how).collect()))
        for hot in (None, 50):
            got = sorted(
                map(
                    tuple,
                    salted_join(
                        left, right, "k", 8, how, hot_threshold=hot
                    ).collect(),
                )
            )
            assert got == want, (how, hot)


def test_portable_hash_columns_match_kernel_definition(spark):
    """The Column forms of the portable hashes (functions/text.py) must
    agree with the in-kernel hashlib definition the sketch UDFs and the
    SQL oracles use — one definition, three implementations, one test
    tying them together."""
    import hashlib

    from pyspark.sql import functions as F

    from pulsar_sync_java_spark.functions.text import (
        portable_hash32,
        portable_hash64,
    )

    words = ["hello", "wörld", "foo bar", "", "日本語", "a.b\tc"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    rows = {
        r["w"]: (r["h32"], r["h64"])
        for r in df.select(
            "w",
            portable_hash32(F.col("w")).alias("h32"),
            portable_hash64(F.col("w")).alias("h64"),
        ).collect()
    }
    for w in words:
        d = hashlib.md5(w.encode("utf-8")).digest()
        want32 = int.from_bytes(d[:4], "big")
        want64 = int.from_bytes(d[:8], "big", signed=False)
        if want64 >= 1 << 63:  # signed 64-bit wrap, as the kernels view it
            want64 -= 1 << 64
        assert rows[w] == (want32, want64), w


_FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
# committed real image bytes (r9 verdict #8): generated deterministically
# by stdlib-only writers and validated byte-exactly with independent
# pure-Python decoders (PNG: chunk CRCs + zlib inflate + per-pixel
# compare; GIF: standard variable-width LZW decode), so the expected
# dimensions below are properties of the BYTES, not of any library
_PNG_17x9 = os.path.join(_FIXTURES, "gradient_17x9.png")
_GIF_8x5x2 = os.path.join(_FIXTURES, "blink_8x5x2.gif")


def test_multimodal_codec_seam_both_environments():
    """The fake=False seam asserts in EVERY environment — no skip:
    without an imaging library it must raise the documented
    NotImplementedError; with Pillow it must decode the committed PNG
    fixture's real header."""
    with open(_PNG_17x9, "rb") as f:
        png = f.read()
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            decode_image(png)
        return
    meta = decode_image(png)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (17, 9, 1)
    assert meta["n_bytes"] == len(png)


def test_multimodal_real_decode_with_pillow():
    """Runs only where Pillow exists: the fake=False path must decode
    the committed fixtures through the same seam the fake path
    exercises — including the multi-frame branch (n_frames from the
    2-frame GIF)."""
    pytest.importorskip("PIL")
    with open(_PNG_17x9, "rb") as f:
        png = f.read()
    meta = decode_image(png)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (17, 9, 1)
    assert meta["n_bytes"] == len(png)
    with open(_GIF_8x5x2, "rb") as f:
        gif = f.read()
    meta = decode_image(gif)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (8, 5, 2)


def test_multimodal_feature_plumbing(spark, documents):
    media = attach_payload(documents.limit(20))
    feats = extract_media_features(media, fake_decode=True).collect()
    assert len(feats) == 20
    docs = {r.doc_id: r for r in documents.limit(20).collect()}
    for r in feats:
        n = len(docs[r.doc_id].text.encode("utf-8"))
        assert r.n_bytes == n and r.width == n % 640 + 1
        assert len(r.checksum) == 32


def test_frame_sample_shape(spark, documents):
    media = attach_payload(documents.limit(50), media_type="video")
    frames = frame_sample(media, every_nth=4)
    rows = frames.collect()
    assert all(r.frame_idx % 4 == 0 for r in rows)
    feats = {r.doc_id: r.n_frames for r in extract_media_features(media).collect()}
    for r in rows:
        assert r.frame_idx < feats[r.doc_id]


def test_resize_geometry_and_payload(spark, documents):
    from pulsar_sync_java_spark.operators.multimodal import resize_images

    media = attach_payload(documents.limit(50))
    rows = resize_images(media, 224, 224).collect()
    assert len(rows) == 50
    texts = {r.doc_id: r.text.encode("utf-8") for r in documents.limit(50).collect()}
    for r in rows:
        # never upscaled, fits the box, aspect ratio floor-preserved
        assert 1 <= r.width <= min(r.orig_width, 224)
        assert 1 <= r.height <= min(r.orig_height, 224)
        if r.orig_width <= 224 and r.orig_height <= 224:
            assert (r.width, r.height) == (r.orig_width, r.orig_height)
        # stub payload = byte truncation to the new pixel count
        assert bytes(r.payload) == texts[r.doc_id][: r.width * r.height]


def test_audio_windows_shape(spark, documents):
    from pulsar_sync_java_spark.operators.multimodal import audio_windows

    media = attach_payload(documents.limit(50), media_type="audio")
    rows = audio_windows(media, window_ms=250).collect()
    texts = {r.doc_id: len(r.text.encode("utf-8")) for r in documents.limit(50).collect()}
    by_doc = {}
    for r in rows:
        assert r.duration_ms == texts[r.doc_id] // 8
        assert r.start_ms == r.window_idx * 250
        assert r.start_ms < r.duration_ms
        by_doc.setdefault(r.doc_id, []).append(r.window_idx)
    for doc_id, idxs in by_doc.items():
        # complete cover: ceil(duration / 250) windows, contiguous from 0
        want = (texts[doc_id] // 8 + 249) // 250
        assert sorted(idxs) == list(range(want))


def test_fit_box_properties():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pulsar_sync_java_spark.operators.multimodal import fit_box

    @settings(max_examples=300, deadline=None)
    @given(
        w=st.integers(1, 10_000), h=st.integers(1, 10_000),
        tw=st.integers(1, 4_096), th=st.integers(1, 4_096),
    )
    def check(w, h, tw, th):
        nw, nh = fit_box(w, h, tw, th)
        assert 1 <= nw <= max(min(w, tw), 1)
        assert 1 <= nh <= max(min(h, th), 1)
        if w <= tw and h <= th:
            assert (nw, nh) == (w, h)  # never upscale, never touch a fit
        else:
            # the binding side (by cross-multiplication, the same
            # tie-break the geometry defines) is pinned to the box; the
            # other side is the floor rescale of it.  Discriminating by
            # `nw == tw` instead would misfire when BOTH output dims
            # coincidentally equal the targets (e.g. (1,2) into (1,1)).
            assert nw == tw or nh == th
            if w * th >= h * tw:  # width-bound
                assert nw == tw and nh == max(1, h * tw // w)
            else:  # height-bound
                assert nh == th and nw == max(1, w * th // h)
        assert fit_box(nw, nh, tw, th) == (nw, nh)  # idempotent

    check()


def test_knn_join_prereduce_equivalence(spark, embeddings):
    """The partition-local pandas top-k must not change the result —
    same rows, same ranks, bit-identical scores as the window-only
    formulation."""
    from pulsar_sync_java_spark.operators.similarity import knn_join

    qs = embeddings.filter("vec_id < 4")
    a = sorted(
        map(tuple, knn_join(embeddings, qs, k=3, prereduce=True).collect())
    )
    b = sorted(
        map(tuple, knn_join(embeddings, qs, k=3, prereduce=False).collect())
    )
    assert a == b and len(a) == 4 * 3


def test_hashed_shingle_index_matches_raw_strings(spark, documents):
    """The 64-bit shingle hashing (Broder discipline) must be a pure
    payload optimization: pair set AND exact Jaccard values identical
    to the raw-string index on real data (collisions would perturb
    intersection counts — odds ~1e-11, but the equality is cheap to
    assert outright at test scale)."""
    hashed = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(documents, threshold=0.3).collect()
    }
    raw = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(
            documents, threshold=0.3, hash_shingles=False
        ).collect()
    }
    assert hashed == raw


def test_containment_catches_planted_superset(spark):
    """The defining case: a short doc embedded whole inside a 10x-longer
    doc has containment ~1.0 but Jaccard far below any dedup threshold
    — containment_pairs must flag it, jaccard_pairs must not, and
    containment >= jaccard holds for every pair both emit."""
    from pulsar_sync_java_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    short = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(10))
    filler = " ".join(f"noise{i} word{i} tail{i}" for i in range(100))
    rows = [
        (1, short),
        (2, filler + " " + short),  # superset: short embedded whole
        (3, " ".join(f"other{i} stuff{i}" for i in range(40))),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(d, threshold=0.8).collect()
    }
    jacc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(d, threshold=0.5).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] > 0.9
    assert (1, 2) not in jacc  # Jaccard structurally misses it

    # containment >= jaccard on the full unthresholded pair set
    cont_all = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(d, threshold=0.0).collect()
    }
    jacc_all = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(d, threshold=0.0).collect()
    }
    assert set(jacc_all) == set(cont_all)
    assert all(cont_all[p] >= jacc_all[p] - 1e-12 for p in jacc_all)


def test_incremental_lsh_matches_symmetric_pairs_restricted(spark, documents):
    """Asymmetric batch-vs-corpus LSH must find exactly the symmetric
    candidate pairs that straddle the split (same bands, same skew
    guard), with identical estimates — i.e. incremental ingestion loses
    nothing vs re-running the full pairwise pass."""
    from pulsar_sync_java_spark.operators.dedup import lsh_pairs_against_corpus

    sigs = minhash_signatures(documents, num_hashes=64).persist()
    try:
        batch = sigs.filter(F.col("doc_id") % 10 == 7)
        corpus = sigs.filter(F.col("doc_id") % 10 != 7)
        asym = {
            (r["new_id"], r["dup_of"], round(r["est_jaccard"], 6))
            for r in lsh_pairs_against_corpus(batch, corpus)
            .filter(F.col("est_jaccard") >= 0.5)
            .collect()
        }
        sym = lsh_candidate_pairs(sigs, bands=16).filter(
            F.col("est_jaccard") >= 0.5
        )
        want = set()
        for r in sym.collect():
            a, b, e = r["doc_a"], r["doc_b"], round(r["est_jaccard"], 6)
            if a % 10 == 7 and b % 10 != 7:
                want.add((a, b, e))
            elif b % 10 == 7 and a % 10 != 7:
                want.add((b, a, e))
        assert asym == want
        assert want, "split produced no straddling pairs — test is vacuous"
    finally:
        sigs.unpersist()


@pytest.mark.slow
def test_fuzzy_pairs_match_bruteforce_levenshtein(spark):
    """Deletion-neighborhood blocking must find exactly the brute-force
    distance<=1 pairs — including insert/delete pairs (length differs),
    not just substitutions."""
    from pulsar_sync_java_spark.operators.fuzzy import fuzzy_pairs

    names = [
        (1, "alpha"), (2, "alpah"), (3, "alpha"), (4, "alphas"),
        (5, "alph"), (6, "beta"), (7, "betta"), (8, "bita"),
        (9, "gamma"), (10, "gamm"), (11, "delta"), (12, "dleta"),
    ]
    df = spark.createDataFrame(names, "id long, name string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs(df, "id", "name").collect()
    }
    a, b = df.alias("a"), df.alias("b")
    want = {
        (r[0], r[1], r[2])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id"), F.col("b.id"),
            F.levenshtein("a.name", "b.name").alias("d"),
        )
        .filter(F.col("d") <= 1)
        .collect()
    }
    assert got == want and want
    # non-trivial coverage: at least one pair with differing lengths
    by_id = dict(names)
    assert any(len(by_id[x]) != len(by_id[y]) for x, y, _ in want)


@pytest.mark.slow
def test_fuzzy_pairs_k2_match_bruteforce_levenshtein(spark):
    """Depth-2 deletion neighborhoods (FastSS) must find exactly the
    brute-force distance<=2 pairs — substitution pairs, indel pairs,
    mixed pairs, and transpositions (which levenshtein counts as 2)."""
    from pulsar_sync_java_spark.operators.fuzzy import fuzzy_pairs

    names = [
        (1, "alphabet"), (2, "alpahbet"), (3, "alphabets"), (4, "alphbet"),
        (5, "alphabeta"), (6, "elephant"), (7, "elepant"), (8, "relevant"),
        (9, "gamma"), (10, "gamut"), (11, "delta"), (12, "delat"),
        (13, "dleta"), (14, "stream"), (15, "steam"), (16, "dream"),
    ]
    df = spark.createDataFrame(names, "id long, name string")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in fuzzy_pairs(df, "id", "name", max_distance=2).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    want = {
        (r[0], r[1], r[2])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id"), F.col("b.id"),
            F.levenshtein("a.name", "b.name").alias("d"),
        )
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert got == want and want
    # non-trivial coverage: distance-2 pairs of each flavor are present
    assert any(d == 2 for _, _, d in want)
    by_id = dict(names)
    assert any(
        d == 2 and len(by_id[x]) != len(by_id[y]) for x, y, d in want
    )  # mixed indel+sub


def test_fuzzy_variant_expressions_match_python_reference(spark):
    """The SQL-expression deletion neighborhoods (nested substring
    arithmetic over ORIGINAL-string indexes) must produce exactly the
    set a plain Python implementation produces — for random strings,
    including repeats, unicode, and short/empty-ish lengths."""
    import random

    from pulsar_sync_java_spark.operators.fuzzy import _variants, _variants_k2

    rng = random.Random(42)
    alphabet = "abcdeé#7 "
    words = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(200)
    ]

    def py_d1(s):
        return {s} | {s[:i] + s[i + 1 :] for i in range(len(s))}

    def py_d2(s):
        return py_d1(s) | {
            s[:i] + s[i + 1 : j] + s[j + 1 :]
            for i in range(len(s))
            for j in range(i + 1, len(s))
        }

    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = df.select(
        "w",
        _variants(F.col("w")).alias("v1"),
        _variants_k2(F.col("w")).alias("v2"),
    ).collect()
    for r in got:
        assert set(r["v1"]) == py_d1(r["w"]), r["w"]
        assert set(r["v2"]) == py_d2(r["w"]), r["w"]


def test_fuzzy_pairs_overflow_modes(spark):
    """A variant bucket larger than max_bucket must be dropped whole in
    'drop' mode and raise at execution time in 'error' mode (the loud
    guard q_fuzzy_join relies on — its quadratic oracle cannot mirror
    the drop)."""
    from pulsar_sync_java_spark.operators.fuzzy import fuzzy_pairs

    # 4 identical strings share every variant: bucket size 4 > 3
    df = spark.createDataFrame(
        [(i, "same") for i in range(1, 5)], "id long, name string"
    )
    assert fuzzy_pairs(df, "id", "name", max_bucket=3).count() == 0
    with pytest.raises(Exception, match="max_bucket"):
        fuzzy_pairs(df, "id", "name", max_bucket=3, on_overflow="error").count()
    # under the cap both modes agree
    assert (
        fuzzy_pairs(df, "id", "name", max_bucket=10, on_overflow="error").count()
        == 6
    )


def test_kmeans_minibatch_properties(spark):
    """r6 verdict #2: the sampled-update variant must (a) be the
    EXACT full-pass algorithm at sample_pct=100, (b) still assign
    every vector (the final pass is always full-corpus), (c) be
    deterministic at any parallelism (the sample is a portable hash,
    not a random split), and (d) land near the full-pass clustering
    (agreement is data-deterministic at a fixed SF — measured 0.65
    here; the floor guards against a broken sample wiring, which
    scores ~1/K ≈ 0.125)."""
    from pulsar_sync_java_spark.queries.clustering import kmeans_assignments

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    full = {r.vec_id: r.cluster for r in kmeans_assignments(e, 100).collect()}
    mb = {r.vec_id: r.cluster for r in kmeans_assignments(e, 50).collect()}

    assert set(mb) == set(full)  # (b) every vector assigned
    assert all(0 <= c < 8 for c in mb.values())
    agreement = sum(full[k] == mb[k] for k in full) / len(full)
    assert agreement >= 0.5, agreement  # (d)

    # (c) repartition invariance — different partial-agg order can
    # flip neither the sampled updates nor the final argmin
    mb13 = {
        r.vec_id: r.cluster
        for r in kmeans_assignments(e.repartition(13), 50).collect()
    }
    assert mb13 == mb


def test_kmeans_assignment_invariant_under_repartition(spark):
    """The determinism claim behind q_kmeans_assign's oracle gate
    (queries/clustering.py): because every distance is an exact
    decimal sum and the argmin never crosses a lossy cast, the final
    assignment must be IDENTICAL at any parallelism — repartitioning
    the embedding table (different partial-agg order) cannot flip a
    single cluster."""
    from pulsar_sync_java_spark.queries.clustering import (
        _K,
        _ITERS,
        _assign,
        _update,
    )

    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")

    def run(df):
        cent = df.filter(F.col("vec_id") < _K).select(
            F.col("vec_id").cast("int").alias("cluster"),
            F.transform("embedding", lambda x: x.cast("double")).alias("carr"),
        )
        for _ in range(_ITERS):
            cent = _update(df, _assign(df, cent))
        return sorted(
            (r.vec_id, r.cluster) for r in _assign(df, cent).collect()
        )

    base = run(e)
    shuffled = run(e.repartition(13))
    assert base == shuffled and len(base) > 0


# ------------------------------------------------------ repeated spans


def test_repeated_spans_island_semantics(spark):
    """Hand-checkable corpus: docs A and B share the 6-token run
    'w x y z u v' (three overlapping 4-gram windows -> ONE maximal
    span of length 6 in each doc), doc C shares nothing.  Verifies the
    gaps-and-islands merge, the 1-based start positions, and that
    unique text produces no rows."""
    from pulsar_sync_java_spark.operators.dedup import repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "a1 b1 w x y z u v c1 d1"),
            (2, "w x y z u v e2 f2 g2 h2"),
            (3, "p3 q3 r3 s3 t3 p4 q4 r4 s4 t4"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.span_start, r.span_len, r.n_docs)
        for r in repeated_spans(docs, n=4, min_df=2).collect()
    }
    assert rows == {(1, 3, 6, 2), (2, 1, 6, 2)}


def test_repeated_spans_min_window_df_is_conservative(spark):
    """A span whose windows have different document frequencies must
    report the MINIMUM (the guaranteed sharing count): 'k l m n o'
    gives windows 'k l m n' (in docs 1,2,3 -> df 3) and 'l m n o'
    (docs 1,2 -> df 2); the merged span reports n_docs=2 for docs 1,2
    while doc 3 (holding only the first window) reports df 3 with
    span_len 4."""
    from pulsar_sync_java_spark.operators.dedup import repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "k l m n o z1 z2 z3"),
            (2, "k l m n o y1 y2 y3"),
            (3, "k l m n x1 x2 x3 x4"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.span_start, r.span_len, r.n_docs)
        for r in repeated_spans(docs, n=4, min_df=2).collect()
    }
    assert rows == {(1, 1, 5, 2), (2, 1, 5, 2), (3, 1, 4, 3)}


def test_repeated_spans_within_doc_repeat_does_not_mark(spark):
    """min_df counts DISTINCT documents: a 4-gram repeated twice inside
    ONE doc (and nowhere else) is not a cross-doc duplicate and must
    produce no span."""
    from pulsar_sync_java_spark.operators.dedup import repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "m n o p q1 m n o p q2"),
            (2, "r s t u v w x y z a"),
        ],
        "doc_id long, text string",
    )
    assert repeated_spans(docs, n=4, min_df=2).count() == 0


def test_scrub_repeated_spans_semantics(spark):
    """Removal-half semantics: the shared 6-token run is scrubbed from
    BOTH hosting docs (both-copies policy), a short (< min_span) match
    survives, untouched docs pass through verbatim, and a fully-covered
    doc scrubs to the empty string."""
    from pulsar_sync_java_spark.operators.dedup import scrub_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "a1 b1 w x y z u v c1 d1"),   # span at tokens 3-8
            (2, "w x y z u v e2 f2 g2 h2"),   # span at tokens 1-6
            (3, "p q r s t3 u3 v3 w3 x3"),    # shares only 4-gram 'p q r s'
            (4, "p q r s t4 u4 v4 w4 x4"),    #   -> span_len 4 < min_span 6
            (5, "j k l m n o"),               # fully covered ...
            (6, "j k l m n o"),               # ... in both copies
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.scrubbed_text)
        for r in scrub_repeated_spans(docs, n=4, min_df=2, min_span=6).collect()
    }
    assert got == {
        1: (10, 6, "a1 b1 c1 d1"),
        2: (10, 6, "e2 f2 g2 h2"),
        3: (9, 0, "p q r s t3 u3 v3 w3 x3"),
        4: (9, 0, "p q r s t4 u4 v4 w4 x4"),
        5: (6, 6, ""),
        6: (6, 6, ""),
    }


def test_repeated_spans_matches_bruteforce(spark):
    """Property test against an INDEPENDENT reference: a naive
    all-pairs substring scan (no inverted index, no SQL window
    machinery — tuple lookups in plain Python) must produce the same
    maximal spans on random tiny-vocab corpora, where 4-gram collisions
    are forced and island boundaries land everywhere."""
    from collections import defaultdict

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pulsar_sync_java_spark.operators.dedup import repeated_spans

    vocab = ["a", "b", "c"]

    def brute(docs: list[list[str]]):
        win: dict[tuple, set] = defaultdict(set)
        for did, toks in enumerate(docs):
            for i in range(len(toks) - 3):
                win[tuple(toks[i : i + 4])].add(did)
        expected = set()
        for did, toks in enumerate(docs):
            marks = [
                (i + 1, len(win[tuple(toks[i : i + 4])]))
                for i in range(len(toks) - 3)
                if len(win[tuple(toks[i : i + 4])]) >= 2
            ]
            run: list[tuple] = []
            for p, nd in marks:
                if run and p == run[-1][0] + 1:
                    run.append((p, nd))
                else:
                    if run:
                        expected.add(_span(did, run))
                    run = [(p, nd)]
            if run:
                expected.add(_span(did, run))
        return expected

    def _span(did, run):
        ps = [p for p, _ in run]
        return (did, ps[0], ps[-1] - ps[0] + 4, min(nd for _, nd in run))

    @settings(max_examples=12, deadline=None)
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=14),
            min_size=2,
            max_size=5,
        )
    )
    def check(docs):
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in enumerate(docs)],
            "doc_id long, text string",
        )
        got = {
            (r.doc_id, r.span_start, r.span_len, r.n_docs)
            for r in repeated_spans(df, n=4, min_df=2).collect()
        }
        assert got == brute(docs)

    check()


def test_ivf_pq_topk_recall_vs_exact(spark, embeddings):
    """IVF-PQ: ADC candidate ranking + exact re-rank must recover >=0.9
    of the exact cosine top-10 at the query dials (the q_ann_pq_topk
    gate, measured 0.9/1.0/1.0 across sf0.001/0.01/0.1)."""
    from pulsar_sync_java_spark.operators.similarity import ivf_pq_topk

    row = embeddings.filter(F.col("vec_id") == 0).first()
    qv = [float(x) for x in row.embedding]
    exact = [r.vec_id for r in cosine_topk(embeddings, qv, k=10).collect()]
    approx = [
        r.vec_id
        for r in ivf_pq_topk(
            embeddings, qv, k=10, n_centroids=16, nprobe=14, m=16,
            k_sub=256, rerank=64, iters=1,
        ).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.9, f"recall {recall}: exact={exact} approx={approx}"


def test_pq_adc_distance_law_bit_exact(spark):
    """The ADC scan's JVM zip_with/aggregate must equal the textbook
    lookup-table sum Σ_m LUT[m][code_m] computed sequentially in
    float64 — same addends, same left-fold order, so the comparison is
    BIT-exact, pinning both the 1-based element_at indexing and the
    LUT row/code alignment (an off-by-one would still produce
    plausible-looking distances and survive a recall gate)."""
    from pulsar_sync_java_spark.operators.similarity import (
        _pq_adc_topc,
        _pq_lut_rows,
        _pq_probe_order,
        kmeans_centroids,
        pq_train,
        _l2_normalize,
        _seeded_sample,
    )
    from pulsar_sync_java_spark.operators.vectorized import pq_encode_udf

    docs = load_table(spark, SF_DIR, "embeddings").limit(64)
    X = _l2_normalize(_seeded_sample(docs, "vec_id", "embedding", 64, 42))
    cents = kmeans_centroids(docs, k=4, iters=1, sample=X)
    books = pq_train(docs, cents, m=8, k_sub=16, iters=2, sample=X)

    enc = pq_encode_udf(cents, books)(F.col("embedding"))
    coded = (
        docs.select("vec_id", enc.alias("__enc"))
        .select(
            "vec_id",
            F.element_at("__enc", 1).alias("__cell"),
            F.slice("__enc", 2, 8).alias("__codes"),
        )
    )
    qrow = docs.first()
    qv = [float(x) for x in qrow.embedding]
    order, q_norm = _pq_probe_order(qv, cents)
    probe = order[:4]  # all cells: every row keeps an ADC value
    lut_rows = _pq_lut_rows(q_norm, cents, books, probe)
    lut = {cell: t for cell, t in lut_rows}

    got = {
        r["vec_id"]: r["__adc"]
        for r in _pq_adc_topc(coded, lut_rows, rerank=64, id_col="vec_id")
        .collect()
    }
    codes = {
        r["vec_id"]: (r["__cell"], list(r["__codes"])) for r in coded.collect()
    }
    assert set(got) == set(codes)
    for vid, (cell, cs) in codes.items():
        want = 0.0
        for j, c in enumerate(cs):  # sequential left fold, like aggregate()
            want = want + lut[cell][j][c]
        assert got[vid] == want, (vid, got[vid], want)


def test_ivf_pq_single_encode_stage(spark, embeddings):
    """The encode kernel must appear as exactly ONE ArrowEvalPython
    stage: Catalyst would otherwise push the cell filter below the
    projection (substituting element_at(encode(v),1) into the
    predicate) and ExtractPythonUDFs would plan the full k x d +
    M-subspace encode TWICE over the corpus — the asNondeterministic
    pushdown barrier in ivf_pq_topk exists for exactly this."""
    from pulsar_sync_java_spark.operators.similarity import ivf_pq_topk

    row = embeddings.filter(F.col("vec_id") == 0).first()
    qv = [float(x) for x in row.embedding]
    out = ivf_pq_topk(
        embeddings, qv, k=10, n_centroids=8, nprobe=3, m=16, k_sub=64,
        rerank=32, iters=1,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan


def test_sketch_calibration_error_is_bounded(spark, documents):
    """The calibration table must show a CALIBRATED sketch, not just a
    reproducible one: estimates and exact values live in [0,1], inter
    never exceeds union, and the mean |est - exact| over all candidate
    pairs stays within 3 standard errors of the 64-hash MinHash
    estimator (sqrt(j(1-j)/64) <= 1/16) — a broken hash family or
    misaligned signature join would blow straight through this while
    still being deterministic."""
    from pulsar_sync_java_spark.queries.dedup_scale import (
        q_sketch_calibration,
    )
    from tests.conftest import SF_DIR

    rows = q_sketch_calibration(spark, SF_DIR).collect()
    assert rows, "no candidate pairs at test SF — fixture vacuous"
    for r in rows:
        assert 0.0 <= r["est_jaccard"] <= 1.0
        assert 0.0 <= r["exact_jaccard"] <= 1.0
        assert 0 <= r["inter"] <= r["union_size"]
        assert r["abs_err"] == abs(r["est_jaccard"] - r["exact_jaccard"])
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err <= 3 / 16, f"mean |est-exact| {mean_err:.4f}"


def test_simhash_calibration_separates_and_catches_collapse(
    spark, documents
):
    """The SimHash calibration table must show a CALIBRATED sketch:
    (1) bit-agreement tracks the exact token-count cosine — near-dup
    pairs (hamming <= 3) sit far above the background pairs' exact
    cosine, and est_agree/exact_cos are strongly rank-correlated over
    the union; (2) a COLLAPSED fingerprint family (every doc hashing
    to the same signature — the r10 degenerate-family class, injected
    via the fingerprints= hook) floods the table with hamming-0 pairs
    whose exact cosine is background-level, failing the same
    separation gate while every row stays deterministic."""
    from pulsar_sync_java_spark.operators.dedup import simhash_calibration

    rows = simhash_calibration(documents).collect()
    assert rows, "no audit pairs at test SF — fixture vacuous"
    for r in rows:
        assert 0 <= r["hamming"] <= 64
        assert abs(r["est_agree"] - (1.0 - r["hamming"] / 64.0)) == 0.0
        assert 0 <= r["dot"] and r["na2"] > 0 and r["nb2"] > 0
        assert -1e-12 <= r["exact_cos"] <= 1.0 + 1e-12
    near = [r["exact_cos"] for r in rows if r["hamming"] <= 3]
    far = [r["exact_cos"] for r in rows if r["hamming"] > 3]
    assert near and far, "audit set must span both distance regimes"
    mean_near = sum(near) / len(near)
    mean_far = sum(far) / len(far)
    # margin 0.3: measured healthy separation is ~0.40 (near 0.995 vs
    # far 0.599 — the synthetic docs share a templated vocabulary, so
    # background cosine sits near 0.6, not 0) and the collapsed family
    # cannot separate at all
    assert mean_near > mean_far + 0.3, (mean_near, mean_far)
    # rank correlation (Spearman over the union) — a healthy family
    # orders pairs by similarity; a broken one cannot
    import statistics

    xs = [r["est_agree"] for r in rows]
    ys = [r["exact_cos"] for r in rows]

    def ranks(v):
        order = sorted(range(len(v)), key=lambda i: v[i])
        rk = [0.0] * len(v)
        for pos, i in enumerate(order):
            rk[i] = float(pos)
        return rk

    rx, ry = ranks(xs), ranks(ys)
    mx, my = statistics.mean(rx), statistics.mean(ry)
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    ) ** 0.5
    rho = num / den
    assert rho >= 0.5, rho

    # collapsed family: every doc gets the SAME fingerprint
    collapsed = documents.select(
        "doc_id", F.lit(1234567).cast("long").alias("simhash")
    )
    bad = simhash_calibration(documents, fingerprints=collapsed).collect()
    bnear = [r["exact_cos"] for r in bad if r["hamming"] <= 3]
    bfar = [r["exact_cos"] for r in bad if r["hamming"] > 3]
    # the gate that healthy data passes must FAIL: hamming no longer
    # separates anything (every pair collapses to 0), so either there
    # is no far regime at all or the means cannot separate
    assert not bfar or (
        sum(bnear) / len(bnear) <= sum(bfar) / len(bfar) + 0.3
    )


def test_ann_calibration_fails_mistrained_codebook(spark, embeddings):
    """r10 verdict #3 pin: the calibration gate must DETECT a corrupted
    model, not merely reproduce a healthy one.  A zeroed codebook (every
    reconstruction collapses to its cell centroid) must fail the gate —
    PQ recall and ADC error flags go false — while the healthy seeded
    model passes every flag (the q_ann_calibration driver row).  This is
    the failure mode the r10 degenerate-hash-family episode proved
    partial oracles can hide: the flag inputs and the model degrade
    together unless the anchor is exact."""
    from pulsar_sync_java_spark.operators.similarity import (
        _l2_normalize,
        _seeded_sample,
        ann_calibration,
        kmeans_centroids,
    )

    qids = [0, 101, 202]
    healthy = ann_calibration(embeddings, qids).collect()
    assert healthy and all(
        r["recall_lsh_ok"]
        and r["recall_ivf_ok"]
        and r["recall_pq_ok"]
        and r["rank_corr_ok"]
        and r["adc_err_ok"]
        for r in healthy
    ), [r.asDict() for r in healthy]

    X = _l2_normalize(
        _seeded_sample(embeddings, "vec_id", "embedding", 256 * 16, 42)
    )
    cents = kmeans_centroids(
        embeddings, "vec_id", "embedding", 16, 1, 42, sample=X
    )
    garbage = [[[0.0] * 4 for _ in range(256)] for _ in range(16)]
    bad = ann_calibration(
        embeddings, qids, centroids=cents, codebooks=garbage
    ).collect()
    # every probe must trip the gate (some flag false); the coded-path
    # flags specifically must catch it on every probe
    for r in bad:
        assert not (r["recall_pq_ok"] and r["adc_err_ok"]), r.asDict()
        assert not r["adc_err_ok"], r.asDict()
    # and the exact anchor must be identical under both models — it is
    # the model-independent side the driver hash-gates
    hmap = {r["query_id"]: (r["exact_top1"], r["exact_id_sum"]) for r in healthy}
    for r in bad:
        assert hmap[r["query_id"]] == (r["exact_top1"], r["exact_id_sum"])


def test_multi_query_ann_matches_single_query_paths(spark, embeddings):
    """The calibration harness's batch arms (lsh/ivf/ivf_pq
    `_topk_multi`) must be PER-QUERY BIT-IDENTICAL to the production
    single-query paths — same candidates, same cosine doubles, same
    tie-breaks — otherwise the recall flags judge a different plan
    than the one the engine serves.  Also pins the one-corpus-pass
    plan shape: exactly one ArrowEvalPython stage in the IVF
    (assignment) and PQ (encode) batch plans — the pushdown barrier
    regression that would silently double the Arrow kernel."""
    from pulsar_sync_java_spark.operators.similarity import (
        _l2_normalize,
        _seeded_sample,
        ivf_pq_topk,
        ivf_pq_topk_multi,
        ivf_topk_multi,
        kmeans_centroids,
        lsh_topk_multi,
        pq_train,
    )

    qids = [0, 101, 202]
    probes = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in embeddings.filter(F.col("vec_id").isin(qids)).collect()
    )

    def per_query(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (r["vec_id"], r["cos_sim"])
            )
        return {
            q: sorted(v, key=lambda t: (-t[1], t[0]))
            for q, v in out.items()
        }

    m_lsh = per_query(
        lsh_topk_multi(
            embeddings, probes, 10, num_planes=16, max_hamming=9
        ).collect()
    )
    for qid, qv in probes:
        single = [
            (r["vec_id"], r["cos_sim"])
            for r in lsh_topk(
                embeddings, qv, 10, num_planes=16, max_hamming=9
            ).collect()
        ]
        assert m_lsh.get(qid, []) == single, qid

    cents_raw = kmeans_centroids(embeddings, k=16, iters=1)
    ivf_df = ivf_topk_multi(embeddings, probes, cents_raw, 10, nprobe=4)
    plan = ivf_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    m_ivf = per_query(ivf_df.collect())
    for qid, qv in probes:
        single = [
            (r["vec_id"], r["cos_sim"])
            for r in ivf_topk(
                embeddings, qv, 10, n_centroids=16, nprobe=4,
                centroids=cents_raw,
            ).collect()
        ]
        assert m_ivf.get(qid, []) == single, qid

    X = _l2_normalize(
        _seeded_sample(embeddings, "vec_id", "embedding", 256 * 16, 42)
    )
    cents = kmeans_centroids(
        embeddings, "vec_id", "embedding", 16, 1, 42, sample=X
    )
    books = pq_train(
        embeddings, cents, m=16, k_sub=256, iters=3, sample=X
    )
    pq_df = ivf_pq_topk_multi(
        embeddings, probes, cents, books, 10, nprobe=4, rerank=64
    )
    plan = pq_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    m_pq = per_query(pq_df.collect())
    for qid, qv in probes:
        single = [
            (r["vec_id"], r["cos_sim"])
            for r in ivf_pq_topk(
                embeddings, qv, 10, n_centroids=16, nprobe=4, m=16,
                k_sub=256, rerank=64, iters=1, pq_iters=3,
                centroids=cents, codebooks=books,
            ).collect()
        ]
        assert m_pq.get(qid, []) == single, qid


def test_pq_flat_encode_bound_is_lossless(spark):
    """The mathematical cornerstone of the q_semantic_dedup prefilter:
    for ANY unit vectors a, b and ANY codebook, |dot(a_hat, b_hat) -
    dot(rec_a, rec_b)| <= eps_a + eps_b + eps_a*eps_b, where rec/eps
    come from pq_flat_encode_udf and the coded dot from
    pq_gram_dot_udf.  Checked on random vectors against both kernels'
    actual outputs (not a numpy re-derivation), including a DELIBERATELY
    bad codebook — the bound must hold for any model, because that is
    what makes the prefilter's answer model-independent."""
    import numpy as np

    from pulsar_sync_java_spark.operators.similarity import pq_train
    from pulsar_sync_java_spark.operators.vectorized import (
        pq_flat_encode_udf,
        pq_gram_dot_udf,
    )

    rng = np.random.RandomState(7)
    d, n = 16, 40
    V = rng.normal(size=(n, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    trained = pq_train(df, [[0.0] * d], m=d, k_sub=4, iters=2, seed=7)
    # a hostile codebook: constant codewords far from the data
    hostile = [[[5.0], [4.0], [-3.0], [2.0]] for _ in range(d)]
    for books in (trained, hostile):
        enc = pq_flat_encode_udf(books)(F.col("embedding"))
        coded = {
            r["vec_id"]: (r["e"][0], r["e"][1:])
            for r in df.select("vec_id", enc.alias("e")).collect()
        }
        # drive the gram kernel on the REAL code arrays
        import itertools

        Vh = V / np.linalg.norm(V, axis=1, keepdims=True)
        code_df = spark.createDataFrame(
            [
                (
                    int(i),
                    int(j),
                    [int(c) for c in coded[i][1]],
                    [int(c) for c in coded[j][1]],
                )
                for i, j in itertools.combinations(range(n), 2)
            ],
            "va long, vb long, ca array<int>, cb array<int>",
        )
        adc = {
            (r["va"], r["vb"]): r["adc"]
            for r in code_df.select(
                "va",
                "vb",
                pq_gram_dot_udf(books)("ca", "cb").alias("adc"),
            ).collect()
        }
        for i, j in itertools.combinations(range(n), 2):
            exact = float(Vh[i] @ Vh[j])
            ea, eb = coded[i][0], coded[j][0]
            bound = ea + eb + ea * eb + 1e-9
            assert abs(exact - adc[(i, j)]) <= bound, (
                books is hostile, i, j, exact, adc[(i, j)], ea, eb,
            )
