"""Independent-reference property tests for the round-8/9 additions:
each check recomputes the result with a BRUTE-FORCE Python/pandas
implementation that shares NO formulation with either the engine or
the DuckDB oracle (those two share the window/CTE shape, so a shared
blind spot is conceivable; a third implementation is not)."""

from __future__ import annotations

from collections import defaultdict

import pandas as pd
import pytest

from pulsar_sync_java_spark.queries import all_queries
from tests.conftest import SF_DIR

_QUERIES = all_queries()


@pytest.fixture(scope="module")
def events_pdf():
    return pd.read_parquet(f"{SF_DIR}/events.parquet")


def test_ks_drift_matches_bruteforce_sorted_cdf(spark, events_pdf):
    """The two-level prefix-sum KS must equal the textbook sorted-CDF
    maximum computed with exact integer arithmetic."""
    rows = {
        r["event_type"]: r
        for r in _QUERIES["q_ks_drift"](spark, SF_DIR).collect()
    }
    for etype, g in events_pdf.groupby("event_type"):
        a = sorted(g.loc[g.user_id % 2 == 0, "value"].tolist())
        b = sorted(g.loc[g.user_id % 2 == 1, "value"].tolist())
        n_a, n_b = len(a), len(b)
        pooled = sorted(set(a) | set(b))
        import bisect

        d_num = max(
            abs(
                bisect.bisect_right(a, v) * n_b
                - bisect.bisect_right(b, v) * n_a
            )
            for v in pooled
        )
        r = rows[etype]
        assert (r["n_a"], r["n_b"]) == (n_a, n_b)
        assert r["ks_stat"] == d_num / (n_a * n_b), etype


def test_rolling_quantile_matches_bruteforce_frames(spark, events_pdf):
    """Every row's median/p90 must equal the sorted-slice computation
    over the explicitly materialized last-10 frame."""
    got = {
        r["event_id"]: r
        for r in _QUERIES["q_rolling_quantile"](spark, SF_DIR).collect()
    }
    df = events_pdf.sort_values(["user_id", "ts", "event_id"])
    for _, g in df.groupby("user_id"):
        vals = g["value"].tolist()
        ids = g["event_id"].tolist()
        for i, eid in enumerate(ids):
            frame = sorted(vals[max(0, i - 9) : i + 1])
            k = len(frame)
            med = (frame[(k + 1) // 2 - 1] + frame[(k + 2) // 2 - 1]) / 2.0
            p90 = frame[(9 * k + 9) // 10 - 1]
            r = got[eid]
            assert r["n_frame"] == k
            assert r["roll_median"] == med, eid
            assert r["roll_p90"] == p90, eid


def test_zorder_layout_matches_python_morton(spark):
    """Re-derive every row's z-value and file with an independent
    Python bit loop; per-file aggregates must match exactly."""
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_partkey", "l_suppkey"]
    ]
    pk_n = int(li.l_partkey.max()) + 1
    sk_n = int(li.l_suppkey.max()) + 1

    def z(pk: int, sk: int) -> int:
        x = pk * 256 // pk_n
        y = sk * 256 // sk_n
        out = 0
        for i in range(8):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    agg: dict[int, list] = defaultdict(lambda: [0, 10**9, -1, 10**9, -1])
    for pk, sk in li.itertuples(index=False, name=None):
        f = z(int(pk), int(sk)) // 1024
        a = agg[f]
        a[0] += 1
        a[1], a[2] = min(a[1], pk), max(a[2], pk)
        a[3], a[4] = min(a[3], sk), max(a[4], sk)
    rows = _QUERIES["q_zorder_layout"](spark, SF_DIR).collect()
    assert {r["file_id"] for r in rows} == set(agg)
    for r in rows:
        n, mnp, mxp, mns, mxs = agg[r["file_id"]]
        assert (
            r["n_rows"],
            r["min_partkey"],
            r["max_partkey"],
            r["min_suppkey"],
            r["max_suppkey"],
        ) == (n, mnp, mxp, mns, mxs), r


def test_semantic_dedup_group_invariants(spark):
    """Structural invariants beyond the oracle hash: a group's label is
    its minimum member; is_dup <=> non-keeper; groups never span
    k-means clusters (pairs are cluster-local by construction)."""
    rows = _QUERIES["q_semantic_dedup"](spark, SF_DIR).collect()
    assert len(rows) == len({r["vec_id"] for r in rows})
    groups = defaultdict(list)
    for r in rows:
        groups[r["sem_group"]].append(r)
        assert r["is_dup"] == (r["vec_id"] != r["sem_group"])
    n_dup_groups = 0
    for lbl, members in groups.items():
        assert lbl == min(m["vec_id"] for m in members)
        assert len({m["cluster"] for m in members}) == 1, lbl
        if len(members) > 1:
            n_dup_groups += 1
    assert n_dup_groups > 0  # the threshold is non-vacuous on this data


def test_semantic_dedup_auto_k_equivalence_and_derivation(spark):
    """The production helper (r12 verdict #2): `semantic_dedup` with
    auto-derived dials returns the SAME result set as the same dials
    passed explicitly, derives K = max(8, ceil(√N)) and S from the
    512-group target, and with k=8/S=8 forced reproduces the declared
    oracle-gated query exactly."""
    import math

    from pulsar_sync_java_spark.queries.clustering import (
        _SEM_PAIR_BLOCKS,
        semantic_dedup,
    )
    from pulsar_sync_java_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    n = e.count()
    want_k = max(8, math.isqrt(max(n - 1, 0)) + 1)
    want_s = max(1, round((512 / want_k) ** 0.5))

    auto = sorted(map(tuple, semantic_dedup(e, SF_DIR).collect()))
    explicit = sorted(
        map(
            tuple,
            semantic_dedup(e, SF_DIR, k=want_k, blocks=want_s).collect(),
        )
    )
    assert auto == explicit and len(auto) == n
    # derived K really is in effect: more clusters than the pinned 8
    assert want_k > 8
    assert len({r[1] for r in auto}) > 8
    # dials forced back to the declared literals == the oracle query
    declared = sorted(
        map(tuple, _QUERIES["q_semantic_dedup"](spark, SF_DIR).collect())
    )
    pinned = sorted(
        map(
            tuple,
            semantic_dedup(
                e, SF_DIR, k=8, blocks=_SEM_PAIR_BLOCKS
            ).collect(),
        )
    )
    assert pinned == declared


def test_kmeans_expr_and_df_paths_identical(spark):
    """r13 optimization: `kmeans_assignments` has two result-identical
    execution paths — the driver-held-centroid expression path (small
    K; every declared query) and the broadcast-DataFrame Lloyd pass
    (large/auto K).  Pin their equality across K values, both inits,
    and the mini-batch sampling, so neither path can drift from the
    oracle-gated semantics."""
    from pulsar_sync_java_spark.queries.clustering import (
        kmeans_assignments,
    )
    from pulsar_sync_java_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    for k, pct, init in (
        (1, 100, "id_lt_k"),
        (5, 100, "k_smallest"),
        (8, 50, "id_lt_k"),   # the q_kmeans_minibatch dials
        (8, 100, "id_lt_k"),  # the q_kmeans_assign dials
    ):
        expr = sorted(
            map(
                tuple,
                kmeans_assignments(
                    e, sample_pct=pct, k=k, init=init, impl="expr"
                ).collect(),
            )
        )
        df = sorted(
            map(
                tuple,
                kmeans_assignments(
                    e, sample_pct=pct, k=k, init=init, impl="df"
                ).collect(),
            )
        )
        assert expr == df, (k, pct, init)


def test_semantic_dedup_rekeyed_corpus_not_silently_empty(spark):
    """Review-pass catch: the production helper must work on corpora
    whose vec_ids are NOT 0-based contiguous.  The k_smallest init
    seeds from the actually-smallest ids (invariant under a constant
    id shift), so a re-keyed corpus gets the SAME group structure
    shifted — while the declared query's literal `vec_id < k` init
    would have selected zero centroids and (pre-fix) returned an
    empty assignment silently; kmeans_assignments now raises loudly
    in that case instead."""
    from pyspark.sql import functions as F

    from pulsar_sync_java_spark.queries.clustering import (
        kmeans_assignments,
        semantic_dedup,
    )
    from pulsar_sync_java_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    shift = 1_000_000
    rekeyed = e.withColumn("vec_id", F.col("vec_id") + F.lit(shift))

    base = sorted(map(tuple, semantic_dedup(e, SF_DIR, k=8).collect()))
    got = sorted(
        map(tuple, semantic_dedup(rekeyed, SF_DIR + "#rk", k=8).collect())
    )
    # same structure, every id shifted (clusters are rank-based)
    assert got == [
        (v + shift, c, g + shift, d) for (v, c, g, d) in base
    ]
    # the literal init on the re-keyed corpus raises, never silent
    with pytest.raises(ValueError, match="zero seed centroids"):
        kmeans_assignments(rekeyed, k=8).limit(1).count()


def test_chunk_overlap_matches_python_slicer(spark):
    """Re-chunk every document with a plain Python loop (boundaries,
    counts, md5s) and compare row-for-row."""
    import hashlib

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "text"]]
    expect = {}
    for doc_id, text in docs.itertuples(index=False, name=None):
        toks = [t for t in (text or "").split() if t]
        for s in range(0, len(toks), 48):
            chunk = toks[s : s + 64]
            expect[(doc_id, s // 48)] = (
                s + 1,
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    rows = _QUERIES["q_chunk_overlap"](spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        assert expect[(r["doc_id"], r["chunk_idx"])] == (
            r["start_token"],
            r["n_chunk_tokens"],
            r["chunk_md5"],
        ), r


def test_bfs_khop_matches_python_bfs(spark):
    """Rebuild the co-purchase graph in Python, run a textbook queue
    BFS from the min node, and compare the <=3-hop distance labels."""
    from collections import deque

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ]
    li = li[li.l_orderkey % 5 == 0]
    adj = defaultdict(set)
    for _, grp in li.groupby("l_orderkey"):
        parts = sorted(set(grp.l_partkey))
        for i, a in enumerate(parts):
            for b in parts[i + 1 :]:
                adj[a].add(b)
                adj[b].add(a)
    src = min(adj)
    dist = {src: 0}
    q = deque([src])
    while q:
        u = q.popleft()
        if dist[u] >= 3:
            continue
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {
        r["part_id"]: r["dist"]
        for r in _QUERIES["q_bfs_khop"](spark, SF_DIR).collect()
    }
    assert got == dist


def test_hll_union_split_invariance_property(spark):
    """The exact-regime identity law behind q_hll_merge, under
    ARBITRARY row splits: estimate(hll_union over per-slice sketches)
    must be bit-identical to the unsplit sketch's estimate.  This
    holds in the sparse/EXACT regime only (sizes kept below the
    lgK=12 coupon threshold here) — in the dense regime the
    datasketches HIP estimator is insertion-order dependent by
    design, which is why the data-scale query gates accuracy bounds
    instead of bit-equality (measured in the r9 sf0.1 sweep).  Small
    example budget: each example is a Spark round-trip (the sketch
    lives JVM-side, so there is no pure-Python replica to hammer like
    the MG test)."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    @settings(max_examples=8, deadline=None)
    @given(
        vals=st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=250),
        nsplits=st.integers(1, 7),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(vals, nsplits, seed):
        rng = random.Random(seed)
        df = spark.createDataFrame(
            [(v, rng.randrange(nsplits)) for v in vals], "v long, sl int"
        )
        merged = (
            df.groupBy("sl")
            .agg(F.hll_sketch_agg("v").alias("sk"))
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
            .collect()[0]["e"]
        )
        direct = df.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("v")).alias("e")
        ).collect()[0]["e"]
        assert merged == direct, (merged, direct, len(vals), nsplits)

    check()


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def test_bm25_matches_bruteforce_python(spark, docs_pdf):
    """Third implementation of the BM25 ranking: plain Python dicts
    and floats (same parenthesization), compared on ids AND scores."""
    import re as _re

    TERMS = ("filter", "hash", "join", "merge", "spark", "vector", "quantum")
    tf, dl = {}, {}
    for doc_id, text in docs_pdf[["doc_id", "text"]].itertuples(
        index=False, name=None
    ):
        toks = [
            t.lower()
            for t in _re.split(r"\s+", text or "")
            if t and _re.fullmatch(r"[a-z]+", t.lower())
        ]
        if toks:
            dl[doc_id] = len(toks)
            for t in toks:
                tf[(doc_id, t)] = tf.get((doc_id, t), 0) + 1
    n_docs = len(docs_pdf)
    avgdl = float(sum(dl.values())) / n_docs
    df_ = {}
    for (d, t), _ in tf.items():
        if t in TERMS:
            df_[t] = df_.get(t, 0) + 1
    from decimal import ROUND_HALF_UP, Decimal

    scores, matched = {}, {}
    for (d, t), f in tf.items():
        if t not in TERMS:
            continue
        idf = ((n_docs - df_[t]) + 0.5) / (float(df_[t]) + 0.5)
        den = float(f) + 1.2 * (0.25 + 0.75 * (float(dl[d]) / avgdl))
        sc = idf * ((float(f) * 2.2) / den)
        q = Decimal(sc).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        scores[d] = scores.get(d, Decimal(0)) + q
        matched[d] = matched.get(d, 0) + 1
    expect = sorted(
        ((float(s), d) for d, s in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:20]
    rows = _QUERIES["q_bm25_topk"](spark, SF_DIR).collect()
    got = [(r["score"], r["doc_id"]) for r in rows]
    assert [d for _, d in got] == [d for _, d in expect]
    for (gs, gd), (es, ed) in zip(got, expect):
        assert gs == es, (gd, gs, es)
        assert matched[gd] > 0


def test_countmin_overcount_law_bruteforce(spark, events_pdf):
    """CM's one-sided error, recomputed with plain Python dicts: the
    engine's estimate must equal the brute-force sketch estimate and
    never undercount the true count."""
    P, W, D = 2147483647, 32, 4
    from pulsar_sync_java_spark.operators.vectorized import md5_32

    # the md5-derived family (r10 — see portable_minhash_family),
    # re-derived here independently of the engine's tuple list
    fam = [
        ((md5_32("cma", j) % P) or 1, md5_32("cmb", j) % P)
        for j in range(D)
    ]
    sketch = {}
    truth = {}
    for u in events_pdf["user_id"]:
        u = int(u)
        truth[u] = truth.get(u, 0) + 1
        for j, (a, b) in enumerate(fam):
            h = ((u % 2147483648 + 1) * a + b) % P % W
            sketch[(j, h)] = sketch.get((j, h), 0) + 1
    heavy = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    expect = {}
    for u, tn in heavy:
        est = min(
            sketch[(j, ((u % 2147483648 + 1) * a + b) % P % W)]
            for j, (a, b) in enumerate(fam)
        )
        expect[u] = (tn, est)
    rows = _QUERIES["q_countmin_topk"](spark, SF_DIR).collect()
    assert len(rows) == len(expect)
    for r in rows:
        tn, est = expect[r["user_id"]]
        assert (r["true_n"], r["cm_est"]) == (tn, est)
        assert r["overcount"] == est - tn >= 0


def test_compaction_plan_greedy_pack_invariants(spark):
    """Planner invariants beyond the oracle hash: groups partition the
    undersized files in key order (contiguous ids, ordered disjoint
    key ranges), no group except possibly the last is underfull, and
    no group is more than one file over target."""
    rows = sorted(
        _QUERIES["q_compaction_plan"](spark, SF_DIR).collect(),
        key=lambda r: r["group_id"],
    )
    assert rows and [r["group_id"] for r in rows] == list(range(len(rows)))
    target, under_cap = 128, 32
    for a, b in zip(rows, rows[1:]):
        assert a["max_key"] < b["min_key"]  # key-ordered, range-disjoint
    for r in rows[:-1]:
        # removing its last file must drop the group below target =>
        # total < target + max undersized file size
        assert target <= r["total_rows"] + under_cap
        assert r["total_rows"] < target + under_cap
    assert rows[-1]["total_rows"] < target + under_cap


def test_compaction_plan_skips_right_sized_files(spark):
    """A right-sized file stays out of the plan even when its key range
    sits inside a group's merged span, and a plan with every file
    right-sized is empty."""
    from pyspark.sql import functions as F

    from pulsar_sync_java_spark.queries.training import (
        compaction_groups,
        plan_compaction,
    )

    # keys 0..959 in 8-key files; file 5 (keys 40..47) is made
    # right-sized by repetition, so its range sits between undersized
    # files 4 and 6 that a group will merge across.
    base = spark.range(0, 960).select(F.col("id").alias("k"))
    fat = spark.range(0, 960).select(
        (F.lit(40) + F.pmod(F.col("id"), F.lit(8))).alias("k")
    )
    files = (
        base.unionByName(fat)
        .groupBy(F.expr("k div 8").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )
    assign = plan_compaction(files, target_rows=64, under_rows=32)
    groups = compaction_groups(assign, 64).collect()
    assert len(groups) > 1
    assert 5 not in {r.file_id for r in assign.collect()}
    assert any(g.min_key < 40 and g.max_key > 47 for g in groups)
    assert plan_compaction(files, target_rows=64, under_rows=1).count() == 0


def test_phash_matches_python_reimplementation(spark, docs_pdf):
    """Independent Python dHash + naive all-pairs Hamming, compared to
    the engine's bucketed pair set."""
    def ph(text: str) -> int:
        bs = text.encode()
        n = len(bs)
        csum = [0]
        for x in bs:
            csum.append(csum[-1] + x)
        s = [csum[((j + 1) * n) // 72] - csum[(j * n) // 72] for j in range(72)]
        v = 0
        for r in range(8):
            for c in range(8):
                if s[r * 9 + c] < s[r * 9 + c + 1]:
                    v |= 1 << (r * 8 + c)
        return v - (1 << 64) if v >= 1 << 63 else v

    hs = {
        int(d): ph(t)
        for d, t in docs_pdf[["doc_id", "text"]].itertuples(index=False, name=None)
    }
    ids = sorted(hs)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
            if hd <= 3:
                expect[(a, b)] = hd
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in _QUERIES["q_phash_neardup"](spark, SF_DIR).collect()
    }
    assert got == expect


def test_bpe_train_matches_python_reference(spark, docs_pdf):
    """Textbook Python BPE (dict-of-tuples vocabulary, greedy
    left-to-right merge) must produce the same 3 merge rules and pair
    counts."""
    import re as _re
    from collections import Counter

    vocab = Counter()
    for text in docs_pdf["text"]:
        for wtok in _re.split(r"\s+", text or ""):
            if wtok:
                vocab[tuple(wtok)] += 1
    rules = []
    cur = dict(vocab)
    for it in range(1, 4):
        pc = Counter()
        for syms, w in cur.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += w
        (x, y), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((it, x, y, x + y, cnt))
        nxt = {}
        for syms, w in cur.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + w
        cur = nxt
    got = sorted(
        (r["iter"], r["left_sym"], r["right_sym"], r["merged"], r["cnt"])
        for r in _QUERIES["q_bpe_train"](spark, SF_DIR).collect()
    )
    assert got == rules


def test_bpe_replace_device_equals_greedy_merge_property():
    """The canonical double-space-separator replace() must equal the
    textbook greedy left-to-right BPE merge for ARBITRARY symbol
    sequences — including self-pairs ('aa'+'aa'), multi-char symbols,
    and punctuation (replace is literal, not regex).  Pure Python
    (the device is string semantics, identical in Spark/DuckDB), so
    hypothesis can hammer it."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    alphabet = ["a", "b", "ab", "aa", "aab", ".", "(", "a.b"]

    def greedy(syms, x, y):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                out.append(x + y)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    @settings(max_examples=2000, deadline=None)
    @given(
        arr=st.lists(st.sampled_from(alphabet), min_size=1, max_size=9),
        x=st.sampled_from(alphabet),
        y=st.sampled_from(alphabet),
    )
    def check(arr, x, y):
        s = ("  " + "  ".join(arr) + "  ").replace(
            f" {x}  {y} ", f" {x}{y} "
        )
        assert [t for t in s.split("  ") if t] == greedy(arr, x, y)

    check()


def test_bpe_encode_matches_python_reference(spark, docs_pdf):
    """Round-10 q_bpe_encode: the textbook Python BPE trainer (same
    reference as test_bpe_train_matches_python_reference) applied as
    an ENCODER — word -> final symbol tuple after all 3 merges — must
    reproduce every per-doc counter.  Exercises the claim that the
    final vocabulary IS the encoder (no per-doc merge replay)."""
    import re as _re
    from collections import Counter

    vocab = Counter()
    doc_words: dict[int, Counter] = {}
    for doc_id, text in zip(docs_pdf["doc_id"], docs_pdf["text"]):
        words = [w for w in _re.split(r"\s+", text or "") if w]
        doc_words[doc_id] = Counter(words)
        for w in words:
            vocab[tuple(w)] += 1
    # train: same greedy 3-iteration loop, tracking word -> symbols
    seg = {"".join(k): list(k) for k in vocab}
    weights = {"".join(k): w for k, w in vocab.items()}
    for _ in range(3):
        pc = Counter()
        for word, syms in seg.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += weights[word]
        (x, y), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for word, syms in seg.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == x and syms[i + 1] == y:
                    out.append(x + y)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seg[word] = out
    got = {
        r["doc_id"]: r
        for r in _QUERIES["q_bpe_encode"](spark, SF_DIR).collect()
    }
    assert set(got) == {d for d, ws in doc_words.items() if ws}
    for doc_id, ws in doc_words.items():
        if not ws:
            continue
        n_words = sum(ws.values())
        n_chars = sum(n * len(w) for w, n in ws.items())
        n_bpe = sum(n * len(seg[w]) for w, n in ws.items())
        n_merged = sum(
            n * sum(1 for s in seg[w] if len(s) > 1) for w, n in ws.items()
        )
        r = got[doc_id]
        assert (
            r["n_words"],
            r["n_chars"],
            r["n_bpe_tokens"],
            r["n_merged_occ"],
        ) == (n_words, n_chars, n_bpe, n_merged), doc_id
        assert r["compression"] == n_chars / n_bpe, doc_id


# ------------------------------------------------ round-10 additions


def test_cusum_changepoint_matches_bruteforce(spark):
    """Scaled CUSUM must equal the textbook prefix - t*mean argmax
    computed with Python integers (exact rationals via scaling)."""
    odf = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    odf["month"] = odf["o_orderdate"].dt.strftime("%Y-%m")
    odf["cents"] = (
        odf["o_totalprice"].round(2).mul(100).round().astype("int64")
    )
    got = {
        r["o_orderpriority"]: r
        for r in _QUERIES["q_cusum_changepoint"](spark, SF_DIR).collect()
    }
    for prio, g in odf.groupby("o_orderpriority"):
        m = g.groupby("month")["cents"].sum().sort_index()
        n, total = len(m), int(m.sum())
        prefix = 0
        best = None  # (abs_s, t, month, s)
        for t, (month, cents) in enumerate(m.items(), start=1):
            prefix += int(cents)
            if t == n:
                break
            s = n * prefix - t * total
            key = (-abs(s), t)
            if best is None or key < best[0]:
                best = (key, t, month, s)
        r = got[prio]
        assert (r["cp_month"], r["t_index"], r["n_months"]) == (
            best[2],
            best[1],
            n,
        )
        assert r["s_scaled"] == best[3]


def test_ewma_matches_python_fold(spark):
    """The engine fold must equal a plain Python left fold over the
    day-sorted daily counts (same IEEE ops, same order)."""
    edf = pd.read_parquet(f"{SF_DIR}/events.parquet")
    edf["day"] = edf["ts"].dt.date
    got = {
        r["event_type"]: r
        for r in _QUERIES["q_ewma_smooth"](spark, SF_DIR).collect()
    }
    for etype, g in edf.groupby("event_type"):
        xs = [float(c) for _, c in sorted(g.groupby("day").size().items())]

        def fold(seq):
            acc = seq[0]
            for x in seq[1:]:
                acc = acc * 0.75 + x * 0.25
            return acc

        r = got[etype]
        assert r["n_days"] == len(xs)
        assert r["x_last"] == int(xs[-1])
        assert r["ewma_last"] == fold(xs)
        assert r["ewma_prev"] == (fold(xs[:-1]) if len(xs) > 1 else xs[0])


def test_attribution_matches_bruteforce_replay(spark):
    """Credit tallies must match a per-user event replay crediting
    each purchase's touch window directly."""
    from collections import defaultdict

    edf = pd.read_parquet(f"{SF_DIR}/events.parquet")
    edf = edf[edf["event_type"].isin(["purchase", "view", "click"])]
    first = defaultdict(int)
    last = defaultdict(int)
    linear = defaultdict(int)
    touch_cnt = defaultdict(int)
    for _, g in edf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        window = []
        for _, row in g.iterrows():
            if row["event_type"] == "purchase":
                if window:
                    first[window[0]] += 1
                    last[window[-1]] += 1
                    for ch in window:
                        linear[ch] += 1_000_000 // len(window)
                else:
                    for d in (first, last):
                        d["(direct)"] += 1
                    linear["(direct)"] += 1_000_000
                window = []
            else:
                window.append(row["event_type"])
    # touches column counts only ATTRIBUTED touches (trailing touches
    # after a user's last purchase are dropped) — replay again tallying
    touch_cnt = defaultdict(int)
    for _, g in edf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        window = []
        for _, row in g.iterrows():
            if row["event_type"] == "purchase":
                for ch in window:
                    touch_cnt[ch] += 1
                window = []
            else:
                window.append(row["event_type"])
    got = {
        r["channel"]: r
        for r in _QUERIES["q_attribution"](spark, SF_DIR).collect()
    }
    assert set(got) == set(first) | set(touch_cnt)
    for ch, r in got.items():
        assert r["first_touch"] == first[ch], ch
        assert r["last_touch"] == last[ch], ch
        assert r["linear_millionths"] == linear[ch], ch
        assert r["touches"] == touch_cnt.get(ch, 0), ch


def test_assoc_rules_matches_pandas(spark):
    """Top-20 pair metrics must match a pandas basket expansion."""
    from itertools import combinations
    from collections import Counter

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    baskets = li.groupby("l_orderkey")["l_partkey"].apply(
        lambda s: sorted(set(s))
    )
    baskets = baskets[baskets.str.len() <= 64]
    n_baskets = len(baskets)
    supp = Counter()
    pair_cnt = Counter()
    for items in baskets:
        supp.update(items)
        pair_cnt.update(combinations(items, 2))
    top = sorted(pair_cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = sorted(
        (
            (r["p1"], r["p2"]),
            r["pair_cnt"],
            r["supp_p1"],
            r["supp_p2"],
            r["n_baskets"],
            r["confidence"],
            r["lift"],
        )
        for r in _QUERIES["q_assoc_rules"](spark, SF_DIR).collect()
    )
    want = sorted(
        (
            pair,
            cnt,
            supp[pair[0]],
            supp[pair[1]],
            n_baskets,
            cnt / supp[pair[0]],
            (cnt * n_baskets) / (supp[pair[0]] * supp[pair[1]]),
        )
        for pair, cnt in top
    )
    assert got == want


def test_label_prop_matches_python_lpa(spark):
    """3-iteration synchronous min-tie-break LPA in pure Python."""
    from collections import Counter, defaultdict

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li = li[li["l_orderkey"] % 7 == 0]
    adj = defaultdict(set)
    for _, g in li.groupby("l_orderkey"):
        parts = sorted(set(g["l_partkey"]))
        for a, b in zip(
            [x for x in parts for _ in parts], parts * len(parts)
        ):
            if a != b:
                adj[a].add(b)
    lab = {n: n for n in adj}
    for _ in range(3):
        nxt = {}
        for n, nbrs in adj.items():
            c = Counter(lab[m] for m in nbrs)
            nxt[n] = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lab = nxt
    comm = defaultdict(list)
    for n, l in lab.items():
        comm[l].append(n)
    want = sorted(
        (l, len(ms), min(ms), max(ms)) for l, ms in comm.items()
    )
    got = sorted(
        (r["community"], r["n_members"], r["min_member"], r["max_member"])
        for r in _QUERIES["q_label_prop"](spark, SF_DIR).collect()
    )
    assert got == want


def _assert_mad_outliers_match(spark, sf_dir):
    edf = pd.read_parquet(f"{sf_dir}/events.parquet")
    edf = edf[edf["value"].notna() & edf["event_type"].notna()]

    def posmed(vals):
        v = sorted(vals)
        n = len(v)
        return (v[(n + 1) // 2 - 1] + v[(n + 2) // 2 - 1]) / 2

    got = {
        r["event_type"]: r
        for r in _QUERIES["q_mad_outliers"](spark, sf_dir).collect()
    }
    assert set(got) == set(edf["event_type"])
    for etype, g in edf.groupby("event_type"):
        vals = g["value"].tolist()
        med = posmed(vals)
        devs = [abs(x - med) for x in vals]
        mad = posmed(devs)
        n_out = sum(1 for d in devs if d > 5 * mad)
        r = got[etype]
        assert (r["n"], r["median"], r["mad"], r["n_outliers"]) == (
            len(vals),
            med,
            mad,
            n_out,
        ), etype


def test_mad_outliers_matches_numpy(spark):
    """Positional median/MAD vs an explicit order-statistic picker."""
    _assert_mad_outliers_match(spark, SF_DIR)


def test_mad_outliers_drops_null_event_type(spark, tmp_path):
    """NULL event_type rows are dropped, not grouped: a None key among
    the string keys would raise TypeError where the literal CASE arms
    are sorted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/events.parquet")
    i = t.schema.get_field_index("event_type")
    types = t.column(i).to_pylist()
    nulled = [None if k % 3 == 0 else et for k, et in enumerate(types)]
    pq.write_table(
        t.set_column(i, t.field(i), pa.array(nulled, t.field(i).type)),
        str(tmp_path / "events.parquet"),
    )
    _assert_mad_outliers_match(spark, str(tmp_path))


def test_mad_outliers_guards_literal_case_cardinality(spark, monkeypatch):
    """More event types than the literal-CASE bound fail loudly and name
    the broadcast-join alternative, instead of inlining one WHEN arm per
    type without limit."""
    from pulsar_sync_java_spark.queries import stats

    monkeypatch.setattr(stats, "_LITERAL_CASE_MAX_GROUPS", 2)
    with pytest.raises(ValueError, match="_LITERAL_CASE_MAX_GROUPS=2") as e:
        _QUERIES["q_mad_outliers"](spark, SF_DIR)
    assert "broadcast join" in str(e.value)


def test_kmeans_size_map_guards_literal_case_cardinality(spark, monkeypatch):
    """More clusters than the literal-CASE bound fail loudly on the expr
    path before any Spark job runs, and name the broadcast-join path."""
    from pulsar_sync_java_spark.queries import stats

    monkeypatch.setattr(stats, "_LITERAL_CASE_MAX_GROUPS", 4)
    sc = spark.sparkContext
    sc.setJobGroup("kmeans-case-guard", "guard must not run jobs")
    try:
        with pytest.raises(
            ValueError, match="_LITERAL_CASE_MAX_GROUPS=4"
        ) as e:
            _QUERIES["q_kmeans_assign"](spark, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    assert "broadcast join" in str(e.value)
    jobs = sc.statusTracker().getJobIdsForGroup("kmeans-case-guard")
    assert list(jobs) == [], jobs


def test_char_diversity_matches_python_counter(spark, docs_pdf):
    """Collision probability / Simpson index vs collections.Counter."""
    import re as _re
    from collections import Counter

    got = {
        r["doc_id"]: r
        for r in _QUERIES["q_char_diversity"](spark, SF_DIR).collect()
    }
    for doc_id, text in zip(docs_pdf["doc_id"], docs_pdf["text"]):
        s = _re.sub(r"\s+", "", text or "")
        if not s:
            assert doc_id not in got
            continue
        c = Counter(s)
        n = len(s)
        sum_sq = sum(v * v for v in c.values())
        top_char, top_cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        r = got[doc_id]
        assert (
            r["n_chars_nows"],
            r["distinct_chars"],
            r["top_char"],
            r["top_cnt"],
        ) == (n, len(c), top_char, top_cnt), doc_id
        assert r["collision_p"] == sum_sq / (n * n)


def test_gini_matches_bruteforce(spark):
    """Gini from the closed-form rank formula vs a direct pairwise
    mean-absolute-difference computation (O(n²), definitionally
    distinct from the engine's rank device)."""
    odf = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    odf["cents"] = (
        odf["o_totalprice"].round(2).mul(100).round().astype("int64")
    )
    got = {
        r["o_orderpriority"]: r
        for r in _QUERIES["q_gini_concentration"](spark, SF_DIR).collect()
    }
    for prio, g in odf.groupby("o_orderpriority"):
        x = sorted(g.groupby("o_custkey")["cents"].sum().tolist())
        n, total = len(x), sum(x)
        mad_sum = sum(abs(a - b) for a in x for b in x)  # includes a==b
        gini_pairwise = mad_sum / (2 * n * total)
        r = got[prio]
        assert (r["n_customers"], r["total_cents"]) == (n, total)
        assert abs(r["gini"] - gini_pairwise) < 1e-12, prio


def test_ab_welch_matches_scipy_style_formula(spark):
    """Welch t from pandas moments (float64 path, formulated
    independently of the engine's decimal-exact sums)."""
    edf = pd.read_parquet(f"{SF_DIR}/events.parquet")
    edf = edf[edf["value"].notna()]
    got = {
        r["event_type"]: r
        for r in _QUERIES["q_ab_welch"](spark, SF_DIR).collect()
    }
    for etype, g in edf.groupby("event_type"):
        a = g.loc[g.user_id % 2 == 0, "value"]
        b = g.loc[g.user_id % 2 == 1, "value"]
        if len(a) < 2 or len(b) < 2:
            assert etype not in got
            continue
        t = (a.mean() - b.mean()) / (
            (a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)) ** 0.5
        )
        r = got[etype]
        assert (r["n_a"], r["n_b"]) == (len(a), len(b))
        assert abs(r["t_stat"] - t) < 1e-9, etype
        assert r["significant"] == (abs(r["t_stat"]) > 1.96)


def test_rrf_fusion_matches_bruteforce(spark):
    """Fused top-20 vs a dict-based reimplementation."""
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li["cents"] = (
        li["l_extendedprice"].round(2).mul(100).round().astype("int64")
    )
    m = li.groupby("l_partkey").agg(
        revenue=("cents", "sum"), qty=("l_quantity", lambda s: int(s.sum()))
    )
    rev_rank = {
        p: i + 1
        for i, p in enumerate(
            sorted(m.index, key=lambda p: (-m.loc[p, "revenue"], p))
        )
    }
    qty_rank = {
        p: i + 1
        for i, p in enumerate(
            sorted(m.index, key=lambda p: (-m.loc[p, "qty"], p))
        )
    }
    rrf = {
        p: 1.0 / (60 + rev_rank[p]) + 1.0 / (60 + qty_rank[p])
        for p in m.index
    }
    want = sorted(rrf, key=lambda p: (-rrf[p], p))[:20]
    got = _QUERIES["q_rrf_fusion"](spark, SF_DIR).collect()
    assert [r["l_partkey"] for r in sorted(got, key=lambda r: (-r["rrf"], r["l_partkey"]))] == want
    for r in got:
        p = r["l_partkey"]
        assert (r["rank_rev"], r["rank_qty"]) == (rev_rank[p], qty_rank[p])
        assert r["rrf"] == rrf[p]


def test_hits_matches_python_power_iterations(spark):
    """2 HITS iterations with the same fixed-point truncation, in
    plain Python dicts."""
    from collections import defaultdict

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    edges = sorted(set(zip(li["l_partkey"], li["l_suppkey"])))
    by_p, by_s = defaultdict(list), defaultdict(list)
    for p, s in edges:
        by_p[p].append(s)
        by_s[s].append(p)
    import math

    hub = {s: 1.0 for s in by_s}
    auth = {}
    for _ in range(2):
        av = {p: sum(math.floor(hub[s] * 1e12) for s in ss) for p, ss in by_p.items()}
        amax = max(av.values())
        auth = {p: float(v) / float(amax) for p, v in av.items()}
        hv = {s: sum(math.floor(auth[p] * 1e12) for p in ps) for s, ps in by_s.items()}
        hmax = max(hv.values())
        hub = {s: float(v) / float(hmax) for s, v in hv.items()}
    top_a = sorted(auth, key=lambda p: (-auth[p], p))[:10]
    top_h = sorted(hub, key=lambda s: (-hub[s], s))[:10]
    got = _QUERIES["q_hits"](spark, SF_DIR).collect()
    ga = {r["rank"]: r for r in got if r["entity"] == "part"}
    gh = {r["rank"]: r for r in got if r["entity"] == "supplier"}
    for i, p in enumerate(top_a, start=1):
        assert (ga[i]["key"], ga[i]["score"]) == (p, auth[p]), i
    for i, s in enumerate(top_h, start=1):
        assert (gh[i]["key"], gh[i]["score"]) == (s, hub[s]), i


def test_benford_matches_python_counter(spark):
    """Digit counts from string math in Python, expected shares from
    math.log10 directly, chi-square re-summed in Python floats."""
    import math
    from collections import Counter

    odf = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    vals = odf.loc[odf["o_totalprice"] >= 1, "o_totalprice"]
    digits = Counter(str(int(math.floor(v)))[0] for v in vals)
    n = sum(digits.values())
    got = {r["digit"]: r for r in _QUERIES["q_benford"](spark, SF_DIR).collect()}
    assert set(got) == set(range(1, 10))
    chi2 = 0.0
    for d in range(1, 10):
        r = got[d]
        obs = digits.get(str(d), 0)
        exp = math.log10(1 + 1 / d)
        assert r["n_obs"] == obs and r["n_total"] == n
        assert r["exp_share"] == exp
        assert r["obs_share"] == obs / n
        term = (obs - n * exp) ** 2 / (n * exp)
        assert abs(r["chi2_term"] - term) < 1e-9
        chi2 += term
    for d in range(1, 10):
        assert abs(got[d]["chi2_total"] - chi2) < 1e-6


def test_autocorr_matches_numpy(spark):
    """Lag-k ACF vs numpy.corrcoef over positionally-lagged pairs."""
    import numpy as np

    odf = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    odf["month"] = odf["o_orderdate"].dt.strftime("%Y-%m")
    got = {
        (r["o_orderpriority"], r["lag"]): r
        for r in _QUERIES["q_autocorr"](spark, SF_DIR).collect()
    }
    seen = set()
    for prio, g in odf.groupby("o_orderpriority"):
        series = g.groupby("month").size().sort_index().to_numpy(float)
        for lag in (1, 12):
            if len(series) <= lag + 1:
                assert (prio, lag) not in got
                continue
            x, y = series[:-lag], series[lag:]
            r_np = np.corrcoef(x, y)[0, 1]
            r = got[(prio, lag)]
            seen.add((prio, lag))
            assert r["n_pairs"] == len(x)
            assert abs(r["acf"] - r_np) < 1e-9, (prio, lag)
    assert seen == set(got)


def test_seasonality_matches_pandas(spark):
    """Order share and AOV index vs direct pandas ratios."""
    odf = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    odf["dow"] = (odf["o_orderdate"].dt.dayofweek + 1) % 7  # Sunday=0
    odf["cents"] = (
        odf["o_totalprice"].round(2).mul(100).round().astype("int64")
    )
    got = {
        (r["o_orderpriority"], r["dow"]): r
        for r in _QUERIES["q_seasonality"](spark, SF_DIR).collect()
    }
    n_rows = 0
    for prio, g in odf.groupby("o_orderpriority"):
        n_p, rev_p = len(g), int(g["cents"].sum())
        for dow, gd in g.groupby("dow"):
            n_pd, rev_pd = len(gd), int(gd["cents"].sum())
            r = got[(prio, int(dow))]
            n_rows += 1
            assert (r["n_orders"], r["revenue_cents"]) == (n_pd, rev_pd)
            assert r["order_share"] == (n_pd * 7) / n_p
            aov_index = (rev_pd * n_p) / (n_pd * rev_p)
            assert abs(r["aov_index"] - aov_index) < 1e-12
    assert n_rows == len(got)


def test_decay_topk_matches_python_fixed_point(spark, events_pdf):
    """Fixed-point decayed scores vs a Python dict replay."""
    from collections import Counter, defaultdict

    days = events_pdf["ts"].dt.date
    ref = days.max()
    per = defaultdict(Counter)
    for uid, day in zip(events_pdf["user_id"], days):
        per[uid][(ref - day).days] += 1
    score = {
        u: sum(c << (30 - k) for k, c in ks.items() if k <= 30)
        for u, ks in per.items()
    }
    top = sorted(score, key=lambda u: (-score[u], u))[:10]
    got = _QUERIES["q_decay_topk"](spark, SF_DIR).collect()
    assert [r["user_id"] for r in got] == top
    for r in got:
        u = r["user_id"]
        assert r["score_fp"] == score[u]
        assert r["score"] == score[u] / (1 << 30)
        assert r["n_events"] == sum(per[u].values())
        assert r["days_since_last"] == min(per[u])


def test_conversion_latency_matches_python_replay(spark, events_pdf):
    """Per-channel latency order statistics vs a direct replay."""
    from collections import defaultdict

    edf = events_pdf[
        events_pdf["event_type"].isin(["purchase", "view", "click"])
    ]
    lats = defaultdict(list)
    for _, g in edf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        window = []
        for _, row in g.iterrows():
            if row["event_type"] == "purchase":
                if window:
                    ch, t0 = window[0]
                    us = (row["ts"] - t0) // pd.Timedelta(microseconds=1)
                    lats[ch].append(int(us))
                window = []
            else:
                window.append((row["event_type"], row["ts"]))
    got = {
        r["channel"]: r
        for r in _QUERIES["q_conversion_latency"](spark, SF_DIR).collect()
    }
    assert set(got) == {ch for ch, v in lats.items() if v}
    for ch, v in lats.items():
        v = sorted(v)
        n = len(v)
        r = got[ch]
        assert r["n_conversions"] == n
        assert r["min_latency_us"] == v[0]
        assert r["max_latency_us"] == v[-1]
        assert r["median_latency_us"] == (
            v[(n + 1) // 2 - 1] + v[(n + 2) // 2 - 1]
        ) / 2
        assert r["p90_latency_us"] == v[(9 * n + 9) // 10 - 1]


def test_degree_assortativity_matches_networkx_style(spark):
    """Assortativity vs the symmetrized-pair Pearson computed in
    Python (the standard definition networkx implements)."""
    from collections import defaultdict

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    li = li[li["l_orderkey"] % 5 == 0]
    edges = set()
    for _, g in li.groupby("l_orderkey"):
        parts = sorted(set(g["l_partkey"]))
        for i, a in enumerate(parts):
            for b in parts[i + 1 :]:
                edges.add((a, b))
    deg = defaultdict(int)
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    r_py = (n * sxy - sx * sy) / (
        ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
    )
    [r] = _QUERIES["q_degree_assortativity"](spark, SF_DIR).collect()
    assert r["n_nodes"] == len(deg) and r["n_edges"] == len(edges)
    assert r["min_degree"] == min(deg.values())
    assert r["max_degree"] == max(deg.values())
    assert r["avg_degree"] == 2 * len(edges) / len(deg)
    assert abs(r["assortativity"] - r_py) < 1e-9


def test_pack_bpe_tokens_match_bpe_encode(spark):
    """r10 verdict #1 pin: the tokenizer-true packer must budget on the
    EXACT per-doc BPE token counts q_bpe_encode reports (same trained
    vocabulary, same encode), and its pack assignment must replay the
    greedy per-language cumulative rule over those counts."""
    enc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in _QUERIES["q_bpe_encode"](spark, SF_DIR).collect()
    }
    packed = _QUERIES["q_pack_sequences_bpe"](spark, SF_DIR).collect()
    assert {r["doc_id"] for r in packed} == set(enc)
    for r in packed:
        assert r["n_tokens"] == enc[r["doc_id"]], r["doc_id"]
    # replay the greedy packing per language in plain Python
    by_lang = defaultdict(list)
    for r in packed:
        by_lang[r["lang"]].append(r)
    for lang, rows in by_lang.items():
        cum = 0
        for r in sorted(rows, key=lambda x: x["doc_id"]):
            assert r["tok_start"] == cum, (lang, r["doc_id"])
            assert r["pack_id"] == cum // 4096, (lang, r["doc_id"])
            cum += r["n_tokens"]


def test_mix_budget_bpe_greedy_fill(spark):
    """The BPE mix-budget fill must keep exactly the hash-order prefix
    of each language whose cumulative BPE token count strays below the
    quota, with the boundary-crossing doc kept (greedy fill)."""
    enc = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in _QUERIES["q_bpe_encode"](spark, SF_DIR).collect()
    }
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "lang"]]
    budgets = {"en": 8000, "zh": 4000}
    got = {
        r["doc_id"]: r
        for r in _QUERIES["q_mix_budget_bpe"](spark, SF_DIR).collect()
    }
    for lang, g in docs.groupby("lang"):
        budget = budgets.get(lang, 2000)
        order = sorted(
            g["doc_id"].tolist(),
            key=lambda d: (((d % 2147483648) * 2654435761) % 4294967296, d),
        )
        cum = 0
        for d in order:
            keep = cum < budget
            if keep:
                cum += enc[d]
                assert d in got and got[d]["cum_tokens"] == cum, (lang, d)
            else:
                assert d not in got, (lang, d)


def test_kll_merge_split_invariance_property(spark):
    """The merge law behind q_quantile_merge under ARBITRARY row
    splits: for any values and any assignment of rows to slices, the
    quantile read from kll_merge_agg over per-slice sketches must have
    an exact normalized rank within the sketch bound of its target —
    merging never degrades the guarantee.  (Bit-equality across splits
    is deliberately NOT asserted: KLL compaction is insertion-order
    dependent by design, same reason q_hll_merge gates bounds.)  Small
    example budget: each example is a Spark round-trip."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    @settings(max_examples=8, deadline=None)
    @given(
        vals=st.lists(
            st.floats(-1e6, 1e6, allow_nan=False, width=32),
            min_size=20,
            max_size=250,
        ),
        nsplits=st.integers(1, 7),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(vals, nsplits, seed):
        rng = random.Random(seed)
        df = spark.createDataFrame(
            [(float(v), rng.randrange(nsplits)) for v in vals],
            "v double, sl int",
        )
        merged = (
            df.groupBy("sl")
            .agg(F.kll_sketch_agg_double("v").alias("sk"))
            .agg(F.kll_merge_agg_double("sk").alias("m"))
            .select(
                F.kll_sketch_get_quantile_double("m", F.lit(0.5)).alias("q50"),
                F.kll_sketch_get_quantile_double("m", F.lit(0.9)).alias("q90"),
            )
            .first()
        )
        n = len(vals)
        s = sorted(vals)
        for p, est in ((0.5, merged["q50"]), (0.9, merged["q90"])):
            import bisect

            # a repeated value occupies a rank INTERVAL [lo, hi]; the
            # sketch guarantee is that the interval comes within the
            # bound of the target rank (all-duplicate input: est is
            # the duplicate, interval is [0, 1], any p qualifies)
            lo = bisect.bisect_left(s, est) / n
            hi = bisect.bisect_right(s, est) / n
            eps = 0.05 + 1.0 / n  # bound + inclusive-convention wobble
            assert lo - eps <= p <= hi + eps, (p, est, lo, hi, n)

    check()
