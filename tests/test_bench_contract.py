"""The round driver tail-captures the last 2000 chars of bench.py's
stdout and json-parses the final line; round 4's line outgrew the
window and the bench gate silently skipped.  Pin the contract: the
compact line stays under the window and stays parseable at any
plausible suite size."""

from __future__ import annotations

import json

import bench


def _fake_timings(n: int) -> dict[str, float]:
    return {f"q_operator_family_name_{i:03d}": 0.1 + (i % 40) / 7.0 for i in range(n)}


def test_compact_line_fits_tail_window_at_every_scale():
    for n in (10, 93, 120, 200, 400):
        line = bench._compact_line(123.4567, _fake_timings(n), 0.1)
        assert len(line) <= 1980, (n, len(line))
        p = json.loads(line)
        assert {"metric", "value", "unit", "queries", "sf"} <= set(p)
        # truncation, if any, is DECLARED — never silent
        if len(p["queries"]) < n:
            assert p["queries_truncated"] == n - len(p["queries"])
            assert p["detail"] == "BENCH_DETAIL.json"
            # slowest queries survive truncation (the regression signal)
            kept = set(p["queries"])
            t = _fake_timings(n)
            key = {k[2:] if k.startswith("q_") else k: v for k, v in t.items()}
            dropped_max = max(v for k, v in key.items() if k not in kept)
            kept_min = min(v for k, v in key.items() if k in kept)
            assert dropped_max <= kept_min + 1e-9


def test_compact_line_mixed_prefix_fleet_never_collides():
    """If ever a metric name lacks the q_ prefix, stripping would merge
    'q_foo' and 'foo' and silently drop a measurement — the ladder must
    skip the strip rung entirely for a mixed fleet."""
    t = _fake_timings(200)  # big enough to overflow the full-name rung
    t["no_prefix_metric"] = 9.9
    t["q_no_prefix_metric"] = 1.1  # the collision partner
    p = json.loads(bench._compact_line(50.0, t, 0.1))
    assert "key_prefix" not in p
    kept = p["queries"]
    # both collision partners are distinguishable (the slow one, at
    # least, must survive truncation; the fast one may be truncated but
    # never silently MERGED)
    assert kept.get("no_prefix_metric") == 9.9
    total_accounted = len(kept) + p.get("queries_truncated", 0)
    assert total_accounted == len(t)


def test_compact_line_current_suite_fits_and_accounts():
    """At today's declared-query count the line must fit the driver's
    ~2000-char tail window and account for every query: kept + declared
    truncation == suite size, and any truncation carries the loud
    sidecar pointer.  (Up to 98 queries the 1dp rung held everything;
    the suite has since outgrown the window, so the slowest-subset rung
    is the designed behavior, not a defect.)"""
    from pulsar_sync_java_spark.queries import all_queries

    t = {n: 1.2345 for n in all_queries()}
    line = bench._compact_line(99.9, t, 0.1)
    assert len(line) <= 1980
    p = json.loads(line)
    assert len(p["queries"]) + p.get("queries_truncated", 0) == len(t)
    if "queries_truncated" in p:
        assert p["detail"] == "BENCH_DETAIL.json"


def test_compact_line_carries_whole_suite_signals():
    """r14 (r13 verdict #4): the line must carry truncation-proof
    whole-suite signals — geomean of ALL per-query bests, the suite
    size, and per-family rollups — so the driver's round-over-round
    radar is not limited to the ~half of the suite that fits the
    2000-char window.  Additions only: every pre-existing key stays."""
    import math

    for n in (10, 93, 200, 400):
        t = _fake_timings(n)
        p = json.loads(bench._compact_line(123.4, t, 0.1))
        assert p["n_queries"] == n
        exp = math.exp(sum(math.log(max(v, 1e-4)) for v in t.values()) / n)
        assert abs(p["geomean"] - exp) < 1e-3
        assert {"metric", "value", "unit", "queries", "sf"} <= set(p)
    # real suite names produce a family rollup computed over ALL
    # queries (not just the ones that survived truncation)
    from pulsar_sync_java_spark.queries import all_queries

    names = list(all_queries())
    t = {k: 1.0 for k in names}
    p = json.loads(bench._compact_line(99.9, t, 0.1))
    fams = p["families"]
    assert fams["ann"] >= 4.0  # 4+ ANN family members at 1.0s each
    assert all(len(vs) <= 40 for vs in fams)  # bounded tokens
    # geomean of all-1.0 timings is exactly 1.0 regardless of truncation
    assert abs(p["geomean"] - 1.0) < 1e-9


def test_compact_line_pathological_key_still_fits():
    """ADVICE r5: one absurdly long query name must not break the
    guaranteed-fit contract — the last resort is queries={} with the
    truncation declared."""
    t = {"q_" + "x" * 5000: 1.2345, "q_ok": 0.5}
    line = bench._compact_line(9.9, t, 0.1)
    assert len(line) <= 1980
    p = json.loads(line)
    assert p["queries"] == {}
    assert p["queries_truncated"] == 2
    assert p["detail"] == "BENCH_DETAIL.json"


# ----------------------------------------------- persisted-plan allowlist

#: Every `.persist()` call site in the engine package, as
#: (module-relative path, enclosing function) -> call count.  This is
#: the cache population a full `queries()` session can accumulate
#: (SCALE.md §9 documents each entry's justification and lifetime).
#: A NEW operator must not silently join it: the round-7 bench-creep
#: investigation had to rule the no-unpersist caches out as a suspect
#: (SCALE.md §10), and that audit only stays cheap while the
#: population is a declared, reviewed set.  If you add a persist, add
#: it here AND to SCALE.md §9 with its release story.
PERSIST_ALLOWLIST = {
    ("operators/dedup.py", "_shingle_arrays"): 1,       # THE shared shingle-array projection (session-lifetime, plan-matched; serves overlap metrics + set sizes)
    ("operators/graph.py", "connected_components"): 2,  # forest iterates; intermediates released in-loop
    ("operators/graph.py", "count_triangles"): 2,       # edge + oriented-edge tables (session-lifetime)
    ("operators/graph.py", "pagerank"): 2,              # edges + degree join (released: nodes/ed unpersist)
    ("operators/graph.py", "tree_roots"): 4,            # pointer-doubling states; released in-loop / on finish
    ("operators/heavy_hitters.py", "heavy_hitters"): 1, # MG summaries (tiny: P*(k+1) rows, session-lifetime)
    ("operators/similarity.py", "embedding_near_pairs"): 1,  # signature projection (session-lifetime)
    ("operators/similarity.py", "ann_calibration"): 1,  # exact top-k anchor (|Q| x k rows; 6 consumers)
    ("operators/dedup.py", "simhash_calibration"): 2,  # fingerprints (3 consumers: pigeonhole pairing + both pair lookups) and token counts (3: norms + both dot sides) — without them the Arrow simhash kernel runs 3x and the tokenize 4x
    ("queries/clustering.py", "_semantic_dedup_pipeline"): 1,  # (vec_id, cluster) assignment table (narrow, 3 consumers); shared by q_semantic_dedup and the auto-K semantic_dedup helper
    ("queries/clustering.py", "_kmeans_assignments_expr"): 1,  # final (vec_id, cluster) assignment (narrow): the eager size collect and the returned plan otherwise EACH evaluate the K-fold argmin over the corpus — one full extra pass (r14, r13 verdict #2)
    ("queries/dedup_scale.py", "q_ann_pq_topk"): 1,     # 10-row approx result (cardinality agg + recall join share the encode+ADC lineage)
    ("queries/dedup_scale.py", "q_sketch_calibration"): 1,   # portable sigs (banded subtree + 2 lookups; plan-matched with q_minhash_lsh)
    ("queries/dedup_scale.py", "q_incremental_dedup"): 1,    # minhash sigs (plan-matched with the other sig users)
    ("queries/dedup_scale.py", "q_minhash_lsh"): 1,
    ("queries/aggregates.py", "q_hll_intersect"): 1,    # distinct (type, key) set (sketch agg + exact joins share it)
    ("queries/behavior.py", "q_assoc_rules"): 1,        # per-basket sorted item arrays, guarded BEFORE collect (pair explode + supports explode + basket count)
    ("queries/extras.py", "_copurchase_edges"): 1,      # THE shared symmetric co-purchase edge table (mod=5 slice, plan-matched, FLAT — consumers derive views by filter/rename, never by stacking persists; serves q_triangle_count + q_bfs_khop + q_degree_assortativity)
    ("queries/extras.py", "q_label_prop"): 1,           # symmetric co-purchase edge table (mod=7 — unshared slice, so the family cache gains nothing; 3 LPA iterations probe it)
    ("queries/extras.py", "q_bfs_khop"): 1,             # per-level frontier (feeds next frontier AND the visited union; unpersisted the subtree doubles per level — 60 AQE jobs measured); the symmetric edge table is the shared _copurchase_edges entry
    ("queries/extras.py", "q_degree_assortativity"): 1, # node-sized degree table (pair joins + global stats); the edge set is _copurchase_edges
    ("queries/extras.py", "q_hits"): 3,                 # edge table + per-iteration score frames (max agg + join-back each read them; uncut the subtree doubles per iteration)
    ("queries/pipeline.py", "_bpe_learn"): 1,          # char-split word-frequency vocab: ONE plan-matched cache entry shared by q_bpe_train/encode and both tokenizer-true budget queries; every merge iteration re-reads it
    ("queries/pipeline.py", "_bpe_doc_word_counts"): 1,  # (doc, lang, word, n_occ) counts — the one corpus-sized encode step, shared plan-matched by q_bpe_encode + q_pack_sequences_bpe + q_mix_budget_bpe (r14; flat cache, consumers project from it)
    ("queries/pipeline.py", "q_char_diversity"): 1,     # (doc, char) count aggregate (diversity agg + argmax share it)
    ("queries/extras.py", "q_bm25_topk"): 1,            # (doc, term) tf aggregate = the inverted index (3 consumers)
    ("queries/pipeline.py", "q_chi2_terms"): 1,         # (lang, token) count aggregate (marginals + scoring share it)
    ("queries/extras.py", "q_tfidf_topterms"): 1,       # (doc, term) tf aggregate
    ("queries/stats.py", "q_ks_drift"): 1,              # distinct-value count table (aggregate-sized)
    ("queries/stats.py", "q_skew_report"): 1,           # per-key size aggregate (tiny)
    ("queries/training.py", "q_corpus_materialize"): 1, # feature table = pushdown barrier (measured 13x)
    ("queries/training.py", "q_dedup_keepers"): 1,      # minhash sigs (plan-matched)
}


def test_persist_population_matches_declared_allowlist():
    """AST census of `.persist()` calls across the package (immune to
    comments/docstrings, unlike grep) must equal PERSIST_ALLOWLIST —
    red on any undeclared persist OR any stale allowlist entry."""
    import ast
    import os

    import pulsar_sync_java_spark as pkg

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    found: dict[tuple[str, str], int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            tree = ast.parse(open(path).read(), filename=path)

            class V(ast.NodeVisitor):
                def __init__(self) -> None:
                    self.stack: list[str] = []

                def visit_FunctionDef(self, n) -> None:
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n) -> None:
                    if (
                        isinstance(n.func, ast.Attribute)
                        and n.func.attr == "persist"
                    ):
                        key = (rel, self.stack[-1] if self.stack else "<module>")
                        found[key] = found.get(key, 0) + 1
                    self.generic_visit(n)

            V().visit(tree)
    assert found == PERSIST_ALLOWLIST, (
        "persist() population changed — declare it in PERSIST_ALLOWLIST "
        f"and SCALE.md §9 or release it.\nnew/changed: "
        f"{ {k: v for k, v in found.items() if PERSIST_ALLOWLIST.get(k) != v} }\n"
        f"stale: { {k: v for k, v in PERSIST_ALLOWLIST.items() if found.get(k) != v} }"
    )


def test_detail_sidecar_name_suffixed_off_canonical_dir():
    """A verify/debug bench run against anything but the canonical
    dataset must not clobber the committed BENCH_DETAIL.json (r12
    verdict #7)."""
    assert (
        bench._detail_name(0.1, bench.CANONICAL_SF_DIR)
        == "BENCH_DETAIL.json"
    )
    assert (
        bench._detail_name(0.01, "/root/testdata/sf0.01")
        == "BENCH_DETAIL_sf0.01.json"
    )
    assert (
        bench._detail_name(1.0, "/root/repo/localdata/sf1")
        == "BENCH_DETAIL_sf1.0.json"
    )
    assert (
        bench._detail_name("sf-custom", "/tmp/odd")
        == "BENCH_DETAIL_sfsf-custom.json"
    )


def test_detail_sidecar_name_keys_on_canonical_dir_not_sf_value():
    """Review-pass catch: a localdata/sf0.1 scaling-slice run parses
    to the same sf VALUE as the canonical dataset — only the canonical
    /root/testdata/sf0.1 dir may claim the bare sidecar name."""
    assert (
        bench._detail_name(0.1, "/root/repo/localdata/sf0.1")
        == "BENCH_DETAIL_sf0.1.json"
    )
    assert (
        bench._detail_name(0.1, "/root/testdata/sf0.1")
        == "BENCH_DETAIL.json"
    )
