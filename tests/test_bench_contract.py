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


# ----------------------------------------------- declared cache population

def test_cache_population_matches_declared_caches():
    """AST census (immune to comments and docstrings): `.persist(` is
    called only in `operators/util.py:cached`, and every `cached(...)`
    names a literal key of `CACHES`, one call site per key, with no
    declared key left unused."""
    import ast
    import inspect
    import os

    import pulsar_sync_java_spark as pkg
    from pulsar_sync_java_spark.operators import util

    root = os.path.dirname(os.path.abspath(pkg.__file__))
    persists, keys = [], []
    for dirpath, _dirs, files in os.walk(root):
        for fname in (f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            for n in ast.walk(ast.parse(open(path).read(), filename=path)):
                f = getattr(n, "func", None)
                name = getattr(f, "attr", None) or getattr(f, "id", None)
                if name == "persist":
                    persists.append((rel, n.lineno))
                elif name == "cached":
                    key = n.args[1]
                    assert isinstance(key, ast.Constant), (rel, n.lineno)
                    keys.append(key.value)
    body, first = inspect.getsourcelines(util.cached)
    assert [r for r, line in persists] == ["operators/util.py"], persists
    assert first <= persists[0][1] < first + len(body), persists
    assert not set(keys) - set(util.CACHES), f"undeclared: {set(keys) - set(util.CACHES)}"
    assert not set(util.CACHES) - set(keys), f"unused: {set(util.CACHES) - set(keys)}"
    reused = sorted({k for k in keys if keys.count(k) > 1})
    assert not reused, f"one call site per key: {reused}"


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
