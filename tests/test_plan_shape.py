"""Physical-plan regression tests (the 100 TB discipline, SURVEY.md §4):
these assert the plan SHAPE Catalyst produces, not results — a correct
answer from a plan that stops pushing filters, pruning columns, or
broadcasting dims would silently stop scaling.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from pulsar_sync_java_spark.queries import all_queries
from pulsar_sync_java_spark.sources.tables import TABLES, load_table
from tests.conftest import SF_DIR, jobs_of


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def queries():
    return all_queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    """q_filter_predicate's status/date predicates must appear as
    PushedFilters on the parquet scan, not post-scan Filter-only."""
    plan = plan_of(queries["q_filter_predicate"](spark, SF_DIR))
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("o_orderstatus" in l or "o_orderdate" in l for l in pushed), pushed


def test_column_pruning_reaches_scan(spark, queries):
    """q_scan_project touches 4 lineitem columns; the scan must not
    read the other 12 (ReadSchema is the pruned struct)."""
    plan = plan_of(queries["q_scan_project"](spark, SF_DIR))
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    assert "l_extendedprice" in read
    for unread in ("l_comment", "l_shipmode", "l_receiptdate"):
        assert unread not in read, read


def test_small_dims_broadcast(spark, queries):
    """customer ⋈ nation ⋈ region must broadcast the dims (hash join),
    never shuffle the fact side on a dim key."""
    plan = plan_of(queries["q_join_broadcast"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_products_anywhere(spark, queries):
    """No declared query may plan a CartesianProduct — the only
    intentional cross join (q_sim_topk's 1-row query vector) must be
    a BroadcastNestedLoopJoin.  The ~134 plans compile concurrently
    (planning releases the GIL in the JVM; the r9 suite-runtime pass —
    same device as test_oracle's batched comparisons)."""
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        name, fn = item
        return name if "CartesianProduct" in plan_of(fn(spark, SF_DIR)) else None

    with ThreadPoolExecutor(max_workers=6) as pool:
        offenders = [n for n in pool.map(check, queries.items()) if n]
    assert not offenders, offenders


def test_asof_join_is_single_shuffle_window(spark, queries):
    """The as-of join must be the union+window formulation: no range
    join (BroadcastNestedLoopJoin) and no more than one shuffle of the
    unioned stream (operators/asof.py)."""
    plan = plan_of(queries["q_asof_join"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowExec" in plan or "Window" in plan


def test_groupby_agg_is_partial_final(spark, queries):
    """TPC-H Q1 shape: map-side partial aggregation before the single
    exchange (a final-only agg shuffles every input row — a 10x
    regression at scale)."""
    plan = plan_of(queries["q_groupby_agg"](spark, SF_DIR))
    assert "HashAggregate" in plan
    assert "partial_" in plan  # map-side combine present
    assert plan.count("Exchange") <= 2  # one shuffle (+AQE read)


def test_sketch_operators_have_no_generator_filter(spark, queries):
    """The InferFiltersFromGenerate exclusion must hold: no synthesized
    size(<computed shingle expr>)>0 filter re-evaluating the generator
    at the scan (session.py; measured ~8s/query when it regresses)."""
    plan = plan_of(queries["q_ngram_jaccard"](spark, SF_DIR))
    scan_filters = [
        l for l in plan.splitlines() if "Condition" in l and "array_distinct" in l
    ]
    assert not scan_filters, scan_filters


def test_unpivot_is_expand_not_union_rescan(spark, queries):
    """df.unpivot must plan ONE scan + Expand; the UNION ALL oracle
    formulation would scan lineitem once per measure column."""
    plan = plan_of(queries["q_unpivot"](spark, SF_DIR))
    assert "Expand" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_time_rollup_is_one_scan_one_aggregate(spark, queries):
    """Grouping sets: both resolutions from one scan + one Expand +
    one partial/final aggregate pair — adding a resolution must not
    add a scan."""
    plan = plan_of(queries["q_time_rollup_multi"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan
    assert "partial_" in plan


def test_conditional_agg_single_pass(spark, queries):
    """All filtered metrics in one partial+final hash aggregate: one
    scan, at most one shuffle."""
    plan = plan_of(queries["q_conditional_agg"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "HashAggregate" in plan and "partial_" in plan


def test_minhash_pair_stage_single_aggregation_shuffle(spark, queries):
    """The rewritten candidate generation: collect_list bucket agg +
    in-bucket pair explosion — the plan must contain an
    ObjectHashAggregate (collect_list) and NO join before the pair
    dedup other than the signature join-backs (i.e. no bucket-census
    join, no per-bucket self-join)."""
    plan = plan_of(queries["q_minhash_lsh"](spark, SF_DIR))
    assert "ObjectHashAggregate" in plan
    # exactly the two signature join-backs remain as equi-joins
    n_joins = len(
        re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)
    )
    assert n_joins <= 2, plan


def test_embedding_neardup_shares_signature_projection(spark, queries):
    """The expensive-family audit (VERDICT r3 #2): the persisted
    signature projection (id, vec, norm, sig) must feed all three
    consumers — banded bucketing and both pair join-backs — from ONE
    cache entry, candidates must come from a collect_list bucket agg
    (no per-bucket self-join), and the join-backs must broadcast the
    tiny deduplicated pair set, never shuffle the vector table."""
    plan = plan_of(queries["q_embedding_neardup"](spark, SF_DIR))
    # three consumers of the one persisted projection
    assert plan.count("InMemoryTableScan") >= 3, plan
    # bucket pairing is collect_list + explode, not a join
    assert "ObjectHashAggregate" in plan
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", plan)
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins
    assert len(joins) <= 2, joins  # exactly the two pair join-backs


def test_ann_ivf_stays_vectorized_topk(spark, queries):
    """q_ann_ivf_topk: the cluster assignment must run as an Arrow-
    vectorized pandas UDF (ArrowEvalPython, never row-at-a-time
    BatchEvalPython) and both the probe's and the exact baseline's
    top-k are TakeOrderedAndProject — no global sort.  Since the r7
    partial oracle the query carries the recall-gate joins too, but
    they only ever combine k-row/1-row sides: broadcast by
    construction, never a SortMergeJoin (which would mean a shuffle of
    something corpus-sized)."""
    plan = plan_of(queries["q_ann_ivf_topk"](spark, SF_DIR))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Sort " not in plan  # top-k must not globally sort


def test_ann_pq_adc_stays_jvm_side(spark, queries):
    """q_ann_pq_topk: ONE Arrow stage (the cell+codes encode kernel —
    never row-at-a-time BatchEvalPython); the ADC distance itself is
    JVM higher-order expressions over the broadcast LUT join, so no
    second Python stage appears; both the candidate cut and the final
    top-k are TakeOrderedAndProject; every join broadcasts (the LUT
    table is nprobe rows, the rerank id set is `rerank` rows) — a
    SortMergeJoin or CartesianProduct would mean something
    corpus-sized shuffled or paired."""
    plan = plan_of(queries["q_ann_pq_topk"](spark, SF_DIR))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Sort " not in plan  # candidate cut + top-k never globally sort
    joins = re.findall(r"\(\d+\) (\w*Join\w*)", plan)
    assert joins and all(
        j in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for j in joins
    ), joins


def test_join_salted_broadcasts_hot_set(spark, queries):
    """q_join_salted: the detected hot-key set must reach both branch
    filters as a BROADCAST (LeftSemi picks the hot rows, LeftAnti the
    cold rest — a shuffled semi-join on the skewed key would reintroduce
    the very hotspot salting exists to remove), and the salt expansion
    of the build side is a Generate."""
    plan = plan_of(queries["q_join_salted"](spark, SF_DIR))
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "Generate" in plan  # explode(salt range) on the build side
    assert "SortMergeJoin LeftSemi" not in plan
    assert "SortMergeJoin LeftAnti" not in plan


def test_knn_join_single_ranking_shuffle(spark, queries):
    """q_knn_join: queries broadcast (BroadcastNestedLoopJoin BuildRight
    — the corpus side never shuffles for scoring), partition-local
    pandas top-k (MapInPandas) BEFORE the one hash shuffle on query_id
    that feeds the final ranking window."""
    plan = plan_of(queries["q_knn_join"](spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" in plan and "BuildRight" in plan
    # exactly one hash shuffle, keyed by query_id (the ranking window);
    # the only other Exchange is the round-robin input spread
    hash_ex = re.findall(r"hashpartitioning\(query_id", plan)
    assert len(hash_ex) == 1, plan
    plain_ex = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(plain_ex) <= 2, plan
    # prereduce sits upstream of the shuffle: MapInPandas node id is
    # smaller than the hash Exchange's in the formatted tree
    ids = {
        m.group(2): int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (MapInPandas|Exchange)\b", plan)
    }
    assert ids["MapInPandas"] < ids["Exchange"], ids


def test_dedup_cluster_contracts_with_broadcast_joins(spark, queries):
    """q_dedup_cluster: the connected-components finish must read the
    persisted contracted forest from cache (InMemoryTableScan), run the
    contraction kernels as MapInPandas, and resolve labels with
    BROADCAST joins only — a SortMergeJoin here would mean the
    count-gated finish regressed to shuffling the (bounded) forest."""
    plan = plan_of(queries["q_dedup_cluster"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" in plan
    joins = re.findall(r"\(\d+\) \*?\s*(\w*Join\w*)", plan)
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins
    assert "CartesianProduct" not in plan


def test_multimodal_plumbing_never_shuffles(spark, queries):
    """q_image_resize (mapInPandas) and q_audio_window (generator) are
    per-row pipelines: their plans must contain zero shuffle exchanges —
    at 100 TB these scale with scan parallelism only."""
    for name, marker in (
        ("q_image_resize", "MapInPandas"),
        ("q_audio_window", "Generate"),
        ("q_frame_sample", "Generate"),
    ):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert marker in plan, name
        assert not re.findall(r"\(\d+\) Exchange\b", plan), name



def test_corpus_materialize_gate_reads_cached_features(spark, queries):
    """q_corpus_materialize's quality gate must read the persisted
    feature table, NOT a predicate pushed down over re-inlined
    tokenizer expressions: Catalyst pushes the gate through every
    exchange and projection to the scan, re-evaluating the interpreted
    higher-order shingle expressions per reference at single-file scan
    parallelism (measured 13x wall).  The cache is the barrier."""
    df = queries["q_corpus_materialize"](spark, SF_DIR)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in executed
    # the gate side must not re-run the tokenizer: outside the cached
    # relation's build plan there is no split() at all
    above_cache = executed.split("InMemoryRelation", 1)[0]
    assert "split(" not in above_cache, above_cache


ZERO_SHUFFLE_FAMILY = [
    # pure per-row projections: any Exchange here means an operator
    # started shuffling a corpus it never needed to move
    "q_doc_fingerprint", "q_token_count", "q_text_quality", "q_lang_id",
    "q_pii_scrub", "q_array_funcs", "q_repetition_ratio",
    "q_multimodal_meta", "q_image_resize", "q_audio_window",
    "q_frame_sample",
]


@pytest.mark.parametrize("name", ZERO_SHUFFLE_FAMILY)
def test_projection_family_stays_zero_shuffle(spark, queries, name):
    plan = plan_of(queries[name](spark, SF_DIR))
    assert "Exchange" not in plan, f"{name} grew a shuffle:\n{plan}"


EXPAND_FAMILY = ["q_rollup", "q_cube", "q_unpivot", "q_time_rollup_multi",
                 "q_distinct_count"]


@pytest.mark.parametrize("name", EXPAND_FAMILY)
def test_grouping_family_is_expand_based_single_scan(spark, queries, name):
    """Grouping sets / unpivot / multi-distinct must compile to ONE
    Expand over ONE scan of the fact table — a UNION-of-rescans plan
    multiplies 100 TB scans per grouping set."""
    plan = plan_of(queries[name](spark, SF_DIR))
    assert "Expand" in plan, f"{name} lost its Expand:\n{plan}"
    # formatted explain lists every operator twice (tree + detail);
    # count distinct scan operator ids from the detail section
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    # rollup joins 3 dims + 1 fact; the others read exactly one table
    limit = 4 if name == "q_rollup" else 1
    assert scans <= limit, f"{name}: {scans} scans (limit {limit})\n{plan}"


def test_domain_cap_windows_only_oversized_sources(spark, queries):
    """q_domain_cap's skew discipline: ONE Window (the hot-domain rank)
    fed through broadcast joins of the tiny per-source count table —
    under-cap rows must reach the union without a window, and the only
    non-broadcast shuffles are the count aggregate and the hot-slice
    window sort."""
    plan = plan_of(queries["q_domain_cap"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_semi_join_query_prefilters_in_scan_stage(spark, queries):
    """q_bloom_semi_join: the bloom must ride as a Filter (shiftleft
    bit tests) with exactly one real join in the plan."""
    plan = plan_of(queries["q_bloom_semi_join"](spark, SF_DIR))
    assert "shiftleft" in plan
    assert plan.count("LeftSemi") >= 1
    assert len(re.findall(r"\(\d+\) \w*Join", plan)) <= 2, plan


def test_fuzzy_join_blocks_with_equi_join_not_nested_loop(spark, queries):
    """q_fuzzy_join: deletion-variant blocking must keep the plan free
    of nested loops; the exact levenshtein check rides as a Filter."""
    plan = plan_of(queries["q_fuzzy_join"](spark, SF_DIR))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "levenshtein" in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) >= 1  # variant explode


def test_trend_ols_single_moments_aggregate(spark, queries):
    """q_trend_ols: one partial+final aggregate pair, no window, no
    join — the sums-row-per-group shape shared with q_corr_pearson."""
    plan = plan_of(queries["q_trend_ols"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) HashAggregate\b", plan)) == 2, plan
    assert "Join" not in plan and "Window" not in plan


def test_interval_overlap_is_bucketized_equi_join(spark, queries):
    """q_interval_overlap: the timeline-bucket rewrite must hold — two
    Generate nodes (each side's bucket fan-out), candidates meet in ONE
    equi-join (broadcast or sort-merge, AQE's call), and the inequality
    predicate NEVER plans as a nested loop (operators/interval.py)."""
    plan = plan_of(queries["q_interval_overlap"](spark, SF_DIR))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) \w*Join\b", plan)) == 1, plan


def test_markov_transitions_single_raw_event_shuffle(spark, queries):
    """q_markov_transitions: raw events cross the wire exactly ONCE —
    the (user_id) window shuffle for the lag pairing.  Everything after
    operates on the type-pair aggregate (event_type² rows): one agg
    exchange, one tiny normalization window.  A second hashpartitioning
    on user_id (or any window over raw events) is the regression this
    guards against."""
    plan = plan_of(queries["q_markov_transitions"](spark, SF_DIR))
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 3, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_tree_ancestors_bounded_regime_is_one_lazy_plan(spark, queries):
    """q_tree_ancestors in the bounded (heap-depth) regime: ONE lazy
    plan containing the whole unroll — depth-many equi-joins over the
    persisted parents relation, no nested loop — and building it may
    run only the single scalar max(doc_id) job (no per-round count()
    actions: the count-gated path is for the unbounded regime)."""
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    df = queries["q_tree_ancestors"](spark, SF_DIR)
    jobs_after = len(tracker.getJobIdsForGroup(None))
    # the scalar max(doc_id) costs <=3 jobs under AQE (listing + one
    # job per query stage); per-round actions would add D more
    assert jobs_after - jobs_before <= 3, (
        f"bounded regime ran {jobs_after - jobs_before} driver jobs "
        f"while building the plan — per-round actions crept back in"
    )
    plan = plan_of(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) \w*Join\b", plan)) >= 5, plan
    assert "InMemoryRelation" in plan  # persisted parents feed the unroll
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, plan


def test_incremental_dedup_broadcasts_delta_side(spark, queries):
    """q_incremental_dedup: the corpus side is ONE collect_list bucket
    aggregate (ObjectHashAggregate); the delta bands and the tiny pair
    set ride BROADCAST joins — a SortMergeJoin would mean the nightly
    delta started shuffling the standing corpus."""
    plan = plan_of(queries["q_incremental_dedup"](spark, SF_DIR))
    assert "ObjectHashAggregate" in plan
    joins = re.findall(r"\(\d+\) \*?\s*(\w*Join\w*)", plan)
    assert joins and all(j == "BroadcastHashJoin" for j in joins), joins


def test_snapshot_diff_is_one_full_outer_join(spark, queries):
    """q_snapshot_diff: exactly one FullOuter join + the class
    aggregate; both snapshot filters must reach the scans."""
    plan = plan_of(queries["q_snapshot_diff"](spark, SF_DIR))
    assert plan.count("FullOuter") >= 1
    assert len(re.findall(r"\(\d+\) \w*Join\b", plan)) == 1, plan
    assert "PushedFilters: [IsNotNull(o_orderkey)" in plan or "PushedFilters:" in plan


def test_kmeans_final_plan_is_joinless_map(spark, queries):
    """q_kmeans_assign / q_kmeans_minibatch (r13, tightened r14): the
    Lloyd centroids are collected to the driver per pass (MLlib shape)
    and re-attached as literal argmin/CASE expressions, so the plan has
    NO join anywhere — a Join would mean a Lloyd pass went back to
    shuffling the corpus-sized assignment against K rows.  Since r14
    the returned plan is a PURE PROJECTION over the persisted narrow
    (vec_id, cluster) assignment (no exchange, no scan above the
    cache): the K-fold argmin corpus pass lives inside the
    InMemoryRelation build (where AQE's formatted output re-displays
    its one spread exchange once per plan variant), and evaluates once
    per invocation instead of twice (size collect + output)."""
    for q in ("q_kmeans_assign", "q_kmeans_minibatch"):
        plan = plan_of(queries[q](spark, SF_DIR))
        assert "CartesianProduct" not in plan, q
        assert "SortMergeJoin" not in plan, (q, plan)
        assert not re.findall(r"\(\d+\) \w*Join\b", plan), (q, plan)
        # outer plan = cache read + CASE projection, nothing else
        outer = plan.split("InMemoryRelation", 1)[0]
        assert "InMemoryTableScan" in plan, (q, plan)
        assert "Exchange" not in outer and "Scan parquet" not in outer, (
            q,
            plan,
        )
        # inside the cache build: the one spread exchange, shown
        # at most twice (AQE Final + Initial plan variants)
        assert len(re.findall(r"\(\d+\) Exchange\b", plan)) <= 2, (q, plan)


def test_scd2_single_event_shuffle(spark, queries):
    """q_scd2_history: both windows share the (user_id) partitioning —
    exactly ONE exchange of raw event rows (plus AQE reads); a second
    hashpartitioning exchange would mean the change-point filter and
    the validity windows stopped sharing their shuffle."""
    plan = plan_of(queries["q_scd2_history"](spark, SF_DIR))
    assert len(re.findall(r"hashpartitioning\(", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan


def test_shard_pack_serial_window_only_over_bucket_totals(spark, queries):
    """q_shard_pack: the only UNPARTITIONED (single-task) window must
    run over the aggregated bucket-totals table, never the data rows —
    i.e. the global-order window consumes a HashAggregate, and the
    data-row cumsum window is partitioned by bucket.  Also the bucket
    offsets join back via broadcast."""
    plan = plan_of(queries["q_shard_pack"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # two Window nodes: one partitioned by bucket (data rows), one over
    # the tiny totals; the totals window's child chain must contain the
    # partial/final aggregate, proving it runs post-aggregation
    assert "partial_sum" in plan or "partial_" in plan
    # the serial exchange must carry only the (bucket, bucket_chars)
    # aggregate rows — its node block must never mention doc_id
    blocks = re.split(r"\(\d+\) ", plan)
    serial = [b for b in blocks if b.startswith("Exchange") and "SinglePartition" in b]
    assert serial, plan
    for b in serial:
        assert "bucket_chars" in b and "doc_id" not in b, b


def test_unigram_score_two_aggregates_one_token_join(spark, queries):
    """q_unigram_score: one tokenize scan feeding a (token) vocabulary
    aggregate and a token-keyed equi-join — never a nested loop — then
    the (doc_id) final aggregate with map-side partials."""
    plan = plan_of(queries["q_unigram_score"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_gap_fill_spine_is_generated_not_scanned(spark, queries):
    """q_gap_fill: the bucket spine comes from a Generate over a
    broadcast 1-row bounds aggregate — the events table is scanned for
    aggregates only, and observations land on the spine via ONE left
    join (never a nested loop)."""
    plan = plan_of(queries["q_gap_fill"](spark, SF_DIR))
    assert "Generate" in plan and "sequence" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_sample_weighted_is_takeordered_zero_shuffle(spark, queries):
    """q_sample_weighted: global weighted top-K must compile to
    TakeOrderedAndProject (per-partition heaps) — no Exchange, no
    global Sort."""
    plan = plan_of(queries["q_sample_weighted"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0, plan


def test_collocations_support_filter_precedes_joinbacks(spark, queries):
    """q_collocations: no nested-loop pairing anywhere (bigrams come
    from zip_with, not a positional self-join), and the min-support
    filter must sit below the unigram join-backs so only surviving
    bigrams join."""
    plan = plan_of(queries["q_collocations"](spark, SF_DIR))
    # the single 1-row total crossJoin is the only BNLJ node allowed
    bnlj_nodes = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj_nodes) <= 1, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    # support filter appears as a post-agg Filter on c_ab
    assert re.search(r"\(c_ab#\d+L >= 5\)", plan), plan


def test_fk_integrity_ships_dimension_keys_only(spark, queries):
    """q_fk_integrity: every dimension scan reads ONLY its key column
    (ReadSchema pruned to one field) — the existence checks must never
    drag dimension payload through the joins."""
    plan = plan_of(queries["q_fk_integrity"](spark, SF_DIR))
    reads = [l.strip() for l in plan.splitlines() if "ReadSchema:" in l]
    cust = [l for l in reads if "c_custkey" in l]
    assert cust and all("c_name" not in l and "c_acctbal" not in l for l in cust), cust
    part = [l for l in reads if "p_partkey" in l]
    assert part and all("p_name" not in l for l in part), part


SPREAD_INPUTS = {
    "single_split_scan": lambda df: df,
    "repartitioned": lambda df: df.repartition(16),
    # over 8 partitions the groupBy plans an ENSURE_REQUIREMENTS shuffle
    # that AQE may coalesce; over the 1-split scan it would plan none
    "coalescible_shuffle": lambda df: df.repartition(8).groupBy("doc_id").count(),
    "unmaterialized_cache": lambda df: df.repartition(4).cache(),
}


@pytest.mark.parametrize("shape", list(SPREAD_INPUTS))
def test_spread_adds_one_exchange_and_runs_no_job(spark, shape):
    """`spread` adds exactly one explicit-count round-robin exchange
    over any input — whatever its partitioning, and over a cache no
    action has materialized yet — and building it submits no job."""
    from pulsar_sync_java_spark.operators.util import spread

    df = SPREAD_INPUTS[shape](spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    got = {}
    try:
        assert jobs_of(spark, lambda: got.update(out=spread(df))) == 0
        before, after = plan_of(df), plan_of(got["out"])
    finally:
        df.unpersist()
    root = got["out"]._jdf.queryExecution().analyzed()
    assert root.nodeName() == "Repartition" and root.shuffle()
    assert root.child().fastEquals(df._jdf.queryExecution().analyzed())
    assert f"RoundRobinPartitioning({root.numPartitions()}), REPARTITION_BY_NUM" in after
    # Catalyst collapses a repartition directly below spread's into it
    added = 0 if shape == "repartitioned" else 1
    exchanges = lambda plan: len(re.findall(r"\(\d+\) Exchange\b", plan))  # noqa: E731
    assert exchanges(after) == exchanges(before) + added, after


def test_sketch_queries_build_without_jobs(spark, queries):
    """With the table handles loaded, building the sketch queries
    whose operators spread cached signatures or fingerprints runs no
    Spark job: the caches stay unmaterialized until the query runs."""
    for t in TABLES:
        load_table(spark, SF_DIR, t)
    names = (
        "q_minhash_lsh",
        "q_sketch_calibration",
        "q_incremental_dedup",
        "q_simhash_calibration",
    )
    jobs = {}
    for q in names:
        # the MinHash queries share one plan-matched signature cache:
        # each starts from caches no action has materialized yet
        spark.catalog.clearCache()
        jobs[q] = jobs_of(spark, lambda: queries[q](spark, SF_DIR))
    assert jobs == dict.fromkeys(names, 0), jobs


def test_span_dedup_no_occurrence_lists_and_marked_only_doc_shuffle(
    spark, queries
):
    """q_span_dedup: the inverted index must be the two-pass COUNT form
    — no collect_list (a hot gram's occurrence list is the executor-OOM
    shape at corpus scale) — and the only doc_id-keyed exchange feeds
    the island window (the marked subset), never the raw gram rows."""
    plan = plan_of(queries["q_span_dedup"](spark, SF_DIR))
    assert "collect_list" not in plan, plan
    assert "CartesianProduct" not in plan
    # exactly one doc_id-only hashpartitioning (the island window);
    # the df aggregate keys on the gram hash (+doc for the distinct)
    doc_parts = re.findall(r"hashpartitioning\(doc_id#\d+L, \d+\)", plan)
    assert len(doc_parts) == 1, plan


def test_span_scrub_never_reexplodes_the_corpus(spark, queries):
    """q_span_scrub: exactly the detection subtree's TWO posexplode
    Generates — the scrub itself must be a positional filter lambda
    over the token array plus one doc-keyed join, never a third
    corpus explosion (the collect_list present is the aggregate-sized
    covered-positions flatten, keyed per affected doc)."""
    plan = plan_of(queries["q_span_scrub"](spark, SF_DIR))
    assert len(re.findall(r"\) Generate", plan)) == 2, plan
    assert "CartesianProduct" not in plan


def test_star_join_broadcasts_dims(spark, queries):
    """q_star_join: Catalyst must broadcast the dimension sides —
    never a CartesianProduct, and at least the three pure dims
    (supplier, nation, region) arrive as BroadcastHashJoin."""
    plan = plan_of(queries["q_star_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 3, plan


def test_correlated_subquery_is_decorrelated(spark, queries):
    """q_correlated_subquery: the correlated scalar subquery must
    rewrite to ONE per-part aggregate joined back — exactly two
    lineitem scans (probe + average), never a per-row re-execution
    (which would surface as a scalar-subquery node per row)."""
    plan = plan_of(queries["q_correlated_subquery"](spark, SF_DIR))
    # formatted plans print each node twice (tree + detail section)
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 2, plan
    assert re.search(r"Join", plan), plan
    assert "CartesianProduct" not in plan


def test_ks_drift_single_corpus_scan_no_per_type_sort(spark, queries):
    """q_ks_drift's two-level prefix sum: the events corpus is scanned
    ONCE into the persisted count table (every branch reads
    InMemoryTableScan), and the within-bucket cumulative window is
    partitioned by (type, bucket) — never a per-type global sort over
    raw values."""
    plan = plan_of(queries["q_ks_drift"](spark, SF_DIR))
    # one real parquet scan (repeats in the plan text are the same
    # InMemoryRelation subtree re-displayed per reader)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, scan_ids
    assert "InMemoryTableScan" in plan
    # the big window partitions by bucket too: its Sort orders on
    # (event_type, bucket, value) — a per-type-only sort would omit bucket
    assert re.search(
        r"Arguments: \[event_type#\d+ ASC NULLS FIRST, bucket#\d+ ASC NULLS"
        r" FIRST, value#\d+ ASC NULLS FIRST\]",
        plan,
    ), "within-bucket window must sort by (type, bucket, value)"


def test_rolling_quantile_one_exchange_zero_join(spark, queries):
    """q_rolling_quantile: ONE (user_id) window shuffle; the quantile
    extraction is array expressions in the same stage — no joins, no
    second exchange, no global sort."""
    plan = plan_of(queries["q_rolling_quantile"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1


def test_mad_outliers_one_exchange_zero_join(spark, queries):
    """q_mad_outliers: ONE event_type shuffle; the median and MAD are
    windows inside it (one sort by value, one by dev) and the per-type
    aggregate reuses its partitioning — no join, no second exchange."""
    plan = plan_of(queries["q_mad_outliers"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 2, plan


def test_zorder_layout_bounds_broadcast_single_agg(spark, queries):
    """q_zorder_layout: the one-row domain-bounds aggregate broadcasts
    onto the fact scan (BroadcastNestedLoopJoin, never a shuffled
    join), and the layout summary is one partial+final hash aggregate."""
    plan = plan_of(queries["q_zorder_layout"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # bounds agg + file agg = exactly two shuffle exchanges
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 2, plan


def test_join_incremental_deltas_broadcast_history_never_shuffled(
    spark, queries
):
    """q_join_incremental: every delta term is a BroadcastHashJoin
    (the micro-batch side builds), so no history row is ever hash-
    partitioned for a join — the ONLY exchange is the final group-
    sized aggregate."""
    plan = plan_of(queries["q_join_incremental"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 3, plan
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 1, plan


def test_semantic_dedup_pairs_are_cluster_keyed_never_allpairs(
    spark, queries
):
    """q_semantic_dedup: the candidate-pair join must be an EQUI-join
    on (cluster, block_a, block_b) — the SemDeDup bound plus the r12
    block decomposition that keeps the quadratic pair stage at
    K*S^2-group parallelism instead of K (SCALE.md §11) — never an
    unkeyed all-pairs product; centroid scoring stays broadcast."""
    plan = plan_of(queries["q_semantic_dedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert re.search(
        r"keys(?: \[\d+\])?: \[cluster#\d+, __blk_a#\d+, __blk_b#\d+\]",
        plan,
    ), "pair join must key on (cluster, __blk_a, __blk_b)"


def test_semantic_dedup_pair_shuffle_carries_codes_not_vectors(
    spark, queries
):
    """r10 verdict #6: the in-cell pair scan must be PQ-CODED — every
    exchange feeding the cluster-keyed pair join carries (cluster, id,
    eps, codes), never the d-double embedding; full vectors are fetched
    only for the ADC-prefilter survivors via the vec_id verify joins."""
    plan = plan_of(queries["q_semantic_dedup"](spark, SF_DIR))
    blocks = plan.split("\n\n")
    pair_exchanges = [
        b
        for b in blocks
        if "Exchange" in b.split("\n")[0]
        and re.search(
            r"Input \[\d+\]: \[cluster#\d+, __blk_a#\d+, __blk_b#\d+, "
            r"v[ab]#",
            b,
        )
    ]
    assert pair_exchanges, "coded pair-side exchanges not found"
    for b in pair_exchanges:
        assert "embedding" not in b, b
        assert re.search(r"__c[ab]#", b), b
    # one Arrow encode stage per pair side, never the row-at-a-time API
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_disorder_profile_prefix_max_is_bucket_partitioned(spark, queries):
    """q_disorder_profile: the running-max window must partition by
    (type, arrival bucket) — its Sort orders on (type, bucket, h,
    event_id) — and bucket base offsets arrive by broadcast, so no
    per-type global sort exists."""
    plan = plan_of(queries["q_disorder_profile"](spark, SF_DIR))
    assert re.search(
        r"Arguments: \[event_type#\d+ ASC NULLS FIRST, bucket#\d+L? ASC NULLS"
        r" FIRST, h#\d+L? ASC NULLS FIRST, event_id#\d+L? ASC NULLS FIRST\]",
        plan,
    ), "within-bucket window must sort by (type, bucket, h, event_id)"
    assert "BroadcastHashJoin" in plan


def test_join_cardinality_joins_count_tables_not_rows(spark, queries):
    """q_join_cardinality: the key join must consume the two per-key
    COUNT tables (cnt_a/cnt_b columns), never raw event rows — the
    estimator's cost must be independent of the predicted join's
    output size."""
    plan = plan_of(queries["q_join_cardinality"](spark, SF_DIR))
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 2
    join_line = re.search(r"Join condition.*|Left keys.*", plan)
    assert join_line is not None
    assert "cnt_a#" in plan and "cnt_b#" in plan


def test_bfs_khop_expands_from_persisted_edges_with_antijoins(
    spark, queries
):
    """q_bfs_khop: all three expansion levels read the symmetric edge
    table from cache (InMemoryTableScan), each level anti-joins the
    visited set (LeftAnti), and the whole walk is one lazy plan with
    no CartesianProduct."""
    plan = plan_of(queries["q_bfs_khop"](spark, SF_DIR))
    assert plan.count("InMemoryTableScan") >= 3, plan
    # one LeftAnti per expansion level (subtree re-display inflates the
    # raw count; unique node ids don't survive the text format, so
    # assert the floor)
    assert plan.count("LeftAnti") >= 3, plan
    assert "CartesianProduct" not in plan


def test_chunk_overlap_is_generator_only(spark, queries):
    """q_chunk_overlap: one scan, one Generate (the stride explode),
    zero exchanges, no joins — the chunker must be embarrassingly
    parallel per-doc work."""
    plan = plan_of(queries["q_chunk_overlap"](spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Generate" in plan
    assert len(re.findall(r"\(\d+\) Exchange\b", plan)) == 0, plan
    assert "Join" not in plan


def test_bm25_topk_single_index_build_takeordered_cut(spark, queries):
    """q_bm25_topk: the tokenize+explode corpus pass happens ONCE (the
    persisted tf aggregate serves all three consumers as
    InMemoryTableScans — the corpus is never rescanned per query
    term), the top-20 cut is TakeOrderedAndProject (no global Sort),
    and the df/stats joins broadcast."""
    plan = plan_of(queries["q_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2, plan
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3, plan
    assert "CartesianProduct" not in plan


def test_classifier_score_weight_table_broadcasts(spark, queries):
    """q_classifier_score: the derived weight table must broadcast
    (BroadcastHashJoin — the token stream is never hash-partitioned
    for the join); exchanges are only the vocab aggregate and the
    doc-sized score aggregate."""
    plan = plan_of(queries["q_classifier_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_phash_neardup_bucketed_never_allpairs(spark, queries):
    """q_phash_neardup: candidates must come from the chunk-bucket
    inverted index (ObjectHashAggregate collect_list), never any
    all-pairs product; the only Python is the Arrow codec kernel."""
    plan = plan_of(queries["q_phash_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_skyline_never_self_joins_the_corpus(spark, queries):
    """q_skyline: the engine formulation must be aggregate + windows +
    broadcast join-backs — never the oracle's quadratic dominance
    self-join (no nested-loop or cartesian anywhere)."""
    plan = plan_of(queries["q_skyline"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "SortMergeJoin" not in plan


# --------------------------------------------------- round-10 additions


def test_assoc_rules_never_self_joins_corpus(spark, queries):
    """q_assoc_rules: pairs come from a nested-transform Generate over
    the per-basket arrays — the plan must have NO sort-merge join and
    no corpus self-join; the only joins are the broadcast supports /
    total joins, and the top-20 is a TakeOrdered."""
    plan = plan_of(queries["q_assoc_rules"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Generate\b", plan)) >= 1


def test_attribution_shares_user_partitioning(spark, queries):
    """q_attribution: the type filter must reach the parquet scan, and
    all windows partition by user — never an unpartitioned window over
    raw events."""
    plan = plan_of(queries["q_attribution"](spark, SF_DIR))
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l]
    assert any("event_type" in l for l in pushed), pushed
    assert "CartesianProduct" not in plan


def test_timeseries_family_aggregates_before_windows(spark, queries):
    """q_cusum_changepoint / q_ewma_smooth: the corpus must collapse in
    a partial+final hash aggregate BEFORE any window/fold — the window
    never sees raw rows (two HashAggregates below the first Window /
    higher-order fold)."""
    for name in ("q_cusum_changepoint", "q_ewma_smooth"):
        plan = plan_of(queries[name](spark, SF_DIR))
        assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2, name
        assert "CartesianProduct" not in plan, name


def test_hits_reads_persisted_edges_and_broadcasts_max(spark, queries):
    """q_hits: the edge table and score frames come from cache
    (InMemoryTableScan), the 1-row max joins are broadcast nested
    loops (never CartesianProduct), and the cross-row sums are LONG
    (fixed-point), not decimal."""
    plan = plan_of(queries["q_hits"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_label_prop_argmax_is_aggregate_not_window(spark, queries):
    """q_label_prop (r13): the per-node argmax runs as ONE
    partial+final max(struct(c, -label)) aggregate — no Window node
    (the former row_number formulation paid a full partition sort per
    LPA round), and no sort anywhere but the scanless internals."""
    plan = plan_of(queries["q_label_prop"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "max(named_struct" in plan or "partial_max" in plan, plan
    assert "CartesianProduct" not in plan


def test_hll_intersect_joins_are_key_sized(spark, queries):
    """q_hll_intersect: the exact verification joins run on the
    persisted distinct key set (InMemoryTableScan), and the 3-row
    pair frame broadcasts."""
    plan = plan_of(queries["q_hll_intersect"](spark, SF_DIR))
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
