"""Physical-plan audit: regenerates PLANS.md from live `.explain` output.

For each headline query this captures the formatted physical plan at
$SPARK_GRAFT_SF_DIR and distills the scale-relevant evidence — scan
pushdown (PushedFilters / ReadSchema), join strategies, exchange
(shuffle) count, whole-stage-codegen span count, and the top-k /
aggregate physical operators — next to a one-line statement of what the
plan is SUPPOSED to look like.  Run after any planner-relevant change:

    python tools/plan_audit.py        # rewrites PLANS.md

The assertions that would FAIL the build on a plan regression live in
tests/test_plan_shape.py; this file is the human-readable audit trail.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from pulsar_sync_java_spark.queries import all_queries
from pulsar_sync_java_spark.session import get_spark

# query -> what the plan must show, as a short contract line
EXPECT = {
    "q_scan_project": "projection prunes the scan: ReadSchema carries only the 4 used columns",
    "q_filter_predicate": "compound predicate reaches parquet: PushedFilters non-empty",
    "q_join_broadcast": "dims broadcast: 2x BroadcastHashJoin, zero shuffle exchanges for the dims",
    "q_join_sortmerge": "two facts: SortMergeJoin (AQE may flip to broadcast at this sf), agg partial+final",
    "q_anti_join": "BroadcastHashJoin LeftAnti (filtered right side broadcasts)",
    "q_asof_join": "union+window as-of: ONE shuffle for the window, no range-join explosion",
    "q_groupby_agg": "partial HashAggregate under the exchange, final above it",
    "q_topk": "TakeOrderedAndProject, no global Sort",
    "q_window_rank": "rank<=3 group-limit pushed below the full window sort (WindowGroupLimit)",
    "q_cursor_translate": "flagship composition: sampling window + as-of + project, bounded exchanges",
    "q_minhash_lsh": "sketch: ArrowEvalPython kernels; shuffles carry only (band,bucket,id) keys, signatures join back on the tiny pair set",
    "q_sketch_calibration": "sketch QA: banded candidate shuffle + shingle inverted index (plan-matched cache shared with q_ngram_jaccard); the est-pairs LEFT JOIN exact-inters is a pair-key SortMergeJoin ON PURPOSE (both sides scale with the corpus — broadcasting either is the 100 TB bug); the doc-sized size lookups broadcast the pair side (BuildLeft)",
    "q_simhash_calibration": "SimHash QA: the pigeonhole near-dup bucket shuffle + one tokenize/count pass; the audit pair set (near ∪ background sample) is broadcast into the token-count dot join so each pair fans out by ONE doc's vocabulary — the per-pair exact side never joins corpus x corpus",
    "q_partition_expand": "Generate (explode) with no shuffle at all",
    "q_repetition_ratio": "pure projection: zero exchanges, all array expressions inside the scan stage",
    "q_contamination": "bench shingles broadcast (BroadcastHashJoin); the training corpus is never shuffled before the per-doc aggregate",
    "q_pack_sequences": "one shuffle (partitionBy lang) feeding the running-sum Window; no global sort",
    "q_window_sliding": "hopping window = Expand (4 rows/event) into ONE partial+final aggregate, single exchange",
    "q_cross_join": "BroadcastNestedLoopJoin over broadcast dims; no CartesianProduct",
    "q_mix_budget": "one shuffle (partitionBy lang) into the running-sum Window + budget filter",
    "q_boilerplate": "one inverted-index shuffle for doc frequencies; boilerplate set joins back via broadcast",
    "q_embedding_neardup": "one persisted signature projection feeds banded bucketing + both join-backs (3x InMemoryTableScan); candidates from collect_list bucket agg; join-backs broadcast the tiny pair set",
    "q_ann_ivf_topk": "ArrowEvalPython cluster assignment (never BatchEvalPython), IN-filter probe, TakeOrderedAndProject top-k; r7 recall-gate joins are k-row/1-row broadcast only — no SortMergeJoin, no global sort",
    "q_ann_pq_topk": "IVF-PQ: exactly ONE ArrowEvalPython encode stage (cell+codes in a single kernel; asNondeterministic blocks the cell-filter pushdown that would plan the encode twice); ADC = JVM zip_with/aggregate over the BROADCAST per-cell LUT join; candidate cut and top-k both TakeOrderedAndProject; approx side persisted for its two consumers — no SortMergeJoin, no global sort",
    "q_join_salted": "hot-key set broadcast to both branches (BroadcastHashJoin LeftSemi/LeftAnti); salt expansion is a Generate on the build side",
    "q_knn_join": "queries broadcast (BroadcastNestedLoopJoin BuildRight); MapInPandas partition-local top-k BEFORE the single hashpartitioning(query_id) ranking shuffle",
    "q_dedup_cluster": "contracted forest read from cache (InMemoryTableScan); contraction kernels MapInPandas; label resolution via BroadcastHashJoin only",
    "q_funnel_steps": "3 per-user min-aggregates chained by shrinking joins; type filters pushed to parquet; no window over raw events",
    "q_retention_cohort": "distinct (user, day) + per-user min, plain count after the join — no COUNT(DISTINCT) expand",
    "q_corpus_materialize": "gate filter reads the cached feature table (InMemoryTableScan), never re-evaluating the tokenizer; one shuffle for the dedup window",
    "q_semi_join": "LeftSemi hash join, keys only — existence check never materializes right-side payload",
    "q_join_outer": "SortMergeJoin FullOuter (only join type AQE cannot broadcast); agg partial+final above it",
    "q_join_range": "equi-key hash join with the range predicate as a post-join filter — never a range-enumeration or nested-loop plan",
    "q_exists_subquery": "EXISTS/NOT EXISTS become LeftSemi + LeftAnti hash joins, no correlated re-execution",
    "q_scalar_subquery": "scalar subquery evaluated once as an init-job, reused as a literal — no per-row re-execution",
    "q_rollup": "grouping sets via ONE Expand over one scan + single partial+final agg; dims broadcast",
    "q_cube": "cube = Expand (4 grouping sets) into one partial+final agg, one scan",
    "q_pivot": "pivot compiles to conditional aggregates in ONE pass — no per-pivot-value scans",
    "q_unpivot": "unpivot = Expand (one row per measure) over a single scan",
    "q_time_rollup_multi": "multi-granularity rollup via Expand, one scan, one agg pair — not a UNION of rescans",
    "q_distinct_count": "two DISTINCT aggs via ONE Expand + two-phase agg — one logical shuffle, no join of separate counts",
    "q_approx_distinct": "HLL++ sketch: partial+final HashAggregate only, shuffle carries sketches not keys",
    "q_hll_merge": "sketch mergeability: 3 sketch aggregates + exact-distinct expand, ObjectHashAggregate carries <=4KiB sketches; final joins are group-sized broadcasts",
    "q_countmin_topk": "CM sketch: Generate (d=4 hash explode) into partial+final count aggregates — shuffle carries (slice,j,h) partials, never raw keys; sketch (128 rows) broadcast to the TakeOrdered heavy-key probe",
    "q_chi2_terms": "chi2 selection: ONE tokenize into the persisted (lang,token) aggregate; marginals/total broadcast back; top-3 window over aggregate rows only",
    "q_bpe_train": "BPE training: corpus collapses to the persisted word-frequency vocab ONCE; its (arr, w) rows come back in ONE job and the merge loop runs on the driver over that in-memory table — the merge table is a local relation, no job per merge, no per-corpus iteration",
    "q_skyline": "2-D Pareto frontier: per-price aggregate + two-level exclusive prefix MAX + broadcast join-backs — never the oracle's quadratic dominance self-join (no NestedLoop/Cartesian)",
    "q_sample_merge": "mergeable bottom-k: (type, slice) rank window emits k rows/group, union, final window over slicesxk candidates — the heavy shuffle carries sample rows only",
    "q_percentiles": "exact percentiles via ObjectHashAggregate (percentile state), single agg pair",
    "q_conditional_agg": "FILTER-clause aggregates fused in one HashAggregate pass, one scan",
    "q_set_ops": "union/intersect/except as tagged aggregate + semi/anti joins — no repeated scans per branch",
    "q_window_analytic": "running sum + lag share ONE Window over one (partition, order) shuffle",
    "q_window_range_frame": "RANGE frame window, one shuffle, no self-join formulation",
    "q_window_session": "sessionize via lag + cumsum: two Windows over the SAME (user, ts) shuffle — partitioning reused, one exchange",
    "q_window_tumbling": "tumbling window = bucket expression in the group key, plain partial+final agg",
    "q_ntile_bucket": "ntile over one Window shuffle; bucket stats aggregate above it",
    "q_dedup": "first-event-per-key via WindowGroupLimit (rank filter pushed below the sort)",
    "q_dedup_exact": "hash-groupBy on md5: partial+final agg, shuffle carries (hash, min, count) only",
    "q_doc_fingerprint": "pure projection: normalize + md5 inside the scan stage, zero exchanges",
    "q_token_count": "pure projection: whitespace + BPE-ish regex counts, zero exchanges",
    "q_text_stats": "tokenize in projection, per-lang partial+final agg — one shuffle of group rows",
    "q_text_quality": "all quality features are per-row expressions; zero-shuffle projection",
    "q_lang_id": "n-gram language scores are per-row expressions; zero-shuffle projection",
    "q_pii_scrub": "regexp_replace chain in projection, zero exchanges",
    "q_sample_stratified": "deterministic hash-threshold sampling: per-row filter, no sampling shuffle",
    "q_posting_list": "inverted index: ONE explode + one groupBy(term) with sorted postings",
    "q_tfidf_topterms": "tf aggregate cached (InMemoryTableScan), df derived from it; top-3 via WindowGroupLimit",
    "q_bm25_topk": "BM25: ONE corpus tokenize into the persisted tf aggregate (inverted index) read by 3 InMemoryTableScans; literal IN-list posting filter; df/stats broadcast; TakeOrderedAndProject top-20",
    "q_classifier_score": "train/apply linear gate: weight table (vocab-sized) broadcast via BroadcastHashJoin; token stream never hash-partitioned; exchanges = vocab agg + doc score agg only",
    "q_compaction_plan": "compaction planner: ONE corpus scan into the file-stats aggregate; two-level prefix sum over file stats (bucket totals window over tiny table, offsets broadcast, per-bucket parallel windows) — no single-task global window",
    "q_string_funcs": "scalar string surface: pure projection over the scan",
    "q_date_funcs": "scalar date surface: pure projection + pushed date-range filter",
    "q_math_funcs": "scalar math surface: pure projection over the scan",
    "q_json_funcs": "JSON extraction in projection; extracted-value filter evaluated pre-shuffle",
    "q_map_funcs": "map built by ObjectHashAggregate(map_from_entries), exploded back for the oracle — one agg shuffle",
    "q_array_funcs": "higher-order array fns (size/first/last/L2) in projection, zero exchanges",
    "q_udf_roundtrip": "declared UDF surface: BatchEvalPython present BY DESIGN (row-at-a-time); hot-path twin is concat projection",
    "q_udtf_sentences": "declared UDTF surface: PythonUDTF via LATERAL BY DESIGN; hot-path twin is posexplode(split)",
    "q_sim_topk": "1-row query vector: BroadcastNestedLoopJoin (never CartesianProduct) + TakeOrderedAndProject",
    "q_ann_lsh_topk": "signature kernel + Hamming-ball filter, TakeOrderedAndProject; r7 recall-gate joins are k-row/1-row broadcast only — no global sort",
    "q_simhash": "chunk index Generate + bucket ObjectHashAggregate; verify by bit_count — no all-pairs",
    "q_phash_neardup": "dHash codec kernel = MapInPandas (Arrow); pairs via the SimHash pigeonhole chunk index (bucket ObjectHashAggregate + bit_count verify) — no all-pairs, fingerprints ride as one BIGINT",
    "q_ngram_jaccard": "shingle arrays cached (InMemoryTableScan); ONE inverted-index shuffle; sizes join back broadcast",
    "q_dedup_keepers": "signatures cached; banded candidates via hash join; contraction MapInPandas; labels broadcast back",
    "q_frame_sample": "frame explosion Generate above the codec MapInPandas, bytes stay with the row — zero shuffles",
    "q_image_resize": "single MapInPandas codec stage, zero shuffles, binary payload never crosses an exchange",
    "q_audio_window": "window enumeration is a JVM Generate over metadata; zero shuffles",
    "q_multimodal_meta": "metadata decode in one MapInPandas, zero shuffles",
    "q_anomaly_zscore": "moments aggregate (one sums-row per group) broadcast back onto the event scan — two passes, no window",
    "q_corr_pearson": "five exact decimal moment sums in ONE partial+final aggregate; corr is per-group constant arithmetic",
    "q_histogram": "bucket expression inside the scan stage; one count aggregate + a tiny share window over (type, bucket) rows",
    "q_containment_dedup": "same inverted-index shape as q_ngram_jaccard (cached shingle arrays, one candidate shuffle, sizes broadcast back); only the scoring expression differs",
    "q_bloom_semi_join": "bloom prefilter is a binary-literal Filter INSIDE the big side's scan stage (no extra join/shuffle); exactly one exact semi join above it",
    "q_domain_cap": "skew-safe cap: ONE Window fed only by oversized domains; under-cap rows join the union via broadcast joins of the per-source count table",
    "q_incremental_dedup": "asymmetric LSH: corpus side is ONE bucket aggregate; the delta's banded table joins it (AQE broadcast), never a corpus self-join",
    "q_profile": "whole-table profile in ONE aggregate: both DISTINCTs share a single Expand + two-phase agg with the plain metrics — never a job per metric",
    "q_drift_tv": "one (type,slice,bucket) count aggregate over the scan; the TV regroupings run over bucket-count rows only (hundreds, size-independent)",
    "q_pagerank": "iterative: each of 5 iterations is one edge-rank join + one mass aggregate reading the persisted previous rank (InMemoryTableScan) — linear lineage, no re-evaluation cascade",
    "q_interval_overlap": "no-equi-key overlap join rides ONE bucket equi-join (Generate explodes covered buckets); exact predicate is a post-join Filter; never NestedLoop/Cartesian",
    "q_grouped_udaf": "GROUPED_AGG pandas UDF aggregate (ObjectHashAggregate over Arrow) joined to the JVM percentile aggregate on the 3-row key",
    "q_asof_forward": "forward as-of via the same union+window shape: ONE shuffle, no range-join explosion",
    "q_markov_transitions": "one (user,ts) window shuffle for the lag pairing; transition agg + normalization window run over pair-count rows",
    "q_tree_ancestors": "recursive-CTE class via bounded linear unroll: D chained left joins against the persisted parent table in ONE lazy plan",
    "q_fuzzy_join": "deletion-variant Generate (variants xxhash64'd inside the fan-out, so the bucket shuffle carries (long, id) not strings) -> ONE bucket aggregate -> pair explosion; exact levenshtein verify is a post-join Filter; never NestedLoop; bucket overflow raises at execution (the max_bucket cap), since the quadratic oracle cannot mirror a dropped bucket",
    "q_snapshot_diff": "CDC classification: one FullOuter sort-merge join on the key + a tiny per-class aggregate; both snapshot filters pushed to the scan",
    "q_trend_ols": "ONE partial+final moments aggregate (sums-row per type through the shuffle); OLS slope/intercept are per-group constant expressions",
    "q_kmeans_assign": "r13: joinless map-side argmin — Lloyd centroids collected per pass (MLlib shape) and re-attached as a literal least()/CASE projection; final plan = scan -> spread exchange -> project, zero Join nodes",
    "q_kmeans_minibatch": "same r13 joinless driver-centroid shape; the portable mini-batch sample filter rides the update-pass scans; final assignment full-corpus",
    "q_approx_percentiles": "GK sketch + exact band percentiles fused in ONE ObjectHashAggregate pass — one shuffle of sketch state, flags are per-group constant expressions",
    "q_merge_apply": "apply side never shuffles the base: touched keys BroadcastHashJoin LeftAnti onto the base scan, upsert images Union'd on; the diff's full-outer join is the only exchange pair",
    "q_heavy_hitters": "MG summaries read from cache (InMemoryTableScan), candidate cut over P*(k+1) rows; verify pass = BroadcastHashJoin LeftSemi probe + partial+final count — corpus key space never shuffles",
    "q_triangle_count": "degree-oriented wedge join: edge normalization + degree join + wedge self-join + closing LeftSemi; no CartesianProduct, 1-row census aggregates ride broadcasts",
    "q_json_salvage": "one projection (from_json PERMISSIVE with corrupt-record channel) into one partial+final aggregate — corrupt handling adds zero passes",
    "q_rollup_incremental": "two slice partial aggregates unioned into a group-sized merge aggregate; history and batch each shuffle once at group granularity, merge shuffles 2x groups",
    "q_span_dedup": "positional-gram inverted index: distinct (gram,doc) exchange -> tiny df aggregate joins back onto positions (broadcast at this sf, gram-keyed SMJ at scale); only MARKED positions shuffle by doc for the island window; no per-gram occurrence lists (collect_list is the OOM shape on hot grams)",
    "q_span_scrub": "span table (aggregate-sized) flattens to one covered-positions array per affected doc and equi-joins back on the doc key; the rewrite is a zero-shuffle positional filter lambda over the token array — the corpus is never re-exploded for the scrub",
    "q_ts_similarity": "one (user, day) rollup shuffle; reference series broadcasts (BroadcastHashJoin); per-candidate aggregate over series rows only; TakeOrderedAndProject finishes top-k without a global sort",
    "q_tombstone_rekeep": "same contraction-label subtree as q_dedup_cluster (plan-matched shingle cache shared); the maintenance step itself is ONE label-sized aggregate — the corpus is never rescanned for deletion propagation",
    "q_star_join": "Catalyst-reordered 6-table star: dims broadcast (BroadcastHashJoin), region filter prunes nations before fact rows, no CartesianProduct; at test sf even the fact-fact join broadcasts (filtered orders), at scale it is the one SMJ",
    "q_minhash_merge": "zero-shuffle per-doc Arrow signatures; ONE (lang, i) MIN aggregate whose shuffle carries signature entries, never shingles — the merge side of the sketch-mergeability identity",
    "q_correlated_subquery": "correlated scalar subquery DECORRELATED: one per-part aggregate joined back (never per-row re-execution); partial+final agg under the join",
    "q_scd2_history": "gaps-and-islands SCD2: both windows share ONE (user_id) hashpartitioning exchange; change-point filter between them",
    "q_unigram_score": "tokenize scan -> (token) vocabulary aggregate -> token equi-join (never nested loop) -> (doc) final aggregate, partials map-side throughout",
    "q_quality_funnel": "single scan, cumulative-AND COUNT FILTER partials, one (source) exchange of count rows",
    "q_asof_nearest": "two union-window as-of passes (backward+forward) on the same (user_id) key — no range join; chooser is pure projection",
    "q_skew_report": "one (key) count aggregate; percentile summary and top-5 run over the persisted key-size aggregate (InMemoryTableScan), never data rows",
    "q_fk_integrity": "four LEFT existence joins + conditional-count aggregates, unioned; no COUNT(DISTINCT), dims ship keys only",
    "q_collocations": "one tokenize scan -> unigram agg + zip_with bigram agg; support filter precedes the unigram join-backs; TakeOrderedAndProject",
    "q_sample_weighted": "per-row rational priority, global top-K via TakeOrderedAndProject — zero exchanges, no global sort",
    "q_gap_fill": "generated (type x hour) spine from broadcast bounds -> ONE left equi-join -> per-series LOCF window; the hourly aggregate is partial+final",
    "q_shard_pack": "two-level distributed prefix sum: the only SinglePartition exchange carries (bucket, bucket_chars) aggregate rows — never doc rows; offsets broadcast back; per-bucket window partitioned",
    "q_ks_drift": "two-level KS prefix sum: ONE (type,bucket,value) count aggregate persisted (InMemoryTableScan feeds all three branches); per-type base window over <=32 bucket rows; within-bucket window partitioned by (type,bucket) — no per-type global sort; D numerator in decimal",
    "q_rolling_quantile": "ONE (user_id) window exchange; bounded 10-row collect_list frame; quantile extraction is zero-shuffle array expressions (array_sort + element_at) in the same stage",
    "q_zorder_layout": "one-row bounds aggregate broadcast onto the scan (BroadcastNestedLoopJoin build-right); 16-term integer interleave inside WholeStageCodegen; ONE partial+final hash aggregate over 64 file groups",
    "q_join_incremental": "join-view IVM: all 3 delta terms are BroadcastHashJoins with the micro-batch side building — history is scanned, never shuffled for a join; the single Exchange is the group-sized final aggregate",
    "q_semantic_dedup": "SemDeDup composed + PQ-coded (r11): persisted (vec_id, cluster) table feeds both pair sides; the cluster-keyed pair join shuffles (id, eps, codes) — NEVER embeddings (plan-asserted); ADC Gram fold + lossless eps bound cut ~65% of pairs before the exact verify, which fetches vectors via vec_id joins; closure via the contraction operator",
    "q_disorder_profile": "two-level distributed prefix MAX over arrival order: (type, bucket) maxima aggregate, tiny exclusive-prefix window, within-bucket running-max windows partitioned by (type, bucket) with base offsets broadcast — never a per-type global sort",
    "q_join_cardinality": "estimator never materializes the join: two per-key count aggregates feed a key-sized equi-join (cnt_a x cnt_b products), cost independent of the predicted output size",
    "q_bfs_khop": "bounded frontier expansion in ONE lazy plan: per level an equi-join on the persisted symmetric edge table (InMemoryTableScan) + LeftAnti against visited; no iteration-to-fixpoint, no CartesianProduct",
    "q_chunk_overlap": "embarrassingly parallel chunker: one scan, one Generate (stride explode), zero-shuffle array slicing + md5 in the same stage — no exchanges at all",
    "q_bpe_encode": "tokenizer APPLY: train's cached vocab + one codegen replace() projection per driver-learned rule IS the encoder; encode = (doc, word) count aggregate equi-joined to the vocab (AQE broadcast at this sf) — documents never replay merges",
    "q_cusum_changepoint": "corpus collapses to the (priority, month) aggregate in ONE partial+final pass; prefix windows + argmax run on calendar-sized rows; all integer cents",
    "q_ewma_smooth": "one (type, day) count aggregate; the EWMA fold is a zero-shuffle higher-order array expression over calendar-sized arrays",
    "q_autocorr": "month-grain aggregate first; the lag pairing is a within-priority equi-join on the tiny series frame (broadcast), moment sums partial+final",
    "q_seasonality": "one partial+final (priority, dow) aggregate to 35 rows; share/index windows over those rows only",
    "q_assoc_rules": "COUNT-first mega-basket guard (bounded agg state) before the persisted per-basket item arrays; pairs via zero-shuffle nested-transform Generate — never a corpus self-join; top-20 = TakeOrderedAndProject; supports/total broadcast",
    "q_attribution": "type filter pushed to parquet; reverse running-count + rank windows share the per-user partitioning; channel aggregate partial+final — no corpus join",
    "q_label_prop": "persisted symmetric edge table (InMemoryTableScan x3); per iteration ONE label join + (node,label) partial+final count + node-keyed argmax window — no fixpoint loop, no single-reducer stage",
    "q_hll_intersect": "persisted distinct (type,key) set feeds the 3-sketch aggregate AND the exact pair joins; hll_union is register algebra on broadcast-sized rows — intersection never rescans data",
    "q_mad_outliers": "exact order-statistic twin in ONE lazy plan: one event_type Exchange; median and MAD are rank + whole-frame windows inside it (one sort by value, one by dev) and the fence aggregate reuses its partitioning — no join, no construction job; production path is the approx_percentile sketch this gates",
    "q_benford": "ONE 9-group count aggregate over the scan (digit from integer formatting, no log); literal digit frame broadcast; chi-square windows over 9 rows",
    "q_char_diversity": "char explode compresses in the map-side partial of the (doc,char) count aggregate — alphabet-sized rows cross the shuffle; diversity math + argmax over the persisted aggregate (InMemoryTableScan x2)",
    "q_ab_welch": "one partial+final moment aggregate to (type,variant) rows; the A/B pairing join and the Welch expression run on that tiny frame",
    "q_gini_concentration": "per-customer aggregate shuffle, ONE per-priority sort window for ranks, final aggregate — rank-weighted sums stay integer",
    "q_rrf_fusion": "item aggregate first; two rank windows over the item frame (top-N-sized in production fusion); TakeOrderedAndProject final",
    "q_hits": "persisted bipartite edge table reused by all 4 iteration joins; per iteration partial+final FIXED-POINT integer sums + 1-row max broadcast; top-10 rank windows over node-sized frames",
    "q_window_cume": "cume_dist + percent_rank in ONE Window over one (custkey) shuffle — the definitional correlated subquery exists only in the oracle",
    "q_decay_topk": "corpus -> (user, day) count aggregate; 1-row ref-day BroadcastNestedLoopJoin; shifted-BIGINT decay inside codegen; TakeOrderedAndProject top-10",
    "q_conversion_latency": "type filter pushed to parquet; reverse-count + first-touch windows share the user partitioning; per-channel order-statistic windows on conversion rows",
    "q_degree_assortativity": "persisted symmetric edge table (degrees + both pair join-backs + edge count); co-partitioned basket self-join builds edges once; 1-row moment/global aggregates cross-joined",
    "q_pack_sequences_bpe": "tokenizer-true packing: the q_bpe_encode vocab equi-join sizes docs (AQE broadcast at this sf), then the SAME one-shuffle per-lang running-sum Window as q_pack_sequences — no extra corpus pass, no global sort",
    "q_ann_calibration": "ANN QA: ONE corpus scan anchors all probes (BroadcastNestedLoopJoin of the 3-row query frame + per-query window top-k); each recall arm is the batched production path — one signature scan, one Arrow assignment, one Arrow encode for ALL probes; every flag/metric join broadcasts a k-row frame — no SortMergeJoin anywhere",
    "q_quantile_merge": "quantile merge law: 3 ObjectHashAggregate sketch passes (shuffles carry KLL sketches, never raw values) + the 5-row estimate frame broadcast back for the rank audit; the exact-order-statistic windows are the audit side only",
    "q_mix_budget_bpe": "tokenizer-true mixing: vocab equi-join sizing feeds ONE (lang) shuffle into the hash-ordered running-sum Window + budget filter — the q_mix_budget plan with truer sizes",
}

_SECTION = """\
## {name}

**Contract:** {expect}

- exchanges (shuffles): **{n_exchange}**; broadcast exchanges: {n_bcast}; Python/Arrow stages: {n_arrow}
- joins: {joins}
- physical highlights:
{highlights}
"""


def _fmt_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _highlights(plan: str) -> list[str]:
    keep = (
        "PushedFilters", "ReadSchema", "TakeOrderedAndProject",
        "WindowGroupLimit", "Generate ", "HashAggregate", "SortMergeJoin",
        "BroadcastHashJoin", "BroadcastNestedLoopJoin", "ArrowEvalPython",
        "MapInPandas", "Window ",
    )
    out: list[str] = []
    for line in plan.splitlines():
        s = line.strip()
        if any(k in s for k in keep):
            s = re.sub(r"file:[^\]\s,]+", "file:...", s)
            s = s if len(s) <= 150 else s[:147] + "..."
            if s not in out:
                out.append(s)
    return out[:14]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-audit")
    qs = all_queries()
    sections = []
    for name, expect in EXPECT.items():
        plan = _fmt_plan(qs[name](spark, sf_dir))
        joins = sorted(
            {
                m
                for m in re.findall(
                    r"(SortMergeJoin \w+|BroadcastHashJoin \w+|"
                    r"BroadcastNestedLoopJoin \w+|ShuffledHashJoin \w+)",
                    plan,
                )
            }
        )
        sections.append(
            _SECTION.format(
                name=name,
                expect=expect,
                n_exchange=len(re.findall(r"\(\d+\) Exchange\b", plan)),
                n_bcast=len(re.findall(r"\(\d+\) BroadcastExchange\b", plan)),
                n_arrow=len(re.findall(r"ArrowEvalPython|MapInPandas|BatchEvalPython", plan)),
                joins=", ".join(joins) if joins else "none",
                highlights="\n".join(f"  - `{h}`" for h in _highlights(plan)),
            )
        )
    body = (
        "# PLANS — physical-plan audit of the headline queries\n\n"
        f"Generated by `tools/plan_audit.py` against `{sf_dir}` "
        "(regenerate after planner-relevant changes; the hard assertions "
        "live in `tests/test_plan_shape.py`).  Each section states the "
        "plan contract and the distilled `.explain(\"formatted\")` "
        "evidence.\n\n" + "\n".join(sections)
    )
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write(body)
    print(f"wrote PLANS.md ({len(sections)} sections)")


if __name__ == "__main__":
    main()
