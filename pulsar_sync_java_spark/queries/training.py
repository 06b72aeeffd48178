"""Training-data pipeline queries beyond the r2 surface: intra-doc
repetition quality (Gopher-style), benchmark decontamination, sequence
packing, sliding-window rollups, and the end-to-end dedup keep/drop
decision.  Every query here is oracle-checked (hash gate).

These are the operations a 100 TB pretraining pipeline runs between raw
crawl and tokenizer: quality gates (repetition), leakage control
(decontamination), batch shaping (packing), and the dedup DECISION
(not just candidate pairs — which doc survives).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.functions.numeric import dsum, sql_dsum
from pulsar_sync_java_spark.functions.text import shingles_from_tokens, tokens
from pulsar_sync_java_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_rows,
)
from pulsar_sync_java_spark.operators.graph import connected_components
from pulsar_sync_java_spark.operators.util import spread
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.queries.reference import TS_FMT_DUCK, fmt_ts
from pulsar_sync_java_spark.operators.vectorized import (
    portable_family_sql_values,
)
from pulsar_sync_java_spark.sources.tables import load_table

# ---------------------------------------------------------------- repetition

_REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         greatest(len(t) - 2, 0) AS n3_total,
         len(list_distinct(list_transform(
           generate_series(1, len(t) - 2),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS n3_distinct
  FROM toks
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n3_total AS INT) AS n3_total,
       CAST(n3_distinct AS INT) AS n3_distinct,
       1.0 - CAST(n3_distinct AS DOUBLE) / CAST(n3_total AS DOUBLE)
         AS dup3_ratio
FROM g
WHERE n3_total > 0
"""


@query("q_repetition_ratio", oracle=_REPETITION_SQL)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of duplicate 3-grams per doc
    (1 - distinct/total) — the Gopher-family repetition quality gate
    (Rae et al. 2021, public).  Boilerplate and looped generations show
    high dup3_ratio; a pipeline drops or downweights them.

    Zero shuffle: tokens, n-gram construction and distinct-counting are
    all per-row JVM array expressions; the whole query is a projection
    over the scan, so it runs at full scan parallelism at any corpus
    size.  The 1 - d/t division is a single IEEE double op on integer
    inputs — bit-identical in both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.col("doc_id"), tokens("text").alias("__toks"))
    g = toks.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.greatest(F.size("__toks") - 2, F.lit(0)).alias("n3_total"),
        F.size(shingles_from_tokens(F.col("__toks"), 3)).alias("n3_distinct"),
    )
    return g.filter(F.col("n3_total") > 0).select(
        "doc_id",
        "n_tokens",
        "n3_total",
        "n3_distinct",
        (
            F.lit(1.0)
            - F.col("n3_distinct").cast("double") / F.col("n3_total").cast("double")
        ).alias("dup3_ratio"),
    )


# ------------------------------------------------------------ decontamination

_CONTAMINATION_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i
), sh8 AS (
  SELECT DISTINCT doc_id,
         t[d.i] || ' ' || t[d.i+1] || ' ' || t[d.i+2] || ' ' || t[d.i+3]
           || ' ' || t[d.i+4] || ' ' || t[d.i+5] || ' ' || t[d.i+6]
           || ' ' || t[d.i+7] AS shingle
  FROM toks, dims d WHERE d.i <= len(t) - 7
)
SELECT t.doc_id,
       COUNT(DISTINCT t.shingle) AS n_shared_ngrams,
       COUNT(DISTINCT b.doc_id) AS n_bench_docs
FROM sh8 t
JOIN sh8 b ON t.shingle = b.shingle
WHERE b.doc_id % 19 = 0 AND t.doc_id % 19 <> 0
GROUP BY t.doc_id
"""


@query("q_contamination", oracle=_CONTAMINATION_SQL)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, count the
    8-gram overlaps with a held-out benchmark set (here the deterministic
    doc_id % 19 == 0 slice stands in for an eval suite) — the standard
    n-gram leakage check run before pretraining (GPT-3 appendix C shape,
    public).

    Scale shape: the BENCHMARK side is tiny relative to the corpus (eval
    suites are thousands of docs), so its distinct 8-gram set broadcasts
    and the probe is a broadcast semi-ish join at full scan parallelism —
    the training corpus is never shuffled at all; only the matched pairs
    (a vanishing fraction) reach the per-doc aggregate."""
    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 19 == 0)
    train = d.filter(F.col("doc_id") % 19 != 0)
    bsh = shingle_rows(bench, n=8, hashed=True).withColumnRenamed(
        "doc_id", "bench_id"
    )
    tsh = shingle_rows(train, n=8, hashed=True)
    return (
        tsh.join(F.broadcast(bsh), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_ngrams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


# ------------------------------------------------------------------- packing

_PACK_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
       CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
       CAST(cum - n_tokens AS BIGINT) AS tok_start
FROM c
"""


@query("q_pack_sequences", oracle=_PACK_SQL)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document a pack id by greedy
    cumulative token count within a 2048-token budget — the
    context-window packing step that turns a doc table into fixed-size
    training sequences.  A doc straddling a boundary packs with its
    starting offset (standard greedy packing).

    Packing is PER LANGUAGE (stratum) on purpose: a single global
    running sum is inherently sequential — one totally-ordered window
    over the whole corpus — while per-stratum windows give one
    independent sort per partition key, which is how packing actually
    runs at 100 TB (per shard/stratum, never globally).  Deterministic:
    ordering is by unique doc_id, arithmetic all-integer."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("__cum"),
    )
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("(__cum - n_tokens) div 2048").alias("pack_id"),
        (F.col("__cum") - F.col("n_tokens")).alias("tok_start"),
    )


# ---------------------------------------------------------------- data mixing

_MIX_SQL = """
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
  FROM documents
), c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY h, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
       CAST(cum AS BIGINT) AS cum_tokens
FROM c
WHERE cum - n_tokens <
      (CASE lang WHEN 'en' THEN 1000 WHEN 'zh' THEN 500 ELSE 250 END)
"""


@query("q_mix_budget", oracle=_MIX_SQL)
def q_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling by TOKEN BUDGET: fill each language's quota
    (1000 en / 500 zh / 250 other tokens) by walking that stratum in
    portable-hash order and keeping docs until the budget is reached
    (the doc crossing the boundary is kept — greedy fill, like
    q_pack_sequences).  This is the data-mixing step of a pretraining
    run: domain weights are TOKEN targets, not row rates (which is what
    q_sample_stratified does), and hash order makes the same mixture
    reproducible on any engine or run.

    One shuffle (partitionBy lang) into a running-sum window; budgets
    cap the output per stratum, so downstream stages see bounded data
    regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).alias("n_tokens"),
        (((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)).alias("__h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = (
        F.when(F.col("lang") == "en", 1000)
        .when(F.col("lang") == "zh", 500)
        .otherwise(250)
    )
    c = t.select(
        "doc_id", "lang", "n_tokens", F.sum("n_tokens").over(w).alias("cum_tokens")
    )
    return c.filter(F.col("cum_tokens") - F.col("n_tokens") < budget).select(
        "doc_id", "lang", "n_tokens", "cum_tokens"
    )


# -------------------------------------------- tokenizer-true pack / mix

# The r10 twins (verdict #1): q_pack_sequences / q_mix_budget budget on
# whitespace token counts; these budget on the BPE token counts of the
# shared tokenizer (queries/pipeline.py:bpe_doc_token_counts — the
# q_bpe_encode encode-as-equi-join device), which is what a real
# pretraining pipeline packs by: the context window is measured in
# TOKENIZER tokens, not words.  Budgets scale with the finer unit
# (3-merge BPE tokens ~ characters on this corpus).

_PACK_BPE_BUDGET = 4096
_MIX_BPE_BUDGETS = "CASE lang WHEN 'en' THEN 8000 WHEN 'zh' THEN 4000 ELSE 2000 END"


def _pack_bpe_sql() -> str:
    from pulsar_sync_java_spark.queries.pipeline import BPE_DOC_TOKENS_CTES

    return (
        "WITH " + BPE_DOC_TOKENS_CTES + f""",
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM bpetok
)
SELECT doc_id, lang, n_tokens,
       CAST((cum - n_tokens) // {_PACK_BPE_BUDGET} AS BIGINT) AS pack_id,
       CAST(cum - n_tokens AS BIGINT) AS tok_start
FROM c
"""
    )


@query("q_pack_sequences_bpe", oracle=_pack_bpe_sql())
def q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing with TOKENIZER-TRUE budgets (r10 verdict #1):
    q_pack_sequences' greedy per-language cumulative packing, but sized
    by each document's BPE token count under the shared `_bpe_learn`
    vocabulary (the exact per-doc `n_bpe_tokens` q_bpe_encode emits —
    pinned equal by a property test) against a 4096-token context
    window.  This is the promise q_bpe_encode was built on: the packing
    a training run ships budgets in tokenizer tokens, not words.

    Scale shape: the corpus pays one tokenize scan reduced to (doc,
    word) counts; the trained vocab (word -> post-merge symbol array)
    joins back unique-keyed; packing itself is the same one-shuffle
    per-stratum running-sum window as the whitespace query — no new
    corpus pass over the whitespace version, just the truer sizes.
    Oracle: the full train+encode CTE chain unrolled (the q_bpe_encode
    oracle pattern) feeding the identical window — all-integer, so the
    whole row hash-gates."""
    from pulsar_sync_java_spark.queries.pipeline import bpe_doc_token_counts

    d = load_table(spark, sf_dir, "documents")
    t = bpe_doc_token_counts(d)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("__cum"),
    )
    return c.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr(f"(__cum - n_tokens) div {_PACK_BPE_BUDGET}").alias("pack_id"),
        (F.col("__cum") - F.col("n_tokens")).alias("tok_start"),
    )


def _mix_bpe_sql() -> str:
    from pulsar_sync_java_spark.queries.pipeline import BPE_DOC_TOKENS_CTES

    return (
        "WITH " + BPE_DOC_TOKENS_CTES + f""",
h AS (
  SELECT doc_id, lang, n_tokens,
         ((doc_id % 2147483648) * 2654435761) % 4294967296 AS hh
  FROM bpetok
),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY hh, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM h
)
SELECT doc_id, lang, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c
WHERE cum - n_tokens < ({_MIX_BPE_BUDGETS})
"""
    )


@query("q_mix_budget_bpe", oracle=_mix_bpe_sql())
def q_mix_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling by TOKENIZER-TRUE token budget (r10 verdict
    #1): q_mix_budget's greedy portable-hash-order quota fill per
    language, with quotas measured in BPE tokens of the shared trained
    vocabulary (8000 en / 4000 zh / 2000 other — scaled for the finer
    unit) instead of whitespace words.  Domain weights in a pretraining
    mixture are TOKEN targets under the run's own tokenizer; this is
    that exact semantics, reproducible on any engine via the portable
    hash order.

    Same plan as the whitespace query downstream of the sizing: one
    shuffle (partitionBy lang) into the running-sum window, budget cap
    bounds the output per stratum.  Oracle: unrolled train+encode CTEs
    feeding the identical hash-ordered window — all-integer arithmetic,
    whole row hash-gated."""
    from pulsar_sync_java_spark.queries.pipeline import bpe_doc_token_counts

    d = load_table(spark, sf_dir, "documents")
    t = bpe_doc_token_counts(d).select(
        "doc_id",
        "lang",
        "n_tokens",
        (
            ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761))
            % F.lit(4294967296)
        ).alias("__h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select(
        "doc_id", "lang", "n_tokens", F.sum("n_tokens").over(w).alias("cum_tokens")
    )
    return c.filter(
        F.col("cum_tokens") - F.col("n_tokens") < F.expr(_MIX_BPE_BUDGETS)
    ).select("doc_id", "lang", "n_tokens", "cum_tokens")


# ------------------------------------------------------------- boilerplate

_BOILER_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i
), sh5 AS (
  SELECT DISTINCT doc_id,
         t[d.i] || ' ' || t[d.i+1] || ' ' || t[d.i+2] || ' ' || t[d.i+3]
           || ' ' || t[d.i+4] AS shingle
  FROM toks, dims d WHERE d.i <= len(t) - 4
), boiler AS (
  SELECT shingle FROM sh5 GROUP BY shingle HAVING COUNT(*) >= 3
), per_doc AS (
  SELECT s.doc_id,
         COUNT(*) AS n5_total,
         COUNT(b.shingle) AS n5_boiler
  FROM sh5 s LEFT JOIN boiler b ON s.shingle = b.shingle
  GROUP BY s.doc_id
)
SELECT doc_id, CAST(n5_total AS BIGINT) AS n5_total,
       CAST(n5_boiler AS BIGINT) AS n5_boiler,
       CAST(n5_boiler AS DOUBLE) / CAST(n5_total AS DOUBLE) AS boiler_ratio
FROM per_doc
"""


@query("q_boilerplate", oracle=_BOILER_SQL)
def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global boilerplate scoring: a 5-gram occurring in >= 3
    distinct documents is boilerplate (headers, licenses, templates —
    the cross-document repetition q_repetition_ratio's WITHIN-doc gate
    cannot see); each doc is scored by its boilerplate-5-gram fraction.

    Scale shape: one inverted-index shuffle builds the document
    frequencies (distinct (doc, shingle) explode -> per-shingle count);
    the boilerplate set — tiny, high-df tail — broadcasts back onto the
    per-doc aggregate.  Same discipline as q_contamination: the corpus
    is shuffled once by shingle, never joined all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(d, n=5, hashed=True)
    boiler = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 3)
        .select("shingle")
    )
    joined = sh.join(
        F.broadcast(boiler.withColumn("__is_boiler", F.lit(1))),
        "shingle",
        "left",
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n5_total"),
        F.count("__is_boiler").alias("n5_boiler"),
    )
    return per_doc.select(
        "doc_id",
        "n5_total",
        "n5_boiler",
        (
            F.col("n5_boiler").cast("double") / F.col("n5_total").cast("double")
        ).alias("boiler_ratio"),
    )


# ------------------------------------------------------------- sliding window

_SLIDING_SQL = f"""
WITH expanded AS (
  SELECT event_type, value,
         time_bucket(INTERVAL '15 minutes', ts)
           - to_minutes(CAST(15 * i.i AS BIGINT)) AS ws
  FROM events, (SELECT unnest(range(4)) AS i) i
)
SELECT event_type,
       strftime(ws, '{TS_FMT_DUCK}') AS window_start,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM expanded
GROUP BY event_type, ws
"""


@query("q_window_sliding", oracle=_SLIDING_SQL)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes per event_type — the
    HOPPING window (each event lands in ceil(60/15) = 4 overlapping
    windows), the streaming-analytics shape q_window_tumbling does not
    cover.  Batch analogue of `groupBy(window(ts, '1 hour',
    '15 minutes'))`.

    The oracle expands each event into its 4 epoch-aligned window
    starts explicitly — same grouping, engine-independently."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "15 minutes")
    return (
        ev.groupBy("event_type", win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "event_type",
            fmt_ts(F.col("w.start")).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


# ------------------------------------------------------------- dedup decision
_FAM64 = portable_family_sql_values(64)


# End-to-end dedup decision over the PORTABLE MinHash pair set
# (queries/dedup_scale.py:_MINHASH_SQL semantics): candidate pairs with
# est_jaccard >= 0.5, transitively closed (recursive CTE), each
# non-minimum doc dropped in favor of its component minimum.
_KEEPERS_SQL = f"""
WITH RECURSIVE toks AS (
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
), ok_buckets AS (
  -- the engine's max_bucket=1000 skew guard: oversized buckets dropped whole
  SELECT band, slice FROM slices GROUP BY band, slice HAVING COUNT(*) <= 1000
), cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM slices x
  JOIN ok_buckets ob ON x.band = ob.band AND x.slice = ob.slice
  JOIN slices y
    ON x.band = y.band AND x.slice = y.slice AND x.doc_id < y.doc_id
), pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
  GROUP BY c.doc_a, c.doc_b
  HAVING SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) >= 32
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b <> r.a
), labels AS (
  SELECT a AS doc_id, LEAST(a, MIN(b)) AS keeper FROM reach GROUP BY a
)
SELECT doc_id, keeper AS kept_doc_id
FROM labels WHERE keeper < doc_id
"""


@query("q_dedup_keepers", oracle=_KEEPERS_SQL)
def q_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION: MinHash-LSH candidates (portable mode,
    est_jaccard >= 0.5) -> connected components -> every non-minimum
    member of a duplicate cluster is dropped in favor of the component
    minimum.  One row per DROPPED doc with its keeper — exactly the
    table a pipeline anti-joins against the corpus to materialize the
    deduplicated training set.

    Composes the tested pieces end-to-end (signatures ->
    banded candidates -> contraction clustering); at 100 TB the pair
    set is the duplicate survivors (orders of magnitude below corpus
    rows) and the closure runs on the contracted forest
    (operators/graph.py scale posture)."""
    d = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=64).persist()
    pairs = lsh_candidate_pairs(sigs, bands=16).filter(
        F.col("est_jaccard") >= 0.5
    )
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    return labels.filter(F.col("label") < F.col("id")).select(
        F.col("id").alias("doc_id"), F.col("label").alias("kept_doc_id")
    )


# -------------------------------------------------------- corpus materialize

_MATERIALIZE_SQL = """
WITH t AS (
  SELECT doc_id, lang, source, n_chars, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, lang, source, n_chars, text,
         len(toks) AS n_tokens,
         len(list_distinct(list_transform(
           generate_series(1, len(toks) - 2),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
           AS n3_distinct
  FROM t
), gated AS (
  SELECT doc_id, lang, source, n_tokens, md5(text) AS fp
  FROM g
  WHERE n_tokens >= 5 AND n_chars >= 30
    AND 1.0 - CAST(n3_distinct AS DOUBLE) / (n_tokens - 2) <= 0.5
), k AS (
  SELECT doc_id, lang, source, n_tokens,
         MIN(doc_id) OVER (PARTITION BY fp) AS keeper
  FROM gated
)
SELECT doc_id, lang, source, CAST(n_tokens AS INT) AS n_tokens
FROM k WHERE doc_id = keeper
"""


@query("q_corpus_materialize", oracle=_MATERIALIZE_SQL)
def q_corpus_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus materialization a pretraining pipeline runs
    LAST: quality gates (length, char floor, Gopher-style repetition
    ratio — the q_text_quality / q_repetition_ratio thresholds), then
    exact dedup among the survivors (q_dedup_exact semantics: lowest
    doc_id per content hash wins), emitting the rows a tokenizer would
    actually consume.

    Scale shape: ONE spread-parallelized projection computes every
    per-row feature (token count, distinct 3-grams, content hash),
    drops the raw text, and is PERSISTED — the cache is the pushdown
    barrier here, not an exchange: Catalyst pushes the gate predicate
    through repartitions and both projection layers down to the scan,
    re-evaluating the interpreted higher-order shingle expressions per
    reference at single-file scan parallelism (measured: split()
    appeared 9x in the physical plan and the query ran ~13x slower;
    with the cached feature table the filter reads plain columns).
    The cached rows are features + a 32-char hash, never document
    bodies; at 100 TB the same projection is what a pipeline writes
    once as a features table.  The dedup min-per-fingerprint is then
    the only shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, full=True).select(
        "doc_id", "lang", "source", "n_chars", "text",
        tokens("text").alias("__toks"),
    )
    feats = toks.select(
        "doc_id", "lang", "source", "n_chars",
        F.size("__toks").alias("n_tokens"),
        F.size(shingles_from_tokens(F.col("__toks"), 3)).alias("n3_distinct"),
        F.md5(F.encode("text", "UTF-8")).alias("fp"),
    ).persist()
    gated = feats.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("n_chars") >= 30)
        & (
            F.lit(1.0)
            - F.col("n3_distinct").cast("double") / (F.col("n_tokens") - 2)
            <= 0.5
        )
    )
    w = Window.partitionBy("fp")
    return (
        gated.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keeper"))
        .select("doc_id", "lang", "source", F.col("n_tokens").cast("int").alias("n_tokens"))
    )


# ------------------------------------------------------------- domain cap

_DOMAIN_CAP_SQL = """
WITH c AS (
  SELECT source, COUNT(*) AS n_source_docs FROM documents GROUP BY source
), r AS (
  SELECT d.doc_id, d.source, c.n_source_docs,
         CASE WHEN CAST(substr(d.source, 4) AS INT) < 10 THEN 10 ELSE 30 END AS cap,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY ((d.doc_id % 2147483648) * 2654435761) % 4294967296, d.doc_id) AS rn
  FROM documents d JOIN c ON d.source = c.source
)
SELECT doc_id, source, n_source_docs, CAST(cap AS INT) AS cap
FROM r WHERE rn <= cap
"""


def _source_cap() -> F.Column:
    """Per-domain cap policy: low-trust sources (src0..src9) capped at
    10 docs, the rest at 30 — stands in for the per-domain quota table
    of a crawl pipeline."""
    return (
        F.when(F.expr("CAST(substring(source, 4) AS INT)") < 10, F.lit(10))
        .otherwise(F.lit(30))
        .cast("int")
    )


@query("q_domain_cap", oracle=_DOMAIN_CAP_SQL)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap in portable-hash order — the crawl
    pipeline's "no domain dominates the corpus" gate, reproducible
    across runs/engines (same multiplicative hash as
    q_sample_stratified, so the kept set is stable).

    SKEW-SAFE two-phase shape, not a naive global rank window: pass 1
    aggregates per-source counts (shuffle carries one row per domain);
    sources under their cap bypass ranking entirely — their rows never
    enter a window shuffle, just a broadcast semi join against the
    tiny under-cap source list.  Only OVERSIZED domains' rows pay the
    row_number window.  At 100 TB the domain distribution is long-tail
    (most domains far under cap, a few hot ones way over), so the
    expensive ordered shuffle carries only the hot slice — the same
    hot-key discipline as operators/skew.py.  The oracle is the plain
    global-QUALIFY formulation (identical result, single window)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_source_docs"))
    sized = counts.select("source", "n_source_docs", _source_cap().alias("cap"))
    under = sized.filter(F.col("n_source_docs") <= F.col("cap"))
    over = sized.filter(F.col("n_source_docs") > F.col("cap"))

    kept_whole = d.join(F.broadcast(under), "source")
    w = Window.partitionBy("source").orderBy(
        ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296), "doc_id"
    )
    kept_ranked = (
        d.join(F.broadcast(over), "source")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.col("cap"))
        .drop("__rn")
    )
    return kept_whole.unionByName(kept_ranked).select(
        "doc_id", "source", "n_source_docs", "cap"
    )


# ------------------------------------------------ shard bin-packing

_SHARD_TARGET = 20_000  # chars per output shard
_SHARD_RANGE = 64  # doc_ids per prefix-sum leaf bucket

_SHARD_PACK_SQL = f"""
WITH c AS (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_chars AS start
  FROM documents
), s AS (
  SELECT doc_id, n_chars, CAST(start // {_SHARD_TARGET} AS BIGINT) AS shard_id
  FROM c
)
SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM s GROUP BY shard_id
"""


@query("q_shard_pack", oracle=_SHARD_PACK_SQL)
def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in stable doc_id order) into training shards of
    ~TARGET chars by exclusive running total: shard = floor(prefix /
    TARGET) — the writer-side shard planner that turns a cleaned
    corpus into evenly-sized output files, summarized per shard.

    The interesting part is HOW the running total is computed: a
    global `SUM() OVER (ORDER BY ...)` is a SINGLE-TASK window — the
    one operator shape that cannot scale — so the engine uses the
    classic two-level distributed prefix sum instead: (1) bucket ids
    into contiguous ranges (doc_id div RANGE — parallel, no shuffle),
    (2) per-bucket totals, cumulated over the TINY bucket table in one
    small window (B rows = n/RANGE, the only serial step, and it runs
    over aggregated rows, not data rows), (3) broadcast the bucket
    offsets back and finish with a PER-BUCKET (partitioned, parallel)
    window.  The oracle is the naive single-window form — same
    semantics, so the hash gate proves the distributed rewrite exact.
    At 100 TB you'd add a third level (buckets-of-buckets) once B
    itself outgrows one task; depth grows with log_RANGE(n).

    Integer discipline: prefixes and shard ids are exact BIGINT
    arithmetic (`div`, never float floor)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    b = d.withColumn("bucket", F.expr(f"doc_id div {_SHARD_RANGE}"))
    # per-bucket totals -> exclusive offsets via one window over B rows
    totals = b.groupBy("bucket").agg(F.sum("n_chars").alias("bucket_chars"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    offsets = totals.select(
        "bucket",
        (F.sum("bucket_chars").over(wb) - F.col("bucket_chars")).alias("offset"),
    )
    # per-bucket (parallel) exclusive cumsum + broadcast offset
    ww = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = (
        b.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "start",
            F.col("offset") + F.sum("n_chars").over(ww) - F.col("n_chars"),
        )
        .withColumn("shard_id", F.expr(f"start div {_SHARD_TARGET}").cast("bigint"))
    )
    return s.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ------------------------------------------------------- z-order layout

# Morton/Z-order bit interleave, spelled in portable integer arithmetic
# ((x >> i) & 1 on BIGINT behaves identically in Spark and DuckDB), so
# the curve value — and therefore the file assignment — replays
# bit-for-bit in the oracle.
_ZBITS = 8


def _z_terms_sql(x: str, y: str) -> str:
    return " + ".join(
        f"(({x} >> {i}) & 1) * {4 ** i} + (({y} >> {i}) & 1) * {2 * 4 ** i}"
        for i in range(_ZBITS)
    )


_ZORDER_SQL = f"""
WITH bounds AS (
  SELECT MAX(l_partkey) + 1 AS pk_n, MAX(l_suppkey) + 1 AS sk_n
  FROM lineitem
), pts AS (
  SELECT l_partkey, l_suppkey,
         CAST(l_partkey * 256 // pk_n AS BIGINT) AS x,
         CAST(l_suppkey * 256 // sk_n AS BIGINT) AS y
  FROM lineitem, bounds
), z AS (
  SELECT l_partkey, l_suppkey,
         {_z_terms_sql('x', 'y')} AS zval
  FROM pts
)
SELECT CAST(zval // 1024 AS INT) AS file_id,
       COUNT(*) AS n_rows,
       MIN(l_partkey) AS min_partkey, MAX(l_partkey) AS max_partkey,
       MIN(l_suppkey) AS min_suppkey, MAX(l_suppkey) AS max_suppkey,
       MAX(l_partkey) - MIN(l_partkey) + 1 AS partkey_span,
       MAX(l_suppkey) - MIN(l_suppkey) + 1 AS suppkey_span
FROM z GROUP BY 1
"""


@query("q_zorder_layout", oracle=_ZORDER_SQL)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) file-layout planner over the lineitem
    fact's two hot filter keys: normalize each key to 8 bits against
    its observed domain, interleave the bits, cut the curve into 64
    files, and report each file's min/max key RANGES — exactly the
    per-file statistics a lakehouse data-skipping index keeps.  A
    single-key sort minimizes one span and leaves the other at full
    width; the Z-curve keeps BOTH spans narrow, which is why
    multi-dimensional clustering beats linear sort for two-filter
    workloads at 100 TB.

    Plan: pass 1 is a one-row domain-bounds aggregate broadcast onto
    the scan (the q_gap_fill spine pattern — a real z-order writer
    computes bounds first); pass 2 is zero-join: the interleave is 16
    integer shift/mask terms inside whole-stage codegen feeding ONE
    partial+final hash aggregate over 64 file groups.  At scale
    file_id is the repartition-by-range write key; here the query
    surfaces the layout quality (the spans) the optimizer would skip
    on."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        (F.max("l_partkey") + 1).alias("pk_n"),
        (F.max("l_suppkey") + 1).alias("sk_n"),
    )
    pts = li.select("l_partkey", "l_suppkey").crossJoin(F.broadcast(bounds))
    x = F.expr("CAST(l_partkey * 256 DIV pk_n AS BIGINT)")
    y = F.expr("CAST(l_suppkey * 256 DIV sk_n AS BIGINT)")
    zval = None
    for i in range(_ZBITS):
        term = F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(4 ** i) + (
            F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(2 * 4 ** i)
        )
        zval = term if zval is None else zval + term
    return (
        pts.select("l_partkey", "l_suppkey", zval.alias("zval"))
        .groupBy(F.expr("CAST(zval DIV 1024 AS INT)").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_partkey"),
            F.max("l_partkey").alias("max_partkey"),
            F.min("l_suppkey").alias("min_suppkey"),
            F.max("l_suppkey").alias("max_suppkey"),
            (F.max("l_partkey") - F.min("l_partkey") + 1).alias("partkey_span"),
            (F.max("l_suppkey") - F.min("l_suppkey") + 1).alias("suppkey_span"),
        )
    )


# ------------------------------------------------- overlap chunking

# Context-window chunking with overlap — the pretraining/RAG shaping
# op that complements q_pack_sequences: packing concatenates SHORT
# docs up to the window; chunking splits LONG docs into windows with a
# stride so no boundary context is lost.  chunk i covers tokens
# [i*stride, i*stride + size); chunks exist while their start is
# inside the doc.  The chunk text itself is emitted as an md5 (both
# engines agree on md5-of-joined-tokens), keeping the oracle hash
# payload small.
_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48  # 16-token overlap

_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), starts AS (
  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, {_CHUNK_STRIDE})) AS s
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(s / {_CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(s + 1 AS INT) AS start_token,
       CAST(len(t[s + 1 : s + {_CHUNK_SIZE}]) AS INT) AS n_chunk_tokens,
       md5(array_to_string(t[s + 1 : s + {_CHUNK_SIZE}], ' ')) AS chunk_md5
FROM starts
"""


@query("q_chunk_overlap", oracle=_CHUNK_SQL)
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunker: every document split into
    64-token windows advancing by 48 (16-token overlap), one row per
    chunk with its 1-based start, actual token count (the tail chunk
    is shorter) and the md5 of the chunk text.

    Scale shape: pure per-doc generator work — tokenize once, ONE
    Generate (explode of the stride sequence) and zero-shuffle array
    slicing inside the same stage; no joins, no aggregation, nothing
    driver-side.  Output size is corpus tokens / stride rows — the
    chunker a RAG indexer or long-doc pretraining pipeline runs before
    embedding/packing."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    size, stride = _CHUNK_SIZE, _CHUNK_STRIDE
    chunks = (
        d.filter(F.size("t") > 0)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(0), F.size("t") - 1, F.lit(stride))
            ).alias("s"),
        )
        .select(
            "doc_id",
            (F.col("s") / stride).cast("int").alias("chunk_idx"),
            (F.col("s") + 1).cast("int").alias("start_token"),
            F.slice(F.col("t"), F.col("s") + 1, size).alias("chunk"),
        )
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "start_token",
        F.size("chunk").cast("int").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5"),
    )


# ------------------------------------------- small-file compaction plan

_COMPACT_FILE_KEYS = 8  # orderkeys per simulated input file
_COMPACT_UNDER = 32  # rows below which a file is compaction-eligible (~median)
_COMPACT_TARGET = 128  # rows per compaction output group (~4-5 small files)
_COMPACT_RANGE = 16  # files per prefix-sum leaf bucket


def plan_compaction(
    files: DataFrame,
    target_rows: int,
    under_rows: int,
    bucket_range: int = 16,
) -> DataFrame:
    """Per-file compaction assignments over a FILE-STATS table with
    columns (file_id, n_rows, min_key, max_key): files at/above
    `under_rows` are right-sized and stay untouched (absent from the
    output); undersized files are bin-packed IN KEY ORDER into
    ~`target_rows`-row groups, so merged files stay range-prunable.

    group id = exclusive-prefix-sum(n_rows) div target, computed as a
    TWO-LEVEL distributed prefix sum (`bucket_range` files per leaf
    bucket, per-bucket totals cumulated over the tiny bucket table,
    broadcast offsets, per-bucket parallel windows) — at 100 TB the
    planner's input is itself big (~10^6 files at a 128 MB target) and
    a naive `SUM() OVER (ORDER BY file_id)` over it is the single-task
    window this engine never emits.  Returns (file_id, n_rows,
    min_key, max_key, group_id)."""
    under = files.filter(F.col("n_rows") < under_rows).withColumn(
        "bucket", F.expr(f"file_id div {int(bucket_range)}")
    )
    totals = under.groupBy("bucket").agg(F.sum("n_rows").alias("bucket_rows"))
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    offsets = totals.select(
        "bucket",
        (F.sum("bucket_rows").over(wb) - F.col("bucket_rows")).alias("offset"),
    )
    ww = (
        Window.partitionBy("bucket")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        under.join(F.broadcast(offsets), "bucket")
        .withColumn(
            "start",
            F.col("offset") + F.sum("n_rows").over(ww) - F.col("n_rows"),
        )
        .withColumn(
            "group_id",
            F.expr(f"start div {int(target_rows)}").cast("bigint"),
        )
        .select("file_id", "n_rows", "min_key", "max_key", "group_id")
    )


def compaction_groups(assign: DataFrame, target_rows: int) -> DataFrame:
    """Group summary of a `plan_compaction` assignment — file count,
    merged key range, fill ratio per compaction group (what
    q_compaction_plan reports).  Integer discipline; fill_ratio is the
    single final division."""
    return assign.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.min("min_key").alias("min_key"),
        F.max("max_key").alias("max_key"),
        (
            F.sum("n_rows").cast("long").cast("double")
            / F.lit(int(target_rows))
        ).alias("fill_ratio"),
    )


_COMPACTION_SQL = f"""
WITH files AS (
  SELECT l_orderkey // {_COMPACT_FILE_KEYS} AS file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
  FROM lineitem GROUP BY 1
), under AS (
  SELECT * FROM files WHERE n_rows < {_COMPACT_UNDER}
), c AS (
  SELECT *, SUM(n_rows) OVER (ORDER BY file_id
                              ROWS UNBOUNDED PRECEDING) - n_rows AS start
  FROM under
), g AS (
  SELECT *, CAST(start // {_COMPACT_TARGET} AS BIGINT) AS group_id FROM c
)
SELECT group_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_rows) AS BIGINT) AS total_rows,
       MIN(min_key) AS min_key, MAX(max_key) AS max_key,
       CAST(CAST(SUM(n_rows) AS BIGINT) AS DOUBLE) / {_COMPACT_TARGET}
         AS fill_ratio
FROM g GROUP BY group_id
"""


@query("q_compaction_plan", oracle=_COMPACTION_SQL)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (r8 verdict #5) — the maintenance
    decision a lakehouse sink schedules, completing the writer-planning
    family (q_shard_pack sizes NEW output; q_zorder_layout clusters it;
    this plans the REWRITE of what already landed badly): given
    per-file (size, key-range) stats — simulated here as one "file"
    per {_COMPACT_FILE_KEYS}-orderkey slice of lineitem — keep
    right-sized files untouched, and bin-pack the undersized ones, in
    key order so merged files stay range-prunable, into
    ~{_COMPACT_TARGET}-row compaction groups, reporting each group's
    file count, merged key range, and fill ratio.

    The pack is the q_shard_pack device one level up: group id =
    exclusive-prefix-sum(size) div target, computed as a TWO-LEVEL
    distributed prefix sum over the FILE-STATS table ({_COMPACT_RANGE}
    files per leaf bucket, per-bucket totals cumulated over the tiny
    bucket table, broadcast offsets, per-bucket parallel windows).
    That matters because at 100 TB the planner's input is itself big —
    a 128 MB-target table has ~10^6 files, and a naive
    `SUM() OVER (ORDER BY ...)` over them is the single-task window
    this engine never emits.  The oracle is the naive single-window
    greedy pack, so the hash gate proves the distributed rewrite
    exact.  Corpus cost: ONE scan into the file-stats aggregate;
    everything after is metadata-sized.  Integer discipline
    throughout; fill_ratio is the single final division.

    The planner sits beside this query: `plan_compaction` gives the
    per-file assignments and `compaction_groups` the group summary.
    The package plans compaction and does not execute it."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    files = li.groupBy(
        F.expr(f"l_orderkey div {_COMPACT_FILE_KEYS}").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )
    assign = plan_compaction(
        files, _COMPACT_TARGET, _COMPACT_UNDER, _COMPACT_RANGE
    )
    return compaction_groups(assign, _COMPACT_TARGET)
