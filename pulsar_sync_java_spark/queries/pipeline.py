"""LLM-training-data pipeline queries (SURVEY.md §2.2 north-star set:
q_sim_topk, q_text_stats, plus dedup / quality / lang-id / fingerprint /
multimodal plumbing — BASELINE.json north star).

These run on the `documents` and `embeddings` tables.  Heavy lifting
stays in JVM built-ins (higher-order array functions, string functions);
Python appears only in the multimodal mapInPandas plumbing where decode
libraries would live in production.

Scale notes: similarity/dedup operators that are quadratic by nature are
implemented with a candidate-generation step (LSH banding / shingle
inverted index) so the pairwise work is bounded by bucket, not by n² —
see operators/dedup.py and operators/similarity.py for the primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.util import cached
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.sources.tables import load_table

_DEC12 = "decimal(30,12)"


def _dec_arr_sum(arr_col):
    """Exact fold-sum of a double array into decimal -> double.

    The merge re-casts to the accumulator type: Spark widens
    (30,12)+(30,12) to (31,12) and requires the lambda to return the
    accumulator type; the cast back preserves scale (no rounding), so
    the fold stays exact and bit-identical to DuckDB's DECIMAL sum.
    """
    return F.aggregate(
        arr_col,
        F.lit(0).cast(_DEC12),
        lambda acc, x: (acc + x.cast(_DEC12)).cast(_DEC12),
    ).cast("double")


_SIM_TOPK_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) AS i
),
pairs AS (
  SELECT e.vec_id,
         CAST(e.embedding[d.i] AS DOUBLE) AS x,
         CAST(q.qv[d.i] AS DOUBLE) AS y
  FROM embeddings e, q, dims d
  WHERE d.i <= len(e.embedding)
),
scored AS (
  SELECT vec_id,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS nx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS ny
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, dot / (sqrt(nx) * sqrt(ny)) AS cos_sim
FROM scored
ORDER BY cos_sim DESC, vec_id ASC
LIMIT 10
"""


@query("q_sim_topk", oracle=_SIM_TOPK_SQL)
def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the vec_id=0 query vector.

    The query vector is broadcast (1 row); each row computes dot and
    norms via zip_with/aggregate higher-order functions with exact
    decimal accumulation; TakeOrderedAndProject gives top-10 without a
    global sort.  Scale path: operators/similarity.py adds the
    LSH-bucketed variant where candidates per query are bounded."""
    from pulsar_sync_java_spark.operators.util import spread

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    # spread: the three decimal folds per row are CPU-bound and a
    # single-split scan runs them one-task
    joined = spread(e).crossJoin(F.broadcast(qv))
    prod = F.zip_with("embedding", "qv", lambda x, y: x.cast("double") * y.cast("double"))
    sq = lambda c: F.transform(c, lambda x: x.cast("double") * x.cast("double"))  # noqa: E731
    scored = joined.select(
        "vec_id",
        _dec_arr_sum(prod).alias("dot"),
        _dec_arr_sum(sq(F.col("embedding"))).alias("nx"),
        _dec_arr_sum(sq(F.col("qv"))).alias("ny"),
    )
    return (
        scored.select(
            "vec_id",
            (F.col("dot") / (F.sqrt("nx") * F.sqrt("ny"))).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# Token definition shared by every text query: non-empty runs split on
# whitespace.  Spark and DuckDB twins must agree exactly.
_DUCK_TOKENS = "list_filter(string_split_regex(text, '\\s+'), x -> x <> '')"


def _spark_tokens():
    return F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")


_TEXT_STATS_SQL = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len({_DUCK_TOKENS})) AS BIGINT) AS total_tokens,
       CAST(SUM(len({_DUCK_TOKENS})) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM documents
WHERE lang IS NOT NULL
GROUP BY lang
"""


@query("q_text_stats", oracle=_TEXT_STATS_SQL)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: docs, chars, whitespace-token counts.
    Token counting is a JVM-side split+filter (no UDF)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    toks = F.size(_spark_tokens())
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum(toks).alias("total_tokens"),
        (F.sum(toks).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


# BPE-ish tokenizer: letter runs, digit runs, single non-alnum marks —
# the word/number/punct split every byte-pair tokenizer starts from.
# Deliberately ASCII-class-based so Java (Spark) and RE2 (DuckDB) regex
# semantics agree exactly (verified corpus-wide).
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT) AS n_bpe_tokens,
       CASE WHEN len(regexp_extract_all(text, '{_BPE_RE}')) = 0 THEN 0.0
            ELSE CAST(n_chars AS DOUBLE) / len(regexp_extract_all(text, '{_BPE_RE}'))
       END AS chars_per_token
FROM documents
"""


@query("q_token_count", oracle=_TOKEN_COUNT_SQL)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace words and a BPE-ish regex
    (letter/digit runs + punctuation marks) — plus chars-per-token, the
    standard tokens-budget estimator for an LLM data pipeline.  All
    JVM-side regexp functions; identical pattern on both engines."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0))
    return d.select(
        "doc_id",
        F.size(_spark_tokens()).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.when(bpe == 0, F.lit(0.0))
        .otherwise(F.col("n_chars").cast("double") / bpe)
        .alias("chars_per_token"),
    )


_EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


@query("q_dedup_exact", oracle=_EXACT_DEDUP_SQL)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(text), keep the lowest
    doc_id.  One shuffle on the hash; at 100 TB this is the standard
    first pass before near-dup (operators/dedup.py)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.encode("text", "UTF-8")).alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
       length(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS norm_len
FROM documents
"""


@query("q_doc_fingerprint", oracle=_FINGERPRINT_SQL)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: whitespace-normalized, lowercased
    md5 — the near-dup-robust variant of exact hashing."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return d.select(
        "doc_id",
        F.md5(F.encode(norm, "UTF-8")).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]
_PUNCT_RE = "[.,!?;:]"

_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars,
         {_DUCK_TOKENS} AS toks,
         length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, lang,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       n_punct,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(len(list_filter(toks, x -> list_contains({_STOPWORDS!r}, lower(x)))) AS DOUBLE)
                 / len(toks) END AS stopword_ratio,
       CASE WHEN n_chars = 0 THEN 0.0
            ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
       (len(toks) >= 5 AND n_chars >= 30) AS passes_quality
FROM t
"""


@query("q_text_quality", oracle=_QUALITY_SQL)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: token count, punctuation density,
    stopword ratio, pass/fail gate — the standard pre-training corpus
    filter, all in JVM string/array functions."""
    d = load_table(spark, sf_dir, "documents")
    toks = _spark_tokens()
    n_punct = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), _PUNCT_RE, "")
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    t = d.select(
        "doc_id",
        "lang",
        "n_chars",
        toks.alias("toks"),
        n_punct.alias("n_punct"),
    )
    n_toks = F.size("toks")
    n_stop = F.size(
        F.filter(F.col("toks"), lambda x: F.array_contains(stop_arr, F.lower(x)))
    )
    return t.select(
        "doc_id",
        "lang",
        n_toks.cast("bigint").alias("n_tokens"),
        "n_punct",
        F.when(n_toks == 0, F.lit(0.0))
        .otherwise(n_stop.cast("double") / n_toks)
        .alias("stopword_ratio"),
        F.when(F.col("n_chars") == 0, F.lit(0.0))
        .otherwise(F.col("n_punct").cast("double") / F.col("n_chars"))
        .alias("punct_ratio"),
        ((n_toks >= 5) & (F.col("n_chars") >= 30)).alias("passes_quality"),
    )


_LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "en": ["the", "and", "of", "is", "not", "this"],
    "es": ["el", "la", "los", "y", "no", "es"],
    "fr": ["le", "la", "les", "et", "pas", "est"],
    "zh": ["的", "是", "不", "了", "在", "我"],
}


def _lang_score_sql(lang: str) -> str:
    return (
        f"len(list_filter(toks, x -> list_contains({_LANG_MARKERS[lang]!r}, lower(x))))"
    )


_LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang AS true_lang, {_DUCK_TOKENS} AS toks FROM documents
), scored AS (
  SELECT doc_id, true_lang,
         {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('en')} AS s_en,
         {_lang_score_sql('es')} AS s_es,
         {_lang_score_sql('fr')} AS s_fr,
         {_lang_score_sql('zh')} AS s_zh
  FROM t
)
SELECT doc_id, true_lang,
       CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
            WHEN 0 THEN 'unknown'
            WHEN s_de THEN 'de'
            WHEN s_en THEN 'en'
            WHEN s_es THEN 'es'
            WHEN s_fr THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM scored
"""


@query("q_lang_id", oracle=_LANG_ID_SQL)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (n-gram heuristic): count per-language
    stopword hits, argmax with alphabetical tie-break, 'unknown' when
    no marker hits.  Identical CASE cascade on both engines."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.col("lang").alias("true_lang"), _spark_tokens().alias("toks")
    )

    def score(lang: str):
        markers = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
        return F.size(
            F.filter(F.col("toks"), lambda x: F.array_contains(markers, F.lower(x)))
        )

    scored = t.select(
        "doc_id",
        "true_lang",
        *[score(lg).alias(f"s_{lg}") for lg in sorted(_LANG_MARKERS)],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in sorted(_LANG_MARKERS)])
    pred = F.when(best == 0, F.lit("unknown"))
    for lg in sorted(_LANG_MARKERS):
        pred = pred.when(F.col(f"s_{lg}") == best, F.lit(lg))
    return scored.select("doc_id", "true_lang", pred.alias("predicted_lang"))


# --------------------------------------------- unigram-frequency score

_RARE_MAX = 2  # corpus count <= this marks a token "rare"

_UNIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
), vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(COUNT(*) FILTER (WHERE v.cnt <= {_RARE_MAX}) AS DOUBLE)
         / COUNT(*) AS rare_ratio,
       CAST(CAST(SUM(v.cnt) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_tf
FROM toks t JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
"""


@query("q_unigram_score", oracle=_UNIGRAM_SQL)
def q_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality scoring — the unigram-LM stand-in: each
    document scored by its mean token corpus-frequency and its
    rare-token ratio (tokens seen <= 2 times corpus-wide).  Low mean
    frequency + high rare ratio flags gibberish/OCR noise; the classic
    perplexity filter's shape with the log replaced by rational
    integer arithmetic (Σcnt and counts are exact integers, ONE IEEE
    division at the end) so both engines emit identical bits — same
    discipline as q_tfidf_topterms.

    Scale: one tokenize+explode scan -> (token) count aggregate (the
    vocabulary); token-keyed equi-join back onto the token stream
    (stopword keys are hot — the join is a plain shuffle join AQE can
    skew-split; vocab ≪ token stream); then a (doc_id) aggregate.
    Partial aggregation combines map-side at every step; nothing is
    ever per-pair."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_spark_tokens()).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    j = toks.join(vocab, "token")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        (
            F.count_if(F.col("cnt") <= _RARE_MAX).cast("double")
            / F.count(F.lit(1))
        ).alias("rare_ratio"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mean_tf"),
    )


# --------------------------------------------------- quality funnel

_FUNNEL_GATES_SQL = f"""
WITH t AS (
  SELECT source,
         (text IS NOT NULL AND text <> '') AS g1,
         n_chars >= 200 AS g2,
         lang IS NOT NULL AS g3,
         len({_DUCK_TOKENS}) >= 30 AS g4
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE g1) AS BIGINT) AS pass_nonempty,
       CAST(COUNT(*) FILTER (WHERE g1 AND g2) AS BIGINT) AS pass_minlen,
       CAST(COUNT(*) FILTER (WHERE g1 AND g2 AND g3) AS BIGINT) AS pass_lang,
       CAST(COUNT(*) FILTER (WHERE g1 AND g2 AND g3 AND g4) AS BIGINT)
         AS pass_mintok,
       CAST(COUNT(*) FILTER (WHERE g1 AND g2 AND g3 AND g4) AS DOUBLE)
         / COUNT(*) AS retention
FROM t GROUP BY source
"""


@query("q_quality_funnel", oracle=_FUNNEL_GATES_SQL)
def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-gate funnel: how many documents survive each
    successive filter stage (non-empty -> min length -> known lang ->
    min tokens) and the final retention rate — the observability
    report every corpus-cleaning run ships with its output (which gate
    ate the data, per source).

    Pure single-scan conditional aggregation: the cumulative-AND gate
    flags are computed per row and every stage count is a map-side
    partial COUNT FILTER; one (source)-keyed shuffle of count rows.
    Retention is an integer ratio -> one IEEE division, hash-stable."""
    d = load_table(spark, sf_dir, "documents")
    g1 = F.col("text").isNotNull() & (F.col("text") != "")
    g2 = F.col("n_chars") >= 200
    g3 = F.col("lang").isNotNull()
    g4 = F.size(_spark_tokens()) >= 30
    t = d.select(
        "source",
        g1.alias("g1"),
        g2.alias("g2"),
        g3.alias("g3"),
        g4.alias("g4"),
    )
    c = lambda cond, name: F.count_if(cond).alias(name)  # noqa: E731
    s12 = F.col("g1") & F.col("g2")
    s123 = s12 & F.col("g3")
    s1234 = s123 & F.col("g4")
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        c(F.col("g1"), "pass_nonempty"),
        c(s12, "pass_minlen"),
        c(s123, "pass_lang"),
        c(s1234, "pass_mintok"),
        (F.count_if(s1234).cast("double") / F.count(F.lit(1))).alias("retention"),
    )


# --------------------------------------------------- collocation mining

_COLLOC_MIN = 5  # minimum bigram count
_COLLOC_K = 20

_COLLOC_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_DUCK_TOKENS} AS t FROM documents
), uni AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token
), total AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
), bi AS (
  SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_ab
  FROM (
    SELECT unnest(list_transform(
             list_zip(t[1:len(t)-1], t[2:len(t)]),
             s -> s[1] || ' ' || s[2])) AS bigram
    FROM toks WHERE len(t) >= 2)
  GROUP BY bigram HAVING COUNT(*) >= {_COLLOC_MIN}
), scored AS (
  SELECT b.bigram, b.c_ab, ua.c AS c_a, ub.c AS c_b,
         (CAST(b.c_ab AS DOUBLE) * CAST(t.n AS DOUBLE))
           / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
  FROM bi b
  JOIN uni ua ON ua.token = string_split(b.bigram, ' ')[1]
  JOIN uni ub ON ub.token = string_split(b.bigram, ' ')[2]
  CROSS JOIN total t
)
SELECT bigram, c_ab, c_a, c_b, lift FROM scored
ORDER BY lift DESC, bigram ASC
LIMIT {_COLLOC_K}
"""


@query("q_collocations", oracle=_COLLOC_SQL)
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the corpus's top-20 token bigrams
    by PMI-style lift P(ab)/(P(a)P(b)) — the phrase/vocab-discovery
    pass a tokenizer-training pipeline runs (PMI with the log dropped:
    log is monotone, so ranking by the rational lift c_ab*N/(c_a*c_b)
    is ranking by PMI — and fixed-association double arithmetic is
    bit-identical across engines, same discipline as q_tfidf_topterms;
    the counts are cast to double BEFORE multiplying because the int64
    products overflow at 100 TB token totals).

    Shape: ONE tokenize scan feeds both the unigram aggregate and the
    adjacent-pair (zip_with of the shifted array — no positional
    self-join) bigram aggregate; the min-support filter
    shrinks bigrams BEFORE the two unigram join-backs (AQE broadcasts
    the tiny survivors); global top-K is TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _spark_tokens().alias("t"))
    uni = (
        toks.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bigrams = F.zip_with(
        F.expr("slice(t, 1, size(t) - 1)"),
        F.expr("slice(t, 2, size(t) - 1)"),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _COLLOC_MIN)
    )
    parts = F.split(F.col("bigram"), " ")
    bi = bi.withColumn("tok_a", parts.getItem(0)).withColumn(
        "tok_b", parts.getItem(1)
    )
    ua = uni.select(F.col("token").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("token").alias("tok_b"), F.col("c").alias("c_b"))
    scored = (
        bi.join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "c_ab",
            "c_a",
            "c_b",
            # all-double with fixed association: int64 products c_ab*n
            # and c_a*c_b overflow at 100 TB token counts (DuckDB
            # raises, non-ANSI Spark wraps — ADVICE r5); double ops are
            # exactly rounded and order-fixed, so both engines still
            # agree bit-for-bit, and values are unchanged while the
            # products sit below 2^53
            (
                (F.col("c_ab").cast("double") * F.col("n").cast("double"))
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), F.col("bigram").asc()).limit(
        _COLLOC_K
    )


# -------------------------------------------- linear classifier gate

# Per-million token rate cut points -> integer weights.  Rates (not raw
# counts) keep the weight table scale-free: the same model text works
# at sf0.001 and at 100 TB.  Integer div (`div` / `//`) throughout —
# no float enters until the final per-doc mean.  The model itself
# (train + apply) lives in operators/quality.py; the constants are
# re-exported here for the oracle SQL.
from pulsar_sync_java_spark.operators.quality import (  # noqa: E402
    CLS_KEEP_MIN as _CLS_KEEP_MIN,
    CLS_MID_PPM as _CLS_MID_PPM,
    CLS_RARE_PPM as _CLS_RARE_PPM,
)

_CLASSIFIER_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS token FROM documents
), vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tok_total FROM vocab
), w AS (
  SELECT token,
         CASE WHEN cnt * 1000000 // tot.tok_total < {_CLS_RARE_PPM} THEN -4
              WHEN cnt * 1000000 // tot.tok_total < {_CLS_MID_PPM} THEN 1
              ELSE 2 END AS wt
  FROM vocab CROSS JOIN tot
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(CAST(SUM(w.wt) AS BIGINT) AS DOUBLE) / COUNT(*) AS score,
       (CAST(CAST(SUM(w.wt) AS BIGINT) AS DOUBLE) / COUNT(*))
         >= {_CLS_KEEP_MIN} AS keep
FROM toks t JOIN w ON t.token = w.token
GROUP BY t.doc_id
"""


@query("q_classifier_score", oracle=_CLASSIFIER_SQL)
def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast linear-model inference (r8 verdict #3) — the
    fastText-style quality-classifier gate every production corpus
    pipeline runs: a per-token weight table is DERIVED from corpus
    statistics (the q_unigram_score vocabulary aggregate, bucketed by
    per-million token rate into integer weights; rare tokens — the
    'dup' noise band — score -4), each document's score is the mean
    weight of its token stream (a dot product with a bag-of-words
    vector), and a fixed threshold yields the keep/drop flag.

    This is the TRAIN/APPLY split the unigram query lacks: the model
    (31-row weight table here; O(vocab) always) is built once and
    BROADCAST, so the apply side is one map-side equi-join over the
    token stream plus the per-doc aggregate — the token stream is
    never hash-partitioned for the join, and swapping in externally
    trained weights (real fastText / logistic-regression coefficients,
    quantized to integers) changes only the weight-table subtree.

    Determinism: weights and their Σ are exact integers (rates via
    integer div), so the score is ONE IEEE division and the threshold
    compare is bit-exact in both engines.  Width dial: `cnt * 1e6`
    overflows BIGINT only past ~9e12 occurrences of ONE token; under
    ANSI mode that fails LOUDLY, and the fix at that scale is to
    derive rates from per-shard counts (rates are ratios — compute on
    any fixed-size stratum) or widen the multiply to DECIMAL, not to
    trust a silent wrap.

    Plan contract: two corpus passes (train: vocab aggregate; apply:
    scored stream), zero extra corpus shuffles — the only exchanges
    are the vocab-sized count aggregate and the doc-sized score
    aggregate; the weight join is a BroadcastHashJoin.  Train and
    apply are `operators/quality.py:classifier_weights/_scores` —
    the exact kernels the streaming ingest gate freezes and reuses."""
    from pulsar_sync_java_spark.operators.quality import (
        classifier_scores,
        classifier_weights,
    )

    d = load_table(spark, sf_dir, "documents")
    return classifier_scores(d, classifier_weights(d))


# ------------------------------------------- chi-square term selection

_CHI2_TOPK = 3

_CHI2_SQL = f"""
WITH toks AS (
  SELECT lang, unnest({_DUCK_TOKENS}) AS token FROM documents
), tl AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS a
  FROM toks GROUP BY lang, token
), tmarg AS (
  SELECT token, CAST(SUM(a) AS BIGINT) AS n_t FROM tl GROUP BY token
), lmarg AS (
  SELECT lang, CAST(SUM(a) AS BIGINT) AS n_l FROM tl GROUP BY lang
), tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS n FROM tl
), x AS (
  SELECT tl.lang, tl.token, tl.a,
         CAST(CAST(tl.a AS DECIMAL(19,0))
                * CAST(tot.n - tmarg.n_t - lmarg.n_l + tl.a AS DECIMAL(19,0))
              - CAST(tmarg.n_t - tl.a AS DECIMAL(19,0))
                * CAST(lmarg.n_l - tl.a AS DECIMAL(19,0)) AS DOUBLE) AS diff,
         CAST(CAST(tmarg.n_t AS DECIMAL(19,0))
                * CAST(tot.n - tmarg.n_t AS DECIMAL(19,0)) AS DOUBLE) AS f1,
         CAST(CAST(lmarg.n_l AS DECIMAL(19,0))
                * CAST(tot.n - lmarg.n_l AS DECIMAL(19,0)) AS DOUBLE) AS f2,
         CAST(tot.n AS DOUBLE) AS nd
  FROM tl JOIN tmarg USING (token) JOIN lmarg USING (lang) CROSS JOIN tot
), scored AS (
  SELECT lang, token, a, (nd * (diff * diff)) / (f1 * f2) AS chi2 FROM x
)
SELECT lang, token, a AS n_occ, chi2, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY chi2 DESC, token ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= {_CHI2_TOPK}
"""


@query("q_chi2_terms", oracle=_CHI2_SQL)
def q_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square term-class association — the FEATURE-SELECTION stage
    in front of q_classifier_score: for every (lang, token) 2x2
    contingency table (token-occurrence counts), the chi2 statistic
    N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) ranks how strongly each term
    indicates each class; the top-3 per class are the features a
    per-class model keeps.

    Determinism without transcendentals (the engine's rational-stats
    discipline, cf. q_trend_ols): a/b/c/d derive from ONE (lang,
    token) count aggregate plus its marginals — all exact BIGINT; the
    cross products run in DECIMAL(19,0)->DECIMAL(38,0) exact
    arithmetic (both engines widen identically); each factor is cast
    to double ONCE and the final chi2 is the same three-operation IEEE
    tree in both engines.  At 100 TB the decimal cross products hold
    up to ~1e19 occurrences per margin; past that the statistic is
    computed on per-shard counts and summed (chi2 is additive over
    disjoint strata), not by widening the arithmetic.

    Plan: one tokenize scan -> the cached (lang, token) aggregate; marginals
    are group-sized and BROADCAST back; the top-3 window runs over the
    aggregate table, never raw tokens."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(_spark_tokens()).alias("token"))
    tl = cached(
        toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("a")),
        "pipeline.q_chi2_terms",
    )
    tmarg = tl.groupBy("token").agg(F.sum("a").cast("long").alias("n_t"))
    lmarg = tl.groupBy("lang").agg(F.sum("a").cast("long").alias("n_l"))
    tot = tl.agg(F.sum("a").cast("long").alias("n"))
    d19 = "decimal(19,0)"
    x = (
        tl.join(F.broadcast(tmarg), "token")
        .join(F.broadcast(lmarg), "lang")
        .crossJoin(F.broadcast(tot))
    )
    diff = (
        F.col("a").cast(d19)
        * (F.col("n") - F.col("n_t") - F.col("n_l") + F.col("a")).cast(d19)
        - (F.col("n_t") - F.col("a")).cast(d19)
        * (F.col("n_l") - F.col("a")).cast(d19)
    ).cast("double")
    f1 = (
        F.col("n_t").cast(d19) * (F.col("n") - F.col("n_t")).cast(d19)
    ).cast("double")
    f2 = (
        F.col("n_l").cast(d19) * (F.col("n") - F.col("n_l")).cast(d19)
    ).cast("double")
    scored = x.select(
        "lang",
        "token",
        F.col("a").alias("n_occ"),
        (
            (F.col("n").cast("double") * (diff * diff)) / (f1 * f2)
        ).alias("chi2"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CHI2_TOPK)
        .select("lang", "token", "n_occ", "chi2", "rank")
    )


# ------------------------------------------------- BPE tokenizer training

_BPE_ITERS = 3

# One DuckDB merge iteration: pair-count over the symbol arrays, argmax
# pair (cnt DESC, x, y — total order), then the canonical-form replace:
# arrays render as '  sym  sym  ' (double-space separators, single
# trailing context on each side of the pattern), so plain left-to-right
# non-overlapping replace() IS the standard greedy BPE merge, and the
# canonical form is preserved for the next iteration.


def _bpe_sql_iter(k: int) -> str:
    prev = f"a{k - 1}"
    return f"""
p{k} AS (
  SELECT p.x AS x, p.y AS y, CAST(SUM(w) AS BIGINT) AS cnt
  FROM {prev}, unnest(list_transform(generate_series(1, len({prev}.arr) - 1),
       i -> struct_pack(x := {prev}.arr[i], y := {prev}.arr[i + 1]))) u(p)
  GROUP BY 1, 2
), b{k} AS (
  SELECT x, y, cnt FROM p{k} ORDER BY cnt DESC, x, y LIMIT 1
), a{k} AS (
  SELECT word, w,
         list_filter(string_split(
           replace('  ' || array_to_string(arr, '  ') || '  ',
                   ' ' || b{k}.x || '  ' || b{k}.y || ' ',
                   ' ' || b{k}.x || b{k}.y || ' '),
           '  '), t -> t <> '') AS arr
  FROM {prev} CROSS JOIN b{k}
)"""


# The ONE training-CTE chain (vocab aggregate + unrolled merges) every
# BPE oracle composes over — _BPE_SQL, _BPE_ENCODE_SQL and the pack/mix
# twins' BPE_DOC_TOKENS_CTES all splice this SAME string, so a future
# tokenization or width change cannot silently train different
# vocabularies in different oracles.
_BPE_TRAIN_CTES = (
    f"""toks AS (
  SELECT unnest({_DUCK_TOKENS}) AS word FROM documents
), w0 AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS w FROM toks GROUP BY word
), a0 AS (
  SELECT word, w, regexp_extract_all(word, '.') AS arr FROM w0
), """
    + ", ".join(_bpe_sql_iter(k) for k in range(1, _BPE_ITERS + 1))
)

_BPE_SQL = (
    "\nWITH "
    + _BPE_TRAIN_CTES
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT {k} AS iter, x AS left_sym, y AS right_sym,"
        f" x || y AS merged, cnt FROM b{k}"
        for k in range(1, _BPE_ITERS + 1)
    )
)


@query("q_bpe_train", oracle=_BPE_SQL)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer TRAINING — the LLM-pipeline stage
    none of the token-counting queries cover (q_token_count applies a
    tokenizer; this LEARNS one): starting from characters, learn the
    first ``_BPE_ITERS`` merge rules by repeatedly counting adjacent symbol pairs
    over the word-frequency vocabulary and merging the most frequent
    pair (greedy left-to-right, the standard BPE step).  Output = the
    learned merge table (iter, left, right, merged symbol, pair count)
    — the artifact a tokenizer ships.

    Scale shape: the corpus collapses to the word-frequency VOCABULARY
    first (one tokenize + count aggregate — the only corpus-sized
    step), which is collected once; the merge loop then runs on the
    driver over the in-memory word-count table, as Sennrich et al.
    (ACL 2016) train BPE (see ``_bpe_learn``).  The final vocabulary
    stays a Spark plan via the canonical-string device: symbol arrays
    render with double-space separators so the greedy non-overlapping
    merge is a plain `replace()` (alignment proof in the oracle
    comment — symbols contain no spaces, so every pattern occurrence
    is exactly an adjacent pair), identical left-to-right semantics in
    both engines.  Everything is exact integer arithmetic, so the
    whole merge table hash-gates with no partial oracle."""
    rules, _ = _bpe_learn(load_table(spark, sf_dir, "documents"))
    return spark.createDataFrame(
        rules,
        "iter int, left_sym string, right_sym string, "
        "merged string, cnt long",
    )


# The most words the BPE vocabulary collect brings to the driver: the
# merge loop holds every word's symbol list in memory, which is meant
# for a tokenizer vocabulary, not for an unbounded key space.
_BPE_VOCAB_MAX_WORDS = 1_000_000


def _bpe_merges(
    vocab: list[tuple[list[str], int]],
) -> tuple[list[tuple[int, str, str, str, int]], list[list[str]]]:
    """The BPE merge loop over an in-memory vocabulary of (symbols,
    weight) rows: returns the merge rules (iter, left, right, merged,
    cnt) and every row's symbol list after them, in input order.

    Each step picks the pair with the highest weighted count, ties
    broken as Spark and DuckDB order strings (x, then y, by UTF-8
    bytes), and merges it greedily left to right — the rule the
    canonical-string replace() applies to the Spark vocabulary."""
    syms = [list(arr) for arr, _ in vocab]
    rules: list[tuple[int, str, str, str, int]] = []
    for k in range(1, _BPE_ITERS + 1):
        counts: dict[tuple[str, str], int] = {}
        for arr, (_, w) in zip(syms, vocab):
            for pair in zip(arr, arr[1:]):
                counts[pair] = counts.get(pair, 0) + w
        if not counts:
            break  # no adjacent pairs left
        (x, y), cnt = min(
            counts.items(),
            key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode()),
        )
        rules.append((k, x, y, x + y, cnt))
        for i, arr in enumerate(syms):
            out, j = [], 0
            while j < len(arr):
                if j + 1 < len(arr) and arr[j] == x and arr[j + 1] == y:
                    out.append(x + y)
                    j += 2
                else:
                    out.append(arr[j])
                    j += 1
            syms[i] = out
    return rules, syms


def _bpe_learn(
    d: DataFrame,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """The shared BPE training loop (q_bpe_train / q_bpe_encode /
    the tokenizer-true budget queries): returns (merge-rule rows
    (iter, left, right, merged, cnt), final vocabulary (word, w, arr)
    with all ``_BPE_ITERS`` merges applied).

    The corpus collapses ONCE to the persisted character-split
    word-frequency vocabulary (plan-matched across all four BPE
    queries — one cache entry serves train, encode, and both budget
    queries).  Its (arr, w) rows are collected in ONE job and the
    argmax steps run on the driver (``_bpe_merges``) — BPE training
    as Sennrich et al. (ACL 2016) describe it, a merge loop over an
    in-memory word-count table, not a Spark job per merge.  The
    returned vocabulary is the lazy replace() chain over the cached
    vocab, one projection per rule, so the encode plans and their
    plan-matched caches never see Python rows."""
    words = d.select(F.explode(_spark_tokens()).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("w"))
    cur = cached(
        vocab.select(
            "word", "w", F.regexp_extract_all("word", F.lit("."), 0).alias("arr")
        ),
        "pipeline.bpe_learn",
    )
    # one partition, so the bounded collect is one job however many
    # partitions the cache has
    rows = cur.select("arr", "w").coalesce(1).limit(
        _BPE_VOCAB_MAX_WORDS + 1
    ).collect()
    if len(rows) > _BPE_VOCAB_MAX_WORDS:
        raise ValueError(
            f"_bpe_learn: the vocabulary exceeds _BPE_VOCAB_MAX_WORDS="
            f"{_BPE_VOCAB_MAX_WORDS} words; the merge loop holds every "
            "word on the driver"
        )
    rules, _ = _bpe_merges([(r["arr"], r["w"]) for r in rows])
    for _, x, y, _, _ in rules:
        canon = F.concat(F.lit("  "), F.array_join("arr", "  "), F.lit("  "))
        merged = F.replace(
            canon,
            F.lit(f" {x}  {y} "),
            F.lit(f" {x}{y} "),
        )
        cur = cur.select(
            "word",
            "w",
            F.filter(F.split(merged, "  "), lambda t: t != "").alias("arr"),
        )
    return rules, cur


# ------------------------------------------------- BPE tokenizer encode

_BPE_ENCODE_SQL = (
    "\nWITH "
    + _BPE_TRAIN_CTES
    + f""", dwc AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS word FROM documents
), dw AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM dwc GROUP BY doc_id, word
)
SELECT d.doc_id,
       CAST(SUM(d.n_occ) AS BIGINT) AS n_words,
       CAST(SUM(d.n_occ * length(a.word)) AS BIGINT) AS n_chars,
       CAST(SUM(d.n_occ * len(a.arr)) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(d.n_occ * len(list_filter(a.arr, s -> length(s) > 1)))
            AS BIGINT) AS n_merged_occ,
       CAST(SUM(d.n_occ * length(a.word)) AS DOUBLE)
         / SUM(d.n_occ * len(a.arr)) AS compression
FROM dw d JOIN a{_BPE_ITERS} a USING (word)
GROUP BY d.doc_id
"""
)


@query("q_bpe_encode", oracle=_BPE_ENCODE_SQL)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the tokenizer lifecycle (r9 trained merges;
    this tokenizes with them): encode every document with the merge
    table learned by the shared ``_bpe_learn`` loop and emit per-doc
    token accounting — word count, char count, BPE token count, how
    many emitted tokens are merge products, and the chars-per-token
    compression ratio.  This is what makes q_pack_sequences /
    q_mix_budget-style token budgets tokenizer-TRUE instead of
    whitespace-true.

    The device that keeps encode CHEAP: the merge sequence is a pure
    function of the word, so documents never re-run the merge loop —
    training's final vocabulary (word -> post-merge symbol array) IS
    the encoder, and encoding is an equi-join of per-doc word counts
    against it.  Per-doc BPE tokens = sum over distinct words of
    n_occ * len(arr); merge products are the multi-char symbols.

    Scale shape: the corpus-sized work is one tokenize scan reduced to
    (doc_id, word) counts; the join right side is the vocab aggregate
    (unique-keyed — no skew risk; AQE broadcasts it when it fits, and
    a real 100 TB vocab long-tail falls back to a shuffle hash join on
    word whose probe side is already count-compressed).  The oracle
    replays train AND encode unrolled in DuckDB, all exact integers
    except the final single long/long division, so the whole row
    hash-gates."""
    d = load_table(spark, sf_dir, "documents")
    _, final_vocab = _bpe_learn(d)
    # (doc, word) counts from the family-shared persisted projection
    # (_bpe_doc_word_counts — the lang column rides along unused
    # here): the corpus tokenize scan runs once per session across
    # encode and both tokenizer-true budget queries
    dw = _bpe_doc_word_counts(d)
    enc = dw.join(final_vocab.select("word", "arr"), "word")
    return enc.groupBy("doc_id").agg(
        F.sum("n_occ").cast("long").alias("n_words"),
        F.sum(F.col("n_occ") * F.length("word")).cast("long").alias("n_chars"),
        F.sum(F.col("n_occ") * F.size("arr")).cast("long").alias("n_bpe_tokens"),
        F.sum(
            F.col("n_occ")
            * F.size(F.filter("arr", lambda s: F.length(s) > 1))
        )
        .cast("long")
        .alias("n_merged_occ"),
        (
            F.sum(F.col("n_occ") * F.length("word")).cast("double")
            / F.sum(F.col("n_occ") * F.size("arr"))
        ).alias("compression"),
    )


# Shared tokenizer-true doc sizing (r10 verdict #1): the per-doc BPE
# token count q_bpe_encode derives — exported so the pack/mix budget
# queries (queries/training.py: q_pack_sequences_bpe / q_mix_budget_bpe)
# budget on TOKENIZER-TRUE counts instead of whitespace counts.  The
# SQL constant is the same unrolled train+encode CTE chain as
# _BPE_ENCODE_SQL, ending in a `bpetok(doc_id, lang, n_tokens)` CTE the
# consumer composes its own windows over.
BPE_DOC_TOKENS_CTES = (
    _BPE_TRAIN_CTES
    + f""", dwc AS (
  SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS word FROM documents
), dw AS (
  SELECT doc_id, lang, word, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM dwc GROUP BY doc_id, lang, word
), bpetok AS (
  SELECT d.doc_id, d.lang,
         CAST(SUM(d.n_occ * len(a.arr)) AS INT) AS n_tokens
  FROM dw d JOIN a{_BPE_ITERS} a USING (word)
  GROUP BY d.doc_id, d.lang
)"""
)


def _bpe_doc_word_counts(d: DataFrame) -> DataFrame:
    """THE cached (doc_id, lang, word, n_occ) count aggregate, shared
    plan-matched by the three BPE encode queries.  A FLAT entry:
    consumers project from it and never cache an encode-join result on
    top of it.  Rows are per-doc DISTINCT words with exact integer
    counts, far smaller than the token stream."""
    return cached(
        d.select("doc_id", "lang", F.explode(_spark_tokens()).alias("word"))
        .groupBy("doc_id", "lang", "word")
        .agg(F.count(F.lit(1)).alias("n_occ")),
        "pipeline.bpe_doc_word_counts",
    )


def bpe_doc_token_counts(d: DataFrame) -> DataFrame:
    """Per-document BPE token counts (doc_id, lang, n_tokens) under the
    shared ``_bpe_learn`` vocabulary — q_bpe_encode's encode-as-equi-join
    device (the merge sequence is a pure function of the word, so the
    trained vocab's word -> symbol-array map IS the encoder), reduced to
    the one column the pack/mix budget queries need.  Corpus-sized work:
    one tokenize scan collapsed to the shared persisted (doc, word)
    counts (`_bpe_doc_word_counts`); the vocab aggregate joins back
    unique-keyed (AQE broadcasts it when it fits)."""
    _, final_vocab = _bpe_learn(d)
    dw = _bpe_doc_word_counts(d)
    return (
        dw.join(final_vocab.select("word", "arr"), "word")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("n_occ") * F.size("arr")).cast("int").alias("n_tokens")
        )
    )


# --------------------------------------------- character diversity gate

_CHAR_DIV_SQL = """
WITH c AS (
  SELECT doc_id, unnest(regexp_extract_all(
           regexp_replace(text, '\\s+', '', 'g'), '.')) AS ch
  FROM documents
), cc AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM c GROUP BY doc_id, ch
), agg AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_chars_nows,
         CAST(COUNT(*) AS BIGINT) AS distinct_chars,
         CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq
  FROM cc GROUP BY doc_id
), top AS (
  SELECT doc_id, ch AS top_char, cnt AS top_cnt FROM (
    SELECT doc_id, ch, cnt,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, ch) AS rk
    FROM cc
  ) WHERE rk = 1
)
SELECT a.doc_id, a.n_chars_nows, a.distinct_chars, t.top_char, t.top_cnt,
       CAST(a.sum_sq AS DOUBLE)
         / CAST(a.n_chars_nows * a.n_chars_nows AS DOUBLE) AS collision_p,
       1 - CAST(a.sum_sq AS DOUBLE)
         / CAST(a.n_chars_nows * a.n_chars_nows AS DOUBLE) AS simpson
FROM agg a JOIN top t ON t.doc_id = a.doc_id
"""


@query("q_char_diversity", oracle=_CHAR_DIV_SQL)
def q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level diversity gate per document: collision
    probability Σ(c_i/n)² (= exp(-H) for the Rényi-2 entropy), the
    Simpson index 1 - Σp², the distinct-character count and the
    dominant character — the gibberish / repeated-character screen a
    pre-training filter runs beside q_text_quality.

    Rényi-2 instead of Shannon ON PURPOSE: Σp² = Σc²/n² is EXACT
    integer arithmetic plus one division — Shannon's per-character
    log2 is engine-libm territory (the same reason q_bm25_topk uses
    a rational IDF).  The collision probability is monotone in the
    same direction (high = concentrated = low entropy), so the gate
    decisions are equivalent.

    Scale: the char explode compresses immediately in the map-side
    partial of the (doc, char) count aggregate (alphabet-sized per
    doc crosses the shuffle, never raw characters); the diversity
    math and the dominant-char argmax run on those aggregate rows.
    Whitespace is stripped first so formatting does not dilute the
    signal."""
    d = load_table(spark, sf_dir, "documents")
    cc = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.regexp_replace("text", r"\s+", ""), "")
            ).alias("ch"),
        )
        # Spark split('', '') yields [''] where DuckDB's
        # regexp_extract_all yields [] — drop the empty sentinel so an
        # empty/whitespace-only document is ABSENT on both sides
        # (latent on this data: no such docs at any tested sf)
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cc = cached(cc, "pipeline.q_char_diversity")
    agg = cc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars_nows"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sum_sq"),
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "ch")
    )
    top = (
        cc.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("ch").alias("top_char"),
            F.col("cnt").alias("top_cnt"),
        )
    )
    cp = F.col("sum_sq").cast("double") / (
        F.col("n_chars_nows") * F.col("n_chars_nows")
    ).cast("double")
    return agg.join(top, "doc_id").select(
        "doc_id",
        "n_chars_nows",
        "distinct_chars",
        "top_char",
        "top_cnt",
        cp.alias("collision_p"),
        (F.lit(1) - cp).alias("simpson"),
    )
