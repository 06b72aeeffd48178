"""Quality-classifier TRAIN/APPLY split — the fastText-style linear
gate of q_classifier_score (queries/pipeline.py), factored out so the
model is trained once and applied as a frozen weight table.

The model is a per-token integer weight table derived from corpus
statistics (per-million token rate bucketed into {-4, 1, 2}); a
document's score is the mean weight of its token stream and a fixed
threshold yields keep/drop.  O(vocab) always — the weight table is
broadcast, the token stream is never hash-partitioned for the join.

Determinism: weights and their sums are exact integers (rates via
integer div); the score is ONE IEEE division, so the threshold compare
is bit-exact across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_sync_java_spark.functions.text import tokens

# rate bands (per-million) and the keep threshold — shared with the
# DuckDB oracle SQL in queries/pipeline.py
CLS_RARE_PPM = 5_000  # 'dup'-marker band: rare tokens signal noise
CLS_MID_PPM = 33_000
CLS_KEEP_MIN = 1.45


def classifier_weights(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """TRAIN: derive the (token, wt) weight table from a reference
    corpus — the q_unigram_score vocabulary aggregate bucketed by
    per-million rate into integer weights (rare tokens, the 'dup'
    noise band, score -4).  Integer div throughout; `cnt * 1e6`
    overflows BIGINT only past ~9e12 occurrences of one token, and
    under ANSI mode that fails loudly (see q_classifier_score's width
    note).  The result is vocab-sized: persist it next to the corpus
    and BROADCAST it at apply time — at ingest the model must be
    FROZEN (training on each arriving batch would drift the gate)."""
    toks = docs.select(F.explode(tokens(text_col)).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("long").alias("tok_total"))
    return vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.expr(
            f"CASE WHEN (cnt * 1000000) div tok_total < {CLS_RARE_PPM} THEN -4 "
            f"WHEN (cnt * 1000000) div tok_total < {CLS_MID_PPM} THEN 1 "
            "ELSE 2 END"
        ).alias("wt"),
    )


def classifier_scores(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY: per-document (n_toks, score, keep) under a trained weight
    table — one map-side broadcast equi-join over the token stream plus
    the per-doc aggregate.

    Out-of-vocabulary handling (r10 advice): the join is LEFT, so a
    document whose EVERY token is outside the model vocabulary still
    emits a row — score NULL, keep FALSE.  The gate decision is
    unchanged (OOV docs drop, the conservative out-of-distribution
    choice), but the drop is now OBSERVABLE: at ingest, a burst of
    `score IS NULL` rows is an OOV surge (new language, encoding
    glitch) and monitors can alarm on it separately from scored
    rejections instead of watching docs vanish.  The score itself is
    still the mean weight over SCORED tokens only (`n_scored`), so
    partially-OOV documents score identically to the inner-join
    formulation; `n_toks` counts the full token stream."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )
    n_scored = F.count("wt")
    score = F.when(
        n_scored > 0, F.sum("wt").cast("bigint").cast("double") / n_scored
    )
    return (
        toks.join(F.broadcast(weights), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            score.alias("score"),
            F.coalesce(score >= F.lit(CLS_KEEP_MIN), F.lit(False)).alias(
                "keep"
            ),
        )
    )

