"""Unified model-health page over the three calibration twins (r11
verdict #6).

The engine carries one calibration harness per sketch family it
serves — MinHash/banding (`q_sketch_calibration`, and the shared
`minhash_banding_audit` kernel), SimHash
(`operators/dedup.py:simhash_calibration`) and the coded ANN metric
(`operators/similarity.py:ann_calibration`).  Each exists because the
r10 degenerate-family lesson generalizes: a silently-broken model
degrades its own health flags unless the monitor anchors on an exact
side.  This module composes all three into the ONE artifact a
production pipeline actually schedules: a keyed health frame
(family, metric, value, ok) computed over bounded deterministic
samples, with every `ok` column derived from the same gates the
per-family tests pin (banding S-curve miss rate, SimHash near/far
separation, PQ recall/rank-corr/ADC bounds).

Injection hooks mirror the per-family harnesses so the pinned failure
classes stay testable end-to-end through the unified page:
``minhash_bands`` (a dial that no longer fits the corpus — 2 bands of
32 rows miss most true near-dups), ``simhash_fingerprints`` (the
collapsed-family hook) and ``ann_centroids``/``ann_codebooks`` (the
mis-trained-codebook hook).

Scale: the documents side is sampled to ``max_docs`` before any pair
work, and the embeddings side to ``max_emb`` (deterministic smallest
ids, so the default probes stay resolvable) before the ANN audit —
ann_calibration's exact anchor pays one full scan of whatever frame
it receives, so the bound is applied HERE, making the report
sample-bounded regardless of corpus size.  The operator schedules it
per model-refresh cadence, not per request (the q_ann_calibration
cost model)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.util import release
from pulsar_sync_java_spark.sources.tables import load_table

#: Gate bounds — each mirrors the margin its per-family test pins.
MINHASH_MISS_MAX = 0.2      # healthy 16x4 banding catches ~all >=0.5 pairs
MINHASH_ERR_MAX = 0.15      # 64-hash sketch sd ~ sqrt(j(1-j)/64) ~ 0.06
SIMHASH_SEP_MIN = 0.3       # measured healthy ~0.40, collapsed ~0
ANN_FLAG_FRAC_MIN = 1.0     # every probe must pass recall/rank/ADC


def calibration_report(
    spark: SparkSession,
    sf_dir: str,
    max_docs: int = 1000,
    max_emb: int = 20_000,
    probe_ids: tuple = (0, 101, 202),
    threshold: float = 0.5,
    minhash_num_hashes: int = 64,
    minhash_bands: int = 16,
    simhash_fingerprints: DataFrame | None = None,
    ann_centroids: list | None = None,
    ann_codebooks: list | None = None,
) -> DataFrame:
    """Run the three calibration audits on bounded samples and emit
    one keyed health frame: rows (family, metric, value, ok) — the
    `state_metrics_summary` shape applied to model health.  A page
    where every `ok` is TRUE is a deployable model set; any FALSE row
    names the family and the failing signal.  The three pinned
    failure injections (banding dial misfit, collapsed SimHash
    family, mis-trained PQ codebook) each flip exactly their own
    family's rows — asserted in tests/test_calibration_report.py."""
    from pulsar_sync_java_spark.operators.dedup import (
        minhash_banding_audit,
        simhash_calibration,
    )
    from pulsar_sync_java_spark.operators.similarity import ann_calibration

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(max_docs)
    )
    # deterministic smallest-id slice, mirroring the documents bound:
    # the exact ANN anchor scans its whole input frame, so the budget
    # is enforced here, and the small default probe_ids stay inside
    # the slice whenever they exist at all (r12 ADVICE)
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(max_emb)
    )

    rows: list[tuple] = []

    # -- MinHash / banding -------------------------------------------
    mh = minhash_banding_audit(
        docs, threshold=threshold,
        num_hashes=minhash_num_hashes, bands=minhash_bands,
    )
    rows.append((
        "minhash", "band_miss_rate", mh["band_miss_rate"],
        mh["band_miss_rate"] <= MINHASH_MISS_MAX,
    ))
    rows.append((
        "minhash", "mean_abs_err", mh["mean_abs_err"],
        mh["mean_abs_err"] <= MINHASH_ERR_MAX,
    ))
    rows.append(("minhash", "n_exact_pairs", float(mh["n_exact"]), True))

    # -- SimHash ------------------------------------------------------
    # materialize-and-release: the audit's two corpus-scale cached
    # frames must not outlive the collect in a long-lived scheduler
    # session, not even when the collect fails
    try:
        sh = simhash_calibration(
            docs, fingerprints=simhash_fingerprints
        ).collect()
    finally:
        release("dedup.simhash_calibration")
    near = [r["exact_cos"] for r in sh if r["hamming"] <= 3]
    far = [r["exact_cos"] for r in sh if r["hamming"] > 3]
    sep = (
        (sum(near) / len(near)) - (sum(far) / len(far))
        if near and far
        else 0.0
    )
    # Asymmetric vacuity (review catch): a COLLAPSED family floods
    # hamming-0 pairs and empties the FAR side — that must fail
    # (near nonempty, no separation possible).  The converse — a
    # healthy sparse sample with NO near pairs — indicts nothing
    # (background pairs at 64 bits land nowhere near hamming<=3), so
    # the separation gate passes vacuously and the n_near_pairs row
    # reports the sample sufficiency as data, not as model failure.
    sep_ok = (not near) or (bool(far) and sep > SIMHASH_SEP_MIN)
    rows.append(("simhash", "separation", sep, sep_ok))
    rows.append(("simhash", "n_near_pairs", float(len(near)), True))

    # -- ANN / PQ coded metric ---------------------------------------
    # Probe-resolution is DATA, separated from model health (r12
    # ADVICE): probe_ids that don't exist in the corpus (tiny or
    # re-keyed embeddings table) mean the MONITOR is misconfigured,
    # not that the model failed.  Resolve first — ann_calibration
    # (correctly) raises on absent ids, but a health page should name
    # the misconfiguration as its own failing row instead of crashing:
    # n_probes carries that signal alone (ok = every probe resolved);
    # the fraction gates below then pass vacuously when nothing
    # resolved — the asymmetric-vacuity device the SimHash gate above
    # already uses.
    resolved = [
        int(r["vec_id"])
        for r in emb.filter(
            F.col("vec_id").isin([int(q) for q in probe_ids])
        )
        .select("vec_id")
        .collect()
    ]
    flags = (
        ann_calibration(
            emb,
            resolved,
            centroids=ann_centroids,
            codebooks=ann_codebooks,
            paths=("pq",),
        ).collect()
        if resolved
        else []
    )
    n = len(flags)
    rows.append(("ann_pq", "n_probes", float(n), n == len(probe_ids)))
    for metric, col in (
        ("recall_pq_ok_frac", "recall_pq_ok"),
        ("rank_corr_ok_frac", "rank_corr_ok"),
        ("adc_err_ok_frac", "adc_err_ok"),
    ):
        frac = sum(1 for r in flags if r[col]) / n if n else 0.0
        rows.append((
            "ann_pq", metric, frac,
            frac >= ANN_FLAG_FRAC_MIN if n else True,
        ))

    return spark.createDataFrame(
        rows, "family string, metric string, value double, ok boolean"
    )
