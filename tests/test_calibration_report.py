"""Unified calibration page (operators/calibration.py): one keyed
health frame over the three sketch families, healthy by default, and
each pinned failure injection flips exactly its own family's rows —
the r11 verdict #6 contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.calibration import calibration_report
from tests.conftest import SF_DIR


def _page(df):
    return {
        (r["family"], r["metric"]): (r["value"], r["ok"])
        for r in df.collect()
    }


def test_calibration_report_healthy_all_green(spark):
    page = _page(calibration_report(spark, SF_DIR))
    fams = {f for f, _ in page}
    assert fams == {"minhash", "simhash", "ann_pq"}
    assert all(ok for _, ok in page.values()), page
    # the audits are non-vacuous: real pairs on both dedup families
    assert page[("minhash", "n_exact_pairs")][0] > 0
    assert page[("simhash", "n_near_pairs")][0] > 0


def test_calibration_report_each_injection_flips_its_family(spark):
    """Three injected failures, three reports, each flipping ONLY its
    family: (1) a banding dial that no longer fits (2 bands x 32 rows
    misses true >=0.5 pairs the 16x4 production dial catches);
    (2) the collapsed SimHash family (every doc one fingerprint);
    (3) the mis-trained (zeroed) PQ codebook."""
    from pulsar_sync_java_spark.operators.similarity import (
        _l2_normalize,
        _seeded_sample,
        kmeans_centroids,
    )
    from pulsar_sync_java_spark.sources.tables import load_table

    def fam_ok(page, fam):
        return all(ok for (f, _), (_, ok) in page.items() if f == fam)

    # (1) banding misfit
    p1 = _page(calibration_report(spark, SF_DIR, minhash_bands=2))
    assert not p1[("minhash", "band_miss_rate")][1], p1
    assert fam_ok(p1, "simhash") and fam_ok(p1, "ann_pq")

    # (2) collapsed SimHash family
    docs = load_table(spark, SF_DIR, "documents")
    collapsed = docs.select(
        "doc_id", F.lit(0).cast("long").alias("simhash")
    )
    p2 = _page(
        calibration_report(spark, SF_DIR, simhash_fingerprints=collapsed)
    )
    assert not p2[("simhash", "separation")][1], p2
    assert fam_ok(p2, "minhash") and fam_ok(p2, "ann_pq")

    # (3) mis-trained codebook (the test_dedup_ops pin, through the
    # unified page)
    emb = load_table(spark, SF_DIR, "embeddings")
    X = _l2_normalize(_seeded_sample(emb, "vec_id", "embedding", 256 * 16, 42))
    cents = kmeans_centroids(emb, "vec_id", "embedding", 16, 1, 42, sample=X)
    garbage = [[[0.0] * 4 for _ in range(256)] for _ in range(16)]
    p3 = _page(
        calibration_report(
            spark, SF_DIR, ann_centroids=cents, ann_codebooks=garbage
        )
    )
    assert not p3[("ann_pq", "adc_err_ok_frac")][1], p3
    assert fam_ok(p3, "minhash") and fam_ok(p3, "simhash")


def test_calibrate_cli_prints_gates_and_exit_code(spark, capsys):
    """`python -m pulsar_sync_java_spark calibrate SF_DIR`: one JSON
    line per gate row + a summary line, exit 0 when the page is
    healthy — the scheduler-facing consumer of the unified report."""
    import json

    from pulsar_sync_java_spark.__main__ import main

    rc = main(["calibrate", SF_DIR])
    out = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert rc == 0
    summary = out[-1]
    assert summary["healthy"] is True and summary["n_gates"] == len(out) - 1
    fams = {r["family"] for r in out[:-1]}
    assert fams == {"minhash", "simhash", "ann_pq"}
    assert all(r["ok"] for r in out[:-1])


def test_calibration_report_unresolvable_probes_vacuous_not_model_failure(
    spark,
):
    """r12 ADVICE: probe ids absent from the embeddings table are a
    MONITOR misconfiguration, not model failure — the page must not
    crash (ann_calibration's own guard raises) and must not flag the
    fraction gates; the n_probes data row alone carries the failure."""
    page = _page(
        calibration_report(spark, SF_DIR, probe_ids=(987_654, 987_655))
    )
    assert page[("ann_pq", "n_probes")] == (0.0, False)
    for metric in (
        "recall_pq_ok_frac",
        "rank_corr_ok_frac",
        "adc_err_ok_frac",
    ):
        assert page[("ann_pq", metric)][1] is True, metric  # vacuous
    # the other two families are untouched by the probe misfire
    assert page[("minhash", "band_miss_rate")][1]
    assert page[("simhash", "separation")][1]


def test_calibration_report_releases_simhash_caches(spark):
    """r12 ADVICE: the SimHash audit's two persisted corpus-scale
    frames must not outlive the report in a long-lived scheduler
    session.  Measured as STEADY-STATE growth — the first run may
    register the engine's declared session-lifetime caches (the
    shingle projection, ann_calibration's exact anchor — both keys of
    `operators/util.py:CACHES`), so the property is that a SECOND scheduled
    run adds nothing: per-run frames are released, only the declared
    session-lifetime set remains.  (Asserting on the absolute count
    made the test order-dependent — the review-pass catch.)"""
    jsc = spark.sparkContext._jsc.sc()
    calibration_report(spark, SF_DIR)  # warm: session-lifetime caches
    steady = jsc.getPersistentRDDs().size()
    calibration_report(spark, SF_DIR)
    after = jsc.getPersistentRDDs().size()
    assert after <= steady, (steady, after)


def test_semdedup_cli_derives_dials_and_writes_labels(spark, tmp_path, capsys):
    """`python -m pulsar_sync_java_spark semdedup SF_DIR OUT` — the
    production auto-K entry point (r12 verdict #2): derives K from the
    corpus, writes the label table, and reports the dials it chose."""
    import json
    import math

    from pulsar_sync_java_spark.__main__ import main

    out_dir = str(tmp_path / "labels")
    rc = main(["semdedup", SF_DIR, out_dir])
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    labeled = spark.read.parquet(out_dir)
    n = labeled.count()
    assert line["n"] == n
    assert line["k"] == max(8, math.isqrt(max(n - 1, 0)) + 1)
    assert line["n_dups"] == labeled.filter("is_dup").count()
    assert set(labeled.columns) == {"vec_id", "cluster", "sem_group", "is_dup"}
