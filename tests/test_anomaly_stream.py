"""Streaming EWMA anomaly monitor (streaming/anomaly.py): the emitted
rows must be a pure function of the event data — equal to a pandas
replay of the day-close fold (the q_ewma_smooth batch twin one level
up), and bit-identical whether the stream arrives as one availableNow
batch or as two checkpointed file drops.  Late (out-of-day-order) rows
must be counted, never folded."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pulsar_sync_java_spark.sources.tables import load_table
from pulsar_sync_java_spark.streaming.anomaly import (
    EWMA_OUTPUT_SCHEMA,
    stateful_ewma_monitor,
)
from tests.conftest import SF_DIR

_ALPHA, _KEEP, _MULT = 0.25, 0.75, 1.5


def _events_pdf(spark) -> pd.DataFrame:
    return (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "ts")
        .toPandas()
    )


def _replay(pdf: pd.DataFrame) -> list[tuple]:
    """Day-close fold in pandas: every day except each type's LAST
    (still-open) day folds in order; nothing is late."""
    out = []
    pdf = pdf.copy()
    pdf["day"] = pdf["ts"].dt.strftime("%Y-%m-%d")
    for etype, g in pdf.groupby("event_type"):
        days = g.groupby("day").size().sort_index()
        ewma, n_closed = 0.0, 0
        for day, cnt in list(days.items())[:-1]:  # last day stays open
            prev = ewma
            ewma = float(cnt) if n_closed == 0 else ewma * _KEEP + float(cnt) * _ALPHA
            n_closed += 1
            out.append(
                (
                    etype,
                    day,
                    int(cnt),
                    prev,
                    ewma,
                    n_closed > 1 and cnt > _MULT * prev,
                    n_closed,
                    0,
                )
            )
    return sorted(out)


def _rows(df) -> list[tuple]:
    return sorted(
        (
            r["event_type"],
            r["day"],
            r["cnt"],
            r["ewma_prev"],
            r["ewma"],
            r["spike"],
            r["n_closed"],
            r["late_dropped"],
        )
        for r in df.collect()
    )


def _run_files(spark, tmp_path, drops, name):
    """Run the monitor over sequential file drops sharing a checkpoint
    (each drop = one restart cycle), parquet sink; returns the rows."""
    src = str(tmp_path / f"{name}_src")
    sink = str(tmp_path / f"{name}_sink")
    ckpt = str(tmp_path / f"{name}_ckpt")
    schema = None
    for i, pdf in enumerate(drops):
        sdf = spark.createDataFrame(pdf)
        sdf.coalesce(1).write.mode("append").parquet(src)
        schema = schema or sdf.schema
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stateful_ewma_monitor(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return _rows(spark.read.schema(EWMA_OUTPUT_SCHEMA).parquet(sink))


def test_monitor_matches_pandas_replay(spark, tmp_path):
    pdf = _events_pdf(spark)
    got = _run_files(spark, tmp_path, [pdf], "single")
    assert got == _replay(pdf)


def test_monitor_is_batching_invariant(spark, tmp_path):
    """Same events as one drop vs two in-day-order drops: identical
    emissions, including the ewma doubles bit-for-bit."""
    pdf = _events_pdf(spark)
    cut = pd.Timestamp("2024-01-16")
    first, second = pdf[pdf["ts"] < cut], pdf[pdf["ts"] >= cut]
    assert len(first) and len(second)
    one = _run_files(spark, tmp_path, [pdf], "one")
    two = _run_files(spark, tmp_path, [first, second], "two")
    assert one == two == _replay(pdf)


def test_monitor_counts_late_rows_without_folding(spark, tmp_path):
    """An old-day row arriving after later days are open is counted in
    late_dropped; the fold sequence is untouched."""
    pdf = _events_pdf(spark)
    cut = pd.Timestamp("2024-01-16")
    first, second = pdf[pdf["ts"] < cut], pdf[pdf["ts"] >= cut]
    straggler = first[first["event_type"] == "click"].head(3)
    got = _run_files(
        spark, tmp_path, [first, second, straggler], "late"
    )
    # the straggler arrives after every prior emission, so all emitted
    # rows still show late_dropped=0 — the bump lives in state only
    assert got == _replay(pdf)
    # drive one more in-order day so the bumped counter surfaces
    extra = pd.DataFrame(
        {
            "event_type": ["click", "click"],
            "ts": [pd.Timestamp("2024-02-01"), pd.Timestamp("2024-02-02")],
        }
    )
    got2 = _run_files(
        spark, tmp_path, [first, second, straggler, extra], "late2"
    )
    click_tail = [r for r in got2 if r[0] == "click"][-1]
    assert click_tail[1] == "2024-02-01"  # Feb 1 closed by Feb 2
    assert click_tail[7] == 3  # the 3 straggler rows counted as late
