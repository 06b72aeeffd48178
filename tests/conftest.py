"""Shared fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import uuid

import duckdb
import pytest

from pulsar_sync_java_spark.session import get_spark
from pulsar_sync_java_spark.sources.tables import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pulsar-sync-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def jobs_of(spark, fn) -> int:
    """Number of Spark jobs `fn` runs, read from the status tracker
    under a job group of its own."""
    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def normalize_pandas(cols: list[str], pdf) -> list[tuple]:
    """The driver's order-insensitive compare, faithfully: it fetches
    BOTH engines' results pandas-style and hashes name-sorted columns /
    sorted STRINGIFIED rows — so dtype materialization differences ARE
    part of the contract (round 4: DuckDB HUGEINT -> float64 -> "0.0"
    hashed against Spark's long "0" and failed even though the values
    matched).  Any local compare that fetches typed values (fetchall /
    collect) is looser than the gate it claims to mirror."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(str(row[i]) for i in order)
        for row in pdf.itertuples(index=False, name=None)
    ]
    return sorted(out)


def compare_frames(s_cols, s_pdf, d_cols, d_pdf):
    """Returns (ok, detail) for a Spark-vs-oracle pandas pair under the
    driver's semantics.  Shared by the pytest gate (sf0.001) and
    tools/oracle_sweep.py (driver-scale) so the two local replicas can
    never disagree with each other."""
    if sorted(s_cols) != sorted(d_cols):
        return False, f"column mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    sn = normalize_pandas(s_cols, s_pdf)
    dn = normalize_pandas(d_cols, d_pdf)
    if len(sn) != len(dn):
        return False, f"row count: spark={len(sn)} duck={len(dn)}"
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(sn, dn)) if a != b]
    if mismatches:
        return False, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    return True, f"{len(sn)} rows"


def assert_matches_oracle(spark, duck, spark_df, sql: str):
    rel = duck.sql(sql)
    ok, detail = compare_frames(
        spark_df.columns, spark_df.toPandas(), rel.columns, rel.df()
    )
    assert ok, detail
