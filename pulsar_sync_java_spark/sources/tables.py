"""Parquet loaders for the driver-generated synthetic tables (TESTDATA.md).

These are the engine's batch sources.  At 100 TB the same loaders apply
unchanged: `spark.read.parquet` gets predicate pushdown, column pruning
and partition pruning from Catalyst for free, so every query in
`queries/` keeps its scan minimal without hand-tuning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime SQL confs our semantics depend on, regardless of
    who built the session (the driver builds its own plain session).

    - UTC session timezone: timestamp<->string formatting must match
      the DuckDB oracle's naive timestamps;
    - nanosAsLong: events.parquet carries TIMESTAMP(NANOS), which
      Spark otherwise refuses to read (converted in load_table).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive parquet TIMESTAMP(MICROS) must read as session-tz TIMESTAMP
    # (= UTC above), not TIMESTAMP_NTZ: epoch extraction (unix_micros /
    # unix_timestamp) rejects NTZ, and the DuckDB oracle's naive
    # timestamps equal the UTC interpretation value-for-value.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # See session.py: stops explode()'s inferred size()>0 filter from
    # re-evaluating expensive generator expressions at the scan.
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    # Let AQE coalesce shuffles under cached subtrees (see
    # session.py) — iterative operators cache tiny tables per round.
    spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )


#: Lazy DataFrame HANDLES keyed by (applicationId, realpath(sf_dir),
#: table) — NOT data: a DataFrame is an immutable logical plan, every
#: action on it still scans the parquet files.  What the memo removes
#: is per-call plan-construction cost: `spark.read.parquet` re-runs
#: footer/schema inference + file listing on every call (measured r14:
#: 100-400 ms per WARM call, py4j + driver-side inference), and almost
#: every declared query pays it 1-3x per bench run — the single
#: largest slice of the ~90-query long tail's fixed overhead.  Keyed
#: by applicationId so a restarted session (tests) gets fresh handles,
#: and only one application is live per process, so an insert drops the
#: handles of earlier ones (they would pin a stopped session's plans);
#: the test data directories are immutable, so the file listing baked
#: into a handle cannot go stale (self-generated corpora are written
#: once before first read).
_TABLE_HANDLES: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table; scans stay prunable (no caching of
    DATA here — the handle memo above caches only the logical plan)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # the confs belong to the session, the memo to the application: a
    # memo hit from another session of the same context still needs them
    ensure_session_confs(spark)
    app = spark.sparkContext.applicationId
    key = (app, os.path.realpath(sf_dir), name)
    cached = _TABLE_HANDLES.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as ns-since-epoch long (see session.py);
        # floor to micros — identical to DuckDB's ns->us truncation.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # A scan planned before ensure_session_confs took effect (or a
    # driver session with its own defaults) can still surface NTZ
    # columns; normalize to session-tz TIMESTAMP so downstream epoch
    # math works and values match the oracle's naive timestamps.
    # Top-level fields only, deliberately: the synthetic tables are flat,
    # and an NTZ nested inside a struct/array would need a recursive
    # rewrite — add it if schemas ever gain nested timestamps.
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    for stale in [k for k in _TABLE_HANDLES if k[0] != app]:
        del _TABLE_HANDLES[stale]
    _TABLE_HANDLES[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form queries can run."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
