"""SparkSession factory with deterministic, scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM; unset,
the cores this process may run on); the same configs are what we would
set on a real cluster: AQE on (runtime join re-planning + skew
splitting), shuffle partitions sized to the parallelism at hand, UTC
session timezone so timestamp semantics match the DuckDB oracle, Arrow
enabled for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g.  The local-mode JVM heap is
    the whole engine, but it shares the host with the Python driver and
    the Arrow workers; a heap as large as the host lets it grow until
    the kernel's OOM killer takes the process."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "16g"
    return f"{min(total // 2, 16 << 30) >> 20}m"


def _default_cpus() -> str:
    """The cores this process may run on.  A local-mode master wider
    than that only adds scheduling: tiny jobs wait on threads that
    cannot run."""
    return str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "pulsar-sync-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Deterministic configs that matter for oracle correctness:
    - session timezone UTC (timestamp <-> string conversions);
    - ANSI off is Spark 4 default-on, we keep ANSI on (matches DuckDB
      semantics for casts/overflow more closely than legacy mode).

    Scale configs (these are the knobs that survive a 1000-executor
    cluster; see SURVEY.md §4):
    - AQE + coalesce + skew-join: runtime re-planning so a hot
      topic-partition key does not stall a stage;
    - shuffle partitions default to local core count here, but on a
      cluster AQE coalesces from a high initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or _default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS); Spark has no ns
        # timestamp type, so read as long and convert in the loader
        # (sources/tables.py) — truncation to micros matches DuckDB's.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamps -> session-tz TIMESTAMP (UTC), never
        # NTZ: epoch fns reject NTZ and the oracle compares naive==UTC
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # InferFiltersFromGenerate synthesizes `size(<generator>) > 0`
        # under every explode; predicate pushdown then substitutes the
        # full generator expression into a scan-level Filter, so an
        # expensive computed array (shingles, signatures) is evaluated
        # TWICE per row — once interpreted in the filter, once in the
        # projection.  Measured ~8s of pure re-evaluation per sketch
        # query on the documents table; exploding an empty array is a
        # no-op anyway, so the rule buys nothing here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Cached plans keep their build-time partitioning by default,
        # which exempts every .persist() subtree from AQE coalescing —
        # a persisted 400-row label table then carries 32 shuffle
        # partitions through every iterative round (measured ~1.2s per
        # round of pure task-scheduling overhead in q_dedup_cluster).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
