"""Statistical aggregates: z-score anomaly flagging and Pearson
correlation — the data-QC family (outlier screens, drift checks) a
pipeline runs alongside the quality gates.

Determinism discipline (the reason these can be hash-gated at all):
never use the engines' native variance/corr aggregates — their partial
aggregation order changes the floating-point sum, so Spark and DuckDB
(and two runs of Spark) disagree in the last bits.  Instead every
moment (Σx, Σx², Σxy) is an EXACT decimal sum — inputs are 2-decimal
values, so casts and decimal×decimal products are exact, and decimal
addition is order-independent — and only the final constant-count
arithmetic (divide, sqrt) runs in IEEE doubles, which is bit-identical
given bit-identical inputs.  Same pattern as functions/numeric.dsum.

Oracle gotcha (measured): DuckDB's DECIMAL→DOUBLE cast divides the
int128 unscaled value by 10^scale in floating point — off by an ulp
once the unscaled value exceeds 2^53 (bit Σ(price²) here; Spark's
BigDecimal.doubleValue() is correctly rounded).  The oracle SQL
bridges through VARCHAR (`CAST(CAST(sum AS VARCHAR) AS DOUBLE)`),
whose parse IS correctly rounded, so both engines emit the same bits.

Scale: moments are ordinary partial+final hash aggregates (shuffle
carries one row of sums per group); the per-row z-score join broadcasts
the tiny per-group moment table back onto the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.util import cached
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.sources.tables import load_table

_D6 = "decimal(19,6)"  # exact for the 2-decimal synthetic measures


def _moments(col: str):
    """(Σx, Σx²) as exact decimal sums, emitted as doubles."""
    x = F.col(col).cast(_D6)
    return (
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )


_ZSCORE_SQL = """
WITH m AS (
  SELECT event_type,
         CAST(CAST(SUM(CAST(value AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS s1,
         CAST(CAST(SUM(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM events GROUP BY event_type
), s AS (
  SELECT event_type, s1 / n AS mean,
         sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd
  FROM m WHERE n > 1
)
SELECT e.event_id, e.event_type, e.value,
       (e.value - s.mean) / s.sd AS zscore,
       abs((e.value - s.mean) / s.sd) > 3.0 AS is_anomaly
FROM events e JOIN s ON e.event_type = s.event_type
"""


@query("q_anomaly_zscore", oracle=_ZSCORE_SQL)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier screen over the event stream: every
    event scored against its type's mean/stddev, |z| > 3 flagged.

    Two-pass shape (the only scale-correct one): pass 1 is a moments
    aggregate — one row of exact decimal sums per event_type crosses
    the shuffle; pass 2 re-scans and joins the (tiny, broadcast)
    moment table onto every row.  Sample stddev from the exact sums:
    sqrt((Σx² − (Σx)²/n)/(n−1)) — all-double arithmetic on
    bit-identical inputs, so the z-scores hash-match the oracle."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(*_moments("value"))
    s = m.filter(F.col("n") > 1).select(
        "event_type",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = (F.col("value") - F.col("mean")) / F.col("sd")
    return (
        e.join(F.broadcast(s), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            z.alias("zscore"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


_CORR_SQL = """
WITH m AS (
  SELECT l_returnflag,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS syy,
         CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (n * sxy - sx * sy)
         / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price
FROM m WHERE n > 1
"""


@query("q_corr_pearson", oracle=_CORR_SQL)
def q_corr_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return
    flag, from exact decimal moment sums (Σx, Σy, Σx², Σy², Σxy) —
    ONE partial+final aggregate, one row of sums per group through the
    shuffle, the correlation itself a constant-time double expression
    per group.  The native corr() aggregate is the same shuffle shape
    but float-summation-order-dependent; this formulation is the
    deterministic twin."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast(_D6)
    y = F.col("l_extendedprice").cast(_D6)
    m = li.groupBy("l_returnflag").agg(
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.count(F.lit(1)).alias("n"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.filter(F.col("n") > 1).select(
        "l_returnflag", "n", corr.alias("corr_qty_price")
    )


_HISTOGRAM_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(least(floor(value / 10.0), 9) AS INT) AS bucket
  FROM events WHERE value IS NOT NULL AND value >= 0
), c AS (
  SELECT event_type, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2
)
SELECT event_type, bucket, n,
       CAST(n AS DOUBLE)
         / SUM(n) OVER (PARTITION BY event_type) AS share
FROM c
"""


@query("q_histogram", oracle=_HISTOGRAM_SQL)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (10-unit buckets,
    top bucket open) with within-type shares — the distribution
    profile a drift monitor compares release-over-release.

    Fixed widths on purpose: data-dependent bucket edges (equi-depth,
    min/max-scaled) need an extra full pass AND make two corpora's
    histograms incomparable.  One partial+final count aggregate
    (shuffle carries (type, bucket, n) rows), one tiny window for the
    shares; the bucket expression is a single floor/least over the
    scan.  share = n / Σn is one IEEE division on exact integers —
    bit-identical in both engines."""
    e = load_table(spark, sf_dir, "events")
    b = e.where(F.col("value").isNotNull() & (F.col("value") >= 0)).select(
        "event_type",
        F.least(F.floor(F.col("value") / 10.0), F.lit(9)).cast("int").alias("bucket"),
    )
    c = b.groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "bucket",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("share"),
    )


# ------------------------------------------------------------- profiling

_PROFILE_SQL = """
SELECT COUNT(*) AS n_rows,
       COUNT(*) FILTER (WHERE text IS NULL OR text = '') AS n_blank_text,
       COUNT(DISTINCT lang) AS d_lang,
       COUNT(DISTINCT source) AS d_source,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) / COUNT(n_chars) AS avg_chars
FROM documents
"""


@query("q_profile", oracle=_PROFILE_SQL)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile — the data-quality summary a pipeline
    emits per ingested batch: row count, blank/null payloads, key-space
    cardinalities, and the numeric envelope of the length column.

    ONE aggregate job: the two exact DISTINCT counts compile to a
    single Expand-based partial+final pair alongside the plain
    aggregates (same plan family as q_distinct_count), so profiling a
    100 TB table costs one scan + one shuffle of group rows — never a
    job per metric (the naive profiler's failure mode)."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1).otherwise(0)
        ).alias("n_blank_text"),
        F.countDistinct("lang").alias("d_lang"),
        F.countDistinct("source").alias("d_source"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (
            F.sum(F.col("n_chars").cast("decimal(38,6)")).cast("double")
            / F.count("n_chars")
        ).alias("avg_chars"),
    )


# ------------------------------------------------------------- drift

# Total-variation distance between the two slices' per-type value
# distributions.  TV = max over events of probability difference =
# (1/2) * sum_buckets |p_a - p_b|; with integer counts this is
# sum|obs_a*n_b - obs_b*n_a| / (2*n_a*n_b) — the bucket sum stays in
# EXACT integer (decimal) arithmetic, one final double division.
# (Chi-square / PSI need per-bucket float divisions summed in
# engine-dependent order — unhashable; TV is the drift metric that
# survives the determinism gate.)
_DRIFT_SQL = """
WITH b AS (
  SELECT event_type, user_id % 2 AS slice,
         CAST(least(floor(value / 50), 9) AS INT) AS bucket, COUNT(*) AS obs
  FROM events GROUP BY 1, 2, 3
), tot AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN slice = 0 THEN obs ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN slice = 1 THEN obs ELSE 0 END) AS BIGINT) AS n_b
  FROM b GROUP BY 1
), wide AS (
  SELECT b.event_type, b.bucket,
         SUM(CASE WHEN slice = 0 THEN obs ELSE 0 END) AS obs_a,
         SUM(CASE WHEN slice = 1 THEN obs ELSE 0 END) AS obs_b
  FROM b GROUP BY 1, 2
)
SELECT w.event_type,
       t.n_a, t.n_b,
       CAST(CAST(SUM(CAST(abs(w.obs_a * t.n_b - w.obs_b * t.n_a) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
         / (2.0 * t.n_a * t.n_b) AS tv_distance,
       CAST(CAST(SUM(CAST(abs(w.obs_a * t.n_b - w.obs_b * t.n_a) AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
         / (2.0 * t.n_a * t.n_b) > 0.1 AS drifted
FROM wide w JOIN tot t ON w.event_type = t.event_type
GROUP BY w.event_type, t.n_a, t.n_b
"""


@query("q_drift_tv", oracle=_DRIFT_SQL)
def q_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen between two population slices (the
    A/B halves by user parity): per event type, the total-variation
    distance between the slices' bucketed value distributions, flagged
    at TV > 0.1.  The drift check a pipeline runs when a new crawl or
    feed version lands.

    Shape: one (type, slice, bucket) count aggregate over the scan,
    then two TINY regroupings of bucket rows (hundreds of rows
    regardless of input size) — the data crosses a shuffle once as
    counts.  Exactness: the TV numerator is an integer-product sum
    accumulated in DECIMAL (order-independent), with a single final
    double division per type."""
    e = load_table(spark, sf_dir, "events")
    b = (
        e.select(
            "event_type",
            (F.col("user_id") % 2).alias("slice"),
            F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("int").alias("bucket"),
        )
        .groupBy("event_type", "slice", "bucket")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    wide = b.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("slice") == 0, F.col("obs")).otherwise(0)).alias("obs_a"),
        F.sum(F.when(F.col("slice") == 1, F.col("obs")).otherwise(0)).alias("obs_b"),
    )
    tot = b.groupBy("event_type").agg(
        F.sum(F.when(F.col("slice") == 0, F.col("obs")).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("slice") == 1, F.col("obs")).otherwise(0)).alias("n_b"),
    )
    num = F.sum(
        F.abs(
            F.col("obs_a") * F.col("n_b") - F.col("obs_b") * F.col("n_a")
        ).cast("decimal(38,0)")
    ).cast("double")
    tv = num / (F.lit(2.0) * F.col("n_a") * F.col("n_b"))
    return (
        wide.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(tv.alias("tv_distance"), (tv > 0.1).alias("drifted"))
    )


# ------------------------------------------------------------- trend

# x = whole seconds since 2024-01-01 (integer floor-division on exact
# epoch micros — both engines floor), so Σx/Σx²/Σxy stay exact in
# DECIMAL at any corpus size; the OLS arithmetic is constant-time
# doubles per group off the VARCHAR-bridged sums (the corr pattern).
_TREND_SQL = """
WITH pts AS (
  SELECT event_type,
         (epoch_us(ts) // 1000000) - 1704067200 AS x,
         value AS y
  FROM events
), m AS (
  SELECT event_type,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sx,
         CAST(CAST(SUM(CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sy,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE) AS sxx,
         CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE) AS sxy,
         COUNT(*) AS n
  FROM pts GROUP BY event_type
)
SELECT event_type, n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400.0 AS slope_per_day,
       (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS intercept
FROM m WHERE n > 1
"""


@query("q_trend_ols", oracle=_TREND_SQL)
def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type metric TREND: ordinary-least-squares slope of event
    value over time (per day) + intercept — the drift/trend screen a
    monitoring pipeline runs next to q_drift_tv's distribution check
    and q_anomaly_zscore's outlier screen.

    Same scale/determinism shape as q_corr_pearson: ONE partial+final
    moments aggregate (a sums-row per event type through the shuffle),
    exact DECIMAL accumulation over integer seconds and 2-decimal
    values, VARCHAR-bridged back to doubles, OLS as constant-time
    per-group arithmetic."""
    e = load_table(spark, sf_dir, "events")
    x = (
        F.expr("unix_micros(ts) DIV 1000000") - F.lit(1704067200)
    ).cast("decimal(38,0)")
    y = F.col("value").cast(_D6)
    m = e.groupBy("event_type").agg(
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.count(F.lit(1)).alias("n"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.filter(F.col("n") > 1).select(
        "event_type",
        "n",
        (slope * 86400.0).alias("slope_per_day"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
    )


# ------------------------------------------------------- gap fill

_GAP_FILL_SQL = """
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(CAST(SUM(CAST(value AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS value_avg
  FROM events GROUP BY event_type, date_trunc('hour', ts)
), bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
), spine AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series((SELECT h0 FROM bounds),
                                      (SELECT h1 FROM bounds),
                                      INTERVAL 1 HOUR)) AS h) g
), joined AS (
  SELECT s.event_type, s.h,
         COALESCE(a.n_events, 0) AS n_events,
         a.value_avg
  FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.h = a.h
)
SELECT event_type,
       strftime(h, '%Y-%m-%d %H:%M:%S.%g') AS bucket,
       CAST(n_events AS BIGINT) AS n_events,
       (n_events = 0) AS filled,
       COALESCE(last_value(value_avg IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY h
                        ROWS UNBOUNDED PRECEDING), 0.0) AS value_locf
FROM joined
"""


@query("q_gap_fill", oracle=_GAP_FILL_SQL)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series per event_type with gap filling: every
    (type, hour) bucket in the observed range exists in the output —
    empty buckets carry n_events=0, filled=true, and the last observed
    hourly mean (LOCF interpolation) — the hypertable-style rollup +
    gap-fill every observability/timeseries store offers.

    Shape: one (type, hour) partial+final aggregate over the scan; the
    bucket spine is GENERATED (types x sequence(min_h, max_h)) from a
    broadcast 1-row bounds aggregate — never materialized wider than
    types x hours; one equi-join puts observations on the spine, and
    the LOCF pass is a per-type ordered window.  Hourly means are
    exact decimal sums -> correctly-rounded double (VARCHAR-bridged in
    DuckDB, module docstring) -> ONE IEEE division, so the carried
    LOCF doubles are bit-identical.  At 100 TB the series key is
    high-cardinality (type x host x metric), so the window partitions
    are plentiful; per-series history bounds the sort, not traffic."""
    e = load_table(spark, sf_dir, "events")
    x = F.col("value").cast(_D6)
    agg = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(x).cast("double") / F.count(F.lit(1))).alias("value_avg"),
    )
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    types = e.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("h"),
    )
    joined = spine.join(agg, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "value_avg",
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    from pulsar_sync_java_spark.queries.reference import fmt_ts

    return joined.select(
        "event_type",
        fmt_ts(F.col("h")).alias("bucket"),
        F.col("n_events").cast("bigint").alias("n_events"),
        (F.col("n_events") == 0).alias("filled"),
        F.coalesce(
            F.last("value_avg", ignorenulls=True).over(w), F.lit(0.0)
        ).alias("value_locf"),
    )


# ------------------------------------------------------- skew report

_SKEW_SQL = """
WITH sizes AS (
  SELECT user_id AS key, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY user_id
), summary AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n) AS BIGINT) AS n_rows,
         quantile_cont(n, 0.5) AS p50,
         quantile_cont(n, 0.99) AS p99,
         CAST(MAX(n) AS BIGINT) AS max_n
  FROM sizes
), top AS (
  SELECT key, n FROM (
    SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rn
    FROM sizes) t WHERE rn <= 5
)
SELECT s.n_keys, s.n_rows, s.p50, s.p99, s.max_n,
       s.p99 / s.p50 AS skew_ratio,
       CAST(s.max_n AS DOUBLE) / s.n_rows AS top1_share,
       t.key AS hot_key, t.n AS hot_n
FROM summary s, top t
"""


@query("q_skew_report", oracle=_SKEW_SQL)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis over the event stream's user_id — the
    pre-flight report that decides whether a key needs the salted join
    (operators/skew.py) or AQE's skew split: per-key group sizes
    summarized (p50/p99/max, p99:p50 skew ratio, hottest key's row
    share) alongside the 5 hottest keys.

    One (key) count aggregate — shuffle carries count rows — then two
    TINY follow-ups over the key-size table: an exact-percentile
    summary (one row; Spark `percentile` and DuckDB `quantile_cont`
    share the linear-interpolation algorithm, so the match is
    bit-exact — same pairing as q_percentiles) and a top-5 via
    TakeOrdered, cross-joined back (5 rows x 1 row).  At 100 TB the
    key-size table is |keys| rows — the exact-percentile sort is over
    aggregated rows, never data rows; the sketch upgrade is
    percentile_approx over the same aggregate."""
    e = load_table(spark, sf_dir, "events")
    sizes = e.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    sizes = cached(sizes, "stats.q_skew_report")
    summary = sizes.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.99)").alias("p99"),
        F.max("n").alias("max_n"),
    ).select(
        "n_keys",
        "n_rows",
        "p50",
        "p99",
        "max_n",
        (F.col("p99") / F.col("p50")).alias("skew_ratio"),
        (F.col("max_n").cast("double") / F.col("n_rows")).alias("top1_share"),
    )
    top = (
        sizes.orderBy(F.col("n").desc(), F.col("key").asc())
        .limit(5)
        .select(F.col("key").alias("hot_key"), F.col("n").alias("hot_n"))
    )
    return summary.crossJoin(F.broadcast(top))


# -------------------------------------------------- series similarity

_TS_SIM_SQL = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         SUM(CAST(CAST(value AS DECIMAL(13,6)) * 1000000 AS BIGINT)) AS m
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), ref AS (
  SELECT d, m AS rm FROM daily WHERE user_id = 1
), sse AS (
  SELECT a.user_id, COUNT(*) AS n_common,
         SUM(CAST(a.m - r.rm AS DECIMAL(19,0))
             * CAST(a.m - r.rm AS DECIMAL(19,0))) AS s
  FROM daily a JOIN ref r ON a.d = r.d
  WHERE a.user_id <> 1
  GROUP BY a.user_id HAVING COUNT(*) >= 3
)
SELECT user_id,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(CAST(s AS VARCHAR) AS DOUBLE) AS sse_micro2,
       CAST(CAST(s AS VARCHAR) AS DOUBLE) / n_common AS msd_micro2
FROM sse
ORDER BY msd_micro2 ASC, user_id ASC LIMIT 10
"""


@query("q_ts_similarity", oracle=_TS_SIM_SQL)
def q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (the PAPERS.md distributed-
    series-search family): the 10 users whose daily-spend series sit
    closest to reference user 1's, by mean squared difference over
    their shared days (>= 3 required).  Every series point is an EXACT
    micro-unit integer (the 2-decimal values scale to integers
    losslessly), the squared-difference sum is an exact DECIMAL(38,0)
    aggregate, and only the final per-user division runs in IEEE
    doubles — the module's standard moment discipline, so the metric
    hash-matches DuckDB bit-for-bit (the oracle bridges its
    decimal->double cast through VARCHAR, see module docstring).

    Scale shape: ONE corpus shuffle builds the (user, day) series
    table; the reference series (one user's ~30 rows) broadcasts onto
    it; the per-candidate aggregate is series-sized; TakeOrdered
    finishes top-k without a global sort.  At 100 TB the series table
    is the materialized rollup a hypertable keeps anyway — the search
    itself never rescans raw events."""
    ev = load_table(spark, sf_dir, "events")
    micro = F.col("value").cast("decimal(13,6)") * F.lit(1_000_000)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.sum(micro.cast("long")).alias("m"))
    ref = daily.filter(F.col("user_id") == 1).select(
        "d", F.col("m").alias("rm")
    )
    diff = (F.col("m") - F.col("rm")).cast("decimal(19,0)")
    per = (
        daily.filter(F.col("user_id") != 1)
        .join(F.broadcast(ref), "d")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(diff * diff).alias("s"),
        )
        .filter(F.col("n_common") >= 3)
    )
    return (
        per.select(
            "user_id",
            "n_common",
            F.col("s").cast("double").alias("sse_micro2"),
            (F.col("s").cast("double") / F.col("n_common")).alias("msd_micro2"),
        )
        .orderBy(F.col("msd_micro2").asc(), F.col("user_id").asc())
        .limit(10)
    )


# ------------------------------------------------------- KS drift

# Two-sample Kolmogorov-Smirnov: D = max over the pooled values of
# |F_a(v) - F_b(v)|.  Cross-multiplied to integers like q_drift_tv's
# TV numerator: D_num = max |c_a(v)*n_b - c_b(v)*n_a| with c_* the
# cumulative counts, one final double division.  The cumulative counts
# come from a TWO-LEVEL prefix sum (the q_shard_pack discipline): a
# 32-bucket value histogram gives per-bucket base offsets through a
# tiny per-type window, and the within-bucket window is partitioned by
# (type, bucket) — no per-type global sort ever happens, so the plan
# survives a corpus where one event type dominates.
_KS_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(greatest(least(floor(value / 16), 31), 0) AS INT) AS bucket,
         value,
         SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS a_i,
         SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS b_i
  FROM events GROUP BY 1, 2, 3
), btot AS (
  SELECT event_type, bucket, SUM(a_i) AS ba, SUM(b_i) AS bb
  FROM g GROUP BY 1, 2
), base AS (
  SELECT event_type, bucket,
         COALESCE(SUM(ba) OVER (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base_a,
         COALESCE(SUM(bb) OVER (PARTITION BY event_type ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base_b
  FROM btot
), tot AS (
  SELECT event_type, CAST(SUM(a_i) AS BIGINT) AS n_a,
         CAST(SUM(b_i) AS BIGINT) AS n_b
  FROM g GROUP BY 1
), c AS (
  SELECT g.event_type,
         base.base_a + SUM(g.a_i) OVER (PARTITION BY g.event_type, g.bucket
           ORDER BY g.value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_a,
         base.base_b + SUM(g.b_i) OVER (PARTITION BY g.event_type, g.bucket
           ORDER BY g.value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_b
  FROM g JOIN base ON g.event_type = base.event_type AND g.bucket = base.bucket
)
SELECT c.event_type, t.n_a, t.n_b,
       CAST(MAX(abs(CAST(c.c_a AS DECIMAL(38,0)) * t.n_b
                    - CAST(c.c_b AS DECIMAL(38,0)) * t.n_a)) AS DOUBLE)
         / (CAST(t.n_a AS DOUBLE) * t.n_b) AS ks_stat,
       (CAST(MAX(abs(CAST(c.c_a AS DECIMAL(38,0)) * t.n_b
                     - CAST(c.c_b AS DECIMAL(38,0)) * t.n_a)) AS DOUBLE)
          / (CAST(t.n_a AS DOUBLE) * t.n_b))
         * (CAST(MAX(abs(CAST(c.c_a AS DECIMAL(38,0)) * t.n_b
                         - CAST(c.c_b AS DECIMAL(38,0)) * t.n_a)) AS DOUBLE)
              / (CAST(t.n_a AS DOUBLE) * t.n_b))
         * (CAST(t.n_a AS DOUBLE) * t.n_b)
         > 1.8496 * (t.n_a + t.n_b) AS drifted
FROM c JOIN tot t ON c.event_type = t.event_type
GROUP BY c.event_type, t.n_a, t.n_b
"""


@query("q_ks_drift", oracle=_KS_SQL)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic per event type
    between the user-parity A/B slices — the UNBINNED companion to
    q_drift_tv: KS sees any CDF separation, including shifts that land
    inside one of TV's fixed buckets.

    Scale shape (the reason this is not just `max over a sorted
    stream`): a naive KS sorts each type's values in one task.  Here
    cumulative counts come from a two-level distributed prefix sum —
    (type, bucket, value) count rows (dedup'd, so ties across slices
    are one row), per-bucket totals through a <=32-row-per-type window,
    within-bucket cumsums through a (type, bucket)-partitioned window —
    so every window partition is bounded and the raw scan shuffles
    once, as counts.  Exactness: D's numerator is max over integer
    cross-products accumulated in DECIMAL; one final double division.
    """
    e = load_table(spark, sf_dir, "events")
    # g is the dedup'd (type, bucket, value) count table — the corpus
    # reduced to its distinct-value histogram
    g = cached(
        e.select(
            "event_type",
            # clamp BOTH ends (r8 ADVICE): a negative value must land in
            # bucket 0, not an unbounded negative id that would void the
            # <=32-rows-per-type bound on the base prefix window
            F.greatest(F.least(F.floor(F.col("value") / 16), F.lit(31)), F.lit(0))
            .cast("int")
            .alias("bucket"),
            "value",
            (F.col("user_id") % 2).alias("slice"),
        )
        .groupBy("event_type", "bucket", "value")
        .agg(
            F.sum(F.when(F.col("slice") == 0, 1).otherwise(0)).alias("a_i"),
            F.sum(F.when(F.col("slice") == 1, 1).otherwise(0)).alias("b_i"),
        ),
        "stats.q_ks_drift",
    )
    btot = g.groupBy("event_type", "bucket").agg(
        F.sum("a_i").alias("ba"), F.sum("b_i").alias("bb")
    )
    w_excl = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = btot.select(
        "event_type",
        "bucket",
        F.coalesce(F.sum("ba").over(w_excl), F.lit(0)).alias("base_a"),
        F.coalesce(F.sum("bb").over(w_excl), F.lit(0)).alias("base_b"),
    )
    tot = btot.groupBy("event_type").agg(
        F.sum("ba").cast("long").alias("n_a"),
        F.sum("bb").cast("long").alias("n_b"),
    )
    w_in = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = g.join(F.broadcast(base), ["event_type", "bucket"]).select(
        "event_type",
        (F.col("base_a") + F.sum("a_i").over(w_in)).alias("c_a"),
        (F.col("base_b") + F.sum("b_i").over(w_in)).alias("c_b"),
    )
    d_num = F.max(
        F.abs(
            F.col("c_a").cast("decimal(38,0)") * F.col("n_b")
            - F.col("c_b").cast("decimal(38,0)") * F.col("n_a")
        )
    ).cast("double")
    nm = F.col("n_a").cast("double") * F.col("n_b")
    ks = d_num / nm
    # alpha=0.05 two-sample KS decision: D > 1.36*sqrt((n_a+n_b)/(n_a*n_b)),
    # squared to avoid sqrt: D*D*n_a*n_b > 1.8496*(n_a+n_b) — the same
    # IEEE expression tree on both engines, so the boolean hashes.
    drifted = ks * ks * nm > F.lit(1.8496) * (F.col("n_a") + F.col("n_b"))
    return (
        c.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(ks.alias("ks_stat"), drifted.alias("drifted"))
    )


# ------------------------------------------------- disorder profile

# How late do events arrive relative to the stream's running maximum
# event time?  This is THE statistic that chooses a watermark delay:
# `withWatermark(d)` drops exactly the rows this profile counts as
# later than d.  The synthetic feed is generated in event-time order,
# so ARRIVAL order is simulated with the engine's portable
# multiplicative hash (the q_sample_stratified device): arrival key
# h = ((event_id mod 2^31) * 2654435761) mod 2^32 — pre-reduced mod
# 2^31 like every sibling use so the int64 product can never overflow
# (the r6 overflow fix) — a deterministic permutation
# both engines replay bit-for-bit, standing in for network shuffle.
# Lateness of a row = running_max(event time over arrivals so far)
# - its own event time, in whole seconds (exact integer micros).
#
# The ORACLE is deliberately the naive formulation — one running-max
# window per type over the full arrival order — while the engine
# computes the same running max with a two-level distributed prefix
# MAX (64 arrival-range buckets, exclusive prefix over the tiny bucket
# table, within-bucket windows), so the hash gate also proves the
# prefix-max decomposition.
_DISORDER_SQL = """
WITH arr AS (
  SELECT event_type, event_id, epoch_us(ts) AS us,
         ((event_id % 2147483648) * 2654435761) % 4294967296 AS h
  FROM events
), lat AS (
  SELECT event_type,
         (MAX(us) OVER (PARTITION BY event_type ORDER BY h, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - us) // 1000000 AS late_s
  FROM arr
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN late_s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_order,
       CAST(SUM(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
       CAST(SUM(CASE WHEN late_s > 86400 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1d,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s,
       CAST(SUM(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS late_1h_pct
FROM lat GROUP BY event_type
"""


@query("q_disorder_profile", oracle=_DISORDER_SQL)
def q_disorder_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder profile per event type over the (simulated,
    hash-permuted) arrival order: counts of rows arriving behind the
    running max event time by 0 / >1 h / >1 day, plus the worst
    lateness — the measurement a pipeline takes BEFORE picking
    `withWatermark`'s delay, because the watermark silently drops
    exactly the rows counted here.

    Scale shape: a running max over arrival order is the classic
    single-reducer trap; here it is a two-level distributed prefix MAX
    (the q_ks_drift / q_shard_pack discipline) — per-(type,
    arrival-range bucket) maxima with 64 buckets cut from the hash
    range, an exclusive prefix over the tiny bucket table, and
    within-bucket running-max windows partitioned by (type, bucket) —
    so every window partition is bounded.  Lateness stays in exact
    integer micros until the final DIV."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("((event_id % 2147483648) * 2654435761) % 4294967296").alias("h"),
    )
    e = e.withColumn("bucket", (F.col("h") / (1 << 26)).cast("long"))
    bmax = e.groupBy("event_type", "bucket").agg(F.max("us").alias("bm"))
    w_excl = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # the empty-prefix base must be a true identity for MAX, not 0:
    # a pre-epoch event time (negative unix_micros) in a partition's
    # first populated bucket would otherwise be clamped up by the
    # greatest() below and overstate the running max (r8 ADVICE)
    base = bmax.select(
        "event_type",
        "bucket",
        F.coalesce(F.max("bm").over(w_excl), F.lit(-(1 << 62))).alias("base_us"),
    )
    w_in = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("h", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lat = e.join(F.broadcast(base), ["event_type", "bucket"]).select(
        "event_type",
        (
            (
                F.greatest(F.col("base_us"), F.max("us").over(w_in))
                - F.col("us")
            )
            / 1_000_000
        )
        .cast("long")
        .alias("late_s"),
    )
    return lat.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_s") == 0, 1).otherwise(0)).alias("n_in_order"),
        F.sum(F.when(F.col("late_s") > 3600, 1).otherwise(0)).alias("n_late_1h"),
        F.sum(F.when(F.col("late_s") > 86400, 1).otherwise(0)).alias("n_late_1d"),
        F.max("late_s").alias("max_late_s"),
        (
            F.sum(F.when(F.col("late_s") > 3600, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("late_1h_pct"),
    )


# ------------------------------------------- join-size estimation

# The CBO statistic: for an equi-join, |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k)
# over the key histogram — EXACT when the histogram is exact and no
# other predicate applies.  The engine computes the prediction from
# two per-key count aggregates (never materializing a single joined
# row); the oracle COUNTs the actual join — an identity oracle, so a
# hash-green row proves the estimator formula itself.
_JOINCARD_SQL = """
WITH a AS (SELECT * FROM events WHERE user_id % 2 = 0),
b AS (SELECT * FROM events WHERE user_id % 2 = 1)
SELECT a.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_keys
FROM a JOIN b ON a.user_id = b.user_id
GROUP BY a.event_type
"""


@query("q_join_cardinality", oracle=_JOINCARD_SQL)
def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from key statistics — the number a
    cost-based optimizer (and q_skew_report's capacity planning)
    needs BEFORE running a join: the exact pair count of the A-slice ⋈
    B-slice user join, per A-side event type, computed WITHOUT
    materializing one joined row.

    Engine shape: each side reduces to a per-key count table
    ((user, type) on A, (user) on B — aggregate-sized), the two count
    tables join on the key, and Σ cnt_a·cnt_b per type gives the
    prediction; total work is two count aggregates plus a key-sized
    join, independent of the join's output size (which is the whole
    point — the real join here is ~50x bigger than its inputs).  The
    oracle RUNS the real join and counts, so the gate proves
    prediction == truth, the exact-histogram identity the estimator
    rests on."""
    e = load_table(spark, sf_dir, "events")
    a = (
        e.filter(F.col("user_id") % 2 == 0)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        e.filter(F.col("user_id") % 2 == 1)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    return (
        a.join(b, "user_id")
        .groupBy("event_type")
        .agg(
            F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("n_pairs"),
            F.countDistinct("user_id").alias("n_keys"),
        )
    )


# ----------------------------------------------- MAD outlier detection

_MAD_K = 5  # exact-binary multiplier for the outlier fence


_MAD_SQL = f"""
WITH v AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), r1 AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS r,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM v
), med AS (
  SELECT event_type, n,
         (MAX(CASE WHEN r = (n + 1) // 2 THEN value END)
          + MAX(CASE WHEN r = (n + 2) // 2 THEN value END)) / 2 AS median
  FROM r1 GROUP BY event_type, n
), d AS (
  SELECT v.event_type, m.n, m.median,
         abs(v.value - m.median) AS dev
  FROM v JOIN med m ON m.event_type = v.event_type
), r2 AS (
  SELECT event_type, n, median, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS r
  FROM d
), mad AS (
  SELECT event_type, n, median,
         (MAX(CASE WHEN r = (n + 1) // 2 THEN dev END)
          + MAX(CASE WHEN r = (n + 2) // 2 THEN dev END)) / 2 AS mad
  FROM r2 GROUP BY event_type, n, median
)
SELECT d.event_type, d.n, d.median, m.mad,
       CAST(SUM(CASE WHEN d.dev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type, d.n, d.median, m.mad
"""


@query("q_mad_outliers", oracle=_MAD_SQL)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD (median
    absolute deviation) and the count of points beyond ``_MAD_K``
    (= 5) x MAD — the z-score screen (q_anomaly_zscore) rebuilt on
    estimators a heavy tail cannot drag.

    Exactness device: medians are POSITIONAL — row_number over the
    sorted values picks ranks (n+1)//2 and (n+2)//2 and averages them
    with the identical (lo + hi)/2 expression in both engines (equal
    ranks when n is odd: (v+v)/2 == v exactly in IEEE).  Built-in
    percentile/quantile_cont interpolation trees differ between
    engines; order statistics cannot.  dev = |x - median| and the
    ``_MAD_K``*MAD fence compare identical doubles.

    Scale: ONE lazy plan with one shuffle — the exact-selection twin of
    the production path (approx_percentile's one-pass sketch); the
    exact version exists to gate it, so its plan shape is the cost of
    exactness and is documented as such.  The events are read once and
    hash-partitioned on event_type; inside that one exchange a
    row_number + count window ordered by value ranks each type, a
    max(when(r == lo/hi)) window over the type's whole (unbounded)
    frame picks the median, dev = |value - median| feeds the same
    window pair ordered by dev for the MAD, and the final per-type
    aggregate reuses the exchange's partitioning.  No second Exchange
    and no join, so no consumer re-evaluates the median pipeline and
    construction runs no job.  Each type sits in one spillable sort
    task; no array buffers a group's values (the
    sort_array(collect_list) alternative would)."""
    # a NULL event_type forms no group, as the oracle's equi-join on
    # the type drops it
    v = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", "value")
    by_t = Window.partitionBy("event_type")

    def positional_median(df: DataFrame, col: str, out: str) -> DataFrame:
        # ranks (n+1)//2 and (n+2)//2 of the type's sorted values,
        # averaged by the oracle's (lo + hi) / 2 expression
        ranked = df.withColumn(
            "r", F.row_number().over(by_t.orderBy(col))
        )
        lo = F.floor((F.col("n") + 1) / 2)
        hi = F.floor((F.col("n") + 2) / 2)
        return ranked.withColumn(
            out,
            (
                F.max(F.when(F.col("r") == lo, F.col(col))).over(by_t)
                + F.max(F.when(F.col("r") == hi, F.col(col))).over(by_t)
            )
            / 2,
        ).drop("r")

    # the count shares the value-ordered window (whole-partition frame),
    # so the type's size and ranks come from the one sort
    whole = by_t.orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = positional_median(
        v.withColumn("n", F.count(F.lit(1)).over(whole)), "value", "median"
    )
    d = med.select(
        "event_type", "n", "median",
        F.abs(F.col("value") - F.col("median")).alias("dev"),
    )
    mad = positional_median(d, "dev", "mad")
    # n, median and mad are constant per type: max() returns them
    # bit-exactly, where grouping on the doubles would normalize -0.0
    return mad.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("median").alias("median"),
        F.max("mad").alias("mad"),
        F.sum(
            (F.col("dev") > F.lit(_MAD_K) * F.col("mad")).cast("long")
        ).alias("n_outliers"),
    )


# --------------------------------------------------- Benford digit test

# Expected Benford shares computed ONCE in Python and injected as the
# SAME literals into the Spark plan and the oracle SQL: log10 is not
# bit-specified across libm/JVM, identical literals are (the q_bm25
# "rational IDF" dodge, applied to the logarithm itself).
import math as _math

_BENFORD_EXP = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}

_BENFORD_SQL = f"""
WITH digits AS (
  SELECT * FROM (VALUES {", ".join(
      f"({d}, {_BENFORD_EXP[d]!r})" for d in range(1, 10)
  )}) t(digit, exp_share)
), obs AS (
  SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS INT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM orders WHERE o_totalprice >= 1 GROUP BY 1
), j AS (
  SELECT d.digit, CAST(d.exp_share AS DOUBLE) AS exp_share,
         COALESCE(o.n_obs, 0) AS n_obs
  FROM digits d LEFT JOIN obs o ON o.digit = d.digit
), t AS (
  SELECT digit, exp_share, n_obs,
         CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total
  FROM j
), c AS (
  SELECT *,
         CAST(n_obs AS DOUBLE) / n_total AS obs_share,
         (n_obs - n_total * exp_share) * (n_obs - n_total * exp_share)
           / (n_total * exp_share) AS chi2_term
  FROM t
)
SELECT digit, n_obs, n_total, obs_share, exp_share, chi2_term,
       CAST(SUM(CAST(FLOOR(chi2_term * 1e9) AS BIGINT)) OVER ()
            AS DOUBLE) / 1e9 AS chi2_total
FROM c
"""


@query("q_benford", oracle=_BENFORD_SQL)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed vs expected
    first-significant-digit distribution with per-digit chi-square
    contributions and the 8-dof chi-square total — the fraud /
    synthetic-data screen auditors run over money columns.

    Determinism: the first digit is extracted through INTEGER
    formatting (floor -> bigint -> first char), never log10 of data;
    the expected shares ARE log10 values but are computed once in
    Python and injected as the same literals into BOTH plans, so no
    engine evaluates a logarithm.  chi-square terms are identical IEEE
    expressions on exact counts x literal shares; the total crosses
    rows as FIXED-POINT integers (floor(term*1e9) -> BIGINT, the
    q_hits device — a double->DECIMAL cast would round, and the two
    engines break the rounding tie differently).  1e9 scale on
    purpose: chi2_total grows O(n_orders) under real deviation
    (~0.4n measured here), and Spark's long window SUM wraps
    silently past 2^63 where DuckDB promotes to HUGEINT — 1e9
    keeps the summed terms inside int64 to ~2e10 orders while
    still carrying 9 fractional digits.

    Scale: one partial+final 9-group count aggregate over the scan;
    the digit frame is a 9-row literal; all windows run on 9 rows."""
    o = load_table(spark, sf_dir, "orders")
    # the string device needs x >= 1 (a sub-1 or negative total would
    # yield digit '0'/'-'); every total in this data qualifies, the
    # guard makes the domain explicit rather than assumed
    obs = o.filter(F.col("o_totalprice") >= 1).groupBy(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    ).agg(F.count(F.lit(1)).alias("n_obs"))
    digits = spark.createDataFrame(
        [(d, _BENFORD_EXP[d]) for d in range(1, 10)],
        "digit int, exp_share double",
    )
    j = (
        F.broadcast(digits)
        .join(obs, "digit", "left")
        .select(
            "digit",
            "exp_share",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
        )
    )
    w = Window.partitionBy()
    t = j.withColumn("n_total", F.sum("n_obs").over(w))
    resid = F.col("n_obs") - F.col("n_total") * F.col("exp_share")
    c = t.select(
        "digit",
        "n_obs",
        "n_total",
        (F.col("n_obs").cast("double") / F.col("n_total")).alias("obs_share"),
        "exp_share",
        (resid * resid / (F.col("n_total") * F.col("exp_share"))).alias(
            "chi2_term"
        ),
    )
    return c.withColumn(
        "chi2_total",
        F.sum(F.floor(F.col("chi2_term") * F.lit(1e9)).cast("long"))
        .over(w)
        .cast("double")
        / F.lit(1e9),
    )


# -------------------------------------------------- Welch A/B analysis

_WELCH_SQL = """
WITH v AS (
  SELECT event_type,
         CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
         value
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_type, variant,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(CAST(SUM(CAST(value AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE)
           AS sx,
         CAST(CAST(SUM(CAST(value AS DECIMAL(19,6))
                       * CAST(value AS DECIMAL(19,6))) AS VARCHAR) AS DOUBLE)
           AS sxx
  FROM v GROUP BY 1, 2
), w AS (
  SELECT a.event_type,
         a.n AS n_a, b.n AS n_b,
         a.sx / a.n AS mean_a, b.sx / b.n AS mean_b,
         (a.sxx - a.sx * a.sx / a.n) / (a.n - 1) AS var_a,
         (b.sxx - b.sx * b.sx / b.n) / (b.n - 1) AS var_b
  FROM m a JOIN m b ON b.event_type = a.event_type
  WHERE a.variant = 'A' AND b.variant = 'B' AND a.n > 1 AND b.n > 1
)
SELECT event_type, n_a, n_b, mean_a, mean_b,
       mean_a - mean_b AS lift,
       (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
       abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b))
         > CAST(1.96 AS DOUBLE) AS significant
FROM w
"""


@query("q_ab_welch", oracle=_WELCH_SQL)
def q_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout per event type (variant = user parity —
    the deterministic stand-in for an assignment table): per-variant
    mean, lift, Welch's unequal-variance t statistic, and the |t| >
    1.96 significance flag — the analysis every experimentation
    platform batch-computes nightly.

    The q_corr_pearson exact-moment discipline: per-variant (n, Σx,
    Σx²) accumulate in DECIMAL (order-independent), come back through
    the correctly-rounded VARCHAR bridge, and every derived quantity
    (means, sample variances, t) is one fixed IEEE expression tree
    evaluated identically in both engines.

    Scale: ONE partial+final aggregate to (type, variant) moment rows;
    the A-vs-B pairing is a self-join of that tiny frame.  A real
    assignment table replaces the parity expression with a broadcast
    join — same plan otherwise."""
    v = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type",
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias(
            "variant"
        ),
        "value",
    )
    x = F.col("value").cast(_D6)
    m = v.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    a = m.filter((F.col("variant") == "A") & (F.col("n") > 1)).select(
        "event_type",
        F.col("n").alias("n_a"),
        (F.col("sx") / F.col("n")).alias("mean_a"),
        (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("var_a"),
    )
    b = m.filter((F.col("variant") == "B") & (F.col("n") > 1)).select(
        "event_type",
        F.col("n").alias("n_b"),
        (F.col("sx") / F.col("n")).alias("mean_b"),
        (
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("var_b"),
    )
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        (F.col("mean_a") - F.col("mean_b")).alias("lift"),
        t.alias("t_stat"),
        (F.abs(t) > F.lit(1.96)).alias("significant"),
    )


# --------------------------------------------------- Gini concentration

_GINI_SQL = """
WITH cust AS (
  SELECT o_orderpriority, o_custkey,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(19,2)) * 100
                       AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), r AS (
  SELECT o_orderpriority, cents,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY cents, o_custkey) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
  FROM cust
), s AS (
  SELECT o_orderpriority, n,
         CAST(SUM(cents) AS BIGINT) AS total_cents,
         CAST(SUM(i * cents) AS BIGINT) AS weighted
  FROM r GROUP BY 1, 2
)
SELECT o_orderpriority, n AS n_customers, total_cents,
       CAST(2 * weighted - (n + 1) * total_cents AS DOUBLE)
         / CAST(n * total_cents AS DOUBLE) AS gini
FROM s
"""


@query("q_gini_concentration", oracle=_GINI_SQL)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per order priority as the Gini
    coefficient over per-customer revenue: G = (2·Σ i·x_(i) − (n+1)·Σx)
    / (n·Σx) with x ascending — the inequality readout behind
    whale-risk and domain-cap decisions (q_domain_cap's metric made
    principled).

    Everything up to the last expression is exact integer cents
    (rank-weighted sums in BIGINT); ties in x contribute the same
    Σi regardless of their internal order, and the (cents, custkey)
    tie-break pins the ranks anyway.  The final Gini is two exact
    integers cast to double and divided once.

    Scale: per-customer aggregate (one shuffle), one per-priority sort
    window for the ranks, one final aggregate.  BIGINT rank-weighted
    sums hold past sf10 (i·x ≤ 1e13 summed over 1e5 rows); DECIMAL
    widening past that — same plan."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(19,2)") * 100).cast("long")
    cust = o.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(cents).alias("cents")
    )
    by_p = Window.partitionBy("o_orderpriority")
    r = cust.select(
        "o_orderpriority",
        "cents",
        F.row_number()
        .over(by_p.orderBy("cents", "o_custkey"))
        .cast("long")
        .alias("i"),
        F.count(F.lit(1)).over(by_p).alias("n"),
    )
    s = r.groupBy("o_orderpriority", "n").agg(
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("i") * F.col("cents")).alias("weighted"),
    )
    return s.select(
        "o_orderpriority",
        F.col("n").alias("n_customers"),
        "total_cents",
        (
            (2 * F.col("weighted") - (F.col("n") + 1) * F.col("total_cents"))
            .cast("double")
            / (F.col("n") * F.col("total_cents")).cast("double")
        ).alias("gini"),
    )
