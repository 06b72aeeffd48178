"""Aggregation queries (SURVEY.md §2.2: q_groupby_agg, q_distinct_count,
q_rollup, q_topk, q_set_ops, plus the non-oracle q_approx_distinct).

Reference analogue: the 3-minute incremental recompute of catalog state
(R25) is a periodic group-style recomputation; memoization keys (R26)
are distinct aggregations.

Scale notes: every groupBy here is a partial (map-side) + final
aggregate — one shuffle sized by group count, not row count.  Decimal
accumulation (functions/numeric.py) keeps double sums order-independent
for the oracle without leaving whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_sync_java_spark.functions.numeric import davg, dsum, sql_davg, sql_dsum
from pulsar_sync_java_spark.operators.util import cached
from pulsar_sync_java_spark.operators.vectorized import md5_32
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.sources.tables import load_table

_GROUPBY_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity')} AS sum_qty,
       {sql_dsum('l_extendedprice')} AS sum_base_price,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {sql_davg('l_quantity')} AS avg_qty,
       {sql_davg('l_extendedprice')} AS avg_price,
       {sql_davg('l_discount')} AS avg_disc,
       MIN(l_quantity) AS min_qty,
       MAX(l_extendedprice) AS max_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("q_groupby_agg", oracle=_GROUPBY_SQL)
def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: hash aggregate with sum/avg/count/min/max over
    computed expressions, grouped by two low-cardinality keys."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_extendedprice").alias("max_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_distinct_count", oracle=_DISTINCT_SQL)
def q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct aggregation (R26 memoization keys).
    Spark expands multiple DISTINCTs via a single expand + two-phase
    agg; still one logical shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
       COUNT(*) AS n_rows,
       TRUE AS approx_ok
FROM lineitem
GROUP BY l_returnflag
"""

# 5x the requested rsd: HLL++ error is ~Gaussian with sd=rsd, so 5
# sigma leaves no realistic flake room while still failing loudly on a
# broken sketch (which is off by whole multiples, not percent).
_APPROX_DISTINCT_BOUND = 0.05


@query("q_approx_distinct", oracle=_APPROX_DISTINCT_SQL)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB path where exact
    distinct would shuffle every key (the production operator is the
    bare ``approx_count_distinct`` aggregate).

    PARTIAL ORACLE (r6 verdict #5): the raw sketch estimate is
    engine-specific (DuckDB's sketch differs by design), so instead of
    hashing it this query hash-gates everything checkable — the group
    key, the EXACT distinct count, the row count — plus ``approx_ok``,
    Spark's own HLL estimate tested against the exact count at a 5%
    bound (5 sigma at rsd=0.01); the oracle emits literal TRUE.  Both
    engines' HLL/exact values are deterministic for fixed data, so the
    row is hash-green, and a sketch regression >5% flips approx_ok and
    fails the hash.  The exact co-aggregate exists only in this
    verification query; it shares the one shuffle (Spark expands
    DISTINCT + HLL into a single two-phase plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "distinct_parts",
            "n_rows",
            (
                F.abs(F.col("_approx") - F.col("distinct_parts"))
                <= F.col("distinct_parts") * F.lit(_APPROX_DISTINCT_BOUND)
            ).alias("approx_ok"),
        )
    )


_ROLLUP_SQL = f"""
SELECT r.r_name AS region, n.n_name AS nation,
       GROUPING(r.r_name) AS g_region, GROUPING(n.n_name) AS g_nation,
       COUNT(*) AS n_orders,
       {sql_dsum('o.o_totalprice')} AS total_revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
"""


@query("q_rollup", oracle=_ROLLUP_SQL)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (region -> nation -> grand total) with
    GROUPING markers disambiguating subtotal rows.  Spark executes one
    Expand + hash aggregate; dims join broadcast."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "o_totalprice")
    )
    return joined.rollup("region", "nation").agg(
        F.grouping("region").alias("g_region"),
        F.grouping("nation").alias("g_nation"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_revenue"),
    )


_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       COUNT(*) AS n_items,
       {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("q_cube", oracle=_CUBE_SQL)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag, linestatus): all 2^2 grouping sets in
    one Expand + hash aggregate — same family as q_rollup, completing
    the grouping-sets surface."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").alias("g_flag"),
        F.grouping("l_linestatus").alias("g_status"),
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity").alias("sum_qty"),
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS status_O,
       CAST(COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS status_F
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_pivot", oracle=_PIVOT_SQL)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide) with an explicit value list — the explicit
    list keeps it a single-pass aggregate (no extra distinct-values
    job), which is the 100 TB discipline."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
        .select(
            "l_returnflag",
            F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
            F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
        )
    )


_PERCENTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90,
       quantile_cont(l_extendedprice, 0.99) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_percentiles", oracle=_PERCENTILES_SQL)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group — Spark's
    `percentile` and DuckDB's `quantile_cont` share the algorithm, so
    the oracle match is bit-exact.  (The sketch variant for 100 TB is
    `percentile_approx`/t-digest; exact needs a per-group sort and is
    the verifiable baseline.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
    )


_APPROX_PCT_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       TRUE AS p50_ok,
       TRUE AS p90_ok
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_approx_percentiles", oracle=_APPROX_PCT_SQL)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate percentiles (`percentile_approx`,
    accuracy 10000) — the mergeable-sketch percentile path at 100 TB,
    where the exact variant (q_percentiles) needs a per-group sort.

    PARTIAL ORACLE (same pattern as q_approx_distinct / the ANN
    queries): the sketch VALUE is engine-specific, so the query
    hash-gates the group key, the row count, and rank-band flags —
    each approx percentile must land inside the exact [q-1%, q+1%]
    rank band (GK guarantees rank error <= 1/accuracy = 0.01%, so the
    1% band leaves 100x slack yet still fails loudly on a broken
    sketch, which is off by whole rank regions).  The exact band
    percentiles are co-computed only in this verification query and
    share the one two-phase aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("percentile_approx(l_extendedprice, 0.5, 10000)").alias("a50"),
        F.expr("percentile_approx(l_extendedprice, 0.9, 10000)").alias("a90"),
        F.expr("percentile(l_extendedprice, 0.49)").alias("lo50"),
        F.expr("percentile(l_extendedprice, 0.51)").alias("hi50"),
        F.expr("percentile(l_extendedprice, 0.89)").alias("lo90"),
        F.expr("percentile(l_extendedprice, 0.91)").alias("hi90"),
    )
    return agg.select(
        "l_returnflag",
        "n_rows",
        ((F.col("a50") >= F.col("lo50")) & (F.col("a50") <= F.col("hi50"))).alias(
            "p50_ok"
        ),
        ((F.col("a90") >= F.col("lo90")) & (F.col("a90") <= F.col("hi90"))).alias(
            "p90_ok"
        ),
    )


_TOPK_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 10
"""


@query("q_topk", oracle=_TOPK_SQL)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 with a total-order tie-break.  Spark plans
    TakeOrderedAndProject: per-partition heaps + driver merge of 10-row
    candidates — no global sort, scales to any row count."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    ).limit(10).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")


_SET_OPS_SQL = """
WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
     rich AS (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
SELECT 'union' AS op, custkey FROM (SELECT custkey FROM buyers UNION SELECT custkey FROM rich) u
UNION ALL
SELECT 'intersect' AS op, custkey FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM rich) i
UNION ALL
SELECT 'except' AS op, custkey FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM rich) e
"""


@query("q_set_ops", oracle=_SET_OPS_SQL)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union / intersect / except over key sets, tagged into one result
    (the catalog-diff family R3: 'present on src but not dst' is
    EXCEPT)."""
    buyers = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "custkey")  # noqa: E731
    return (
        tag(buyers.union(rich).distinct(), "union")
        .unionAll(tag(buyers.intersect(rich), "intersect"))
        .unionAll(tag(buyers.exceptAll(rich.distinct()), "except"))
    )


_TIME_ROLLUP_SQL = f"""
SELECT CASE WHEN GROUPING(hb) = 0 THEN 'hour' ELSE 'day' END AS resolution,
       strftime(CASE WHEN GROUPING(hb) = 0 THEN hb ELSE db END,
                '%Y-%m-%d %H:%M:%S.%g') AS bucket_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM (SELECT event_type, value,
             date_trunc('hour', ts) AS hb, date_trunc('day', ts) AS db
      FROM events)
GROUP BY GROUPING SETS ((event_type, db, hb), (event_type, db))
"""


@query("q_time_rollup_multi", oracle=_TIME_ROLLUP_SQL)
def q_time_rollup_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (the hypertable continuous-aggregate
    shape): hourly AND daily buckets per event_type from ONE scan via
    grouping sets — Catalyst plans one Expand + one hash aggregate, so
    an extra resolution costs an expand row per input row, not a table
    rescan.  The hour set carries the (functionally dependent) day
    column so both resolutions share one grouping graph; the GROUPING
    marker, not NULL-ness, distinguishes the levels."""
    from pulsar_sync_java_spark.queries.reference import fmt_ts

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.date_trunc("hour", "ts").alias("hb"),
        F.date_trunc("day", "ts").alias("db"),
    )
    agg = ev.groupingSets(
        [["event_type", "db", "hb"], ["event_type", "db"]],
        "event_type", "db", "hb",
    ).agg(
        F.grouping("hb").alias("__g"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    return agg.select(
        F.when(F.col("__g") == 0, "hour").otherwise("day").alias("resolution"),
        fmt_ts(F.when(F.col("__g") == 0, F.col("hb")).otherwise(F.col("db"))).alias(
            "bucket_start"
        ),
        "event_type",
        "n_events",
        "sum_value",
    )


_COND_AGG_SQL = f"""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       {sql_dsum("CASE WHEN l_discount > 0.05 THEN l_extendedprice END")}
         AS discounted_revenue,
       {sql_dsum("CASE WHEN l_tax = 0 THEN l_extendedprice END")}
         AS taxfree_revenue
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_conditional_agg", oracle=_COND_AGG_SQL)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/filtered aggregation — several differently-filtered
    metrics in ONE pass (the pipeline-stats shape: N metrics without N
    scans).  Spark's count_if / sum(CASE) ≡ SQL FILTER clauses; all in
    one partial+final hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice"))
    taxfree = F.when(F.col("l_tax") == 0, F.col("l_extendedprice"))
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_quantity") > 25).alias("n_heavy"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        dsum(disc).alias("discounted_revenue"),
        dsum(taxfree).alias("taxfree_revenue"),
    )


_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, metric, val FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount
  FROM lineitem WHERE l_orderkey % 50 = 0
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax', l_tax
  FROM lineitem WHERE l_orderkey % 50 = 0
)
"""


@query("q_unpivot", oracle=_UNPIVOT_SQL)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long unpivot (melt): four measure columns become (metric,
    val) rows in ONE scan — Spark's `unpivot` plans an Expand, where
    the equivalent UNION ALL (the oracle formulation, portable SQL)
    rescans the table once per measure.  The key filter sits below the
    Expand, so amplification applies to the selected slice only."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_linenumber",
                F.col("l_quantity").alias("quantity"),
                F.col("l_extendedprice").alias("extendedprice"),
                F.col("l_discount").alias("discount"),
                F.col("l_tax").alias("tax"))
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["quantity", "extendedprice", "discount", "tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# ----------------------------------------------------- heavy hitters

_HEAVY_HITTERS_SQL = """
WITH s AS (
  SELECT CASE WHEN o_orderkey % 4 < 2 THEN o_custkey % 8
              ELSE o_custkey END AS k
  FROM orders
), c AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM s GROUP BY k
), tot AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS total FROM c)
SELECT k, n_occurrences,
       CAST(n_occurrences AS DOUBLE)
         / CAST((SELECT total FROM tot) AS DOUBLE) AS share
FROM c
WHERE n_occurrences >= CEIL(0.01 * (SELECT total FROM tot))
"""


@query("q_heavy_hitters", oracle=_HEAVY_HITTERS_SQL)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items mining: every key holding >= 1% of all orders,
    via the mergeable Misra-Gries sketch + exact re-verify
    (`operators/heavy_hitters.py`).  The key plants scale-stable skew
    on the otherwise-uniform synthetic data (the q_fk_integrity
    planted-degradation idiom): half the rows collapse onto 8 hot
    buckets (~6% each), the rest stay on ~1500 cold custkeys (~0.03%
    each), so the sketch genuinely prunes at every sf.

    The output is EXACT — the sketch only proposes a guaranteed
    superset of candidates and the broadcast exact-verify pass trims
    it — so the oracle is the plain GROUP BY + HAVING, hash-green,
    while the engine never shuffles the full key space: P*(k+1)
    summary rows plus O(P * |candidates|) verify partials
    (completing the sketch family beside HLL, GK percentiles,
    MinHash/SimHash and the bloom semi join)."""
    from pulsar_sync_java_spark.operators.heavy_hitters import heavy_hitters

    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 4 < 2, F.col("o_custkey") % 8)
        .otherwise(F.col("o_custkey"))
        .alias("hh_key")
    )
    return heavy_hitters(o, "hh_key", phi=0.01)


# ---------------------------------------------- incremental rollup

_ROLLUP_INCR_SQL = f"""
SELECT event_type,
       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS sum_value,
       {sql_dsum('value')} / COUNT(*) AS avg_value
FROM events
GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')
"""


@query("q_rollup_incremental", oracle=_ROLLUP_INCR_SQL)
def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a daily rollup — the materialized-
    view discipline at 100 TB: history is NEVER re-aggregated.  The
    events table is split into an already-rolled-up history and a new
    batch (deterministic event_id slice); each side is reduced to
    algebraic PARTIALS (count + exact DECIMAL sum, the mergeable
    state), and the partials are merged by a second tiny aggregate —
    count-sized, not row-sized.  The oracle is the DIRECT one-shot
    aggregate over everything, so the hash gate proves the algebraic
    merge identity merge(partial(A), partial(B)) == agg(A ∪ B) —
    including the decimal-exact doubles, which is precisely why the
    engine's aggregation standard is decimal accumulation
    (functions/numeric.py): double partials would NOT merge
    bit-identically.

    Scale shape: the new batch pays one partial+final aggregate over
    its own rows; the history side would in production be the stored
    rollup table itself (here recomputed for the self-contained
    oracle), and the merge shuffles only (group x 2) partial rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
        "event_id",
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("ps"),
        )

    history = partials(ev.filter(F.col("event_id") % 7 < 5))
    batch = partials(ev.filter(F.col("event_id") % 7 >= 5))
    merged = (
        history.unionByName(batch)
        .groupBy("event_type", "day")
        .agg(F.sum("pn").alias("n_events"), F.sum("ps").alias("ms"))
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        F.col("ms").cast("double").alias("sum_value"),
        (F.col("ms").cast("double") / F.col("n_events")).alias("avg_value"),
    )


# ------------------------------------------------ HLL sketch merge

# Merge-invariance bound: the sketch estimate must sit within 10% of
# the exact count (lgConfigK=12 -> ~1.6% relative standard error; 5+
# sigma of slack, so only a BROKEN sketch — off by whole multiples —
# can flip the flag) and, bit-for-bit, must not depend on how the rows
# were split into partials.
_HLL_BOUND = 0.10

_HLL_MERGE_SQL = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS merge_ok,
       TRUE AS approx_ok
FROM events GROUP BY event_type
"""


@query("q_hll_merge", oracle=_HLL_MERGE_SQL)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch MERGEABILITY gated as data — the q_minhash_merge
    twin for cardinality (r8 verdict #1): per-slice
    ``hll_sketch_agg`` partials collapsed with ``hll_union_agg``
    under TWO different row-splits (8-way by event_id, 4-way by
    user_id), beside the unsplit sketch and the exact count.

    What is lawful where (measured, sf0.1 sweep, r9): in the
    sparse/EXACT regime (distincts below the lgK=12 coupon
    threshold) every path is bit-identical — that exact-equality law
    is pinned by the hypothesis property test
    (test_hll_union_split_invariance_property).  In the DENSE
    regime the estimates legitimately diverge by O(rse): the
    datasketches sparse-union replays coupons, keeping the
    order-dependent HIP estimator, so estimate(union) is NOT a pure
    function of the merged register set across different splits (1488
    vs 1501 vs 1494 at n=1500, all within 1%).  Gating bit-equality
    at data scale would therefore assert a law the library
    deliberately does not provide.  What production actually relies
    on — and what this query gates — is that MERGING NEVER DEGRADES
    ACCURACY BEYOND THE SKETCH BOUND: both merged-path estimates and
    the direct estimate sit within 10% (≈6 sigma at rse 1.6%) of the
    exact count, flags stable under the ~1% estimator wobble.

    PARTIAL ORACLE (the q_approx_distinct pattern): hash covers the
    group key, the EXACT distinct count, `merge_ok` (both merged
    paths within bound) and `approx_ok` (direct within bound); the
    oracle emits literal TRUE for the flags.

    Plan: three sketch aggregates + one exact-distinct expand over ONE
    events scan per branch; every shuffle carries sketches (<= 4 KiB
    each at lgConfigK=12) or count partials, never raw user ids —
    group count is |event_type| x slices, so the whole query is
    aggregate-sized after the map side."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )

    def merged_est(slice_col, name):
        partials = e.groupBy(
            "event_type", slice_col.alias("_sl")
        ).agg(F.hll_sketch_agg("user_id").alias("_sk"))
        return partials.groupBy("event_type").agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias(name)
        )

    a = merged_est(F.col("event_id") % 8, "_est_a")
    b = merged_est(F.col("user_id") % 4, "_est_b")
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_est_d"),
        F.countDistinct("user_id").alias("n_exact"),
    )

    def within(est):
        return F.abs(est - F.col("n_exact")) <= F.col("n_exact") * F.lit(
            _HLL_BOUND
        )

    return (
        direct.join(a, "event_type")
        .join(b, "event_type")
        .select(
            "event_type",
            "n_exact",
            (within(F.col("_est_a")) & within(F.col("_est_b"))).alias(
                "merge_ok"
            ),
            within(F.col("_est_d")).alias("approx_ok"),
        )
    )


# ------------------------------------------- quantile sketch merge law

# Rank-error budget for the merge flags: datasketches KLL at the
# default k=200 guarantees ~1.65% normalized rank error (99% conf,
# single sketch); 5% gives >= 3x slack PLUS the +-1/n inclusive-rank
# convention wobble, so only a genuinely broken merge (or sketch) can
# flip a flag — the q_hll_merge bound philosophy.
_KLL_EPS = 0.05

_QUANTILE_MERGE_SQL = """
WITH r AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_exact,
       MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END)
         AS exact_p50,
       MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END)
         AS exact_p90,
       TRUE AS merge_ok, TRUE AS oneshot_ok
FROM r GROUP BY event_type
"""


@query("q_quantile_merge", oracle=_QUANTILE_MERGE_SQL)
def q_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch MERGE law gated as data (r10 verdict #4) — the
    fourth member of the mergeable-summary family (q_minhash_merge:
    MIN-merge; q_hll_merge: register-MAX merge; q_countmin_topk:
    SUM-merge; here: the KLL compactor merge): per-slice
    ``kll_sketch_agg_double`` partials collapsed with
    ``kll_merge_agg_double`` under TWO different row splits (8-way by
    event_id, 4-way by user_id), beside the unsplit one-shot sketch
    and the EXACT order statistics.

    What production relies on — and what the flags gate — is the KLL
    mergeability THEOREM: merging per-shard sketches never degrades
    the rank-error guarantee, so a merged p50/p90 estimate's exact
    normalized rank must sit within the sketch bound of its target
    (the rank INTERVAL [count(<est), count(<=est)]/n comes within 5%
    of p — >= 3x the k=200 guarantee; the interval form keeps a
    duplicate-heavy median from reading as rank 1.0).  A rollup
    pipeline merges per-day/per-partition sketches exactly like the
    two split paths here; a broken merge (or a sketch whose quantile
    query ignores the merged compactors) lands whole percentage points
    away and trips the flag.

    PARTIAL ORACLE (the q_hll_merge pattern): hash covers the group
    key, the exact count, and the exact discrete p50/p90 (the value at
    rank ceil(p*n) — both engines replay the identical row_number
    selection, no interpolation); `merge_ok` (both merged paths, both
    quantiles in bound) and `oneshot_ok` (direct sketch in bound) are
    flags the oracle emits as literals.

    Plan: three sketch aggregates over one events scan each — the
    shuffles carry KLL sketches (bounded by k log n, ~KB) or count
    partials, never raw values; the six estimates join back onto the
    scan as a 5-row broadcast for the exact-rank audit; the exact
    order statistics pay the one per-group sort window the AUDIT
    needs (at 100 TB the audit side runs on a sampled slice — the
    sketches themselves never sort anything)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id", "user_id"
    )

    def qcols(sk, tag: str):
        return [
            F.kll_sketch_get_quantile_double(sk, F.lit(0.5)).alias(
                f"_q50_{tag}"
            ),
            F.kll_sketch_get_quantile_double(sk, F.lit(0.9)).alias(
                f"_q90_{tag}"
            ),
        ]

    def merged(slice_col, tag: str) -> DataFrame:
        partials = e.groupBy("event_type", slice_col.alias("_sl")).agg(
            F.kll_sketch_agg_double("value").alias("_sk")
        )
        return partials.groupBy("event_type").agg(
            F.kll_merge_agg_double("_sk").alias("_m")
        ).select("event_type", *qcols(F.col("_m"), tag))

    a = merged(F.col("event_id") % 8, "a")
    b = merged(F.col("user_id") % 4, "b")
    d = (
        e.groupBy("event_type")
        .agg(F.kll_sketch_agg_double("value").alias("_m"))
        .select("event_type", *qcols(F.col("_m"), "d"))
    )
    est = a.join(b, "event_type").join(d, "event_type")

    tags = ["q50_a", "q90_a", "q50_b", "q90_b", "q50_d", "q90_d"]
    # a repeated estimate value occupies a rank INTERVAL [lt, le]:
    # count(value < est) .. count(value <= est); the sketch guarantee
    # is about that interval, so both ends are audited (a median made
    # of duplicates would otherwise read as rank 1.0 and flap the flag)
    ranks = (
        e.join(F.broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            *[
                F.sum(
                    (F.col("value") <= F.col(f"_{t}")).cast("long")
                ).alias(f"_rle_{t}")
                for t in tags
            ],
            *[
                F.sum(
                    (F.col("value") < F.col(f"_{t}")).cast("long")
                ).alias(f"_rlt_{t}")
                for t in tags
            ],
        )
    )

    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    exact = ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("_rn") == F.ceil(F.lit(0.5) * F.col("_n")),
                F.col("value"),
            )
        ).alias("exact_p50"),
        F.max(
            F.when(
                F.col("_rn") == F.ceil(F.lit(0.9) * F.col("_n")),
                F.col("value"),
            )
        ).alias("exact_p90"),
    )

    def ok(tag: str, p: float):
        lo = F.col(f"_rlt_{tag}").cast("double") / F.col("n_exact")
        hi = F.col(f"_rle_{tag}").cast("double") / F.col("n_exact")
        # bound + 1/n: the discrete rank grid quantizes each target to
        # the nearest 1/n, so a small slice can put a HEALTHY sketch's
        # answer a legitimate 1/n beyond the sketch bound — the same
        # wobble the split-invariance property test
        # (tests/test_new_query_props.py) adds for the same reason;
        # without it merge_ok flips false on tiny slices while the
        # oracle's literal TRUE stays green
        eps = F.lit(_KLL_EPS) + F.lit(1.0) / F.col("n_exact")
        return (lo - eps <= F.lit(p)) & (F.lit(p) <= hi + eps)

    return exact.join(ranks, "event_type").select(
        "event_type",
        "n_exact",
        "exact_p50",
        "exact_p90",
        (ok("q50_a", 0.5) & ok("q90_a", 0.9) & ok("q50_b", 0.5) & ok("q90_b", 0.9)).alias("merge_ok"),
        (ok("q50_d", 0.5) & ok("q90_d", 0.9)).alias("oneshot_ok"),
    )


# ------------------------------------------- Count-Min sketch

# d x w Count-Min: d=4 portable multiplicative hash rows, w=32 buckets.
# Same hash-family device as the MinHash oracle (exact integer
# arithmetic both engines replay): row j hashes key k to
# ((k mod 2^31 + 1) * A_j + B_j) mod P mod w, products bounded < 2^62.
_CM_D = 4
_CM_W = 32
_CM_P = 2147483647
_CM_TOPK = 10

# md5-derived per-row constants (r10): the old (j+1)*K construction
# made every row a multiple of ONE per-key value — rows correlated,
# so the min-over-rows error bound lost its e^-d independence (the
# same degeneracy q_sketch_calibration exposed in the MinHash family;
# see operators/vectorized.py:portable_minhash_family).  One Python
# tuple list feeds BOTH the engine columns and the oracle VALUES, and
# j stays explicit in each tuple (r9 advice: row_number() over a
# VALUES list is unspecified SQL).
_CM_FAM_TUPLES = [
    (j, (md5_32("cma", j) % _CM_P) or 1, md5_32("cmb", j) % _CM_P)
    for j in range(_CM_D)
]
_CM_FAM = ", ".join(f"({j}, {a}, {b})" for j, a, b in _CM_FAM_TUPLES)

_COUNTMIN_SQL = f"""
WITH fam AS (
  SELECT CAST(j AS BIGINT) AS j, a, b
  FROM (VALUES {_CM_FAM}) t(j, a, b)
), hashed AS (
  SELECT e.user_id, f.j,
         (((e.user_id % 2147483648) + 1) * f.a + f.b) % {_CM_P} % {_CM_W} AS h
  FROM events e CROSS JOIN fam f
), sketch AS (
  SELECT j, h, CAST(COUNT(*) AS BIGINT) AS c FROM hashed GROUP BY j, h
), truth AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
  FROM events GROUP BY user_id
), heavy AS (
  SELECT user_id, true_n FROM truth
  ORDER BY true_n DESC, user_id LIMIT {_CM_TOPK}
), coords AS (
  SELECT hv.user_id, hv.true_n, f.j,
         (((hv.user_id % 2147483648) + 1) * f.a + f.b) % {_CM_P} % {_CM_W} AS h
  FROM heavy hv CROSS JOIN fam f
)
SELECT c.user_id, c.true_n,
       CAST(MIN(s.c) AS BIGINT) AS cm_est,
       CAST(MIN(s.c) - c.true_n AS BIGINT) AS overcount
FROM coords c JOIN sketch s ON c.j = s.j AND c.h = s.h
GROUP BY c.user_id, c.true_n
"""


@query("q_countmin_topk", oracle=_COUNTMIN_SQL)
def q_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch with a MERGE-path identity oracle — the third
    member of the mergeable-sketch family (q_minhash_merge: MIN-merge;
    q_hll_merge: register-MAX merge; here: elementwise SUM merge, the
    linear sketch): the ENGINE builds the 4x32 sketch by summing
    per-slice partials (slice = event_id mod 5 — the per-partition /
    per-day partials of a 100 TB rollup), while the ORACLE builds it
    one-shot, so hash-green proves merge(partials) == sketch(union)
    exactly.  The sketch then answers point queries for the 10
    heaviest users: est = min_j counter[j][h_j(key)], emitted beside
    the exact count with the (always >= 0) overcount — CM's one-sided
    error law, hash-gated as data, not asserted.

    Everything is exact integer arithmetic (portable multiplicative
    hashes, integer counters), so unlike the HLL estimate the WHOLE
    row is oracle-hashed — no partial-oracle flags needed.

    Plan: one events scan explodes to d=4 hash rows and reduces
    through partial+final aggregates to the 128-counter sketch (the
    shuffle carries (slice, j, h) count partials, never raw keys);
    the heavy-key probe is a TakeOrdered over the per-user count
    aggregate; coords x sketch is a broadcast join of two tiny
    tables.  At 100 TB the sketch stays 128 rows no matter what —
    that is the point of CM."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    fam = _CM_FAM_TUPLES

    def hash_cols(df: DataFrame) -> DataFrame:
        return df.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).cast("long").alias("j"),
                            (
                                (
                                    ((F.col("user_id") % F.lit(2147483648)) + 1)
                                    * F.lit(a)
                                    + F.lit(b)
                                )
                                % F.lit(_CM_P)
                                % F.lit(_CM_W)
                            ).alias("h"),
                        )
                        for j, a, b in fam
                    ]
                )
            ).alias("_jh"),
        ).select("*", F.col("_jh.j").alias("j"), F.col("_jh.h").alias("h"))

    # merge path: per-slice partial sketches -> elementwise SUM
    partials = (
        hash_cols(e.withColumn("_slice", F.col("event_id") % 5))
        .groupBy("_slice", "j", "h")
        .agg(F.count(F.lit(1)).alias("pc"))
    )
    sketch = partials.groupBy("j", "h").agg(
        F.sum("pc").cast("long").alias("c")
    )
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    heavy = truth.orderBy(
        F.col("true_n").desc(), F.col("user_id").asc()
    ).limit(_CM_TOPK)
    coords = hash_cols(heavy).select("user_id", "true_n", "j", "h")
    return (
        coords.join(F.broadcast(sketch), ["j", "h"])
        .groupBy("user_id", "true_n")
        .agg(
            F.min("c").alias("cm_est"),
            (F.min("c") - F.col("true_n")).alias("overcount"),
        )
    )


# ------------------------------------------- mergeable bottom-k sample

# Portable 32-bit multiplicative hash (the q_sample_stratified device):
# the sampling key every engine replays bit-for-bit.
_BK_K = 8

_BK_KEY = "((user_id % 2147483648) * 2654435761) % 4294967296"

_SAMPLE_MERGE_SQL = f"""
WITH keyed AS (
  SELECT event_type, event_id, {_BK_KEY} AS k
  FROM events
), ranked AS (
  SELECT event_type, event_id, k,
         row_number() OVER (PARTITION BY event_type ORDER BY k, event_id)
           AS rn
  FROM keyed
)
SELECT event_type, CAST(rn AS INT) AS rn, k, event_id
FROM ranked WHERE rn <= {_BK_K}
"""


@query("q_sample_merge", oracle=_SAMPLE_MERGE_SQL)
def q_sample_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k (KMV) sampling — the FOURTH mergeable
    primitive beside MIN-merge (q_minhash_merge), register-MAX merge
    (q_hll_merge) and SUM-merge (q_countmin_topk): per event type,
    keep the ``_BK_K`` events with the smallest portable-hash keys.
    Bottom-k is a semilattice (bottom-k of a union == bottom-k of the
    per-part bottom-ks), which is exactly what lets a uniform sample —
    or the KMV distinct-count estimate its k-th key carries — be
    maintained per partition / per day and collapsed at 100 TB without
    ever reshuffling raw rows.

    The ENGINE takes the merge path: per-(type, event_id mod 5 slice)
    bottom-k through a windowed rank, union of the tiny per-slice
    samples, then the final bottom-k over 5k candidate rows per type.
    The ORACLE computes the direct one-shot bottom-k, so hash-green
    proves the semilattice law on real data — the q_minhash_merge
    identity-oracle pattern.  Hash keys and ranks are exact integers;
    (key, event_id) is a total order, so the cut is deterministic.

    Plan: one scan, one (type, slice) window shuffle whose output is
    ``_BK_K`` rows per group, a union, and one window over the
    slices-x-``_BK_K``-row candidate set — the heavy shuffle carries
    sample rows only."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr(_BK_KEY).alias("k"),
        (F.col("event_id") % 5).alias("_slice"),
    )
    w_slice = Window.partitionBy("event_type", "_slice").orderBy(
        "k", "event_id"
    )
    partials = (
        e.withColumn("_rn", F.row_number().over(w_slice))
        .filter(F.col("_rn") <= _BK_K)
        .drop("_rn", "_slice")
    )
    w_final = Window.partitionBy("event_type").orderBy("k", "event_id")
    return (
        partials.withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= _BK_K)
        .select("event_type", "rn", "k", "event_id")
    )


# ------------------------------------------- HLL set algebra (intersect)

_HLL_PAIRS = (("view", "click"), ("view", "purchase"), ("click", "signup"))
# inclusion-exclusion error scales with the UNION size (three ~1.6%-rse
# estimates stack), not the intersection; +16 absolute slack keeps the
# tiny sf0.001 sets off the relative-bound knife edge.
_HLL_IX_REL = 0.10
_HLL_IX_ABS = 16.0

_HLL_IX_SQL = f"""
WITH k AS (
  SELECT DISTINCT event_type,
         user_id * 64 + EXTRACT(day FROM ts) AS key
  FROM events
), n AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM k GROUP BY 1
), p AS (
  SELECT * FROM (VALUES
    {", ".join(f"('{a}', '{b}')" for a, b in _HLL_PAIRS)}) t(ta, tb)
), i AS (
  SELECT p.ta, p.tb, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM p
  JOIN k a ON a.event_type = p.ta
  JOIN k b ON b.event_type = p.tb AND b.key = a.key
  GROUP BY 1, 2
)
SELECT i.ta AS set_a, i.tb AS set_b,
       na.n AS n_a, nb.n AS n_b,
       na.n + nb.n - i.n_inter AS n_union,
       i.n_inter,
       TRUE AS union_ok, TRUE AS inter_ok
FROM i
JOIN n na ON na.event_type = i.ta
JOIN n nb ON nb.event_type = i.tb
"""


@query("q_hll_intersect", oracle=_HLL_IX_SQL)
def q_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set ALGEBRA — intersection cardinality by inclusion-
    exclusion over mergeable sketches: |A∩B| ≈ est(A) + est(B) -
    est(A ⊔ B), where A ⊔ B is a pure sketch-register union
    (``hll_union``), never a data rescan.  This is the audience-
    overlap / cross-segment reach query at 100 TB: per-segment
    sketches are tiny mergeable state; any pairwise overlap is then
    sketch-algebra-only.  Sets here: distinct (user, day-of-month)
    activity keys per event type.

    PARTIAL ORACLE (the q_hll_merge pattern): the hash gate covers
    the pair labels and all four EXACT cardinalities (n_inter from a
    key-set join, n_union = n_a + n_b - n_inter — the exact identity,
    no union rescan), plus two bound flags the oracle emits as
    literal TRUE: est(A⊔B) and the inclusion-exclusion intersection
    estimate must sit within {_HLL_IX_REL:.0%} of n_union + {_HLL_IX_ABS:.0f}
    absolute (union-relative because that is how inclusion-exclusion
    error actually scales; ~6 sigma at lgK=12's 1.6% rse).

    Plan: ONE distinct-key aggregate feeds both the per-type sketch
    aggregate (3 sketches) and the exact verification joins; the
    pair frame is a 3-row broadcast; nothing after the first
    aggregate is corpus-sized."""
    e = load_table(spark, sf_dir, "events")
    k = e.select(
        "event_type",
        (F.col("user_id") * 64 + F.dayofmonth("ts")).alias("key"),
    ).distinct()
    k = cached(k, "aggregates.q_hll_intersect")
    per_type = k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.hll_sketch_agg("key").alias("sk"),
    )
    pairs = spark.createDataFrame(list(_HLL_PAIRS), ["set_a", "set_b"])
    kb = k.select(
        F.col("event_type").alias("_tb"), F.col("key").alias("_kb")
    )
    inter = (
        F.broadcast(pairs)
        .join(k.withColumnRenamed("event_type", "set_a"), "set_a")
        .join(
            kb,
            (F.col("set_b") == F.col("_tb")) & (F.col("key") == F.col("_kb")),
        )
        .groupBy("set_a", "set_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    a = per_type.select(
        F.col("event_type").alias("set_a"),
        F.col("n").alias("n_a"),
        F.col("sk").alias("sk_a"),
    )
    b = per_type.select(
        F.col("event_type").alias("set_b"),
        F.col("n").alias("n_b"),
        F.col("sk").alias("sk_b"),
    )
    j = inter.join(F.broadcast(a), "set_a").join(F.broadcast(b), "set_b")
    est_a = F.hll_sketch_estimate("sk_a").cast("double")
    est_b = F.hll_sketch_estimate("sk_b").cast("double")
    est_u = F.hll_sketch_estimate(
        F.hll_union("sk_a", "sk_b")
    ).cast("double")
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    bound = n_union.cast("double") * F.lit(_HLL_IX_REL) + F.lit(_HLL_IX_ABS)
    return j.select(
        "set_a",
        "set_b",
        "n_a",
        "n_b",
        n_union.alias("n_union"),
        "n_inter",
        (F.abs(est_u - n_union.cast("double")) <= bound).alias("union_ok"),
        (
            F.abs((est_a + est_b - est_u) - F.col("n_inter").cast("double"))
            <= bound
        ).alias("inter_ok"),
    )
