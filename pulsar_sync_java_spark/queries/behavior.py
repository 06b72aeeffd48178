"""User-behavior analytics over the events stream: ordered funnels and
cohort retention — the two aggregate shapes every event warehouse runs
daily, and the natural read-side complement to the reference's
per-partition ordered delivery (PulsarPartitionSyncWorker.java:224-231
preserves per-key order precisely so consumers can compute
order-sensitive aggregates like these downstream).

Both queries are oracle-checked (hash gate), and both are shaped for
100 TB event volumes: every stage is a per-user partial+final aggregate
or a key join — no windows over the raw stream, no cross products, and
each funnel stage's table can only shrink (stage N users ⊆ stage N-1
users), so AQE turns the later joins into broadcasts exactly when that
becomes profitable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.util import cached
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.queries.reference import TS_FMT_DUCK, fmt_ts
from pulsar_sync_java_spark.sources.tables import load_table

# ------------------------------------------------------------------ funnel

_FUNNEL_SQL = f"""
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT v.user_id,
       strftime(v.t_view, '{TS_FMT_DUCK}') AS t_view,
       strftime(c.t_click, '{TS_FMT_DUCK}') AS t_click,
       strftime(p.t_purchase, '{TS_FMT_DUCK}') AS t_purchase,
       CAST(1 + CAST(c.user_id IS NOT NULL AS INT)
              + CAST(p.user_id IS NOT NULL AS INT) AS INT) AS reached
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


@query("q_funnel_steps", oracle=_FUNNEL_SQL)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (view -> click -> purchase): for each
    user who viewed, the earliest view, the earliest click strictly
    AFTER that view, and the earliest purchase strictly after that
    click — `reached` counts completed stages (1-3).

    Scale shape: each stage is one per-user min-aggregate over a
    type-filtered scan (filter pushed to parquet) joined to the
    previous stage's (user, ts) table.  Stage tables only shrink —
    users who clicked ⊆ users who viewed — so the join's build side
    gets smaller every stage and AQE converts it to a broadcast the
    moment it fits; nothing in the plan ever carries more than one row
    per (user, stage)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    reached = (
        F.lit(1)
        + F.col("t_click").isNotNull().cast("int")
        + F.col("t_purchase").isNotNull().cast("int")
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            fmt_ts(F.col("t_view")).alias("t_view"),
            fmt_ts(F.col("t_click")).alias("t_click"),
            fmt_ts(F.col("t_purchase")).alias("t_purchase"),
            reached.cast("int").alias("reached"),
        )
    )


# ---------------------------------------------------------------- retention

_RETENTION_SQL = """
WITH f AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
  FROM events GROUP BY user_id
), a AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(datediff('day', f.cohort_day, a.active_day) AS INT) AS day_offset,
       COUNT(*) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


@query("q_retention_cohort", oracle=_RETENTION_SQL)
def q_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by their first active day
    (UTC), counted on each later day they return — the (cohort_day,
    day_offset) -> n_users triangle behind every retention chart.

    Scale shape: one distinct on (user, day) — partial+final, shuffle
    carries at most users x active-days rows — and one per-user min.
    Counting rows after the join is exact-distinct for free: a user
    contributes exactly one row per (cohort, offset) because offset is
    a function of their active day.  No COUNT(DISTINCT) expand, no
    window over raw events."""
    e = load_table(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    a = e.select("user_id", F.to_date("ts").alias("active_day")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("active_day", "cohort_day").cast("int").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ------------------------------------------------------ markov transitions

_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
), t AS (
  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
FROM t
"""


@query("q_markov_transitions", oracle=_MARKOV_SQL)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for every
    ordered pair of consecutive events of one user, the transition
    count and row-normalized probability — the session-modeling
    aggregate behind next-action prediction and anomaly screens.

    Shape: ONE (user, ts) window shuffle for the lag pairing, one hash
    aggregate of (from, to) pairs (25 groups here, event-type² in
    general), and a tiny window over the aggregate for normalization.
    p = count/total is a single double division on exact integers —
    deterministic bits on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wt)).alias("p"),
    )


# --------------------------------------------------- market-basket rules

_MAX_BASKET = 64  # quadratic-guard: drop pathological mega-baskets

_ASSOC_SQL = f"""
WITH d AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), bsz AS (
  SELECT l_orderkey FROM d GROUP BY l_orderkey
  HAVING COUNT(*) <= {_MAX_BASKET}
), db AS (
  SELECT d.l_orderkey, d.l_partkey FROM d JOIN bsz USING (l_orderkey)
), nb AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets FROM bsz
), supp AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS supp FROM db GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         CAST(COUNT(*) AS BIGINT) AS pair_cnt
  FROM db a JOIN db b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
), top AS (
  SELECT * FROM pairs ORDER BY pair_cnt DESC, p1, p2 LIMIT 20
)
SELECT t.p1, t.p2, t.pair_cnt,
       sa.supp AS supp_p1, sb.supp AS supp_p2,
       nb.n_baskets,
       CAST(t.pair_cnt AS DOUBLE) / sa.supp AS confidence,
       CAST(t.pair_cnt * nb.n_baskets AS DOUBLE)
         / CAST(sa.supp * sb.supp AS DOUBLE) AS lift
FROM top t
JOIN supp sa ON sa.l_partkey = t.p1
JOIN supp sb ON sb.l_partkey = t.p2
CROSS JOIN nb
"""


@query("q_assoc_rules", oracle=_ASSOC_SQL)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: the 20 most frequent part
    pairs co-purchased in one order, with support, confidence
    P(p2|p1) and lift P(p1,p2)/(P(p1)P(p2)) — the classic affinity
    mining an order warehouse runs for recommendations.

    Scale shape: the corpus collapses to per-basket sorted item
    ARRAYS behind a COUNT-first mega-basket guard — the
    ``<= _MAX_BASKET`` filter runs on bounded count state BEFORE any
    array materializes, so a pathological basket never builds its
    item array at all (it bounds both the aggregation buffer and the
    quadratic pair expansion; a no-op on this data where baskets top
    out at ~13 lines).  The guarded array frame (one row per basket)
    is the persisted working set for all three consumers: pairs come
    from a zero-shuffle nested-transform explode (never a corpus
    self-join), supports from an item explode, the basket count from
    a plain count.  Pairs collapse in a partial+final aggregate, the
    top-20 is a TakeOrdered (never a global sort), and the tiny
    supports/total joins are broadcasts.  confidence and lift are
    single divisions of exact BIGINT counts / cross-products —
    deterministic bits in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    # The mega-basket guard must run BEFORE any array materializes: a
    # collect_set-then-filter shape would build a pathological
    # basket's full item array in the aggregation buffer before
    # discarding it — the exact blow-up _MAX_BASKET exists to prevent.
    # So: dedup rows, COUNT-guard (bounded agg state), and only then
    # collect the qualifying baskets into sorted arrays.
    d = li.select("l_orderkey", "l_partkey").distinct()
    ok = (
        d.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") <= _MAX_BASKET)
        .select("l_orderkey")
    )
    # one row per basket, ≤ _MAX_BASKET items each; the corpus-
    # cardinality (orderkey, partkey) frame is never cached
    baskets = cached(
        d.join(ok, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("items"))
        .select("items"),
        "behavior.q_assoc_rules",
    )
    n_baskets = baskets.agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    supp = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("supp"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "items",
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("items"), i + 2, F.size("items")
                            ),
                            lambda y: F.struct(
                                x.alias("p1"), y.alias("p2")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.p1", "pr.p2")
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )
    top = pairs.orderBy(F.col("pair_cnt").desc(), "p1", "p2").limit(20)
    sa = supp.select(
        F.col("l_partkey").alias("p1"), F.col("supp").alias("supp_p1")
    )
    sb = supp.select(
        F.col("l_partkey").alias("p2"), F.col("supp").alias("supp_p2")
    )
    out = (
        top.join(F.broadcast(sa), "p1")
        .join(F.broadcast(sb), "p2")
        .crossJoin(F.broadcast(n_baskets))
    )
    return out.select(
        "p1",
        "p2",
        "pair_cnt",
        "supp_p1",
        "supp_p2",
        "n_baskets",
        (F.col("pair_cnt").cast("double") / F.col("supp_p1")).alias(
            "confidence"
        ),
        (
            (F.col("pair_cnt") * F.col("n_baskets")).cast("double")
            / (F.col("supp_p1") * F.col("supp_p2")).cast("double")
        ).alias("lift"),
    )


# ------------------------------------------------- marketing attribution

_TOUCH_TYPES = ("view", "click")
_LINEAR_SCALE = 1_000_000  # fixed-point linear credit (millionths)

_ATTRIB_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
              AS BIGINT) AS conv_id
  FROM events
  WHERE event_type IN ('purchase', {", ".join(f"'{t}'" for t in _TOUCH_TYPES)})
), touches AS (
  SELECT user_id, conv_id, event_type AS channel, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id, conv_id
                            ORDER BY ts, event_id) AS rk_first,
         ROW_NUMBER() OVER (PARTITION BY user_id, conv_id
                            ORDER BY ts DESC, event_id DESC) AS rk_last,
         CAST(COUNT(*) OVER (PARTITION BY user_id, conv_id) AS BIGINT)
           AS n_touches
  FROM tagged
  WHERE event_type <> 'purchase' AND conv_id > 0
), credited AS (
  SELECT channel,
         CAST(SUM(CASE WHEN rk_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS first_touch,
         CAST(SUM(CASE WHEN rk_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS last_touch,
         CAST(SUM({_LINEAR_SCALE} // n_touches) AS BIGINT)
           AS linear_millionths,
         CAST(COUNT(*) AS BIGINT) AS touches
  FROM touches GROUP BY channel
), direct AS (
  SELECT '(direct)' AS channel,
         CAST(COUNT(*) AS BIGINT) AS first_touch,
         CAST(COUNT(*) AS BIGINT) AS last_touch,
         CAST(COUNT(*) * {_LINEAR_SCALE} AS BIGINT) AS linear_millionths,
         CAST(0 AS BIGINT) AS touches
  FROM tagged t
  WHERE t.event_type = 'purchase' AND NOT EXISTS (
    SELECT 1 FROM touches x
    WHERE x.user_id = t.user_id AND x.conv_id = t.conv_id
  )
)
SELECT * FROM credited UNION ALL SELECT * FROM direct
"""


@query("q_attribution", oracle=_ATTRIB_SQL)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution over the event stream: every
    purchase is credited to the view/click touches since the user's
    previous purchase, under the three standard models at once —
    first-touch, last-touch, and linear (equal split).  Purchases
    with no preceding touch window credit a synthetic '(direct)'
    channel; touches after a user's final purchase are unattributed
    by definition.

    Devices: the touch->conversion assignment is ONE reverse running
    count per user (a purchase and the touches before it share a
    conv_id — no per-conversion join); linear credit is FIXED-POINT
    (floor(1e6 / n_touches) millionths per touch), keeping the whole
    query in exact integer arithmetic — no float fractions to sum in
    engine-specific order.  The floor makes a conversion's credits sum
    to slightly under 1e6; dashboards renormalize, determinism wins.

    Scale: the stream is filtered to 3 event types at the scan, then
    every stage is a per-user window or a (user, conv_id)/channel
    aggregate — all on the same user-hash partitioning, no
    corpus-sized join anywhere.  Output is channel-sized."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", *_TOUCH_TYPES)
    )
    rev = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tagged = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .over(rev)
        .alias("conv_id"),
    )
    conv = Window.partitionBy("user_id", "conv_id")
    touches = (
        tagged.filter(
            (F.col("event_type") != "purchase") & (F.col("conv_id") > 0)
        )
        .select(
            "user_id",
            "conv_id",
            F.col("event_type").alias("channel"),
            F.row_number()
            .over(conv.orderBy("ts", "event_id"))
            .alias("rk_first"),
            F.row_number()
            .over(conv.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
            .alias("rk_last"),
            F.count(F.lit(1)).over(conv).alias("n_touches"),
        )
    )
    credited = touches.groupBy("channel").agg(
        F.sum((F.col("rk_first") == 1).cast("long")).alias("first_touch"),
        F.sum((F.col("rk_last") == 1).cast("long")).alias("last_touch"),
        F.sum(
            F.floor(F.lit(_LINEAR_SCALE) / F.col("n_touches")).cast("long")
        ).alias("linear_millionths"),
        F.count(F.lit(1)).alias("touches"),
    )
    purchases = tagged.filter(F.col("event_type") == "purchase").select(
        "user_id", "conv_id"
    )
    direct_n = (
        purchases.join(
            touches.select("user_id", "conv_id").distinct(),
            ["user_id", "conv_id"],
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    direct = direct_n.select(
        F.lit("(direct)").alias("channel"),
        F.col("n").alias("first_touch"),
        F.col("n").alias("last_touch"),
        (F.col("n") * _LINEAR_SCALE).cast("long").alias("linear_millionths"),
        F.lit(0).cast("long").alias("touches"),
    )
    return credited.unionByName(direct)


# ------------------------------------------------- conversion latency

_LATENCY_SQL = f"""
WITH tagged AS (
  SELECT user_id, event_type, ts, event_id,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
              AS BIGINT) AS conv_id
  FROM events
  WHERE event_type IN ('purchase', {", ".join(f"'{t}'" for t in _TOUCH_TYPES)})
), conv AS (
  SELECT user_id, conv_id, epoch_us(ts) AS purchase_us
  FROM tagged WHERE event_type = 'purchase'
), first_touch AS (
  SELECT user_id, conv_id, channel, touch_us FROM (
    SELECT user_id, conv_id, event_type AS channel, epoch_us(ts) AS touch_us,
           ROW_NUMBER() OVER (PARTITION BY user_id, conv_id
                              ORDER BY ts, event_id) AS rk
    FROM tagged WHERE event_type <> 'purchase' AND conv_id > 0
  ) WHERE rk = 1
), lat AS (
  SELECT f.channel, c.purchase_us - f.touch_us AS latency_us
  FROM first_touch f
  JOIN conv c ON c.user_id = f.user_id AND c.conv_id = f.conv_id
), r AS (
  SELECT channel, latency_us,
         ROW_NUMBER() OVER (PARTITION BY channel ORDER BY latency_us) AS r,
         CAST(COUNT(*) OVER (PARTITION BY channel) AS BIGINT) AS n
  FROM lat
)
SELECT channel, n AS n_conversions,
       CAST(MIN(latency_us) AS BIGINT) AS min_latency_us,
       (MAX(CASE WHEN r = (n + 1) // 2 THEN latency_us END)
        + MAX(CASE WHEN r = (n + 2) // 2 THEN latency_us END)) / 2
         AS median_latency_us,
       CAST(MAX(CASE WHEN r = (9 * n + 9) // 10 THEN latency_us END)
            AS BIGINT) AS p90_latency_us,
       CAST(MAX(latency_us) AS BIGINT) AS max_latency_us
FROM r GROUP BY channel, n
"""


@query("q_conversion_latency", oracle=_LATENCY_SQL)
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per first-touch channel: for every
    purchase with a touch window (q_attribution's reverse-running-count
    assignment), latency = purchase time − FIRST touch time; emits
    n / min / median / p90 / max latency per channel — the funnel-
    velocity readout next to q_attribution's credit totals.

    Latencies are exact BIGINT microsecond differences; median and p90
    are POSITIONAL (the q_mad_outliers order-statistic device — the
    only float op is the median's (lo+hi)/2).  p90 rank is
    (9n+9)//10, the q_rolling_quantile convention.

    Scale: everything shares the per-user partitioning until the
    conversion-grain frames (conversions are aggregate-scale relative
    to events); the per-channel sort windows run on conversion rows
    only."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", *_TOUCH_TYPES)
    )
    rev = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tagged = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .over(rev)
        .alias("conv_id"),
    )
    conv = tagged.filter(F.col("event_type") == "purchase").select(
        "user_id", "conv_id", F.unix_micros("ts").alias("purchase_us")
    )
    ft_rk = F.row_number().over(
        Window.partitionBy("user_id", "conv_id").orderBy("ts", "event_id")
    )
    first_touch = (
        tagged.filter(
            (F.col("event_type") != "purchase") & (F.col("conv_id") > 0)
        )
        .select(
            "user_id",
            "conv_id",
            F.col("event_type").alias("channel"),
            F.unix_micros("ts").alias("touch_us"),
            ft_rk.alias("rk"),
        )
        .filter(F.col("rk") == 1)
    )
    lat = first_touch.join(conv, ["user_id", "conv_id"]).select(
        "channel", (F.col("purchase_us") - F.col("touch_us")).alias("latency_us")
    )
    by_c = Window.partitionBy("channel")
    r = lat.select(
        "channel",
        "latency_us",
        F.row_number().over(by_c.orderBy("latency_us")).alias("r"),
        F.count(F.lit(1)).over(by_c).alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor((F.col("n") + 2) / 2)
    p90r = F.floor((9 * F.col("n") + 9) / 10)
    return r.groupBy("channel", F.col("n").alias("n_conversions")).agg(
        F.min("latency_us").alias("min_latency_us"),
        (
            (
                F.max(F.when(F.col("r") == lo, F.col("latency_us")))
                + F.max(F.when(F.col("r") == hi, F.col("latency_us")))
            )
            / 2
        ).alias("median_latency_us"),
        F.max(F.when(F.col("r") == p90r, F.col("latency_us"))).alias(
            "p90_latency_us"
        ),
        F.max("latency_us").alias("max_latency_us"),
    )
