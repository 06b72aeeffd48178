"""Queries reproducing the reference's core data-plane semantics on the
driver's `events` table (SURVEY.md §2.2: q_cursor_translate, q_dedup).

Mapping of roles (FIXTURES.md): user_id ~ topic-partition / cursor owner,
ts ~ publish time, event_id ~ MessageId (total order tie-break).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.operators.asof import asof_join
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.sources.tables import load_table

# Millisecond-precision string form used on both engines so timestamp
# type/zone differences can never affect the oracle hash.
TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSS"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%g"


def fmt_ts(col) -> Column:
    return F.date_format(col, TS_FMT_SPARK)


_CURSOR_TRANSLATE_SQL = f"""
WITH mapping AS (
  SELECT user_id, ts, event_id
  FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (
             PARTITION BY user_id, date_trunc('minute', ts)
             ORDER BY ts, event_id) AS rn
    FROM events) t
  WHERE rn = 1
), cursors AS (
  SELECT user_id, ts, event_id
  FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t
  WHERE rn = 1
), resolved AS (
  SELECT c.user_id,
         c.event_id AS cursor_event_id,
         c.ts       AS cursor_ts,
         m.event_id AS translated_event_id,
         m.ts       AS translated_ts,
         row_number() OVER (
           PARTITION BY c.user_id
           ORDER BY m.ts DESC, m.event_id DESC) AS rn
  FROM cursors c
  JOIN mapping m ON m.user_id = c.user_id AND m.ts <= c.ts
)
SELECT user_id, cursor_event_id,
       strftime(cursor_ts, '{TS_FMT_DUCK}')     AS cursor_ts,
       translated_event_id,
       strftime(translated_ts, '{TS_FMT_DUCK}') AS translated_ts
FROM resolved WHERE rn = 1
"""


@query("q_cursor_translate", oracle=_CURSOR_TRANSLATE_SQL)
def q_cursor_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's cursor-translation pipeline, composed.

    1. Sparse sampling — keep the first message-id sample per
       (partition, 60 s interval): `PulsarPartitionSyncWorker.java:236-239`
       keeps <=1 (srcId -> dstId) pair per minute.
    2. Cursor snapshot — each owner's latest position:
       `PulsarPartitionSyncWorker.java:126-147` reads cursor stats.
    3. Floor resolution — greatest sample <= cursor position
       (`SparseMap.java:55-62` floorKey): backward as-of join.

    Conservatism property (tested): translated_ts <= cursor_ts, i.e. a
    translated cursor replays, never skips (SURVEY.md §2 fine print).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")

    w_map = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    mapping = (
        ev.withColumn("bucket", F.date_trunc("minute", F.col("ts")))
        .withColumn("rn", F.row_number().over(w_map))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("event_id").alias("map_event_id"))
    )

    w_cur = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cursors = (
        ev.withColumn("rn", F.row_number().over(w_cur))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("event_id").alias("cursor_event_id"))
    )

    resolved = asof_join(
        cursors,
        mapping.withColumn("map_ts", F.col("ts")),
        on="ts",
        by="user_id",
        right_tiebreak=["map_event_id"],
    )
    return resolved.select(
        "user_id",
        "cursor_event_id",
        fmt_ts(F.col("ts")).alias("cursor_ts"),
        F.col("map_event_id").alias("translated_event_id"),
        fmt_ts(F.col("map_ts")).alias("translated_ts"),
    )


_DEDUP_SQL = f"""
SELECT user_id, event_type, event_id,
       strftime(ts, '{TS_FMT_DUCK}') AS ts, value
FROM (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts, event_id) AS rn
  FROM events) t
WHERE rn = 1
"""


@query("q_dedup", oracle=_DEDUP_SQL)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact keyed dedup: first event per (user_id, event_type) by time.

    Reference analogue: effectively-once cursor creation — the worker
    memoizes (topic, cursor) first sightings and never re-creates
    (`PulsarPartitionSyncWorker.java:158-176`, memo set at :174); the
    ack-after-produce protocol gives the same at-least-once + dedup
    shape (`:231-244`).  Streaming twin: `dropDuplicatesWithinWatermark`
    (streaming/replicate.py).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            fmt_ts(F.col("ts")).alias("ts"),
            "value",
        )
    )


_PARTITION_EXPAND_SQL = """
SELECT p_partkey AS topic_key,
       p_name || '-partition-' || CAST(u.i AS VARCHAR) AS partition_name,
       CAST(u.i AS INT) AS partition_idx
FROM part, LATERAL unnest(generate_series(0, (p_partkey % 8) - 1)) AS u(i)
WHERE p_partkey % 8 > 0
"""


@query("q_partition_expand", oracle=_PARTITION_EXPAND_SQL)
def q_partition_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 — the partitioned-topic fan-out generator
    (`PulsarPartitionedTopicSyncWorker.java:68-78`, suffix constant
    `Const.java:24`): each topic with n partitions expands to rows
    `<topic>-partition-<i>` for i < n.  On the test data, `part` stands
    in for the topic catalog with `p_partkey % 8` as the partition
    count.  Spark plans explode(sequence(...)) as a Generate — the
    UDTF/lateral shape — with no shuffle; row amplification happens
    after the filter, in the scan stage."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 8 > 0)
    return p.select(
        F.col("p_partkey").alias("topic_key"),
        "p_name",
        F.explode(F.sequence(F.lit(0), (F.col("p_partkey") % 8 - 1).cast("int"))).alias(
            "partition_idx"
        ),
    ).select(
        "topic_key",
        F.concat_ws("", F.col("p_name"), F.lit("-partition-"), F.col("partition_idx")).alias(
            "partition_name"
        ),
        F.col("partition_idx").cast("int").alias("partition_idx"),
    )


# ------------------------------------------------------ snapshot diff

_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey % 11 <> 0
), new AS (
  SELECT o_orderkey AS k,
         o_totalprice + (CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END) AS v
  FROM orders WHERE o_orderkey % 13 <> 0
), d AS (
  SELECT COALESCE(old.k, new.k) AS k,
         CASE WHEN old.k IS NULL THEN 'insert'
              WHEN new.k IS NULL THEN 'delete'
              WHEN old.v <> new.v THEN 'update'
              ELSE 'unchanged' END AS op
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT op, COUNT(*) AS n, MIN(k) AS min_key, MAX(k) AS max_key
FROM d GROUP BY op
"""


@query("q_snapshot_diff", oracle=_SNAPSHOT_DIFF_SQL)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized snapshot diff — the CDC derivation: two keyed
    snapshots (deterministic old/new slices of orders, with planted
    value drift) full-outer joined and every key classified
    insert/delete/update/unchanged, summarized per class.

    This generalizes the reference's control plane: its catalog diff is
    the ADDITIVE-ONLY special case (anti-join producing only inserts —
    plans/catalog_diff.py, `PulsarTenantSyncManager.java:75-84` never
    deletes), while a replication engine validating convergence, or a
    lakehouse MERGE planner, needs the full 4-way classification.  One
    full-outer join on the key (sort-merge at scale; both sides shuffle
    once) + one tiny class aggregate; value comparison is exact on the
    2-decimal doubles."""
    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k_old"), F.col("o_totalprice").alias("v_old")
    )
    new = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k_new"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, 1.0).otherwise(0.0)
        ).alias("v_new"),
    )
    d = old.join(new, old.k_old == new.k_new, "full_outer").select(
        F.coalesce("k_old", "k_new").alias("k"),
        F.when(F.col("k_old").isNull(), "insert")
        .when(F.col("k_new").isNull(), "delete")
        .when(F.col("v_old") != F.col("v_new"), "update")
        .otherwise("unchanged")
        .alias("op"),
    )
    return d.groupBy("op").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


# ------------------------------------------------------ SCD2 history

_SCD2_SQL = f"""
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM ordered
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '{TS_FMT_DUCK}') AS valid_from,
       strftime(lead(ts) OVER w, '{TS_FMT_DUCK}') AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current,
       CAST(row_number() OVER w AS INT) AS version
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("q_scd2_history", oracle=_SCD2_SQL)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) materialization of each
    user's event_type over time: collapse the event stream to its
    change points and emit [valid_from, valid_to) validity intervals
    with an is_current flag and per-user version number.

    This is the MERGE-history view a CDC consumer of the reference's
    replication stream would maintain (the reference itself only
    converges latest-state — PulsarTenantSyncManager.java:75-84 is
    additive-only; SCD2 is what a lakehouse sink does with the same
    feed).  Classic gaps-and-islands: one lag to find change points,
    then lead/row_number over the (much smaller) change set.  Both
    windows share the (user_id)-hash partitioning, so the whole query
    is ONE shuffle of the events scan plus a window over the shrunken
    change rows; ordering is total via the (ts, event_id) tie-break,
    and timestamps are string-formatted on both engines so zone/type
    representation can't touch the hash."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .drop("prev_type")
    )
    return changes.select(
        "user_id",
        "event_type",
        fmt_ts(F.col("ts")).alias("valid_from"),
        fmt_ts(F.lead("ts").over(w)).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("int").alias("version"),
    )


# ------------------------------------------------------ MERGE apply

_MERGE_APPLY_SQL = """
SELECT o_orderkey AS k,
       o_totalprice + (CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END) AS v
FROM orders WHERE o_orderkey % 13 <> 0
"""


@query("q_merge_apply", oracle=_MERGE_APPLY_SQL)
def q_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE apply — the write side of q_snapshot_diff's change
    derivation: diff the same old/new order-snapshot slices into an
    insert/update/delete feed (`operators/merge.py:keyed_diff`), then
    apply that feed back onto the OLD snapshot with
    `merge_apply` and return the applied snapshot.

    The oracle is simply the NEW snapshot itself, so the driver's hash
    gate proves the roundtrip identity apply(diff(old, new), old) ==
    new row-for-row — the convergence property a replication sink
    MERGE must satisfy (the reference's additive-only special case is
    plans/catalog_diff.py; see operators/merge.py for the lineage).

    Scale shape: the diff full-outer-joins the two snapshots (one
    shuffle each at scale); the APPLY never shuffles the base — the
    touched-key set (CDC-batch-sized) is broadcast into a LEFT ANTI
    probe and the upsert images are unioned on, so a 100 TB base pays
    one scan, no exchange, no sort (plan-asserted in
    tests/test_merge_apply.py)."""
    from pulsar_sync_java_spark.operators.merge import keyed_diff, merge_apply

    o = load_table(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 11 != 0).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )
    new = o.filter(F.col("o_orderkey") % 13 != 0).select(
        F.col("o_orderkey").alias("k"),
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 5 == 0, 1.0).otherwise(0.0)
        ).alias("v"),
    )
    changes = keyed_diff(old, new, ["k"])
    # ops come straight from keyed_diff's CASE — constrained by
    # construction, so skip the screening job (it would re-run the
    # full-outer diff once just to look for an impossible op)
    return merge_apply(old, changes, ["k"], validate_ops=False)
