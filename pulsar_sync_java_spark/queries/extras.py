"""Round-2 coverage widening: join/window breadth + training-data
pipeline operators (sampling, PII scrubbing, inverted index, TF-IDF,
duplicate clustering).

Every query here is fully oracle-checked (no rows-only entries): the
determinism rules from queries/__init__.py apply — identical aliases,
exact decimal accumulation for double sums, integer arithmetic for
anything hash-like (a portable multiplicative hash instead of
engine-specific hash functions), and total-order tie-breaks on every
window/top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_sync_java_spark.functions.numeric import dsum, sql_dsum
from pulsar_sync_java_spark.operators.dedup import jaccard_pairs
from pulsar_sync_java_spark.operators.graph import connected_components, pagerank
from pulsar_sync_java_spark.operators.similarity import knn_join
from pulsar_sync_java_spark.operators.skew import salted_join
from pulsar_sync_java_spark.operators.util import cached
from pulsar_sync_java_spark.queries import query
from pulsar_sync_java_spark.sources.tables import load_table

_OUTER_SQL = """
WITH debt AS (
  SELECT c_nationkey AS nationkey, COUNT(*) AS n_debt_cust
  FROM customer WHERE c_acctbal < 0 GROUP BY c_nationkey
), rich AS (
  SELECT s_nationkey AS nationkey, COUNT(*) AS n_rich_supp
  FROM supplier WHERE s_acctbal >= 5000 GROUP BY s_nationkey
)
SELECT COALESCE(debt.nationkey, rich.nationkey) AS nationkey,
       n_debt_cust, n_rich_supp
FROM debt FULL OUTER JOIN rich ON debt.nationkey = rich.nationkey
"""


@query("q_join_outer", oracle=_OUTER_SQL)
def q_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join coverage (the join family's last member next to
    anti/semi/broadcast/sort-merge/range/as-of): nations with customers
    in debt vs nations with well-funded suppliers — both sides filtered
    so each genuinely contributes unmatched keys, nulls preserved in the
    non-matching side's count column."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    debt = (
        c.filter(F.col("c_acctbal") < 0)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_debt_cust"))
    )
    rich = (
        s.filter(F.col("s_acctbal") >= 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_rich_supp"))
    )
    return (
        debt.withColumnRenamed("nationkey", "nk_d")
        .join(rich.withColumnRenamed("nationkey", "nk_r"),
              F.col("nk_d") == F.col("nk_r"), "full_outer")
        .select(
            F.coalesce("nk_d", "nk_r").alias("nationkey"),
            "n_debt_cust",
            "n_rich_supp",
        )
    )


_SALTED_SQL = f"""
SELECT o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("q_join_salted", oracle=_SALTED_SQL)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join as a first-class declared query:
    lineitem joined to orders through operators/skew.py:salted_join in
    targeted mode (keys with >= 6 lines take the salted path — hash
    salt left, replicate the matching dim rows — everything else the
    plain join), aggregated to priority-level revenue.  The oracle is
    the PLAIN join — salting is result-identical by construction, and
    this query pins that under the driver's hash gate, not just the
    property test."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    j = salted_join(li, o, "okey", n_salts=4, hot_threshold=6)
    return j.groupBy("o_orderpriority").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_NTILE_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WHERE year(o_orderdate) = 1995
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


@query("q_ntile_bucket", oracle=_NTILE_SQL)
def q_ntile_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist)
    over a totally ordered frame (price desc, orderkey asc tie-break —
    without it both engines would bucket ties arbitrarily).  percent_
    rank and cume_dist are single exact integer divisions in double, so
    they hash-match bit-for-bit."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == 1995
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# Portable multiplicative hash (Knuth's 2654435761 on the key, bucketed
# mod 100): plain 64-bit integer arithmetic, so Spark and DuckDB agree
# exactly — unlike xxhash64/hash(), which are engine-specific.  At 100 TB
# the same expression is a deterministic, re-runnable sample (no RNG
# state, no sampling drift between runs) and pushes down to the scan.
# The key is pre-reduced mod 2^31 so the product stays < 5.7e18 for ANY
# int64 id: without it, DuckDB raises on BIGINT overflow past
# doc_id ~ 3.5e9 while non-ANSI Spark wraps silently and the engines
# diverge (ADVICE r5).  Identical hash values for all ids < 2^31; ids
# 2^31 apart collide, which a sampling hash tolerates by design.
_BUCKET = "((doc_id % 2147483648) * 2654435761) % 4294967296 % 100"

_STRATIFIED_SQL = f"""
SELECT doc_id, lang, CAST({_BUCKET} AS INT) AS bucket
FROM documents
WHERE {_BUCKET} < (CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 50 ELSE 25 END)
"""


@query("q_sample_stratified", oracle=_STRATIFIED_SQL)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language rates (10% en,
    50% zh, 25% otherwise) via a portable multiplicative hash of the
    key — the reproducible down-sampling step of a training-data
    pipeline (same rows on every run/engine, unlike TABLESAMPLE)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = ((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296) % F.lit(100)
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "zh", 50)
        .otherwise(25)
    )
    return d.filter(bucket < rate).select(
        "doc_id", "lang", bucket.cast("int").alias("bucket")
    )


# ASCII-class patterns: identical semantics in Java regex (Spark) and
# RE2 (DuckDB) — both support \b, {m,}, and character classes.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"

_PII_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS INT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS scrubbed_md5
FROM documents
"""


@query("q_pii_scrub", oracle=_PII_SQL)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: redact email/phone patterns, count matches, and
    fingerprint the scrubbed text (the md5 keeps the oracle comparison
    compact while still pinning every byte of the replacement output).
    All JVM-side regexp functions; the corpus having zero hits is
    itself the assertion — a false positive would change the hash."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _PHONE_RE,
        "[PHONE]",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.md5(F.encode(scrubbed, "UTF-8")).alias("scrubbed_md5"),
    )


# Lowercased purely-alphabetic whitespace tokens — the shared token set
# of the posting-list and TF-IDF queries.
_DUCK_ALPHA_TOKS = (
    "list_filter(list_transform(list_filter(string_split_regex(text, '\\s+'),"
    " x -> x <> ''), x -> lower(x)), x -> regexp_matches(x, '^[a-z]+$'))"
)


def _spark_alpha_toks():
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    return F.filter(
        F.transform(ws, lambda x: F.lower(x)), lambda x: x.rlike("^[a-z]+$")
    )


_POSTING_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_ALPHA_TOKS}) AS token FROM documents
)
SELECT token,
       COUNT(DISTINCT doc_id) AS df,
       COUNT(*) AS tf,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM toks GROUP BY token
HAVING COUNT(DISTINCT doc_id) >= 5
"""


@query("q_posting_list", oracle=_POSTING_SQL)
def q_posting_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: explode tokens, one hash aggregate
    per term — document frequency, total term frequency, posting-list
    bounds; rare terms (df < 5) pruned.  The same explode->groupBy
    shape as the shingle index in operators/dedup.py, which is exactly
    how a 100 TB posting list is built (shuffle by term, never by
    pair)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_spark_alpha_toks()).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("df") >= 5)
    )


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_ALPHA_TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf,
         CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS weight
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tf, weight, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY weight DESC, token ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
"""


@query("q_tfidf_topterms", oracle=_TFIDF_SQL)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 characteristic terms by a TF-IDF-style weight
    tf * N / df — kept rational (integer multiply, one IEEE division)
    instead of log-scaled so both engines produce bit-identical
    doubles.  One tokenize+explode scan feeds ONE (doc, term) hash
    aggregate; document frequency derives from that aggregate's output
    (tf has exactly one row per (doc, term), so df = row-count per
    term — no second corpus scan, no countDistinct expand), joined
    back on the term dimension (AQE broadcasts it), one window for the
    per-doc top-k."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_spark_alpha_toks()).alias("token"))
    tf = cached(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")),
        "extras.q_tfidf_topterms",
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "weight"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("weight").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", "tf", "weight", "rank")
    )


# Duplicate clustering = connected components over the exact 3-gram
# Jaccard >= 0.5 pair set (the q_ngram_jaccard edges).  The oracle
# computes transitive closure with a recursive CTE; the engine runs
# min-label propagation, which converges to the same per-component
# minimum doc_id.
_CLUSTER_SQL = """
WITH RECURSIVE toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS t
  FROM documents
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(t)) FROM toks))) AS i
), sh AS (
  SELECT DISTINCT doc_id, t[d.i] || ' ' || t[d.i+1] || ' ' || t[d.i+2] AS shingle
  FROM toks, dims d WHERE d.i <= len(t) - 2
), sizes AS (
  SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id
), hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 1000
), pruned AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN hot USING (shingle)
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM pruned a JOIN pruned b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
), reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a AND e.b <> r.a
)
SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
FROM reach GROUP BY a
"""


@query("q_dedup_cluster", oracle=_CLUSTER_SQL)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the exact-Jaccard
    near-dup pairs, labeling every involved doc with its component's
    minimum doc_id — the step that turns pairwise dedup output into
    keep/drop decisions.

    Engine algorithm: spanning-forest contraction
    (`operators/graph.py:connected_components` — union-find forests per
    partition, geometric fan-in, count-gated finish: one bounded task
    for forests under the budget, distributed large-star/small-star
    rounds beyond it).  Unlike diameter-many label-propagation rounds,
    each contraction round's shuffle payload shrinks geometrically and
    the pair pipeline is evaluated exactly once — the 100 TB regime
    from Kiveris et al. (SoCC'14)."""
    d = load_table(spark, sf_dir, "documents")
    edges = jaccard_pairs(d, threshold=0.5, max_bucket=1000).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(edges, src="doc_a", dst="doc_b")
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


_TOMBSTONE_SQL = (
    "SELECT cluster_id,\n"
    "       CAST(COUNT(*) AS BIGINT) AS n_members,\n"
    "       CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)"
    " AS n_deleted,\n"
    "       MIN(CASE WHEN doc_id % 7 <> 0 THEN doc_id END) AS new_keeper,\n"
    "       (MIN(CASE WHEN doc_id % 7 <> 0 THEN doc_id END)"
    " IS DISTINCT FROM cluster_id) AS keeper_changed\n"
    "FROM (" + _CLUSTER_SQL + ") labels\n"
    "GROUP BY cluster_id\n"
    "HAVING SUM(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) >= 1\n"
)


@query("q_tombstone_rekeep", oracle=_TOMBSTONE_SQL)
def q_tombstone_rekeep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion propagation through derived dedup state (the GDPR /
    right-to-be-forgotten maintenance step): given a tombstone set
    (planted: doc_id % 7 == 0 — parameter of the operator, a predicate
    or keyed delete feed in production), emit every dup cluster the
    deletions touch with its TOTAL member count, its deleted-member
    count (survivors = n_members - n_deleted) and the RE-ELECTED
    keeper (min surviving member; null = the whole cluster is purged),
    plus whether the keeper actually changed — the rows a lakehouse
    MERGE needs to retarget q_dedup_keepers' decisions without
    recomputing them corpus-wide.

    Scale shape: the cluster labels are the same spanning-forest
    contraction as q_dedup_cluster (plan-matched shared shingle
    projection); the maintenance itself is ONE label-sized aggregate
    with the affected-only filter applied at the group level — deleted
    singletons (docs in no cluster) carry no derived state and need
    only the base-table delete, which operators/merge.py:merge_apply
    already covers.  Nothing here rescans the corpus."""
    d = load_table(spark, sf_dir, "documents")
    edges = jaccard_pairs(d, threshold=0.5, max_bucket=1000).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(edges, src="doc_a", dst="doc_b")
    mem = labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("id") % 7 == 0).alias("__del"),
    )
    per = (
        mem.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("__del").cast("long")).alias("n_deleted"),
            F.min(F.when(~F.col("__del"), F.col("doc_id"))).alias("new_keeper"),
        )
        .filter(F.col("n_deleted") >= 1)
    )
    return per.select(
        "cluster_id",
        "n_members",
        "n_deleted",
        "new_keeper",
        (~F.col("new_keeper").eqNullSafe(F.col("cluster_id"))).alias(
            "keeper_changed"
        ),
    )


_KNN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8
), dims AS (
  SELECT unnest(generate_series(1, (SELECT MAX(len(embedding)) FROM embeddings))) AS i
), pairs AS (
  SELECT q.query_id, e.vec_id,
         CAST(e.embedding[d.i] AS DOUBLE) AS x,
         CAST(q.qv[d.i] AS DOUBLE) AS y
  FROM embeddings e, q, dims d
  WHERE d.i <= len(e.embedding)
), scored AS (
  SELECT query_id, vec_id,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS nx,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS ny
  FROM pairs GROUP BY query_id, vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT query_id, vec_id AS neighbor_id,
         dot / (sqrt(nx) * sqrt(ny)) AS cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC, vec_id ASC
         ) AS INT) AS rank
  FROM scored WHERE vec_id <> query_id
) WHERE rank <= 5
"""


@query("q_knn_join", oracle=_KNN_SQL)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join (operators/similarity.py:knn_join): the top-5
    cosine neighbors for each of 8 query vectors in one pass over the
    corpus — broadcast queries, decimal-exact per-pair cosine, a
    partition-local pandas top-k BEFORE the ranking shuffle (so the
    window stage sees O(partitions * queries * k) rows, not
    |corpus| * |queries|), exact window rank on the survivors."""
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8)
    return knn_join(e, qs, k=5, exclude_self=True)


# ------------------------------------------------------------- pagerank

def _pagerank_sql(iterations: int = 5) -> str:
    """Unrolled fixed-iteration PageRank oracle: DuckDB disallows
    aggregation in a recursive CTE's recursive term, so the iterations
    are generated as chained CTEs — the SQL twin of the operator's
    python loop.  All rank arithmetic is double (CAST pins the DuckDB
    literals, which default to DECIMAL); per-edge contributions bridge
    through DECIMAL(38,12) for the order-independent sum and come back
    through VARCHAR (the correctly-rounded decimal->double path, see
    queries/stats.py)."""
    head = """
WITH e0 AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), edges AS (
  SELECT p * 2 AS src, s * 2 + 1 AS dst FROM e0
  UNION ALL
  SELECT s * 2 + 1 AS src, p * 2 AS dst FROM e0
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION
  SELECT DISTINCT dst AS node FROM edges
), nn AS (SELECT COUNT(*) AS n FROM nodes),
ed AS (
  SELECT e.src, e.dst, d.outdeg
  FROM edges e JOIN (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src) d
    ON d.src = e.src
),
pr0 AS (
  SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
)"""
    step = """
, c{k} AS (
  SELECT ed.dst AS node,
         SUM(CAST(p.rank / ed.outdeg AS DECIMAL(38,12))) AS mass
  FROM ed JOIN pr{j} p ON p.node = ed.src
  GROUP BY ed.dst
), pr{k} AS (
  SELECT n.node,
         (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT nn.n FROM nn)
           + CAST(0.85 AS DOUBLE)
             * COALESCE(CAST(CAST(c.mass AS VARCHAR) AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
  FROM nodes n LEFT JOIN c{k} c ON c.node = n.node
)"""
    body = head + "".join(step.format(k=k, j=k - 1) for k in range(1, iterations + 1))
    return body + f"""
SELECT node,
       CASE WHEN node % 2 = 1 THEN 'supplier' ELSE 'part' END AS entity,
       node // 2 AS key,
       rank
FROM pr{iterations}
"""


@query("q_pagerank", oracle=_pagerank_sql())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five PageRank iterations over the part<->supplier bipartite
    graph (distinct lineitem pairs, edges both directions) — the
    engine's iterative-algorithm query, fully hash-checked against an
    unrolled-CTE oracle thanks to the decimal-bridged mass sums
    (operators/graph.py:pagerank).  The pipeline analogue is authority
    weighting over a link/domain graph feeding quality scores.

    The operator's cached node/out-degree tables are reused across
    repeated runs over the same graph (one entry pair per sf_dir)."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    fwd = pairs.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(
        pairs.select(
            (F.col("l_suppkey") * 2 + 1).alias("src"),
            (F.col("l_partkey") * 2).alias("dst"),
        )
    )
    ranks = pagerank(edges, iterations=5, damping=0.85)
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 1, "supplier").otherwise("part").alias("entity"),
        F.floor(F.col("node") / 2).alias("key"),
        "rank",
    )


# ------------------------------------------------------ interval overlap

_OVERLAP_JOIN_SQL = """
WITH a AS (
  SELECT event_id AS err_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(floor(value) AS BIGINT) * 1000000 AS e
  FROM events WHERE event_type = 'error'
), b AS (
  SELECT event_id AS sig_id, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(floor(value) AS BIGINT) * 1000000 AS e
  FROM events WHERE event_type = 'signup'
)
SELECT a.err_id, b.sig_id,
       least(a.e, b.e) - greatest(a.s, b.s) AS overlap
FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
"""


@query("q_interval_overlap", oracle=_OVERLAP_JOIN_SQL)
def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which error windows overlapped a signup window?  Each event
    opens an interval of floor(value) seconds; the join has NO equi
    key, which Spark would otherwise plan as a nested loop — the
    operator (operators/interval.py) quantizes the timeline into
    10-minute buckets so candidates ride ONE equi-join shuffle and the
    exact predicate trims bucket neighbors.  Timestamps become epoch
    MICROSECOND longs on both engines (unix_micros / epoch_us), so
    the overlap arithmetic is exact integers — no timestamp-interval
    rounding to disagree on.  The oracle is the plain inequality
    join."""
    from pulsar_sync_java_spark.operators.interval import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")

    def intervals(etype: str, id_alias: str) -> DataFrame:
        s = F.unix_micros("ts")
        return ev.filter(F.col("event_type") == etype).select(
            F.col("event_id").alias(id_alias),
            s.alias("s"),
            (s + F.floor("value").cast("long") * 1000000).alias("e"),
        )

    return interval_overlap_join(
        intervals("error", "err_id"),
        intervals("signup", "sig_id"),
        "err_id",
        "sig_id",
        bucket_width=600_000_000,
    )


# ------------------------------------------------------ hierarchy walk

_TREE_SQL = """
WITH RECURSIVE p AS (
  SELECT doc_id AS node, (doc_id - 1) // 2 AS parent
  FROM documents WHERE doc_id > 0
), walk(node, anc, depth) AS (
  SELECT node, parent, 1 FROM p
  UNION ALL
  SELECT w.node, p2.parent, w.depth + 1
  FROM walk w JOIN p p2 ON p2.node = w.anc
)
SELECT w.node AS doc_id, w.anc AS root, CAST(w.depth AS BIGINT) AS depth
FROM walk w WHERE w.anc NOT IN (SELECT node FROM p)
UNION ALL
SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id = 0
"""


@query("q_tree_ancestors", oracle=_TREE_SQL)
def q_tree_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy traversal — the recursive-CTE capability class: every
    node of the binary-heap tree over doc_ids (parent = (id-1)//2)
    resolves its ROOT and DEPTH.  Spark has no WITH RECURSIVE; the
    operator (operators/graph.py:tree_roots) answers it with pointer
    doubling — ceil(log2(n)) self-joins instead of depth-many
    sequential rounds, the only shape that survives a deep hierarchy
    at scale.  The oracle is DuckDB's genuine recursive CTE, so the
    comparison pits the distributed log-round formulation against
    real row-at-a-time recursion."""
    from pulsar_sync_java_spark.operators.graph import tree_roots

    d = load_table(spark, sf_dir, "documents")
    parents = d.filter(F.col("doc_id") > 0).select(
        F.col("doc_id").alias("node"),
        F.floor((F.col("doc_id") - 1) / 2).alias("parent"),
    )
    # heap-shaped ids bound the depth analytically: one tiny max() job
    # selects the fast linear-unroll regime (see tree_roots docstring)
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    depth_bound = max(1, int(max_id + 1).bit_length())
    return tree_roots(parents, max_depth=depth_bound).select(
        F.col("node").alias("doc_id"), "root", "depth"
    )


# ------------------------------------------------------ fuzzy matching

_FUZZY_SQL = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


@query("q_fuzzy_join", oracle=_FUZZY_SQL)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: customer-name pairs within edit distance 1,
    via deletion-neighborhood blocking (operators/fuzzy.py) — variants
    equi-join instead of the all-pairs nested loop the levenshtein
    predicate would otherwise plan.  Exact verify makes false
    candidates impossible; at distance <= 1 the blocking provably
    misses nothing.  A first-ever hot variant bucket fails THIS query
    loudly (fuzzy_pairs raises over its max_bucket cap) rather than
    silently diverge from the quadratic oracle (the guard has never
    fired at tested SFs; customer names are near-unique)."""
    from pulsar_sync_java_spark.operators.fuzzy import fuzzy_pairs

    c = load_table(spark, sf_dir, "customer")
    return fuzzy_pairs(c, "c_custkey", "c_name").select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


# ---------------------------------------------------- weighted sample

_WS_K = 100
# portable multiplicative hash -> [0, 2^32) priority numerator; dividing
# by the integer weight size-biases selection (larger docs -> smaller
# priority -> more likely kept): the deterministic, re-runnable stand-in
# for weighted reservoir sampling (A-ES keeps the k smallest u^(1/w)
# priorities; this keeps the k smallest h(id)/w — same monotone
# size-bias, no RNG state, identical rows on every run and engine)
_WS_HASH = "((doc_id % 2147483648) * 2654435761) % 4294967296"

_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, n_chars,
       CAST({_WS_HASH} AS DOUBLE) / n_chars AS priority
FROM documents
WHERE n_chars > 0
ORDER BY priority ASC, doc_id ASC
LIMIT {_WS_K}
"""


@query("q_sample_weighted", oracle=_WEIGHTED_SAMPLE_SQL)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted (size-biased) sampling: keep the K=100
    documents with the smallest hash-priority h(doc_id)/n_chars — the
    reproducible weighted-reservoir step of a corpus pipeline (sample
    proportional to length/quality weight), next to q_sample_stratified's
    per-stratum rates.

    Priority is one exact integer hash -> ONE IEEE division by the
    integer weight (bit-identical both engines); global top-K compiles
    to TakeOrderedAndProject — per-partition heaps + a P*K driver
    merge, never a global sort.  At 100 TB this is the ONLY scalable
    shape for a global weighted sample: no shuffle at all, K rows per
    partition cross the wire."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    priority = (
        (((F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)) % F.lit(4294967296)).cast("double")
        / F.col("n_chars")
    )
    return (
        d.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(_WS_K)
    )


# ----------------------------------------------- referential integrity

_FK_SQL = """
WITH checks AS (
  SELECT 'orders.custkey->customer' AS fk,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
           AS n_orphans,
         MIN(CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END)
           AS sample_orphan_key
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  UNION ALL
  SELECT 'lineitem.orderkey->orders',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
         MIN(CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END)
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'lineitem.partkey->part',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT),
         MIN(CASE WHEN p.p_partkey IS NULL THEN l.l_partkey END)
  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
  UNION ALL
  SELECT 'events.user->customer',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
         MIN(CASE WHEN c.c_custkey IS NULL THEN e.user_id END)
  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
  UNION ALL
  SELECT 'orders.custkey->customer[degraded]',
         CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
         MIN(CASE WHEN c.c_custkey IS NULL THEN o.o_custkey END)
  FROM orders o LEFT JOIN (SELECT c_custkey FROM customer
                           WHERE c_custkey % 7 <> 0) c
    ON o.o_custkey = c.c_custkey
)
SELECT fk, n_rows, n_orphans,
       CAST(n_orphans AS DOUBLE) / n_rows AS orphan_rate,
       sample_orphan_key
FROM checks
"""


@query("q_fk_integrity", oracle=_FK_SQL)
def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts + rates for every
    foreign-key edge of the star schema (orders→customer,
    lineitem→orders/part, events→customer) with a sample orphan key
    per edge — the ingest-validation report a pipeline runs before
    trusting a snapshot (the engine's analogue of the reference
    verifying a topic's parent namespace exists before syncing it,
    PulsarTopicSyncManager.java).

    Each check is a LEFT join probing key EXISTENCE — at scale the
    dimension side ships keys only, and the conditional COUNT FILTER
    aggregates map-side; four independent joins, each broadcast or
    shuffle as AQE sizes them, then a 4-row union.  No COUNT(DISTINCT)
    anywhere."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    ev = load_table(spark, sf_dir, "events")

    def check(left, key, right, rkey, label):
        j = left.join(right, left[key] == right[rkey], "left")
        return j.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col(rkey).isNull()).alias("n_orphans"),
            (
                F.count_if(F.col(rkey).isNull()).cast("double")
                / F.count(F.lit(1))
            ).alias("orphan_rate"),
            F.min(F.when(F.col(rkey).isNull(), F.col(key))).alias(
                "sample_orphan_key"
            ),
        )

    out = (
        check(o, "o_custkey", c, "c_custkey", "orders.custkey->customer")
        .unionByName(
            check(
                li,
                "l_orderkey",
                o.select("o_orderkey"),
                "o_orderkey",
                "lineitem.orderkey->orders",
            )
        )
        .unionByName(
            check(li, "l_partkey", p, "p_partkey", "lineitem.partkey->part")
        )
        .unionByName(
            check(ev, "user_id", c, "c_custkey", "events.user->customer")
        )
        # planted degradation (drop every 7th customer) so the orphan
        # branch is exercised, not just asserted vacuously true
        .unionByName(
            check(
                o,
                "o_custkey",
                c.filter(F.col("c_custkey") % 7 != 0),
                "c_custkey",
                "orders.custkey->customer[degraded]",
            )
        )
    )
    return out.select(
        "fk", "n_rows", "n_orphans", "orphan_rate", "sample_orphan_key"
    )


# ---------------------------------------------------- triangle count


def _copurchase_edges(spark: SparkSession, sf_dir: str, mod: int) -> DataFrame:
    """THE cached symmetric co-purchase edge table of the 1/`mod`
    order slice: distinct (a, b) part pairs, BOTH orientations, a != b,
    sharing an order — the quadratic within-basket self-join every
    graph query starts from, as ONE plan-matched cache entry per slice.
    q_triangle_count, q_bfs_khop and q_degree_assortativity all probe
    the mod=5 slice, so the self-join + distinct builds once per
    session instead of once per query.  The entry is the FLAT
    symmetric table and consumers derive the a<b pair set as a filter
    over it (the flat rule on `operators/util.py:CACHES`)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % mod == 0)
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    return cached(
        x.join(y, "l_orderkey")
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .distinct(),
        "extras.copurchase_edges",
    )


_TRIANGLE_SQL = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0
), e AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM li l1 JOIN li l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM e e1
  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT (SELECT CAST(COUNT(DISTINCT node) AS BIGINT)
          FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT n FROM tri) AS n_triangles
"""


@query("q_triangle_count", oracle=_TRIANGLE_SQL)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph (parts
    sharing an order on a deterministic 1/5 order slice — the slice
    keeps the bench-scale wedge volume ~25x below the full graph while
    staying dense at every sf: ~325k triangles at sf0.1).

    Completes the graph-analytics family (PageRank iteration,
    connected-components contraction, recursive tree closure) with the
    clustering/cohesion primitive.  The engine path is
    `operators/graph.py:count_triangles`: DEGREE-ORIENTED node-
    iterator — every edge points from its (degree, id)-smaller
    endpoint, bounding each pivot's fan-out by O(sqrt(|E|)) regardless
    of hub degree, so the wedge self-join never explodes on the
    celebrity node that kills naive enumeration at 100 TB; the oracle
    is the textbook a<b<c three-way join.

    The a<b pair set is a FILTER over the family-shared persisted
    symmetric edge table (`_copurchase_edges` — the swap half fails
    a < b, so the filter recovers exactly the distinct oriented
    pairs), so the operator's normalize+persist stage is skipped
    (pre_normalized) and its five consumers read the ONE cache entry
    q_bfs_khop and q_degree_assortativity also probe."""
    from pulsar_sync_java_spark.operators.graph import count_triangles

    pairs = (
        _copurchase_edges(spark, sf_dir, 5)
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return count_triangles(pairs, pre_normalized=True)


# --------------------------------------------------------- k-hop BFS

# Frontier-expansion traversal — the graph pattern the census/ranking/
# closure operators don't exercise: per-level join + anti-join against
# the visited set, depth-bounded so the whole walk is ONE lazy plan
# (the q_tree_ancestors bounded-unroll discipline).  The oracle is the
# depth-bounded recursive CTE with a MIN(dist) collapse — recursive
# UNION semantics dedup (node, dist) states, so it terminates.
_BFS_SQL = """
WITH RECURSIVE li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0
), sym AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM li l1 JOIN li l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey <> l2.l_partkey
), reach(node, dist) AS (
  SELECT (SELECT MIN(a) FROM sym), 0
  UNION
  SELECT e.b, r.dist + 1
  FROM reach r JOIN sym e ON e.a = r.node
  WHERE r.dist < 3
)
SELECT CAST(node AS BIGINT) AS part_id,
       CAST(MIN(dist) AS INT) AS dist
FROM reach GROUP BY node
"""


@query("q_bfs_khop", oracle=_BFS_SQL)
def q_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS from the minimum node of the part co-purchase graph
    (the q_triangle_count slice): every part reachable within 3 hops,
    labeled with its exact hop distance — the k-hop neighborhood /
    blast-radius query (impact analysis, fraud rings, related-item
    retrieval).

    Scale shape: per level, ONE frontier ⋈ edges equi-join plus one
    anti-join against the visited set — each level's shuffle carries
    the frontier and its neighborhood, never all paths (the recursive
    CTE the oracle runs enumerates (node, dist) states; the engine's
    BFS layering computes the same MIN-dist labels without state
    explosion).  Depth is a bound, not an iteration-to-fixpoint:
    unbounded reachability belongs to connected_components.  The
    symmetric edge table IS the family-shared cached projection
    (`_copurchase_edges`), so the quadratic self-join
    builds once per session, shared with q_triangle_count and
    q_degree_assortativity; all three expansion levels probe the one
    flat cache entry."""
    sym = _copurchase_edges(spark, sf_dir, 5)
    visited = sym.agg(F.min("a").alias("node")).withColumn("dist", F.lit(0))
    frontier = visited
    for k in range(1, 4):
        nxt = cached(
            frontier.join(sym, frontier.node == sym.a)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(k)),
            "extras.q_bfs_khop",
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(
        F.col("node").cast("long").alias("part_id"),
        F.col("dist").cast("int").alias("dist"),
    )


# ----------------------------------------------------- BM25 retrieval

# The fixed retrieval query (broadcast side).  'quantum' is absent from
# the corpus by construction: a zero-df term must contribute nothing
# rather than divide by zero or fabricate rows.
_BM25_TERMS = ("filter", "hash", "join", "merge", "spark", "vector", "quantum")
_BM25_TOPK = 20

_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_ALPHA_TOKS}) AS token FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), stats AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
         CAST((SELECT SUM(tf) FROM tf) AS DOUBLE)
           / (SELECT COUNT(*) FROM documents) AS avgdl
), tfq AS (
  SELECT * FROM tf WHERE token IN {_BM25_TERMS!r}
), df AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tfq GROUP BY token
), scored AS (
  SELECT tfq.doc_id,
         CAST( (((stats.n_docs - df.df) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
               * ((CAST(tfq.tf AS DOUBLE) * 2.2)
                  / (CAST(tfq.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                                             / stats.avgdl))))
               AS DECIMAL(38,6)) AS sc
  FROM tfq JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(sc) AS DOUBLE) AS score
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_matched, score FROM agg
ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
"""


@query("q_bm25_topk", oracle=_BM25_SQL)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (r8 verdict #2) — the scorer the
    posting-list + tf-idf family stops short of, completing the RAG
    indexing pipeline that q_chunk_overlap prepares: score every
    document against a fixed query-term set with Okapi BM25
    (k1=1.2, b=0.75) and return the global top-20.

    Determinism (the q_tfidf_topterms discipline, extended): the
    classic log-IDF is replaced by its rational core
    (N - df + 0.5)/(df + 0.5) — same ranking direction, zero
    transcendental functions — and every double is produced by the
    SAME explicitly-parenthesized expression tree in both engines from
    exact-integer inputs (tf, df, dl, N), so each per-term score is
    bit-identical; the per-doc sum over matched terms goes through
    DECIMAL(38,6) accumulation (order-independent), and the top-20 cut
    orders by (score DESC, doc_id) — a total order.

    Plan contract: ONE tokenize+explode scan feeds the cached (doc,
    term) tf aggregate; the query-term filter is a literal
    IN-list evaluated ON the aggregate (the corpus is never rescanned
    per term — the r8 verdict's contract); df and the (N, avgdl)
    scalar are group-sized and broadcast back; the final cut is
    TakeOrderedAndProject, never a global sort.  At 100 TB the tf
    aggregate is the inverted index you would persist as a table and
    the per-query cost is |terms| posting scans + a doc-sized
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_spark_alpha_toks()).alias("token"))
    tf = cached(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")),
        "extras.q_bm25_topk",
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    stats = (
        tf.agg(F.sum("tf").alias("_tok_total"))
        .crossJoin(F.broadcast(n))
        .select(
            "n_docs",
            (F.col("_tok_total").cast("double") / F.col("n_docs")).alias(
                "avgdl"
            ),
        )
    )
    tfq = tf.filter(F.col("token").isin(*_BM25_TERMS))
    df_ = tfq.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = ((F.col("n_docs") - F.col("df")) + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    den = F.col("tf").cast("double") + F.lit(1.2) * (
        F.lit(0.25)
        + F.lit(0.75) * (F.col("dl").cast("double") / F.col("avgdl"))
    )
    scored = (
        tfq.join(F.broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * ((F.col("tf").cast("double") * F.lit(2.2)) / den))
            .cast("decimal(38,6)")
            .alias("sc"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("sc").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


# ----------------------------------------------------- skyline (Pareto)

_SKYLINE_SQL = """
SELECT a.p_partkey AS part_id, a.p_retailprice AS price,
       CAST(a.p_size AS INT) AS size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
"""

_SKY_IDENT = -(1 << 31)  # true identity for MAX over int sizes


@query("q_skyline", oracle=_SKYLINE_SQL)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (min price, max size) over `part`
    — the multi-objective shortlist query (cheapest-for-its-size
    catalog picks; same shape as best-quality-per-cost corpus
    shortlists).  A part survives iff nothing is at-least-as-good on
    both axes and strictly better on one; incomparable duplicates
    (equal price AND size) all survive, per the standard definition.

    The ORACLE is the textbook NOT EXISTS — a quadratic all-pairs
    dominance check only affordable at oracle scale.  The ENGINE is
    the linear formulation: dominance in 2-D reduces to two numbers
    per distinct price — M_lt(p) = max size at any strictly cheaper
    price, and m_eq(p) = max size at exactly p — and a point (p, s)
    survives iff M_lt(p) < s AND m_eq(p) <= s.  M_lt comes from the
    engine's two-level distributed prefix MAX (the q_disorder_profile
    device): integer price buckets give per-bucket maxima, one tiny
    exclusive-prefix window over the bucket table, and within-bucket
    exclusive running maxima over DISTINCT prices (price-distinct
    rows make the ROWS frame exactly the strictly-cheaper set — no
    RANGE-frame float arithmetic), with the empty prefix coalesced to
    a true MAX identity, never 0.  One aggregate + two bounded
    windows + one broadcast join back; the corpus is never
    self-joined.  Comparisons only — no float arithmetic — so the
    hash gate is exact."""
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("part_id"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )
    per_price = p.groupBy("price").agg(F.max("size").alias("m_eq"))
    per_price = per_price.withColumn(
        "bucket", F.floor("price").cast("long")
    )
    btot = per_price.groupBy("bucket").agg(F.max("m_eq").alias("mb"))
    w_excl = (
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    )
    base = btot.select(
        "bucket",
        F.coalesce(F.max("mb").over(w_excl), F.lit(_SKY_IDENT)).alias("base"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = (
        per_price.join(F.broadcast(base), "bucket")
        .select(
            "price",
            "m_eq",
            F.greatest(
                F.col("base"),
                F.coalesce(F.max("m_eq").over(w_in), F.lit(_SKY_IDENT)),
            ).alias("m_lt"),
        )
    )
    return (
        p.join(F.broadcast(bounds), "price")
        .filter((F.col("m_lt") < F.col("size")) & (F.col("m_eq") <= F.col("size")))
        .select("part_id", "price", "size")
    )


# ------------------------------------------------- label propagation

_LPA_ITERS = 3


def _lpa_sql(iters: int = _LPA_ITERS) -> str:
    """Unrolled synchronous label propagation oracle (the q_pagerank
    chained-CTE discipline: DuckDB disallows aggregates in recursive
    terms, so iterations are generated)."""
    head = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 7 = 0
), e0 AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM li l1 JOIN li l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
), edges AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL
  SELECT b AS src, a AS dst FROM e0
), lab0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
)"""
    step = """
, c{k} AS (
  SELECT e.src AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
  FROM edges e JOIN lab{j} l ON l.node = e.dst
  GROUP BY 1, 2
), lab{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, label) AS rk
    FROM c{k}
  ) WHERE rk = 1
)"""
    body = head + "".join(step.format(k=k, j=k - 1) for k in range(1, iters + 1))
    return body + f"""
SELECT label AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(node) AS min_member, MAX(node) AS max_member
FROM lab{iters} GROUP BY label
"""


@query("q_label_prop", oracle=_lpa_sql())
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    part co-purchase graph (1/7 order slice — the q_triangle_count
    graph family): labels start as node ids; each of the 3 unrolled
    iterations every node adopts the most frequent label among its
    neighbors, ties to the SMALLEST label — the deterministic-LPA
    convention that makes sync LPA a pure function of the edge set
    (textbook async LPA is run-order dependent and un-oracle-able).

    Per iteration: one join of the node-sized label frame onto edges
    (partitioned by node), a partial+final (node, label) count, and
    an argmax window keyed by node (high-cardinality partitions — no
    single-reducer stage).  The cached SYMMETRIC UNION keeps one
    InMemoryScan per iteration where a union over a cached pair set
    costs two (~+0.4 s at sf0.1).  Output is community-sized."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 7 == 0
    )
    a, b = li.alias("a"), li.alias("b")
    e0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y")
        )
        .distinct()
    )
    edges = e0.select(
        F.col("x").alias("src"), F.col("y").alias("dst")
    ).unionByName(e0.select(F.col("y").alias("src"), F.col("x").alias("dst")))
    edges = cached(edges, "extras.q_label_prop")
    lab = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ITERS):
        nb = edges.join(
            lab.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        cnt = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        # argmax by (c desc, label asc) as ONE aggregate: max over
        # struct(c, -label) — labels are non-negative part keys, so
        # the largest negated label IS the smallest label.  Same
        # deterministic winner as the former row_number window, minus
        # the per-iteration sort (the aggregate's partial/final merge
        # replaces a full partition sort on every LPA round).
        lab = (
            cnt.groupBy("node")
            .agg(F.max(F.struct("c", (-F.col("label")).alias("nl"))).alias("b"))
            .select("node", (-F.col("b.nl")).alias("label"))
        )
    return lab.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_member"),
        F.max("node").alias("max_member"),
    )


# ------------------------------------------------ reciprocal rank fusion

_RRF_K = 60  # the standard RRF damping constant
_RRF_TOPN = 20

_RRF_SQL = f"""
WITH m AS (
  SELECT l_partkey,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,2)) * 100
                       AS BIGINT)) AS BIGINT) AS revenue_cents,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1
), r AS (
  SELECT l_partkey, revenue_cents, total_qty,
         CAST(ROW_NUMBER() OVER (ORDER BY revenue_cents DESC, l_partkey)
              AS BIGINT) AS rank_rev,
         CAST(ROW_NUMBER() OVER (ORDER BY total_qty DESC, l_partkey)
              AS BIGINT) AS rank_qty
  FROM m
), s AS (
  SELECT *,
         CAST(1 AS DOUBLE) / ({_RRF_K} + rank_rev)
           + CAST(1 AS DOUBLE) / ({_RRF_K} + rank_qty) AS rrf
  FROM r
)
SELECT l_partkey, revenue_cents, total_qty, rank_rev, rank_qty, rrf
FROM s ORDER BY rrf DESC, l_partkey LIMIT {_RRF_TOPN}
"""


@query("q_rrf_fusion", oracle=_RRF_SQL)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank fusion — the standard hybrid-retrieval combiner
    (lexical + vector rankings fused as Σ 1/(k + rank_i), k = 60) —
    exercised on two independent part rankings (revenue, quantity):
    top-20 by fused score.  The operator is ranking-source agnostic;
    swapping in q_bm25_topk and an ANN ranking changes only the two
    rank subtrees.

    Determinism: ranks are integers with (score DESC, key) total
    orders; the fused score is exactly TWO reciprocal terms added in
    a fixed expression — no n-ary float sum, so no ordering freedom.
    Revenue ranks on exact integer cents.

    Scale: one aggregate to the item frame, two global rank windows
    over it (items, not raw rows; a production fusion ranks each
    source's TOP-N only, making the windows top-k-sized), and a
    TakeOrdered final."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (
        F.col("l_extendedprice").cast("decimal(19,2)") * 100
    ).cast("long")
    m = li.groupBy("l_partkey").agg(
        F.sum(cents).alias("revenue_cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )
    w_rev = Window.orderBy(F.col("revenue_cents").desc(), "l_partkey")
    w_qty = Window.orderBy(F.col("total_qty").desc(), "l_partkey")
    r = m.select(
        "l_partkey",
        "revenue_cents",
        "total_qty",
        F.row_number().over(w_rev).cast("long").alias("rank_rev"),
        F.row_number().over(w_qty).cast("long").alias("rank_qty"),
    )
    rrf = F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_rev")) + F.lit(1.0) / (
        F.lit(_RRF_K) + F.col("rank_qty")
    )
    return (
        r.withColumn("rrf", rrf)
        .orderBy(F.col("rrf").desc(), "l_partkey")
        .limit(_RRF_TOPN)
    )


# ----------------------------------------------------------- HITS

_HITS_ITERS = 2
_HITS_TOPN = 10


def _hits_sql(iters: int = _HITS_ITERS) -> str:
    """Unrolled HITS oracle (chained CTEs, the q_pagerank discipline).

    Per-edge contributions cross rows as FIXED-POINT integers
    (floor(score * 1e12) -> BIGINT), NOT through a DECIMAL cast: a
    double -> DECIMAL(38,12) cast ROUNDS, and the two engines break
    the 12th-decimal rounding tie differently for arbitrary ratio
    doubles (measured at sf0.1: 63 of ~660 supplier sums off by
    exactly 1e-12).  floor has no ties, so the truncation — and hence
    the integer sum — is bit-deterministic everywhere."""
    head = """
WITH e0 AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), h0 AS (
  SELECT DISTINCT s, CAST(1 AS DOUBLE) AS hub FROM e0
)"""
    step = """
, a{k}r AS (
  SELECT e.p,
         CAST(SUM(CAST(FLOOR(h.hub * 1e12) AS BIGINT)) AS BIGINT) AS v
  FROM e0 e JOIN h{j} h ON h.s = e.s GROUP BY e.p
), a{k} AS (
  SELECT p, CAST(v AS DOUBLE) / (SELECT CAST(MAX(v) AS DOUBLE)
                                 FROM a{k}r) AS auth
  FROM a{k}r
), h{k}r AS (
  SELECT e.s,
         CAST(SUM(CAST(FLOOR(a.auth * 1e12) AS BIGINT)) AS BIGINT) AS v
  FROM e0 e JOIN a{k} a ON a.p = e.p GROUP BY e.s
), h{k} AS (
  SELECT s, CAST(v AS DOUBLE) / (SELECT CAST(MAX(v) AS DOUBLE)
                                 FROM h{k}r) AS hub
  FROM h{k}r
)"""
    body = head + "".join(step.format(k=k, j=k - 1) for k in range(1, iters + 1))
    return body + f"""
SELECT * FROM (
  SELECT 'part' AS entity, p AS key, auth AS score,
         CAST(ROW_NUMBER() OVER (ORDER BY auth DESC, p) AS BIGINT) AS rank
  FROM a{iters}
) WHERE rank <= {_HITS_TOPN}
UNION ALL
SELECT * FROM (
  SELECT 'supplier' AS entity, s AS key, hub AS score,
         CAST(ROW_NUMBER() OVER (ORDER BY hub DESC, s) AS BIGINT) AS rank
  FROM h{iters}
) WHERE rank <= {_HITS_TOPN}
"""


@query("q_hits", oracle=_hits_sql())
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities over the part<->supplier bipartite
    graph (q_pagerank's edge set): 2 unrolled iterations of
    auth(p) = Σ hub(s), hub(s) = Σ auth(p), each side max-normalized —
    the other classic link-analysis score, completing the graph family
    (pagerank / triangles / CC / BFS / LPA / HITS).  Emits the top-10
    parts by authority and suppliers by hub.

    Determinism: the per-edge sums cross rows as FIXED-POINT integers
    (floor(score*1e12) -> BIGINT; exact, order-independent) — NOT a
    DECIMAL cast, whose double->decimal rounding tie the two engines
    break differently for arbitrary ratio doubles (measured: 63
    off-by-1e-12 sums at sf0.1; floor has no ties).  MAX over exact
    ints and the normalizing division are single deterministic ops;
    top-k has a (score, key) total order.  Max-normalization on
    purpose — the textbook L2 norm needs a cross-row float
    sum-of-squares, max needs none.

    Scale: per iteration TWO edge-partitioned joins + partial+final
    sums (the score frames are node-sized and broadcast when small);
    the 1-row max joins are broadcasts; top-10 via rank windows over
    node-sized frames.  The edge table is persisted across all
    iterations."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    e0 = cached(e0, "extras.q_hits.edges")

    def fp12(col: str) -> F.Column:
        return F.floor(F.col(col) * F.lit(1e12)).cast("long")

    hub = e0.select("s").distinct().select(
        "s", F.lit(1.0).alias("hub")
    )
    auth = None
    for _ in range(_HITS_ITERS):
        ar = cached(
            e0.join(hub, "s").groupBy("p").agg(F.sum(fp12("hub")).alias("v")),
            "extras.q_hits.authority",
        )
        amax = ar.agg(F.max("v").alias("_m"))
        auth = ar.crossJoin(F.broadcast(amax)).select(
            "p",
            (F.col("v").cast("double") / F.col("_m").cast("double")).alias(
                "auth"
            ),
        )
        hr = cached(
            e0.join(auth, "p").groupBy("s").agg(F.sum(fp12("auth")).alias("v")),
            "extras.q_hits.hub",
        )
        hmax = hr.agg(F.max("v").alias("_m"))
        hub = hr.crossJoin(F.broadcast(hmax)).select(
            "s",
            (F.col("v").cast("double") / F.col("_m").cast("double")).alias(
                "hub"
            ),
        )
    top_a = (
        auth.select(
            F.lit("part").alias("entity"),
            F.col("p").alias("key"),
            F.col("auth").alias("score"),
            F.row_number()
            .over(Window.orderBy(F.col("auth").desc(), "p"))
            .cast("long")
            .alias("rank"),
        )
        .filter(F.col("rank") <= _HITS_TOPN)
    )
    top_h = (
        hub.select(
            F.lit("supplier").alias("entity"),
            F.col("s").alias("key"),
            F.col("hub").alias("score"),
            F.row_number()
            .over(Window.orderBy(F.col("hub").desc(), "s"))
            .cast("long")
            .alias("rank"),
        )
        .filter(F.col("rank") <= _HITS_TOPN)
    )
    return top_a.unionByName(top_h)


# ------------------------------------------- degree stats / assortativity

_DEGREE_SQL = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 5 = 0
), e0 AS (
  SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
  FROM li l1 JOIN li l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
), edges AS (
  SELECT a AS src, b AS dst FROM e0
  UNION ALL
  SELECT b AS src, a AS dst FROM e0
), deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM edges GROUP BY src
), pairs AS (
  SELECT da.deg AS x, db.deg AS y
  FROM edges e
  JOIN deg da ON da.node = e.src
  JOIN deg db ON db.node = e.dst
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs
), g AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
         (SELECT CAST(MIN(deg) AS BIGINT) FROM deg) AS min_degree,
         (SELECT CAST(MAX(deg) AS BIGINT) FROM deg) AS max_degree
)
SELECT g.n_nodes, g.n_edges, g.min_degree, g.max_degree,
       CAST(2 * g.n_edges AS DOUBLE) / g.n_nodes AS avg_degree,
       (CAST(m.n AS DOUBLE) * m.sxy - CAST(m.sx AS DOUBLE) * m.sy)
         / sqrt((CAST(m.n AS DOUBLE) * m.sxx
                 - CAST(m.sx AS DOUBLE) * m.sx)
                * (CAST(m.n AS DOUBLE) * m.syy
                   - CAST(m.sy AS DOUBLE) * m.sy)) AS assortativity
FROM m, g
"""


@query("q_degree_assortativity", oracle=_DEGREE_SQL)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global degree statistics + degree assortativity of the part
    co-purchase graph (q_triangle_count's 1/5 slice): node/edge
    counts, min/max/avg degree, and the Pearson correlation of
    endpoint degrees over all DIRECTED edge instances (both
    orientations — the standard symmetrized definition).  Negative
    assortativity = hubs attach to leaves (typical for co-purchase);
    the one-number health check run before committing to a
    partitioning strategy for graph workloads.

    Degrees are exact integers, so the correlation is the
    q_corr_pearson exact-moment device end to end: BIGINT sums over
    the degree pairs, one IEEE expression at the end.

    Scale: the PAIR SET builds once (distinct within-basket self-join,
    co-partitioned on orderkey) and is cached — the symmetrized
    union, the edge count and the degree aggregate are all
    projections/aggregates of that cache, so the quadratic join never
    re-runs; the node-sized degree table is cached too; the moment row is a 1-row aggregate.  Nothing after the pair
    build exceeds edge cardinality."""
    # the directed edge view is a rename and the a<b pair set (edge
    # count) a filter over the flat cache, so every branch probes ONE
    # unnested InMemoryRelation
    sym = _copurchase_edges(spark, sf_dir, 5)
    e0 = sym.filter(F.col("a") < F.col("b"))
    edges = sym.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    deg = cached(
        edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg")),
        "extras.q_degree_assortativity",
    )
    da = deg.select(F.col("node").alias("src"), F.col("deg").alias("x"))
    db = deg.select(F.col("node").alias("dst"), F.col("deg").alias("y"))
    pairs = edges.join(da, "src").join(db, "dst").select("x", "y")
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    g = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("deg").alias("min_degree"),
        F.max("deg").alias("max_degree"),
    ).crossJoin(e0.agg(F.count(F.lit(1)).alias("n_edges")))
    nd, sxd, syd = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
    )
    assort = (nd * F.col("sxy") - sxd * F.col("sy")) / F.sqrt(
        (nd * F.col("sxx") - sxd * F.col("sx"))
        * (nd * F.col("syy") - syd * F.col("sy"))
    )
    return m.crossJoin(F.broadcast(g)).select(
        "n_nodes",
        "n_edges",
        "min_degree",
        "max_degree",
        ((F.col("n_edges") * 2).cast("double") / F.col("n_nodes")).alias(
            "avg_degree"
        ),
        assort.alias("assortativity"),
    )
