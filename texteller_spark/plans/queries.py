"""Driver-harness query catalog: every SURVEY.md §2 operator family gets a
``queries()`` entry (Spark, idiomatic DataFrame/SQL) and — when
SQL-expressible — an ``oracle_sql()`` entry (ANSI SQL for DuckDB on the same
parquet).  Column names and types are aligned pair-by-pair; float aggregates
are rounded at the final step only.

Conventions for cross-engine value equality:
* counts are explicitly BIGINT on the oracle side (DuckDB SUM(int) would be
  HUGEINT otherwise);
* no per-row rounding — only final aggregates, ROUND(x, d) both sides;
* deterministic tie-breaks on every top-k / mode / ordered aggregation.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import textops
from ..operators.dedup import (
    duplicate_clusters,
    exact_duplicate_groups,
    incremental_dedup_decisions,
    minhash_band_star_edges,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    remove_duplicate_lines,
    simhash_near_pairs,
)
from ..operators.graph import link_edges, pagerank
from ..operators.normalize import normalize_text
from ..operators.packing import pack_sequences
from ..operators.multimodal import (
    attach_media,
    decode_features,
    resize_media,
    sample_frames,
)
from ..operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_near_dup_pairs,
    lsh_topk,
    plane_matrix,
)
from ..plans.pipeline import extract_pages
from ..sources.pages import pages_from_documents

__all__ = ["QUERIES", "ORACLES", "flagship"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship: the extraction pipeline over pages derived from the documents
# table (rows-only check: not SQL-expressible)
# --------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    out = extract_pages(pages)
    return out.select(
        "url",
        F.size("spans").alias("n_spans"),
        F.length("extracted_text").alias("n_chars"),
        "extracted_text",
    )


# --------------------------------------------------------------------------
# SQL-oracle queries
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf):
    """TPC-H Q1 analog (A3/A4 aggregations + P5 pruning)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)       AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)  AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)       AS avg_qty,
       CAST(COUNT(*) AS BIGINT)        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_scalar(spark, sf):
    """TPC-H Q6 analog: selective scan + single-row aggregate (P1/P2)."""
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


_SQL_REVENUE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def q_region_rollup(spark, sf):
    """J2: dimension joins, both broadcast (small dims → no shuffle)."""
    c, n, r = _t(spark, sf, "customer"), _t(spark, sf, "nation"), _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


_SQL_REGION = """
SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_shipping_priority(spark, sf):
    """TPC-H Q3 analog: the fact-to-fact (orders ⋈ lineitem) key-distributed
    join — left to Catalyst/AQE (broadcast at test scale, shuffle join with
    co-partitioning/bucketing at 10^12 rows). Deterministic top-10."""
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1998-06-30"))
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-06-30"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
        )
        .orderBy(F.desc("_rev"), F.asc("l_orderkey"))  # order on the UNrounded sum
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.round("_rev", 2).alias("revenue"),
        )
    )


_SQL_SHIPPING = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1997-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, l_orderkey ASC
LIMIT 10
"""


def q_profit_by_nation_brand(spark, sf):
    """TPC-H Q9 analog: star-schema fact scan with three broadcast dims
    (part, supplier, nation) — one shuffle total, for the final groupBy."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_SQL_PROFIT = """
SELECT n_name, p_brand,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM lineitem JOIN part ON l_partkey = p_partkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name, p_brand
"""


def q_small_qty_revenue(spark, sf):
    """TPC-H Q17 analog: correlated scalar subquery — lineitems whose
    quantity is below 20% of their part's average. Spark-first rewrite: the
    explicit de-correlation (per-part aggregate joined back on l_partkey).
    The join strategy is AQE's call: broadcast at test scale, shuffle join
    at 10^12 rows where the per-part aggregate is itself huge (one row per
    part) — both sides then shuffle on the same key, and a bucketed layout
    co-partitions them for free."""
    li = _t(spark, sf, "lineitem")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("p_key"))
        .agg((F.avg("l_quantity") * 0.2).alias("qty_floor"))
    )
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.p_key)
        .filter(F.col("l_quantity") < F.col("qty_floor"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


_SQL_SMALL_QTY = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM lineitem l
WHERE l_quantity < (
  SELECT 0.2 * AVG(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey
)
"""


def q_zip_positional(spark, sf):
    """J1: positional zip join — posexplode keeps (pos, word) aligned with
    zero shuffle (arrays stay row-local)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.posexplode(F.slice(F.split("text", " "), 1, 3)).alias("pos", "word"),
    )


_SQL_ZIP = """
SELECT doc_id,
       CAST(unnest(generate_series(1, least(3, len(str_split(text,' '))))) - 1 AS INT) AS pos,
       unnest(list_slice(str_split(text,' '), 1, 3)) AS word
FROM documents
"""


def q_range_join(spark, sf):
    """J3: interval/theta join — error events vs same-user events within 10
    minutes."""
    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("a_id"), F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
    )
    b = e.select(F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts"))
    return (
        a.join(
            b,
            (F.col("a_user") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") < F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .groupBy(F.col("a_id").alias("event_id"))
        .agg(F.count(F.lit(1)).alias("n_following"))
    )


_SQL_RANGE = """
SELECT a.event_id AS event_id, CAST(COUNT(*) AS BIGINT) AS n_following
FROM events a JOIN events b
  ON a.user_id = b.user_id AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 10 MINUTE
WHERE a.event_type = 'error'
GROUP BY a.event_id
"""


def q_sessionize(spark, sf):
    """J4: gaps-and-islands sessionization (30-min inactivity gap)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev") > 1800),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))


_SQL_SESSIONIZE = """
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM (SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events)
) GROUP BY user_id
"""


def q_next_event(spark, sf):
    """J5: lead/lag transition pairs (the tag-reattach window shape)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


_SQL_NEXT = """
SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM (SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events)
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


def q_mode(spark, sf):
    """A1: deterministic mode (count + tie-break, the corner-vote analog)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(1)
    )


_SQL_MODE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
ORDER BY n DESC, event_type ASC LIMIT 1
"""


def q_ordered_concat(spark, sf):
    """A2: per-group ordered fold — the assembly aggregation shape
    (sort-inside-aggregate keeps it partition-invariant)."""
    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("c_custkey", "c_name"))),
                    lambda s: s["c_name"],
                ),
                "|",
            ).alias("members"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


_SQL_ORDERED_CONCAT = """
SELECT n_name,
       string_agg(c_name, '|' ORDER BY c_custkey) AS members,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_first_per_group(spark, sf):
    """W1: ranking window — first order per customer in reading order."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


_SQL_FIRST = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
WHERE rn = 1
"""


def q_interval_merge(spark, sf):
    """W2: overlap-merge islands — each event is a [ts, ts+5min) interval;
    merge overlaps per user (running-max sweep, the bbox_merge analog)."""
    e = _t(spark, sf, "events").select(
        "user_id", "ts", (F.unix_timestamp("ts") + 300).alias("end_s"),
        F.unix_timestamp("ts").alias("start_s"),
    )
    w = Window.partitionBy("user_id").orderBy("start_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    islands = (
        e.withColumn("prev_max_end", F.max("end_s").over(w))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("start_s") > F.col("prev_max_end")),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                Window.partitionBy("user_id").orderBy("start_s").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        )
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(F.min("start_s").alias("s"), F.max("end_s").alias("e"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("e") - F.col("s")).alias("busy_seconds"),
        )
    )


_SQL_INTERVAL_MERGE = """
WITH iv AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS start_s, CAST(floor(epoch(ts)) AS BIGINT) + 300 AS end_s
  FROM events
), flagged AS (
  SELECT user_id, start_s, end_s,
         CASE WHEN max(end_s) OVER (PARTITION BY user_id ORDER BY start_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR start_s > max(end_s) OVER (PARTITION BY user_id ORDER BY start_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), isl AS (
  SELECT user_id, start_s, end_s,
         SUM(new_island) OVER (PARTITION BY user_id ORDER BY start_s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(e - s) AS BIGINT) AS busy_seconds
FROM (SELECT user_id, island, MIN(start_s) AS s, MAX(end_s) AS e
      FROM isl GROUP BY user_id, island)
GROUP BY user_id
"""


def q_topk_per_group(spark, sf):
    """K1: top-3 per group with deterministic tie-break."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


_SQL_TOPK_GROUP = """
SELECT o_orderpriority, CAST(rk AS INT) AS rk, o_orderkey, o_totalprice
FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
WHERE rk <= 3
"""


def q_global_topk(spark, sf):
    """K2: global top-10 (TakeOrderedAndProject, no full sort)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(10)
    )


_SQL_GLOBAL_TOPK = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 10
"""


def q_set_ops(spark, sf):
    """Set operators: intersect / except over customer key sets."""
    spark.read.parquet(f"{sf}/orders.parquet").createOrReplaceTempView("orders")
    spark.read.parquet(f"{sf}/customer.parquet").createOrReplaceTempView("customer")
    return spark.sql(_SQL_SET_OPS)


_SQL_SET_OPS = """
SELECT
  CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM orders
        INTERSECT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) AS BIGINT) AS n_building_buyers,
  CAST((SELECT COUNT(*) FROM (SELECT c_custkey FROM customer
        EXCEPT SELECT o_custkey FROM orders)) AS BIGINT) AS n_never_ordered,
  CAST((SELECT COUNT(*) FROM (SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        UNION SELECT c_custkey FROM customer WHERE c_acctbal < 0)) AS BIGINT) AS n_union
"""


def q_distinct_pairs(spark, sf):
    """Set-op / dedup primitive: distinct combos (W5 boundary-dedup analog)."""
    e = _t(spark, sf, "events")
    return e.select("user_id", "event_type").distinct().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )


_SQL_DISTINCT = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
"""


def q_json_extract(spark, sf):
    """Scalar functions: JSON extraction + bucketed aggregate."""
    e = _t(spark, sf, "events")
    return (
        e.withColumn(
            "kb", (F.get_json_object("props", "$.k").cast("int") % 10)
        )
        .groupBy("kb")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_SQL_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS kb,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS sum_value
FROM events GROUP BY 1
"""


def q_array_stats(spark, sf):
    """Higher-order array functions (F.aggregate/size/array_max) — the
    JVM-side array surface used by the similarity ops, oracle-checked."""
    e = _t(spark, sf, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(l2, 4).alias("l2"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("max_elem"),
    )


_SQL_ARRAY_STATS = """
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2,
       ROUND(CAST(list_max(embedding) AS DOUBLE), 4) AS max_elem
FROM embeddings
"""


def q_date_ops(spark, sf):
    """Temporal scalar surface (date_trunc/hour over warc_ts-style
    timestamps — the partition-transform functions of the input table)."""
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.hour("ts").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))


_SQL_DATE_OPS = """
SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS month,
       CAST(extract(hour FROM ts) AS INT) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
"""


def q_dedup_exact(spark, sf):
    """Exact dedup groups on content digest."""
    d = _t(spark, sf, "documents")
    return exact_duplicate_groups(d, "text")


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS digest, CAST(COUNT(*) AS BIGINT) AS n_copies,
       MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def q_token_stats(spark, sf):
    """Token counting per language (whitespace tokenizer)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.sum(textops.token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_SQL_TOKEN_STATS = """
SELECT lang,
       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(str_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS total_tokens,
       ROUND(AVG(n_chars), 2) AS avg_chars,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang
"""


def q_bpe_tokens(spark, sf):
    """BPE-ish token estimate (regex token classes + long-word surcharge)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        textops.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


_SQL_BPE = """
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
     + len(regexp_extract_all(text, '[^\\sA-Za-z0-9]'))
     + coalesce(list_sum(list_transform(regexp_extract_all(text, '[A-Za-z0-9]{7,}'),
                          w -> CAST(floor(length(w) / 6) AS INT))), 0) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def q_lang_id(spark, sf):
    """Language-ID heuristic vote counts."""
    d = _t(spark, sf, "documents")
    return d.select(textops.lang_id(F.col("text")).alias("pred_lang")).groupBy(
        "pred_lang"
    ).agg(F.count(F.lit(1)).alias("n"))


_SQL_LANG_ID = """
WITH scored AS (
  SELECT
    length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS han,
    length(text) AS n_chars_t,
    len(list_filter(str_split_regex(lower(text), '\\s+'),
        w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) AS en,
    len(list_filter(str_split_regex(lower(text), '\\s+'),
        w -> w IN ('der','die','das','und','ist','mit','für'))) AS de,
    len(list_filter(str_split_regex(lower(text), '\\s+'),
        w -> w IN ('el','la','los','de','que','y','es'))) AS es
  FROM documents
)
SELECT CASE WHEN han * 20 > greatest(n_chars_t, 1) THEN 'zh'
            WHEN en >= de AND en >= es AND en > 0 THEN 'en'
            WHEN de >= es AND de > 0 THEN 'de'
            WHEN es > 0 THEN 'es' ELSE 'unk' END AS pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n
FROM scored GROUP BY 1
"""


def q_quality(spark, sf):
    """Quality-score aggregate per language."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.round(F.avg(textops.quality_score(F.col("text"))), 3).alias("avg_quality"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_SQL_QUALITY = """
WITH q AS (
  SELECT lang,
    0.4 * least(length(text) / 500.0, 1.0)
  + 0.4 * least(4.0 * len(list_filter(str_split_regex(lower(text), '\\s+'),
        w -> w IN ('the','a','of','and','to','in','is','for','on','with')))
        / greatest(len(str_split_regex(lower(text), '\\s+')), 1), 1.0)
  + 0.2 * (1.0 - least(10.0 * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        / greatest(length(text), 1), 1.0)) AS score
  FROM documents
)
SELECT lang, ROUND(AVG(score), 3) AS avg_quality, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM q GROUP BY lang
"""


def q_fingerprint(spark, sf):
    """Portable content fingerprint (md5 head digest)."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", textops.fingerprint(F.col("text")).alias("fp"))


_SQL_FINGERPRINT = """
SELECT doc_id, md5(CAST(length(text) AS VARCHAR) || ':' || text[1:64]) AS fp
FROM documents
"""


def q_cosine_topk(spark, sf):
    """Brute-force cosine top-10 vs the vec_id=0 embedding."""
    e = _t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    top = brute_force_topk(e, qv, k=10)
    return top.select("vec_id", F.round("cosine", 4).alias("cosine"))


_SQL_COSINE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, ROUND(CAST(list_cosine_similarity(embedding, qv) AS DOUBLE), 4) AS cosine
FROM embeddings, q
ORDER BY list_cosine_similarity(embedding, qv) DESC, vec_id ASC
LIMIT 10
"""


def q_train_filter(spark, sf):
    """P4: training-corpus admission filter (size/token bounds — the
    reference drops samples outside h>12/w>30/tokens<1014)."""
    d = _t(spark, sf, "documents")
    kept = d.filter(
        (textops.token_count(F.col("text")) >= 5)
        & (textops.token_count(F.col("text")) < 1014)
        & (F.col("n_chars") > 30)
    )
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_admitted"))


_SQL_TRAIN_FILTER = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_admitted
FROM documents
WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(str_split_regex(trim(text), '\\s+')) END) >= 5
  AND (CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(str_split_regex(trim(text), '\\s+')) END) < 1014
  AND n_chars > 30
GROUP BY lang
"""


def q_train_split(spark, sf):
    """Train-corpus prep (SURVEY §2 train-pipeline row): admission filter →
    seeded 90/10 split (the HF datasets train/val split analog, reference
    train.py:70-92 with seed 42). The split key is a content-independent
    salted hash of ``doc_id`` (md5, 32-bit prefix, mod 10) — unlike
    ``randomSplit`` it does not depend on partition layout, so the
    assignment is stable across resumes, AQE re-plans, and file re-splits,
    and is expressible as a DuckDB oracle."""
    d = _t(spark, sf, "documents")
    kept = d.filter(
        (textops.token_count(F.col("text")) >= 5) & (F.col("n_chars") > 30)
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
    )
    return (
        kept.select(
            F.when(bucket < 9, F.lit("train")).otherwise(F.lit("val")).alias("split")
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_SQL_TRAIN_SPLIT = """
SELECT CASE WHEN CAST('0x' || substr(md5(doc_id || ':42'), 1, 8) AS BIGINT) % 10 < 9
            THEN 'train' ELSE 'val' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
WHERE (CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(str_split_regex(trim(text), '\\s+')) END) >= 5
  AND n_chars > 30
GROUP BY 1
"""


def q_training_prep(spark, sf):
    """Capstone composed training-data pipeline: exact dedup (keep the
    min-doc_id survivor per digest) → quality/token admission filter →
    layout-independent salted-hash 90/10 split → per-split counts + mean
    quality. Each stage is an already-oracled operator; this entry pins
    their COMPOSITION (the shape a real corpus-prep job runs). Scale
    posture: every text-derived column (digest, quality, token count,
    split bucket) is computed AT THE SCAN, so the dedup shuffle carries
    only narrow columns — never the text payload — and the survivor is
    chosen with ``row_number() over (partition by digest order by
    doc_id)``: one hash shuffle on the 32-char digest, no join and no
    broadcast. (A broadcast of the dup-set — the round-2 form — is an
    O(corpus) driver/executor OOM at web-scale dup rates of 30-60%.)"""
    d = _t(spark, sf, "documents")
    q = textops.quality_score(F.col("text"))
    n_tok = textops.token_count(F.col("text"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
    )
    narrow = d.select(
        F.md5("text").alias("digest"),
        F.col("doc_id"),
        q.alias("_q"),
        n_tok.alias("_n_tok"),
        F.when(bucket < 9, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )
    survivor = Window.partitionBy("digest").orderBy("doc_id")
    admitted = (
        narrow.withColumn("_rn", F.row_number().over(survivor))
        .filter(F.col("_rn") == 1)
        .filter((F.col("_q") >= 0.5) & (F.col("_n_tok") >= 5) & (F.col("_n_tok") < 1014))
    )
    return admitted.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("_q"), 3).alias("avg_quality"),
    )


_SQL_TRAINING_PREP = """
WITH scored AS (
  SELECT doc_id, text, md5(text) AS digest,
         0.4 * least(length(text) / 500.0, 1.0)
       + 0.4 * least(4.0 * len(list_filter(str_split_regex(lower(text), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is','for','on','with')))
             / greatest(len(str_split_regex(lower(text), '\\s+')), 1), 1.0)
       + 0.2 * (1.0 - least(10.0 * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
             / greatest(length(text), 1), 1.0)) AS q,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM documents
), dups AS (
  SELECT md5(text) AS digest, MIN(doc_id) AS keep_id
  FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
), kept AS (
  SELECT s.* FROM scored s LEFT JOIN dups USING (digest)
  WHERE dups.keep_id IS NULL OR s.doc_id = dups.keep_id
)
SELECT CASE WHEN CAST('0x' || substr(md5(doc_id || ':42'), 1, 8) AS BIGINT) % 10 < 9
            THEN 'train' ELSE 'val' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(q), 3) AS avg_quality
FROM kept
WHERE q >= 0.5 AND n_tok >= 5 AND n_tok < 1014
GROUP BY 1
"""


def q_salted_agg(spark, sf):
    """Skew discipline: two-phase salted aggregation — partial agg on
    (key, salt), merge on key. Same result as a direct groupBy; the shape
    that survives a hot key at 10^12 rows."""
    e = _t(spark, sf, "events")
    partial = (
        e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(8)))
        .groupBy("event_type", "salt")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    return partial.groupBy("event_type").agg(
        F.round(F.sum("s"), 2).alias("sum_value"),
        F.sum("c").alias("n"),
    )


_SQL_SALTED_AGG = """
SELECT event_type, ROUND(SUM(value), 2) AS sum_value,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""


def q_semi_anti(spark, sf):
    """Semi/anti joins (SURVEY §2.3 harness surface): per market segment,
    customers with ≥1 finished order (left_semi) vs customers with no
    orders at all (left_anti). Both join only on the key column, so the
    probe side ships just ``o_custkey`` — at 10^12 rows the semi/anti
    build is a bloom-prunable key set, never the full orders payload."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    f_keys = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    all_keys = o.select(F.col("o_custkey").alias("c_custkey"))
    semi = (
        c.join(f_keys, "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with_f_order"))
    )
    anti = (
        c.join(all_keys, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_no_orders"))
    )
    return (
        semi.join(anti, "c_mktsegment", "full_outer")
        .na.fill(0, ["n_with_f_order", "n_no_orders"])
    )


_SQL_SEMI_ANTI = """
WITH s AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_with_f_order
  FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
  GROUP BY c_mktsegment
), a AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_no_orders
  FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
  GROUP BY c_mktsegment
)
SELECT COALESCE(s.c_mktsegment, a.c_mktsegment) AS c_mktsegment,
       CAST(COALESCE(s.n_with_f_order, 0) AS BIGINT) AS n_with_f_order,
       CAST(COALESCE(a.n_no_orders, 0) AS BIGINT) AS n_no_orders
FROM s FULL OUTER JOIN a ON s.c_mktsegment = a.c_mktsegment
"""


def q_asof_join(spark, sf):
    """As-of join, shuffle-minimal form: for each error event, the value of
    the most recent click by the same user at-or-before it. Instead of a
    range self-join (quadratic in events-per-user), tag both streams, union,
    and carry ``last(click_value, ignorenulls)`` over one ordered window —
    a single shuffle on ``user_id``, linear work per partition. Clicks sort
    before errors at equal ts (``is_probe`` tiebreak) to match ASOF
    ``a.ts >= b.ts`` semantics; ``event_id`` is the final tiebreak so
    duplicate-``ts`` clicks resolve deterministically (highest event_id
    wins). The oracle mirrors the identical union+window rewrite — DuckDB's
    native ASOF JOIN leaves the equal-ts click choice unspecified."""
    e = _t(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id",
        F.col("value").alias("click_value"),
        F.lit(0).alias("is_probe"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("double").alias("click_value"),
        F.lit(1).alias("is_probe"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(errors)
        .withColumn("last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select("event_id", F.round("last_click_value", 4).alias("last_click_value"))
    )


_SQL_ASOF = """
WITH tagged AS (
  SELECT user_id, ts, event_id, value AS click_value, 0 AS is_probe
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, event_id, NULL AS click_value, 1 AS is_probe
  FROM events WHERE event_type = 'error'
)
SELECT event_id, ROUND(last_click_value, 4) AS last_click_value
FROM (
  SELECT event_id, is_probe,
         last_value(click_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_probe, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
  FROM tagged
)
WHERE is_probe = 1
"""


def q_rollup(spark, sf):
    """A-family grouping sets: customer counts rolled up region → nation →
    grand total (Spark ``rollup`` ≡ GROUP BY ROLLUP). Dims broadcast; the
    rollup is one shuffle with partial aggregation at every grouping level."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_acctbal",
        )
    )


_SQL_ROLLUP = """
SELECT COALESCE(r_name, 'ALL') AS region,
       COALESCE(n_name, 'ALL') AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(c_acctbal), 2) AS total_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def q_embedding_near_dup(spark, sf):
    """Embedding-cosine near-dup pairs (dedup family, exact baseline);
    scale path = same predicate inside LSH buckets (see similarity.py)."""
    e = _t(spark, sf, "embeddings")
    return embedding_near_dup_pairs(e, threshold=0.45)


_SQL_EMB_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) >= 0.45
  AND NOT isnan(list_cosine_similarity(a.embedding, b.embedding))
"""


_EMB_DIM = 64  # driver embeddings table dimension (TESTDATA.md)


def _planes_values_sql(bits: int) -> str:
    """VALUES clause with the exact seeded hyperplane coefficients (full
    repr precision → bit-identical doubles in DuckDB). Sign margins on the
    driver data are ~3e-4 vs ~1e-15 cross-engine dot-product noise, so
    bucket membership is engine-independent (pinned by a pytest margin
    check)."""
    planes = plane_matrix(_EMB_DIM, bits)
    rows = ", ".join(
        "({}, [{}])".format(i, ",".join(repr(float(x)) for x in planes[i]))
        for i in range(bits)
    )
    return f"(VALUES {rows}) AS p(plane_id, coef)"


def q_embedding_lsh(spark, sf):
    """Embedding near-dup pairs via banded hyperplane LSH — the scale path
    (bucket equi-join; no all-pairs join in the plan). Same rounded-cosine
    admission predicate as the exact baseline."""
    e = _t(spark, sf, "embeddings")
    return lsh_near_dup_pairs(e, dim=_EMB_DIM, threshold=0.45, bits=32, bands=4)


def _emb_lsh_sql(bits: int = 32, band_width: int = 8, threshold: float = 0.45) -> str:
    return f"""
WITH dots AS (
  SELECT e.vec_id, p.plane_id,
         list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), p.coef) AS d
  FROM embeddings e, {_planes_values_sql(bits)}
), sig AS (
  SELECT vec_id, plane_id // {band_width} AS band_id,
         CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << (plane_id % {band_width})) ELSE 0 END) AS BIGINT) AS band_val
  FROM dots GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(list_cosine_similarity(
         list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
         list_transform(eb.embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE), 4) AS cosine
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.id_a
JOIN embeddings eb ON eb.vec_id = c.id_b
WHERE ROUND(CAST(list_cosine_similarity(
        list_transform(ea.embedding, x -> CAST(x AS DOUBLE)),
        list_transform(eb.embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE), 4) >= {threshold}
  AND NOT isnan(list_cosine_similarity(ea.embedding, eb.embedding))
"""


def _ann_lsh_sql(bits: int = 6, probes: int = 4, k: int = 10) -> str:
    planes = _planes_values_sql(bits)
    return f"""
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0
), qdots AS (
  SELECT p.plane_id, list_dot_product(p.coef, q.qv) AS d
  FROM {planes}, q
), base AS (
  SELECT CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << plane_id) ELSE 0 END) AS BIGINT) AS b
  FROM qdots
), probes AS (
  SELECT b FROM base
  UNION ALL
  SELECT xor(base.b, 1::BIGINT << f.plane_id)
  FROM base, (SELECT plane_id FROM qdots ORDER BY abs(d) ASC, plane_id ASC LIMIT {probes}) f
), bucketed AS (
  SELECT e.vec_id, e.embedding,
         CAST(SUM(CASE WHEN list_dot_product(
                list_transform(e.embedding, x -> CAST(x AS DOUBLE)), p.coef) > 0
              THEN (1::BIGINT << p.plane_id) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e, {planes}
  GROUP BY e.vec_id, e.embedding
)
SELECT vec_id,
       ROUND(CAST(list_cosine_similarity(
         list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qv) AS DOUBLE), 4) AS cosine
FROM bucketed, q
WHERE bucket IN (SELECT b FROM probes)
ORDER BY list_cosine_similarity(list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qv) DESC,
         vec_id ASC
LIMIT {k}
"""


#: deterministic PDF fixture texts — escapes, parens, multi-page, and both
#: framings (Flate on even ids, plain on odd) are all exercised
_PDF_DOCS: list[list[str]] = [
    ["alpha beta gamma", "second line"],
    ["one (parenthetical) remark", "back\\slash and tail"],
    ["page one only"],
    ["first page", "still first"],
]


def q_pdf_extract(spark, sf):
    """S-family: PDF text extraction (the north rule's 'PDF/layout parse'
    surface). Deterministic PDFs are synthesized in-memory (FlateDecode on
    even ids, plain streams on odd), extraction runs as an Arrow-batched
    kernel in-plan, and the oracle pins the exact extracted text — so the
    whole literal-string/escape/TJ/Td layout model is under the hard
    value-exact gate."""
    from ..sources.pdf import build_pdf, extract_pdf_udf

    rows = [
        (i, bytearray(build_pdf([lines], compress=(i % 2 == 0))))
        for i, lines in enumerate(_PDF_DOCS)
    ]
    df = spark.createDataFrame(rows, "pdf_id int, pdf binary")
    return df.select("pdf_id", extract_pdf_udf(F.col("pdf")).alias("text"))


def _pdf_extract_sql() -> str:
    vals = ", ".join(
        "({}, {})".format(
            i,
            " || chr(10) || ".join(
                "'" + line.replace("'", "''") + "'" for line in lines
            ),
        )
        for i, lines in enumerate(_PDF_DOCS)
    )
    return f"SELECT pdf_id, text FROM (VALUES {vals}) AS t(pdf_id, text)"


def q_url_ops(spark, sf):
    """URL parsing/normalization (crawl-curation keys): host, registrable
    domain (eTLD+1 heuristic incl. two-label public suffixes), and the
    canonical form (lowercased scheme+host, default port stripped, fragment
    dropped). URLs are synthesized deterministically from doc_id — mixed
    case, ports, fragments — so every branch is exercised; all pure JVM
    regexp/string expressions that run at scan speed."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 30)
    url = F.concat(
        F.lit("HTTPS://Sub"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".Example"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".com:443"))
        .otherwise(F.lit(".org:8080")),
        F.lit("/Path/"),
        F.col("doc_id").cast("string"),
        F.lit("?q=1#Frag"),
    )
    return d.select(
        "doc_id",
        textops.url_host(url).alias("host"),
        textops.registrable_domain(url).alias("domain"),
        textops.url_normalize(url).alias("norm_url"),
    )


_SQL_URL_OPS = r"""
WITH u AS (
  SELECT doc_id,
         'HTTPS://Sub' || (doc_id % 5) || '.Example'
         || CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com:443'
                 ELSE '.org:8080' END
         || '/Path/' || doc_id || '?q=1#Frag' AS url
  FROM documents WHERE doc_id < 30
), h AS (
  SELECT doc_id, url,
         regexp_extract(lower(url),
           '^[a-z][a-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) AS host,
         regexp_replace(url, '#.*$', '') AS no_frag
  FROM u
), parts AS (
  SELECT doc_id, url, host, no_frag,
         str_split(host, '.') AS p, len(str_split(host, '.')) AS n,
         regexp_extract(no_frag,
           '^([A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/?#]*)', 1) AS head
  FROM h
)
SELECT doc_id, host,
       CASE WHEN n >= 3 THEN
         CASE WHEN array_to_string(list_slice(p, n - 1, n), '.') IN
                   ('co.uk','org.uk','ac.uk','com.au','co.jp','com.br','co.in')
              THEN array_to_string(list_slice(p, n - 2, n), '.')
              ELSE array_to_string(list_slice(p, n - 1, n), '.') END
       ELSE host END AS domain,
       regexp_replace(
         regexp_replace(lower(head), ':(80|443)$', '')
           || substring(no_frag, length(head) + 1),
         '\?$', '') AS norm_url
FROM parts
"""


def q_repetition(spark, sf):
    """Gopher-style repetition/symbol signals over a deterministically
    noised corpus (each doc gets one repeated sentence + symbol debris
    appended, so the signals are non-trivially exercised): duplicate-
    segment fraction and symbol-to-word ratio — the public MassiveText
    repetition-filter rules as scan-speed JVM expressions."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    head = F.substring(F.col("text"), 1, 40)
    noised = F.concat_ws(
        ". ", head, head, F.substring(F.col("text"), 41, 60)
    )
    noised = F.concat(noised, F.lit(" ### ... end"))
    return d.select(
        "doc_id",
        F.round(textops.dup_segment_fraction(noised), 4).alias("dup_frac"),
        F.round(textops.symbol_word_ratio(noised), 4).alias("sym_ratio"),
    )


_SQL_REPETITION = r"""
WITH noised AS (
  SELECT doc_id,
         concat_ws('. ', substring(text, 1, 40), substring(text, 1, 40),
                   substring(text, 41, 60)) || ' ### ... end' AS t
  FROM documents WHERE doc_id < 50
), segs AS (
  SELECT doc_id, t,
         list_filter(str_split_regex(trim(t), '\.\s+'),
                     s -> length(s) > 0) AS s
  FROM noised
)
SELECT doc_id,
       ROUND(CASE WHEN len(s) <= 0 THEN 0.0
             ELSE (len(s) - len(list_distinct(s))) / CAST(len(s) AS DOUBLE)
             END, 4) AS dup_frac,
       ROUND(len(regexp_extract_all(t, '#|\.\.\.|…'))
             / CAST(greatest(CASE WHEN length(trim(t)) = 0 THEN 0
                    ELSE len(str_split_regex(trim(t), '\s+')) END, 1) AS DOUBLE),
             4) AS sym_ratio
FROM segs
"""


def q_top_gram_share(spark, sf):
    """Top-2-gram share per document (the Gopher top-n-gram repetition
    rule) as a DISTRIBUTED shape: explode grams → partial-aggregated
    count per (doc, gram) → per-doc max/total. Unlike a per-row scalar,
    this survives documents of any length (no quadratic in-row work) and
    shuffles only (doc_id, gram) pairs."""
    d = _t(spark, sf, "documents").filter(
        (F.col("doc_id") < 40) & (textops.token_count(F.col("text")) >= 2)
    )
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(words) - 2),
                lambda i: F.concat_ws(" ", F.slice(words, i + 1, 2)),
            )
        ).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 4).alias("top2_share")
    )


_SQL_TOP_GRAM = r"""
WITH toks AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\s+') AS w
  FROM documents
  WHERE doc_id < 40
    AND (CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(str_split_regex(trim(text), '\s+')) END) >= 2
), grams AS (
  SELECT doc_id, array_to_string(list_slice(w, i + 1, i + 2), ' ') AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(0, len(w) - 2)) AS i)
), counts AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
)
SELECT doc_id, ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 4) AS top2_share
FROM counts GROUP BY doc_id
"""


def q_domain_quota(spark, sf):
    """Per-domain quota: keep the k=3 highest-quality docs per registrable
    domain — the host-level cap every crawl-curation pipeline applies so no
    single site dominates the corpus. URLs are synthesized deterministically
    (12 distinct domains over 200 docs), the domain key comes from the full
    ``registrable_domain`` URL chain, ranking uses the rounded quality score
    with doc_id tiebreak (engine-portable), and the per-group limit is the
    WindowGroupLimit shape (partial top-k before the shuffle — the k1 pin).
    The oracle derives the expected domain ARITHMETICALLY from doc_id, so it
    verifies the whole host-parse/eTLD+1 chain end-to-end, not just mirrors
    it."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    url = F.concat(
        F.lit("HTTPS://Sub"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".Ex"),
        (F.col("doc_id") % 4).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".com:443"))
        .otherwise(F.lit(".org:8080")),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    sel = d.select(
        "doc_id",
        textops.registrable_domain(url).alias("domain"),
        F.round(textops.quality_score(F.col("text")), 4).alias("quality"),
    )
    w = Window.partitionBy("domain").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        sel.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "domain", "quality")
    )


_SQL_DOMAIN_QUOTA = r"""
WITH q AS (
  SELECT doc_id,
         'ex' || (doc_id % 4)
           || CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
              ELSE '.org' END AS domain,
         ROUND(
           0.4 * least(length(text) / 500.0, 1.0)
         + 0.4 * least(4.0 * len(list_filter(str_split_regex(lower(text), '\s+'),
               w -> w IN ('the','a','of','and','to','in','is','for','on','with')))
               / greatest(len(str_split_regex(lower(text), '\s+')), 1), 1.0)
         + 0.2 * (1.0 - least(10.0 * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
               / greatest(length(text), 1), 1.0)), 4) AS quality
  FROM documents WHERE doc_id < 200
), r AS (
  SELECT doc_id, domain, quality,
         row_number() OVER (PARTITION BY domain
                            ORDER BY quality DESC, doc_id) AS rn
  FROM q
)
SELECT doc_id, domain, quality FROM r WHERE rn <= 3
"""


def q_ann_join(spark, sf):
    """Bulk ANN / decontamination join: every query vector (vec_id < 20 —
    the benchmark-eval-set analog) gets its top-5 LSH-bucketed cosine
    neighbors in the rest of the corpus (vec_id >= 20). Band equi-join,
    exact JVM cosine, per-query top-k via WindowGroupLimit — the set-vs-set
    similarity-search shape a training-data pipeline runs at 10^12 rows
    (the r2 verdict's #1 missing operator)."""
    from ..operators.similarity import ann_join

    e = _t(spark, sf, "embeddings")
    return ann_join(
        e.filter(F.col("vec_id") < 20),
        e.filter(F.col("vec_id") >= 20),
        dim=_EMB_DIM,
        k=5,
        bits=16,
        bands=4,
    )


def _ann_join_sql(bits: int = 16, band_width: int = 4, k: int = 5) -> str:
    """Recompute the bulk ANN join in SQL from the identical literal plane
    coefficients: band signatures for both sides, band equi-join for
    candidates, exact cosine, row_number top-k with the same
    (rounded-cosine DESC, neighbor_id) tiebreak."""
    return f"""
WITH dots AS (
  SELECT e.vec_id, p.plane_id,
         list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), p.coef) AS d
  FROM embeddings e, {_planes_values_sql(bits)}
), sig AS (
  SELECT vec_id, plane_id // {band_width} AS band_id,
         CAST(SUM(CASE WHEN d > 0 THEN (1::BIGINT << (plane_id % {band_width})) ELSE 0 END)
              AS BIGINT) AS band_val
  FROM dots GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sig q JOIN sig c ON q.band_id = c.band_id AND q.band_val = c.band_val
  WHERE q.vec_id < 20 AND c.vec_id >= 20
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(CAST(list_cosine_similarity(
           list_transform(eq.embedding, x -> CAST(x AS DOUBLE)),
           list_transform(ec.embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE), 4) AS cosine
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.neighbor_id
  WHERE NOT isnan(list_cosine_similarity(eq.embedding, ec.embedding))
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rnk, cosine
FROM ranked WHERE rn <= {k}
"""


def q_cluster_kmeans(spark, sf):
    """Distributed Lloyd k-means over the embeddings table (k=8, 2 rounds,
    Forgy seeds = the 8 lowest vec_ids): the clustering stage of
    cluster-then-dedup semantic curation (SemDeDup). Assignment is a
    map-only BLAS kernel against the driver's centroid matrix; each update
    is one k-key exchange with map-side partial per-dimension avg. Output
    is the final centroid set exploded to (cid, n_members, pos, val)
    scalars so the oracle verifies every component value-exactly."""
    from ..operators.clustering import kmeans_fit

    e = _t(spark, sf, "embeddings")
    fitted = kmeans_fit(e, k=8, iters=2)
    return fitted.select(
        "cid",
        F.col("n").alias("n_members"),
        F.posexplode("cent").alias("pos", "val"),
    )


def _kmeans_assign_cte(name: str, cents: str, dim: int) -> str:
    """Assignment round as SQL: nearest centroid by squared L2, distance
    ROUNDed before comparison and ties to the lowest cid — the contract of
    ``clustering._arrow_assign_udf``. This sums the squared differences in
    element order; the kernel's BLAS form ``|x|²-2x·c+|c|²`` differs from
    it only far below the 6th digit, so the two round equal
    (``tests/test_plan_quality.py::test_blas_distance_forms_round_like_sequential_sums``
    pins the margin on the fixture embeddings)."""
    return f"""{name} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_sum(list_transform(range(1, {dim + 1}),
                        i -> (e.v[i] - c.cent[i]) * (e.v[i] - c.cent[i]))), 6),
                      c.cid) AS rn
    FROM emb e CROSS JOIN {cents} c)
  WHERE rn = 1)"""


def _kmeans_ctes(k: int, iters: int, dim: int) -> list[str]:
    """The unrolled-Lloyd CTE chain (emb, c0, a0, p0, c1, ...): assignment
    (rounded-distance argmin), per-dimension AVG rounded at the round
    boundary (the same rounding ``kmeans_fit`` applies, which pins the
    trajectory), empty clusters keeping the previous centroid via
    COALESCE. Shared by the fit oracle and the fitted-centroid SemDeDup
    oracle."""
    ctes = [
        "emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
        " FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cid, v AS cent FROM emb ORDER BY vec_id LIMIT {k})",
    ]
    for r in range(iters):
        ctes.append(_kmeans_assign_cte(f"a{r}", f"c{r}", dim))
        ctes.append(
            f"""p{r} AS (
  SELECT cid, pos, ROUND(AVG(v[pos]), 6) AS val, COUNT(*) AS n
  FROM a{r}, range(1, {dim + 1}) t(pos) GROUP BY cid, pos)"""
        )
        ctes.append(
            f"""c{r + 1} AS (
  SELECT p.cid, COALESCE(g.cent, p.cent) AS cent, COALESCE(g.n, 0) AS n
  FROM c{r} p LEFT JOIN (
    SELECT cid, list(val ORDER BY pos) AS cent, MAX(n) AS n
    FROM p{r} GROUP BY cid) g USING (cid))"""
        )
    return ctes


def _kmeans_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    joined = ",\n".join(_kmeans_ctes(k, iters, dim))
    return f"""
WITH {joined}
SELECT c.cid, CAST(c.n AS BIGINT) AS n_members,
       CAST(t.pos - 1 AS INT) AS pos, c.cent[t.pos] AS val
FROM c{iters} c, range(1, {dim + 1}) t(pos)
"""


def q_semantic_dedup(spark, sf):
    """SemDeDup: assign every embedding to its nearest seed centroid, then
    drop rows with a >= 0.45-cosine LOWER-id neighbor in the SAME cluster
    — within-cluster pair space, bounded by cluster size instead of corpus
    size. Decision frame (vec_id, cid, keep)."""
    from ..operators.clustering import seed_centroids, semantic_dedup

    e = _t(spark, sf, "embeddings")
    return semantic_dedup(e, seed_centroids(e, 8), threshold=0.45).select(
        F.col("id").alias("vec_id"), "cid", "keep"
    )


def _semantic_dedup_sql(k: int = 8, dim: int = 64) -> str:
    return f"""
WITH emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS cent FROM emb ORDER BY vec_id LIMIT {k}),
{_kmeans_assign_cte("a0", "c0", dim)},
pairs AS (
  SELECT b.vec_id AS ib
  FROM a0 a JOIN a0 b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(a.v, x -> x * x)) > 0
    AND list_sum(list_transform(b.v, x -> x * x)) > 0
    AND ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 4) >= 0.45
)
SELECT a0.vec_id, a0.cid, (a0.vec_id NOT IN (SELECT ib FROM pairs)) AS keep
FROM a0
"""


def q_semantic_dedup_fitted(spark, sf):
    """The full SemDeDup recipe: fit centroids with 2 Lloyd rounds, THEN
    dedup within the fitted clusters — fitted (balanced) centroids are
    what bounds the pair space in practice; raw sample seeds over skewed
    data can leave one mega-cluster that re-derives the O(n²) join (the
    scale lesson recorded in ROUND3.md). Composes `kmeans_fit` output as
    the centroid model for `semantic_dedup` in ONE lazy plan."""
    from ..operators.clustering import kmeans_fit, semantic_dedup

    e = _t(spark, sf, "embeddings")
    fitted = kmeans_fit(e, k=8, iters=2).select("cid", "cent")
    return semantic_dedup(e, fitted, threshold=0.45).select(
        F.col("id").alias("vec_id"), "cid", "keep"
    )


def _semantic_dedup_fitted_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Fitted-centroid SemDeDup oracle: the shared Lloyd CTE chain up to
    c{iters}, one more assignment round against those centroids, then the
    identical within-cluster keep-first pair rule."""
    ctes = _kmeans_ctes(k, iters, dim)
    ctes.append(_kmeans_assign_cte("af", f"c{iters}", dim))
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
pairs AS (
  SELECT b.vec_id AS ib
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(a.v, x -> x * x)) > 0
    AND list_sum(list_transform(b.v, x -> x * x)) > 0
    AND ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 4) >= 0.45
)
SELECT af.vec_id, af.cid, (af.vec_id NOT IN (SELECT ib FROM pairs)) AS keep
FROM af
"""


def q_ivf_kmeans(spark, sf):
    """IVF ANN join with a LEARNED coarse quantizer — the full Faiss-IVF
    recipe composed in one lazy plan: fit nlist=8 centroids with 2 Lloyd
    rounds over ALL embeddings, partition the corpus (vec_id >= 20) into
    inverted lists by nearest centroid, probe each query's (vec_id < 20)
    nprobe=2 nearest lists, exact-rerank the probed members to top-5.
    Complements `sim_ann_join`'s hyperplane banding: the partition adapts
    to clustered embedding distributions. List assignment and probing are
    the BLAS k-means kernel; the list equi-join is vector-free."""
    from ..operators.clustering import kmeans_fit
    from ..operators.similarity import ivf_ann_join

    e = _t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2).select("cid", "cent")
    return ivf_ann_join(
        e.filter(F.col("vec_id") < 20), e.filter(F.col("vec_id") >= 20), cents,
        k=5, nprobe=2,
    )


def _ivf_kmeans_sql(k: int = 8, iters: int = 2, dim: int = 64,
                    nprobe: int = 2, topk: int = 5) -> str:
    """IVF oracle: the shared unrolled-Lloyd CTE chain up to c{iters}
    (identical rounded trajectory), corpus list assignment via the shared
    rounded-argmin CTE, query probe lists via row_number <= nprobe with
    the same (ROUND(d2, 6), cid) ordering, then the exact-cosine rerank
    with the (rounded cosine DESC, neighbor_id) tiebreak of the ANN
    oracles."""
    ctes = _kmeans_ctes(k, iters, dim)
    ctes.append(_kmeans_assign_cte("ca", f"c{iters}", dim))
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
probe AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_sum(list_transform(range(1, {dim + 1}),
                        i -> (e.v[i] - c.cent[i]) * (e.v[i] - c.cent[i]))), 6),
                      c.cid) AS rn
    FROM emb e CROSS JOIN c{iters} c WHERE e.vec_id < 20)
  WHERE rn <= {nprobe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN ca a USING (cid) WHERE a.vec_id >= 20),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         ROUND(CAST(list_cosine_similarity(
           list_transform(eq.embedding, x -> CAST(x AS DOUBLE)),
           list_transform(ec.embedding, x -> CAST(x AS DOUBLE))) AS DOUBLE), 4) AS cosine
  FROM cand
  JOIN embeddings eq ON eq.vec_id = cand.query_id
  JOIN embeddings ec ON ec.vec_id = cand.neighbor_id
  WHERE NOT isnan(list_cosine_similarity(eq.embedding, ec.embedding))
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rnk, cosine
FROM ranked WHERE rn <= {topk}
"""


def q_rank_frames(spark, sf):
    """W-family frame specs: rank() per user by value, plus a 3-row moving
    average over event time (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) —
    the explicit-frame window surface (SURVEY §2.5)."""
    e = _t(spark, sf, "events")
    w_rank = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    w_avg = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return e.select(
        "event_id",
        F.rank().over(w_rank).alias("value_rank"),
        F.round(F.avg("value").over(w_avg), 4).alias("mavg3"),
    )


_SQL_RANK_FRAMES = """
SELECT event_id,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT)
         AS value_rank,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg3
FROM events
"""


_FIXTURE_FORMULAS = [r"\[a+b\]", r"\mbox {x}", r"\emph{y}", r"\left( z \right)"]


def q_fixture_scan(spark, sf):
    """S4: JSONL fixture scan — the reference's formulas.jsonl loader
    re-expressed. Hermetic: the JSONL lines are in-memory literals parsed by
    Spark's JSON reader (``from_json`` with the explicit fixture schema —
    same parse path as ``spark.read.json``, no driver-side file IO); the
    file-backed variant (``sources.raw.read_formula_fixture``) is exercised
    by pytest."""
    import json as _json

    from ..sources.raw import FORMULA_FIXTURE_SCHEMA

    lines = [
        (_json.dumps({"img_name": f"{i}.png", "formula": f}),)
        for i, f in enumerate(_FIXTURE_FORMULAS)
    ]
    return (
        spark.createDataFrame(lines, "line string")
        .select(F.from_json("line", FORMULA_FIXTURE_SCHEMA).alias("r"))
        .select(
            F.regexp_replace("r.img_name", r"\.png$", "").alias("formula_id"),
            F.col("r.formula").alias("raw_latex"),
        )
        .orderBy("formula_id")
    )


_SQL_FIXTURE_SCAN = """
SELECT CAST(i AS VARCHAR) AS formula_id, f AS raw_latex
FROM (VALUES (0, '\\[a+b\\]'), (1, '\\mbox {x}'), (2, '\\emph{y}'),
             (3, '\\left( z \\right)')) AS t(i, f)
ORDER BY formula_id
"""


_STREAM_COUNTER = [0]


def q_stream_span_rates(spark, sf):
    """Structured Streaming under the driver's hard check: the windowed
    span-rate aggregation (watermarked event time on ``warc_ts``) runs as a
    real streaming query — file source over the documents parquet, memory
    sink, one ``availableNow`` pass — and the materialized result is
    compared against a batch-equivalent DuckDB oracle (span counts per page
    are deterministic from the doc_blocks structure: 5 text + 1 embedding +
    1 isolated per document; warc_ts = 2024-01-01 + doc_id minutes)."""
    from pyspark.sql import types as T

    from ..streaming.stream import streaming_span_rates

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    docs_stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
    )
    rates = streaming_span_rates(
        pages_from_documents(docs_stream), watermark="1 hour", window="10 minutes"
    )
    _STREAM_COUNTER[0] += 1
    sink = f"span_rates_sink_{_STREAM_COUNTER[0]}"
    q = (
        rates.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.col("window.start").alias("win_start"), "kind", "n_spans"
    )


_SQL_STREAM_RATES = """
WITH w AS (
  SELECT CAST(to_timestamp(CAST(floor((epoch(TIMESTAMP '2024-01-01 00:00:00')
               + doc_id * 60) / 600) * 600 AS BIGINT)) AS TIMESTAMP) AS win_start
  FROM documents
)
SELECT win_start, k.kind, CAST(COUNT(*) * k.per_doc AS BIGINT) AS n_spans
FROM w, (VALUES ('text', 5), ('embedding', 1), ('isolated', 1)) k(kind, per_doc)
GROUP BY 1, 2, k.per_doc
"""


def q_stream_first_seen(spark, sf):
    """The custom STATEFUL streaming operator (applyInPandasWithState
    cross-crawl first-seen url dedup) under the hard check: the source
    delivers every page twice (union of the stream with itself — the
    re-crawl analog), the state op emits exactly one row per url with the
    batch-min ``warc_ts``, and the oracle reconstructs that row set
    relationally. Cross-batch arrival-order semantics are pytest-covered
    (a memory-sink single-batch run can only exercise within-batch state)."""
    from pyspark.sql import types as T

    from ..streaming.stream import streaming_dedup_first_seen

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    docs_stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf)
    )
    pages = pages_from_documents(docs_stream)
    deduped = streaming_dedup_first_seen(pages.union(pages))
    _STREAM_COUNTER[0] += 1
    sink = f"first_seen_sink_{_STREAM_COUNTER[0]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select("url", "warc_ts", "lang")


_SQL_STREAM_FIRST_SEEN = """
SELECT 'https://synth.test/docs/' || doc_id AS url,
       CAST(to_timestamp(epoch(TIMESTAMP '2024-01-01 00:00:00') + doc_id * 60)
            AS TIMESTAMP) AS warc_ts,
       lang
FROM documents
"""


def q_chunked_extract(spark, sf):
    """W5 equivalence under the driver's hard check: run the flagship and
    the chunked oversized-document path over the same pages and count
    mismatched urls — the oracle pins (n_urls, 0), so any divergence
    between piece-wise and single-pass extraction turns this row red."""
    from ..plans.pipeline import extract_pages_chunked

    pages = pages_from_documents(_t(spark, sf, "documents"))
    a = extract_pages(pages).select("url", F.col("extracted_text").alias("t_flag"))
    b = extract_pages_chunked(pages, max_chunk_chars=2000).select(
        "url", F.col("extracted_text").alias("t_chunk")
    )
    return a.join(b, "url", "full_outer").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(
            F.when(F.col("t_flag").eqNullSafe(F.col("t_chunk")), 0).otherwise(1)
        ).alias("n_mismatch"),
    )


_SQL_CHUNKED_EXTRACT = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_urls, CAST(0 AS BIGINT) AS n_mismatch
FROM documents
"""


def q_span_table(spark, sf):
    """S5: the exploded span-table checkpoint (one row per recognized span,
    from the span UDF) — span counts by kind over pages derived from documents.
    The doc subset is a stable predicate (``doc_id < 200``), not a
    ``limit`` (layout-dependent), so the oracle can mirror the per-doc
    span structure (5 text + 1 embedding + 1 isolated per ``doc_blocks``)."""
    from ..plans.pipeline import span_table

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    spans = span_table(pages_from_documents(docs))
    return spans.groupBy("kind").agg(F.count(F.lit(1)).alias("n_spans"))


_SQL_SPAN_TABLE = """
SELECT k.kind, CAST(COUNT(*) * k.per_doc AS BIGINT) AS n_spans
FROM documents, (VALUES ('text', 5), ('embedding', 1), ('isolated', 1)) k(kind, per_doc)
WHERE doc_id < 200
GROUP BY k.kind, k.per_doc
"""


# --------------------------------------------------------------------------
# rows-only queries (not SQL-expressible → driver records row-count check)
# --------------------------------------------------------------------------

def _near_dup_corpus(spark, sf):
    """documents ∪ lightly-mutated copies (deterministic near-dups)."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    mutated = d.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended mutation token")).alias("text"),
    )
    return d.unionByName(mutated)


def q_minhash_lsh(spark, sf):
    pairs = minhash_lsh_pairs(_near_dup_corpus(spark, sf), bands=16, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


_SQL_CORPUS_CTE = """
corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS id, text || ' appended mutation token' AS text
  FROM documents
)"""


def _sig_ctes(corpus_cte: str, bands: int = 16, k: int = 3) -> str:
    """The MinHash signature CTE chain over any ``corpus(id, text)`` CTE:
    corpus → shingle hashes → seeded-universal-hash signatures → banded
    keys. Shared by the pair / closure / incremental oracles. All
    arithmetic < 2^63 → exact in BIGINT."""
    from ..operators.dedup import _A, _B, _MERSENNE, _N_HASHES

    rpb = _N_HASHES // bands
    coeff = ", ".join(f"({i}, {int(_A[i])}, {int(_B[i])})" for i in range(_N_HASHES))
    return f"""{corpus_cte},
toks AS (
  SELECT id, str_split_regex(trim(text), '\\s+') AS w FROM corpus
  WHERE length(trim(text)) > 0
),
grams AS (
  SELECT id,
         CASE WHEN len(w) < {k} THEN array_to_string(w, ' ')
              ELSE array_to_string(list_slice(w, i + 1, i + {k}), ' ') END AS gram
  FROM toks, LATERAL (SELECT unnest(generate_series(0, greatest(len(w) - {k}, 0))) AS i)
),
ghash AS (
  SELECT DISTINCT id, CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) AS h FROM grams
),
coeff AS (SELECT * FROM (VALUES {coeff}) AS c(i, a, b)),
sig AS (
  SELECT id, c.i, MIN((c.a * g.h + c.b) % {_MERSENNE}) AS m
  FROM ghash g, coeff c GROUP BY id, c.i
),
bands AS (
  SELECT id, i // {rpb} AS band_id,
         string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM sig GROUP BY id, i // {rpb}
)"""


def _minhash_ctes(
    bands: int = 16, k: int = 3, corpus_cte: str = _SQL_CORPUS_CTE
) -> str:
    """Signature chain + self-join candidates + signature-agreement counts
    (``agree``) over any ``corpus(id, text)`` CTE (default: the near-dup
    corpus) — the pair oracle (`_minhash_sql`), cluster-closure oracle
    (`_clusters_sql`), and capstone oracles share this."""
    return f"""{_sig_ctes(corpus_cte, bands, k)},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.id < b.id
),
agree AS (
  SELECT c.id_a, c.id_b, SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS n_eq
  FROM cand c
  JOIN sig sa ON sa.id = c.id_a
  JOIN sig sb ON sb.id = c.id_b AND sb.i = sa.i
  GROUP BY c.id_a, c.id_b
)"""


#: incremental-dedup fixture: the accumulated corpus is docs < 25; the new
#: snapshot carries fresh docs (>= 25), exact re-crawls of seen docs < 8
#: (+2e7 ids) and near-copies of seen docs 8-15 (+3e7 ids, the mutation
#: suffix) — every decision branch populated at every SF >= 0.001
_SQL_INC_CORPUS_CTE = """
corpus AS (
  SELECT doc_id AS id, text, 0 AS is_new FROM documents WHERE doc_id < 25
  UNION ALL
  SELECT doc_id AS id, text, 1 AS is_new FROM documents WHERE doc_id >= 25
  UNION ALL
  SELECT doc_id + 20000000 AS id, text, 1 AS is_new
  FROM documents WHERE doc_id < 8
  UNION ALL
  SELECT doc_id + 30000000 AS id, text || ' appended mutation token' AS text,
         1 AS is_new
  FROM documents WHERE doc_id >= 8 AND doc_id < 16
)"""


def q_incremental_dedup(spark, sf):
    """Cross-snapshot (rolling-ingest) dedup: the new crawl shard checked
    against the accumulated corpus — exact via digest probe, near via a
    new-vs-seen MinHash band join (never a self-join) — returning the
    per-doc decision frame ``(id, dup_exact, dup_near)``. No text column
    ever shuffles (`incremental_dedup_decisions`). The fixture plants
    exact re-crawls AND near-copies of seen docs among fresh ones, so all
    four flag combinations are exercised."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    seen = d.filter(F.col("doc_id") < 25)
    new = (
        d.filter(F.col("doc_id") >= 25)
        .unionByName(
            d.filter(F.col("doc_id") < 8).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            d.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 16)).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" appended mutation token")).alias(
                    "text"
                ),
            )
        )
    )
    return incremental_dedup_decisions(new, seen, bands=16, threshold=0.5)


def _incremental_sql(bands: int = 16, threshold: float = 0.5, k: int = 3) -> str:
    """Incremental-dedup oracle: the shared signature chain over the split
    corpus, band candidates restricted to new-vs-seen, agreement admission
    at ``threshold``, digest membership for the exact flag."""
    from ..operators.dedup import _N_HASHES

    return f"""
WITH {_sig_ctes(_SQL_INC_CORPUS_CTE, bands, k)},
cand AS (
  SELECT DISTINCT a.id AS new_id, b.id AS seen_id
  FROM bands a JOIN corpus ca ON ca.id = a.id AND ca.is_new = 1
  JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
  JOIN corpus cb ON cb.id = b.id AND cb.is_new = 0
),
agree AS (
  SELECT c.new_id, c.seen_id, SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS n_eq
  FROM cand c
  JOIN sig sa ON sa.id = c.new_id
  JOIN sig sb ON sb.id = c.seen_id AND sb.i = sa.i
  GROUP BY c.new_id, c.seen_id
),
near AS (
  SELECT DISTINCT new_id FROM agree WHERE n_eq / {_N_HASHES}.0 >= {threshold}
),
sd AS (SELECT DISTINCT md5(text) AS d FROM corpus WHERE is_new = 0)
SELECT n.id AS id,
       md5(n.text) IN (SELECT d FROM sd) AS dup_exact,
       n.id IN (SELECT new_id FROM near) AS dup_near
FROM corpus n WHERE n.is_new = 1
"""


def _minhash_sql(bands: int = 16, threshold: float = 0.5, k: int = 3) -> str:
    """Recompute the full MinHash+LSH pipeline in SQL: 32-bit md5-prefix
    shingle hashes, the exact seeded universal-hash coefficients, per-band
    slice equality for candidates, signature-agreement estimate for
    admission. Value-exact vs the Spark Arrow kernel by construction."""
    from ..operators.dedup import _N_HASHES

    return f"""
WITH {_minhash_ctes(bands, k)}
SELECT id_a, id_b, ROUND(n_eq / {_N_HASHES}.0, 4) AS est_jaccard
FROM agree WHERE n_eq / {_N_HASHES}.0 >= {threshold}
"""


def q_dedup_clusters(spark, sf):
    """Transitive closure of MinHash near-dup pairs → one canonical doc per
    connected component (`duplicate_clusters`: hash-to-min label
    propagation + pointer jumping). This is the step that turns a PAIR
    finder into a dedup *decision* — chains like A~B, B~C with no direct
    A~C edge still collapse to one cluster. Docs with no near-dup edge come
    back as their own singleton cluster (ids = the full corpus)."""
    corpus = _near_dup_corpus(spark, sf)
    pairs = minhash_lsh_pairs(corpus, bands=16, threshold=0.5)
    return duplicate_clusters(
        pairs.select("id_a", "id_b"),
        ids=corpus.select(F.col("doc_id").alias("id")),
    )


#: undirected closure over any ``pairs(id_a, id_b)`` CTE: `reach`
#: enumerates, for every node, each component member whose label can reach
#: it along undirected edges (UNION dedups, so the fixpoint terminates);
#: MIN over that set is the canonical (minimum) id — the same contract
#: `duplicate_clusters` guarantees. Must sit under a ``WITH RECURSIVE``
#: header and after a ``corpus(id, ...)`` CTE.
_SQL_CLOSURE_TAIL = """edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach (id, lab) AS (
  SELECT id, id FROM corpus
  UNION
  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id
)"""


def _closure_ctes(threshold: float = 0.5) -> str:
    """Recursive closure over the VERIFIED MinHash pairs (``agree`` stage
    admitted at ``threshold``). Must follow `_minhash_ctes` under a
    ``WITH RECURSIVE`` header."""
    from ..operators.dedup import _N_HASHES

    return f"""pairs AS (
  SELECT id_a, id_b FROM agree WHERE n_eq / {_N_HASHES}.0 >= {threshold}
),
{_SQL_CLOSURE_TAIL}"""


#: recursive closure over UNVERIFIED bucket-star edges (the
#: `minhash_band_star_edges` contract: one edge per (band bucket, member)
#: to the bucket's min id — no est_jaccard admission). Must follow
#: `_sig_ctes` under a ``WITH RECURSIVE`` header.
_SQL_STAR_CLOSURE_CTES = f"""pairs AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT MIN(id) OVER (PARTITION BY band_id, band_key) AS id_a, id AS id_b
    FROM bands
  ) WHERE id_a < id_b
),
{_SQL_CLOSURE_TAIL}"""


def _clusters_sql(bands: int = 16, threshold: float = 0.5, k: int = 3) -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes(bands, k)},
{_closure_ctes(threshold)}
SELECT id, MIN(lab) AS cluster_id,
       CAST(CASE WHEN MIN(lab) = id THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM reach GROUP BY id
"""


def q_dedup_clusters_star(spark, sf):
    """Bucket-star cluster closure (`minhash_band_star_edges` →
    `duplicate_clusters`): the NeMo-Curator-style approximation for
    templated corpora — one star edge per (band bucket, member) instead
    of verified all-pairs, so a hot bucket of m near-copies feeds the
    closure m-1 edges, not m(m-1)/2 verified pairs. No est_jaccard
    admission: components are coarser-or-equal vs `dedup_clusters`
    (documented precision trade; equal when every in-bucket collision is
    a true dup). The oracle recomputes the star edges and the recursive
    closure in SQL — value-exact, not an approximation of the oracle."""
    corpus = _near_dup_corpus(spark, sf)
    edges = minhash_band_star_edges(corpus, bands=16)
    return duplicate_clusters(
        edges, ids=corpus.select(F.col("doc_id").alias("id"))
    )


def _clusters_star_sql(bands: int = 16, k: int = 3) -> str:
    """Star-closure oracle: signature chain → per-bucket min-id star edges
    (window MIN, no verification stage) → the shared recursive closure."""
    return f"""
WITH RECURSIVE {_sig_ctes(_SQL_CORPUS_CTE, bands, k)},
{_SQL_STAR_CLOSURE_CTES}
SELECT id, MIN(lab) AS cluster_id,
       CAST(CASE WHEN MIN(lab) = id THEN 1 ELSE 0 END AS INT) AS is_canonical
FROM reach GROUP BY id
"""


def _fuzzy_canon(corpus, edges: str = "verified"):
    """Canonical (min-id) survivor ids after MinHash fuzzy dedup — the
    pair-find → transitive-closure → keep-canonical chain shared by the
    p9/p11 capstones. ``edges="verified"`` runs
    :func:`minhash_lsh_pairs` (est_jaccard-admitted all-pairs);
    ``edges="bucket_star"`` runs :func:`minhash_band_star_edges` (O(m)
    min-id star edges per band bucket, no verification — the templated-
    corpus scale mode; components coarser-or-equal)."""
    if edges == "bucket_star":
        pairs = minhash_band_star_edges(corpus, bands=16)
    elif edges == "verified":
        pairs = minhash_lsh_pairs(corpus, bands=16, threshold=0.5).select(
            "id_a", "id_b"
        )
    else:
        raise ValueError(f"edges must be 'verified' or 'bucket_star', got {edges!r}")
    clusters = duplicate_clusters(
        pairs, ids=corpus.select(F.col("doc_id").alias("id"))
    )
    return clusters.filter(F.col("is_canonical") == 1).select("id")


def q_near_dup_prep(spark, sf):
    """Capstone near-dup-aware training prep — the full fuzzy-dedup chain
    as ONE plan: MinHash+LSH pairs → transitive cluster closure → keep the
    canonical (min-id) doc per cluster → quality/token admission → salted
    90/10 split → per-split counts + mean quality. p8 is the exact-digest
    version of this; real crawl prep runs THIS shape, where mutated
    near-copies (the `_near_dup_corpus` +10M ids) collapse onto their
    originals instead of surviving the digest check. Scale posture: the
    closure loop shuffles only (id, label); the canonical keep-set rejoins
    as a LEFT SEMI on the id; text never shuffles (all text-derived
    columns computed at the scan)."""
    corpus = _near_dup_corpus(spark, sf)
    return _p9_admission(corpus, _fuzzy_canon(corpus))


def _p9_admission(corpus, canon):
    """The p9 quality/token admission + salted 90/10 split + per-split
    aggregate over the canonical survivor set — shared by the verified
    (`q_near_dup_prep`) and bucket-star (`q_near_dup_prep_star`) capstones,
    mirroring `_SQL_P9_ADMISSION` on the oracle side."""
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    narrow = corpus.select(
        "doc_id",
        textops.quality_score(F.col("text")).alias("_q"),
        textops.token_count(F.col("text")).alias("_n_tok"),
        F.when(bucket < 9, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )
    kept = narrow.join(canon, narrow["doc_id"] == canon["id"], "left_semi")
    return kept.filter(
        (F.col("_q") >= 0.5) & (F.col("_n_tok") >= 5) & (F.col("_n_tok") < 1014)
    ).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("_q"), 3).alias("avg_quality"),
    )


#: p9 admission tail over ``canon(id)`` + ``corpus(id, text)``: quality /
#: token scoring, the md5 split bucket, and the per-split aggregate —
#: shared verbatim by the verified and bucket-star p9 oracles.
_SQL_P9_ADMISSION = """scored AS (
  SELECT id,
         0.4 * least(length(text) / 500.0, 1.0)
       + 0.4 * least(4.0 * len(list_filter(str_split_regex(lower(text), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is','for','on','with')))
             / greatest(len(str_split_regex(lower(text), '\\s+')), 1), 1.0)
       + 0.2 * (1.0 - least(10.0 * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
             / greatest(length(text), 1), 1.0)) AS q,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM corpus
)
SELECT CASE WHEN CAST('0x' || substr(md5(s.id || ':42'), 1, 8) AS BIGINT) % 10 < 9
            THEN 'train' ELSE 'val' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(s.q), 3) AS avg_quality
FROM scored s JOIN canon c ON s.id = c.id
WHERE s.q >= 0.5 AND s.n_tok >= 5 AND s.n_tok < 1014
GROUP BY 1
"""


def _near_dup_prep_sql(bands: int = 16, threshold: float = 0.5, k: int = 3) -> str:
    """p9 oracle: the recursive MinHash closure (shared CTEs) feeding the
    p8 quality/split admission — canonical survivors only."""
    return f"""
WITH RECURSIVE {_minhash_ctes(bands, k)},
{_closure_ctes(threshold)},
canon AS (
  SELECT id FROM reach GROUP BY id HAVING MIN(lab) = id
),
{_SQL_P9_ADMISSION}"""


def q_near_dup_prep_star(spark, sf):
    """p9 capstone in bucket-star edge mode: identical admission/split
    chain, but the closure input is `minhash_band_star_edges` (O(m) min-id
    star edges per band bucket, no est_jaccard verification) instead of
    verified all-pairs — the NeMo-Curator-style templated-corpus scale
    mode. Components are coarser-or-equal, so the star canon set is a
    subset of verified mode's; on this fixture (mutants straddling the
    threshold) the split counts measurably differ from p9 — the oracle
    recomputes the same star closure, so the entry is value-exact."""
    corpus = _near_dup_corpus(spark, sf)
    return _p9_admission(corpus, _fuzzy_canon(corpus, edges="bucket_star"))


def _near_dup_prep_star_sql(bands: int = 16, k: int = 3) -> str:
    """p9 bucket-star oracle: signature chain → star edges → recursive
    closure → the shared admission tail."""
    return f"""
WITH RECURSIVE {_sig_ctes(_SQL_CORPUS_CTE, bands, k)},
{_SQL_STAR_CLOSURE_CTES},
canon AS (
  SELECT id FROM reach GROUP BY id HAVING MIN(lab) = id
),
{_SQL_P9_ADMISSION}"""


#: 12-token boilerplate planted in the p11 fixture (>= the window=8 rule)
_P11_BOILER = (
    "please subscribe to our newsletter and follow us on social media today"
)


def q_substring_prep(spark, sf):
    """Capstone substring-aware training prep (p11) — document-level fuzzy
    dedup THEN span-level exact-substring dedup as ONE plan, the order
    modern corpus preps run them (NeMo-Curator-style: fuzzy doc dedup
    first removes whole near-copies cheaply, then EXACTSUBSTR cuts the
    repeated spans that survive document-level dedup): MinHash+LSH pairs →
    transitive cluster closure → canonical (min-id) survivor per cluster →
    ``remove_repeated_substrings(window=8, keep="first")`` over the
    survivors (the globally-first holder of each duplicated span keeps it;
    every later copy is cut) → quality/token admission on the CLEANED text
    → salted 90/10 split → per-split doc counts, mean post-clean quality,
    and total tokens the substring pass dropped. Scale posture inherits
    the pieces': closure shuffles (id, label) only, the substring counting
    shuffle carries (id, pos, hash64) only, text never enters a keyed
    exchange, and admission/split are scan expressions.

    Fixture: every fifth doc carries a shared 12-token boilerplate
    sentence (appended before mutation, so its near-dup copy carries it
    too) — the base documents share no 8-token run, so without the
    injection the substring stage would be a measured no-op. The min-id
    boilerplate holder keeps the sentence intact (keep="first"); every
    other holder loses exactly those tokens."""
    return _p11_admission(_p11_corpus(spark, sf), edges="verified")


def _p11_corpus(spark, sf):
    """The template-dense p11 fixture: boilerplate appended to every 5th
    doc, then a +10M near-dup mutant of EVERY doc (mirrors
    `_SQL_P11_CORPUS_CTE`)."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    base = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" " + _P11_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return base.unionByName(
        base.select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended mutation token")).alias("text"),
        )
    )


def _p11_admission(corpus, edges: str = "verified"):
    """The p11 chain downstream of the fixture: fuzzy canon (verified or
    bucket-star edges) → keep-first EXACTSUBSTR over the survivors →
    quality/token admission on the cleaned text → salted split → per-split
    aggregate (docs, mean quality, tokens the substring pass dropped)."""
    from ..operators.dedup import remove_repeated_substrings

    canon = _fuzzy_canon(corpus, edges=edges)
    survivors = corpus.join(canon, corpus["doc_id"] == canon["id"], "left_semi")
    cleaned = remove_repeated_substrings(survivors, window=8, keep="first")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    narrow = cleaned.select(
        "doc_id",
        "n_dropped_tokens",
        textops.quality_score(F.col("text")).alias("_q"),
        textops.token_count(F.col("text")).alias("_n_tok"),
        F.when(bucket < 9, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )
    return (
        narrow.filter((F.col("_q") >= 0.3) & (F.col("_n_tok") >= 5))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_q"), 3).alias("avg_quality"),
            F.sum("n_dropped_tokens").cast("bigint").alias("tokens_dropped"),
        )
    )


#: p11 boilerplate-injection corpus CTE (every 5th doc carries the
#: 12-token boilerplate; EVERY doc has a +10M near-dup mutant — the
#: adversarial template-dense shape)
_SQL_P11_CORPUS_CTE = f"""p11base AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' {_P11_BOILER}'
              ELSE text END AS text
  FROM documents
),
corpus AS (
  SELECT id, text FROM p11base
  UNION ALL
  SELECT id + 10000000 AS id, text || ' appended mutation token' AS text
  FROM p11base
)"""

#: p11 realistic-mix corpus CTE (low dup rate: boilerplate on every 10th
#: doc, a near-dup mutant for every 4th — the companion fixture that keeps
#: the capstone's bench trend from being 100% closure-dominated)
_SQL_P11_MIX_CORPUS_CTE = f"""p11mix AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 10 = 0 THEN text || ' {_P11_BOILER}'
              ELSE text END AS text
  FROM documents
),
corpus AS (
  SELECT id, text FROM p11mix
  UNION ALL
  SELECT id + 10000000 AS id, text || ' appended mutation token' AS text
  FROM p11mix WHERE id % 4 = 0
)"""

#: p11 tail over ``canon(id)`` + ``corpus(id, text)``: survivors →
#: keep-first EXACTSUBSTR string-matching chain (same CTEs as
#: `_SQL_EXACT_SUBSTRING_KEEP1`, scoped to survivors) → quality/token
#: admission over the CLEANED text → salted split aggregate. Shared by the
#: verified / bucket-star / realistic-mix p11 oracles.
_SQL_P11_TAIL = """surv AS (
  SELECT c.id AS doc_id, c.text FROM corpus c JOIN canon n ON c.id = n.id
),
stoks AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tok
  FROM surv
),
sw AS (
  SELECT doc_id, unnest(generate_series(0, len(tok)-8)) AS p, tok
  FROM stoks WHERE len(tok) >= 8
),
sws AS (SELECT doc_id, p, array_to_string(tok[p+1:p+8], ' ') AS s FROM sw),
socc AS (
  SELECT doc_id, p,
         row_number() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn,
         count(*) OVER (PARTITION BY s) AS cnt
  FROM sws
),
sdupocc AS (SELECT doc_id, p FROM socc WHERE cnt >= 2 AND rn > 1),
scov AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT doc_id, unnest(generate_series(p, p+7)) AS t FROM sdupocc
  )
),
sncov AS (SELECT doc_id, COUNT(*) AS n FROM scov GROUP BY doc_id),
stokpos AS (
  SELECT doc_id, unnest(tok) AS tk,
         unnest(generate_series(0, len(tok)-1)) AS i
  FROM stoks
),
srebuilt AS (
  SELECT tp.doc_id,
         COALESCE(string_agg(CASE WHEN c.t IS NULL THEN tp.tk END,
                             ' ' ORDER BY tp.i), '') AS new_text
  FROM stokpos tp LEFT JOIN scov c ON c.doc_id = tp.doc_id AND c.t = tp.i
  GROUP BY tp.doc_id
),
cleaned AS (
  SELECT s.doc_id,
         CASE WHEN n.n IS NULL THEN s.text
              ELSE COALESCE(r.new_text, '') END AS text,
         COALESCE(n.n, 0) AS nd
  FROM surv s
  LEFT JOIN sncov n ON n.doc_id = s.doc_id
  LEFT JOIN srebuilt r ON r.doc_id = s.doc_id
),
scored AS (
  SELECT doc_id, nd,
         0.4 * least(length(text) / 500.0, 1.0)
       + 0.4 * least(4.0 * len(list_filter(str_split_regex(lower(text), '\\s+'),
             w -> w IN ('the','a','of','and','to','in','is','for','on','with')))
             / greatest(len(str_split_regex(lower(text), '\\s+')), 1), 1.0)
       + 0.2 * (1.0 - least(10.0 * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
             / greatest(length(text), 1), 1.0)) AS q,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(str_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM cleaned
)
SELECT CASE WHEN CAST('0x' || substr(md5(doc_id || ':42'), 1, 8) AS BIGINT) % 10 < 9
            THEN 'train' ELSE 'val' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(q), 3) AS avg_quality,
       CAST(SUM(nd) AS BIGINT) AS tokens_dropped
FROM scored
WHERE q >= 0.3 AND n_tok >= 5
GROUP BY 1
"""


def _substring_prep_sql(bands: int = 16, threshold: float = 0.5, k: int = 3) -> str:
    """p11 oracle: the recursive MinHash closure (shared CTEs) → canonical
    survivors → the shared EXACTSUBSTR/admission tail. The corpus CTE
    mirrors the boilerplate injection verbatim."""
    return f"""
WITH RECURSIVE {_minhash_ctes(bands, k, _SQL_P11_CORPUS_CTE)},
{_closure_ctes(threshold)},
canon AS (
  SELECT id FROM reach GROUP BY id HAVING MIN(lab) = id
),
{_SQL_P11_TAIL}"""


def q_substring_prep_star(spark, sf):
    """p11 capstone in bucket-star edge mode: same template-dense fixture
    and EXACTSUBSTR/admission chain, but the fuzzy-dedup closure consumes
    `minhash_band_star_edges` (O(m) star edges per band bucket, no
    est_jaccard verification) instead of verified all-pairs. On the sf0.1
    fixture this collapses the closure's edge input ~99% (BENCH.md) —
    the templated-corpus scale mode the verdict's NeMo-Curator analog
    names. Value-exact oracle: the SQL recomputes the same star closure."""
    return _p11_admission(_p11_corpus(spark, sf), edges="bucket_star")


def _substring_prep_star_sql(bands: int = 16, k: int = 3) -> str:
    return f"""
WITH RECURSIVE {_sig_ctes(_SQL_P11_CORPUS_CTE, bands, k)},
{_SQL_STAR_CLOSURE_CTES},
canon AS (
  SELECT id FROM reach GROUP BY id HAVING MIN(lab) = id
),
{_SQL_P11_TAIL}"""


def q_substring_prep_mix(spark, sf):
    """p11 capstone on the realistic-mix companion fixture (the r4
    verdict's Next #6): a LOW-dup-rate corpus — boilerplate on every 10th
    doc, a near-dup mutant for every 4th — so the capstone's cost is no
    longer 100% closure-dominated and substring-stage changes are visible
    in the bench trend (the template-dense `p11_substring_prep` fixture
    stays as the adversarial-max case). Same verified-pair closure,
    EXACTSUBSTR keep-first pass, and admission chain; same composed
    recursive oracle pattern."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    base = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.lit(" " + _P11_BOILER)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    corpus = base.unionByName(
        base.filter(F.col("doc_id") % 4 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended mutation token")).alias("text"),
        )
    )
    return _p11_admission(corpus, edges="verified")


def _substring_prep_mix_sql(bands: int = 16, threshold: float = 0.5, k: int = 3) -> str:
    return f"""
WITH RECURSIVE {_minhash_ctes(bands, k, _SQL_P11_MIX_CORPUS_CTE)},
{_closure_ctes(threshold)},
canon AS (
  SELECT id FROM reach GROUP BY id HAVING MIN(lab) = id
),
{_SQL_P11_TAIL}"""


def _line_corpus(spark, sf):
    """Deterministic line-structured corpus for line-level dedup: the base
    documents carry no newlines, so each doc becomes 5 lines — an 80-char
    content prefix, a boilerplate line shared by EVERY doc, a unique line,
    a whitespace-only line, and a line shared by the ``doc_id % 10 == 0``
    tenth of the corpus. Mirrored verbatim in the oracle's CTE."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 80),
            F.lit("subscribe to our newsletter"),
            F.concat(F.lit("doc "), F.col("doc_id"), F.lit(" unique line")),
            F.lit("  "),
            F.when(
                F.col("doc_id") % 10 == 0, F.lit("cookie policy applies")
            ).otherwise(F.concat(F.lit("local line "), F.col("doc_id"))),
        ).alias("text"),
    )


_SQL_LINE_CORPUS_CTE = """
lcorpus AS (
  SELECT doc_id,
         substr(text, 1, 80)
         || chr(10) || 'subscribe to our newsletter'
         || chr(10) || 'doc ' || doc_id || ' unique line'
         || chr(10) || '  '
         || chr(10) || CASE WHEN doc_id % 10 = 0 THEN 'cookie policy applies'
                            ELSE 'local line ' || doc_id END AS text
  FROM documents
)"""


def q_dedup_lines(spark, sf):
    """Cross-document line dedup (C4/RefinedWeb boilerplate rule) over the
    line-structured corpus: the everywhere-shared and tenth-shared lines
    vanish, unique and whitespace-only lines survive in order."""
    out = remove_duplicate_lines(_line_corpus(spark, sf))
    return out.select("doc_id", "text", "n_dropped_lines")


_SQL_DEDUP_LINES = f"""
WITH {_SQL_LINE_CORPUS_CTE},
base AS (SELECT doc_id, str_split(text, chr(10)) AS lines FROM lcorpus),
ex AS (
  SELECT doc_id, i - 1 AS pos, lines[i] AS line
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(lines))) AS i)
),
dup AS (
  SELECT trim(line) AS k FROM ex WHERE trim(line) <> ''
  GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
),
flag AS (
  SELECT e.doc_id, e.pos, e.line, (d.k IS NOT NULL) AS is_dup
  FROM ex e LEFT JOIN dup d ON trim(e.line) = d.k
)
SELECT doc_id,
       COALESCE(
         string_agg(CASE WHEN NOT is_dup THEN line END, chr(10) ORDER BY pos),
         '') AS text,
       CAST(COUNT(*) FILTER (WHERE is_dup) AS INT) AS n_dropped_lines
FROM flag GROUP BY doc_id
"""


def q_exact_substring(spark, sf):
    """Exact-substring dedup (Lee et al. 2022 EXACTSUBSTR — the
    suffix-array rule at token granularity) over the documents table at
    window=8: every token inside an 8-or-more-token substring appearing
    >= 2 times anywhere in the corpus is removed (within-doc and
    overlapping repeats count); untouched docs keep their original bytes.
    The oracle re-derives dup windows by STRING equality, so it verifies
    the rolling-hash window identity end-to-end."""
    from ..operators.dedup import remove_repeated_substrings

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return remove_repeated_substrings(d, window=8).select(
        "doc_id", "text", "n_dropped_tokens"
    )


_SQL_EXACT_SUBSTRING = """
WITH toks AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tok
  FROM documents
),
w AS (
  SELECT doc_id, unnest(generate_series(0, len(tok)-8)) AS p, tok
  FROM toks WHERE len(tok) >= 8
),
ws AS (SELECT doc_id, p, array_to_string(tok[p+1:p+8], ' ') AS s FROM w),
dup AS (SELECT s FROM ws GROUP BY s HAVING COUNT(*) >= 2),
cov AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT ws.doc_id, unnest(generate_series(ws.p, ws.p+7)) AS t
    FROM ws JOIN dup ON ws.s = dup.s
  )
),
ncov AS (SELECT doc_id, COUNT(*) AS n FROM cov GROUP BY doc_id),
tokpos AS (
  SELECT doc_id, unnest(tok) AS tk,
         unnest(generate_series(0, len(tok)-1)) AS i
  FROM toks
),
rebuilt AS (
  SELECT tp.doc_id,
         COALESCE(string_agg(CASE WHEN c.t IS NULL THEN tp.tk END,
                             ' ' ORDER BY tp.i), '') AS new_text
  FROM tokpos tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.t = tp.i
  GROUP BY tp.doc_id
)
SELECT d.doc_id,
       CASE WHEN n.n IS NULL THEN d.text ELSE COALESCE(r.new_text, '') END AS text,
       CAST(COALESCE(n.n, 0) AS INT) AS n_dropped_tokens
FROM documents d
LEFT JOIN ncov n ON n.doc_id = d.doc_id
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
"""


def q_exact_substring_keep1(spark, sf):
    """EXACTSUBSTR with the paper's other policy (keep="first"): the
    globally-first occurrence (min (doc_id, pos)) of each duplicated
    window survives, so the lowest-id holder of a duplicated span keeps it
    intact and every other copy is cut. The oracle expresses the canonical
    choice as row_number() over string-equal occurrences."""
    from ..operators.dedup import remove_repeated_substrings

    d = _t(spark, sf, "documents").select("doc_id", "text")
    return remove_repeated_substrings(d, window=8, keep="first").select(
        "doc_id", "text", "n_dropped_tokens"
    )


_SQL_EXACT_SUBSTRING_KEEP1 = """
WITH toks AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tok
  FROM documents
),
w AS (
  SELECT doc_id, unnest(generate_series(0, len(tok)-8)) AS p, tok
  FROM toks WHERE len(tok) >= 8
),
ws AS (SELECT doc_id, p, array_to_string(tok[p+1:p+8], ' ') AS s FROM w),
occ AS (
  SELECT doc_id, p,
         row_number() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn,
         count(*) OVER (PARTITION BY s) AS cnt
  FROM ws
),
dupocc AS (SELECT doc_id, p FROM occ WHERE cnt >= 2 AND rn > 1),
cov AS (
  SELECT DISTINCT doc_id, t FROM (
    SELECT doc_id, unnest(generate_series(p, p+7)) AS t FROM dupocc
  )
),
ncov AS (SELECT doc_id, COUNT(*) AS n FROM cov GROUP BY doc_id),
tokpos AS (
  SELECT doc_id, unnest(tok) AS tk,
         unnest(generate_series(0, len(tok)-1)) AS i
  FROM toks
),
rebuilt AS (
  SELECT tp.doc_id,
         COALESCE(string_agg(CASE WHEN c.t IS NULL THEN tp.tk END,
                             ' ' ORDER BY tp.i), '') AS new_text
  FROM tokpos tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.t = tp.i
  GROUP BY tp.doc_id
)
SELECT d.doc_id,
       CASE WHEN n.n IS NULL THEN d.text ELSE COALESCE(r.new_text, '') END AS text,
       CAST(COALESCE(n.n, 0) AS INT) AS n_dropped_tokens
FROM documents d
LEFT JOIN ncov n ON n.doc_id = d.doc_id
LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
"""


def q_decon_ngrams(spark, sf):
    """Exact 5-gram benchmark decontamination: the benchmark set is the
    token window 6..25 of every 25th document, so those source docs (and
    only docs genuinely sharing a full 5-token run) come back flagged.
    The benchmark gram-hash set is broadcast — bounded by construction."""
    from ..operators.dedup import decontaminate_ngrams

    d = _t(spark, sf, "documents").select("doc_id", "text")
    w = F.split(F.lower(F.trim("text")), r"\s+")
    bench = d.filter(F.col("doc_id") % 25 == 0).select(
        F.concat_ws(" ", F.slice(w, 6, 20)).alias("text")
    )
    return decontaminate_ngrams(d, bench, n=5)


_SQL_DECON_NGRAMS = r"""
WITH ct AS (
  SELECT doc_id, str_split_regex(lower(trim(text)), '\s+') AS w FROM documents
),
bt AS (
  SELECT str_split_regex(array_to_string(list_slice(w, 6, 25), ' '), '\s+') AS w
  FROM ct WHERE doc_id % 25 = 0
),
cg AS (
  SELECT DISTINCT doc_id,
         CASE WHEN len(w) < 5 THEN array_to_string(w, ' ')
              ELSE array_to_string(list_slice(w, i + 1, i + 5), ' ') END AS g
  FROM ct, LATERAL (SELECT unnest(generate_series(0, greatest(len(w) - 5, 0))) AS i)
),
bg AS (
  SELECT DISTINCT
         CASE WHEN len(w) < 5 THEN array_to_string(w, ' ')
              ELSE array_to_string(list_slice(w, i + 1, i + 5), ' ') END AS g
  FROM bt, LATERAL (SELECT unnest(generate_series(0, greatest(len(w) - 5, 0))) AS i)
),
totals AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM cg WHERE trim(g) <> '' GROUP BY doc_id
),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_hit_grams
  FROM cg c JOIN bg b ON c.g = b.g
  WHERE trim(c.g) <> ''
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       COALESCE(t.n_grams, 0) AS n_grams,
       COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
       (COALESCE(h.n_hit_grams, 0) >= 1) AS contaminated
FROM documents d
LEFT JOIN totals t ON d.doc_id = t.doc_id
LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


def q_simhash(spark, sf):
    return simhash_near_pairs(_near_dup_corpus(spark, sf), max_hamming=3)


def _simhash_sql(max_hamming: int = 3) -> str:
    """Recompute SimHash in SQL: 64-bit token hashes from two md5 32-bit
    prefixes, per-bit majority vote over token occurrences, 16-bit-chunk
    pigeonhole banding for candidates, sign-diff count for Hamming.
    (Assumes non-empty texts — holds for the driver corpus; empty docs hash
    to 0 in the kernel.)"""
    return f"""
WITH {_SQL_CORPUS_CTE},
toks AS (
  SELECT id, unnest(str_split_regex(trim(text), '\\s+')) AS tok
  FROM corpus WHERE length(trim(text)) > 0
),
th AS (
  SELECT id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS lo,
             CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS hi
  FROM toks
),
bitcnt AS (
  SELECT id, jj.j,
         SUM(CASE WHEN jj.j < 32 THEN (lo >> jj.j) & 1
                  ELSE (hi >> (jj.j - 32)) & 1 END) AS ones,
         COUNT(*) AS n
  FROM th, (SELECT unnest(generate_series(0, 63)) AS j) jj
  GROUP BY id, jj.j
),
signs AS (
  SELECT id, j, CASE WHEN 2 * ones > n THEN 1 ELSE 0 END AS s FROM bitcnt
),
chunks AS (
  SELECT id, j // 16 AS band_id,
         CAST(SUM(s * (1::BIGINT << (j % 16))) AS BIGINT) AS band_val
  FROM signs GROUP BY id, j // 16
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM chunks a JOIN chunks b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
),
ham AS (
  SELECT c.id_a, c.id_b, SUM(CASE WHEN sa.s <> sb.s THEN 1 ELSE 0 END) AS hamming
  FROM cand c
  JOIN signs sa ON sa.id = c.id_a
  JOIN signs sb ON sb.id = c.id_b AND sb.j = sa.j
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM ham WHERE hamming <= {max_hamming}
"""


def q_ngram_jaccard(spark, sf):
    return ngram_jaccard_pairs(
        _near_dup_corpus(spark, sf), n=3, threshold=0.5, max_shingle_df=30
    )


_SQL_NGRAM_JACCARD = r"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS id, text || ' appended mutation token' AS text
  FROM documents
), words AS (
  SELECT id, str_split_regex(text, '\s+') AS w FROM corpus
), grams AS (
  SELECT DISTINCT id, array_to_string(list_slice(w, i + 1, i + 3), ' ') AS gram
  FROM words, LATERAL (
    SELECT unnest(generate_series(0, greatest(len(w) - 3, 0))) AS i
  )
), sizes AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams GROUP BY id
), rare AS (
  SELECT g.id, g.gram FROM grams g
  JOIN (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= 30) r USING (gram)
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM rare a JOIN rare b ON a.gram = b.gram AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       ROUND(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = inter.id_a
JOIN sizes sb ON sb.id = inter.id_b
WHERE n_inter / (sa.n_grams + sb.n_grams - n_inter) >= 0.5
"""


def q_ann_lsh(spark, sf):
    e = _t(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return lsh_topk(e, qv, k=10, bits=6, probes=4).select(
        "vec_id", F.round("cosine", 4).alias("cosine")
    )


def q_media_features(spark, sf):
    d = _t(spark, sf, "documents")
    feats = decode_features(attach_media(d))
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("byte_entropy"), 3).alias("avg_entropy"),
        F.round(F.avg("n_bytes"), 1).alias("avg_bytes"),
    )


#: the media stub features are deterministic (8-bin byte histogram, L1
#: normalized to float32, Shannon entropy) — recomputable in SQL because the
#: driver documents are ASCII (code points == utf-8 bytes; the oracle-pair
#: test would fail loudly if that ever stopped holding)
_SQL_MEDIA_FEATURES = """
WITH chars AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '.', 0, 's')) AS ch FROM documents
), hist AS (
  SELECT doc_id, ord(ch) // 32 AS b, CAST(COUNT(*) AS DOUBLE) AS c
  FROM chars GROUP BY 1, 2
), ent AS (
  SELECT h.doc_id, t.total,
         -SUM(CAST(h.c / t.total AS REAL) * log2(CAST(h.c / t.total AS REAL))) AS e
  FROM hist h
  JOIN (SELECT doc_id, CAST(length(text) AS DOUBLE) AS total FROM documents) t
    USING (doc_id)
  GROUP BY h.doc_id, t.total
)
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(e), 3) AS avg_entropy,
       ROUND(AVG(total), 1) AS avg_bytes
FROM ent GROUP BY 1
"""


def q_media_frames(spark, sf):
    d = _t(spark, sf, "documents")
    frames = sample_frames(attach_media(d))
    return frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n_frames"))


_SQL_MEDIA_FRAMES = """
SELECT doc_id AS media_id,
       CAST(least(8, greatest(1, length(text) // 256)) AS BIGINT) AS n_frames
FROM documents WHERE doc_id % 3 = 2
"""


def q_media_resize(spark, sf):
    d = _t(spark, sf, "documents")
    resized = resize_media(attach_media(d), width=64, height=64)
    return resized.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.length("payload")), 1).alias("avg_payload_bytes"),
    )


#: resize contract: image payloads come out at exactly width*height bytes
#: (subsample or zero-pad); non-image payloads pass through untouched
_SQL_MEDIA_RESIZE = """
SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(CASE WHEN doc_id % 3 = 0 THEN 4096 ELSE length(text) END), 1)
         AS avg_payload_bytes
FROM documents GROUP BY 1
"""


def q_pii_redact(spark, sf):
    """PII audit + scrub (the BigScience/ROOTS-style web-corpus pass):
    per-kind match counts and typed-placeholder redaction for emails /
    IPv4s / phone runs, all chained ``regexp_replace``/``regexp_extract_all``
    inside whole-stage codegen. PII is injected deterministically from
    doc_id (address, international phone, dotted quad) so every pattern
    branch is exercised; counts are taken progressively (each kind counts
    on the text with earlier kinds already redacted) so they sum exactly to
    the placeholders in the output text."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 40)
    did = F.col("doc_id").cast("string")
    noised = F.concat(
        F.substring(F.col("text"), 1, 60),
        F.lit(" reach u"), did, F.lit("@mail"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".example.org or +44 20 79"), F.lpad(did, 2, "0"),
        F.lit(" 0452 from 10."), (F.col("doc_id") % 5).cast("string"),
        F.lit(".3."), did, F.lit(" today"),
    )
    return d.select(
        "doc_id",
        *textops.pii_counts(noised),
        textops.redact_pii(noised).alias("redacted"),
    )


_SQL_PII = r"""
WITH noised AS (
  SELECT doc_id,
         substring(text, 1, 60) || ' reach u' || doc_id || '@mail'
           || (doc_id % 3) || '.example.org or +44 20 79'
           || lpad(CAST(doc_id AS VARCHAR), 2, '0') || ' 0452 from 10.'
           || (doc_id % 5) || '.3.' || doc_id || ' today' AS t
  FROM documents WHERE doc_id < 40
), s1 AS (
  SELECT doc_id, t,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
  FROM noised
), s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ip,
         regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_email, n_ip,
       len(regexp_extract_all(t2, '\+\d[\d -]{6,14}\d')) AS n_phone,
       regexp_replace(t2, '\+\d[\d -]{6,14}\d', '[PHONE]', 'g') AS redacted
FROM s2
"""


def q_nfc_normalize(spark, sf):
    """Unicode canonicalization (the OSCAR/CCNet cleanup): NFC composition
    via the Arrow kernel + zero-width scrub via JVM regexp
    (`operators/normalize.py`). The fixture injects decomposed accents,
    a compatibility ligature (NFC-invariant — pinning that NFC does NOT
    fold it) and zero-width joiners by doc_id class, so composed/stripped/
    unchanged branches all appear; n_chars before/after pin the change."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 40)
    head = F.substring(F.col("text"), 1, 40)
    inject = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" cafe\u0301 cre\u0300me"))
        .when(F.col("doc_id") % 4 == 1, F.lit(" A\u030arhus"))
        .when(F.col("doc_id") % 4 == 2, F.lit(" \ufb01ne\u200bprint"))
        .otherwise(F.lit(" plain ascii"))
    )
    noised = F.concat(head, inject)
    norm = normalize_text(noised)
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(noised).alias("n_before"),
        F.length(norm).alias("n_after"),
    )


_SQL_NFC = """
WITH noised AS (
  SELECT doc_id,
         substring(text, 1, 40)
           || CASE doc_id % 4
              WHEN 0 THEN ' cafe\u0301 cre\u0300me'
              WHEN 1 THEN ' A\u030arhus'
              WHEN 2 THEN ' \ufb01ne\u200bprint'
              ELSE ' plain ascii' END AS t
  FROM documents WHERE doc_id < 40
)
SELECT doc_id,
       regexp_replace(nfc_normalize(t), '[\u200b\u200c\u200d\ufeff]', '', 'g')
         AS norm_text,
       length(t) AS n_before,
       length(regexp_replace(nfc_normalize(t), '[\u200b\u200c\u200d\ufeff]', '', 'g'))
         AS n_after
FROM noised
"""


def q_vocab_topk(spark, sf):
    """Corpus vocabulary statistics: top-25 tokens by DOCUMENT frequency
    (each doc counts a token once — `array_distinct` before the explode,
    so a token-spamming page can't dominate). Partial aggregation at the
    map side, global top-k via TakeOrderedAndProject (never a full sort);
    deterministic tie-break on the token."""
    d = _t(spark, sf, "documents")
    words = d.select(
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
        ).alias("w")
    ).filter(F.col("w") != "")
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("w"))
        .limit(25)
    )


_SQL_VOCAB = r"""
WITH words AS (
  SELECT w
  FROM documents,
       LATERAL (SELECT unnest(list_distinct(str_split_regex(lower(text), '\s+'))) AS w)
  WHERE w <> ''
)
SELECT w, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM words GROUP BY w
ORDER BY doc_freq DESC, w ASC
LIMIT 25
"""


def q_gopher_rules(spark, sf):
    """The published Gopher/MassiveText document-quality rules as one
    scan-speed pass: per-doc boolean flags (word-count band, mean word
    length, symbol ratio, duplicate segments, distinct-stopword floor) and
    the composite keep decision. A real curation run filters on ``keep``
    (predicate pushes to the scan); emitting the flags makes the rule mix
    auditable — every large-corpus paper reports exactly this table."""
    d = _t(spark, sf, "documents")
    return d.select("doc_id", *textops.gopher_flags(F.col("text")))


_SQL_GOPHER = r"""
WITH base AS (
  SELECT doc_id, text,
         str_split_regex(lower(text), '\s+') AS words,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(str_split_regex(trim(text), '\s+')) END AS n_words,
         list_filter(str_split_regex(trim(text), '\.\s+'),
                     s -> length(s) > 0) AS segs
  FROM documents
), flags AS (
  SELECT doc_id,
         n_words >= 50 AND n_words <= 100000 AS ok_word_count,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
           / CAST(greatest(n_words, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0
           AS ok_mean_word_len,
         len(regexp_extract_all(text, '#|\.\.\.|…'))
           / CAST(greatest(n_words, 1) AS DOUBLE) < 0.1 AS ok_symbol_ratio,
         CASE WHEN len(segs) <= 0 THEN 0.0
              ELSE (len(segs) - len(list_distinct(segs))) / CAST(len(segs) AS DOUBLE)
              END < 0.3 AS ok_dup_segments,
         len(list_distinct(list_filter(words,
             w -> w IN ('the','a','of','and','to','in','is','for','on','with')))) >= 2
           AS ok_stopwords
  FROM base
)
SELECT doc_id, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
       ok_dup_segments, ok_stopwords,
       ok_word_count AND ok_mean_word_len AND ok_symbol_ratio
         AND ok_dup_segments AND ok_stopwords AS keep
FROM flags
"""


def q_pack_sequences(spark, sf):
    """P10: sequence packing (concatenate-then-chunk) — every doc mapped to
    its training-sequence span via a DISTRIBUTED exclusive prefix sum over
    token counts (two-level: per-bucket subtotals take the only
    single-partition window, one row per bucket; the per-doc running sums
    are fully partitioned — ``operators/packing.py``). ``bucket_size=64``
    forces the multi-bucket path at catalog scale. The oracle is the naive
    one-window SQL: same values, deliberately different plan."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", textops.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    return pack_sequences(toks, seq_len=512, bucket_size=64)


_SQL_PACK = r"""
WITH t AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(str_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM t
)
SELECT doc_id, n_tok, cum_before,
       CAST(FLOOR(cum_before / 512) AS BIGINT) AS first_seq,
       CAST(FLOOR((cum_before + greatest(n_tok - 1, 0)) / 512) AS BIGINT) AS last_seq,
       cum_before % 512 AS seq_offset
FROM c
"""


def q_blocklist(spark, sf):
    """Domain/path blocklist filter (the UT1-style crawl exclusion pass):
    drop docs whose registrable domain is on the blocklist (broadcast
    LEFT ANTI join — the list is bounded by construction, like the
    benchmark gram set in decontamination) or whose path carries a blocked
    keyword (scan-level predicate). URLs are synthesized deterministically
    from doc_id so the whole host-parse/eTLD+1 chain is under test; output
    is the per-domain survivor count."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    url = F.concat(
        F.lit("https://sub"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".ex"),
        (F.col("doc_id") % 4).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".com"))
        .otherwise(F.lit(".org")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("/ads/")).otherwise(F.lit("/p/")),
        F.col("doc_id").cast("string"),
    )
    sel = d.select(
        "doc_id",
        url.alias("url"),
        textops.registrable_domain(url).alias("domain"),
    ).filter(~F.col("url").rlike("/ads/"))
    blocked = spark.createDataFrame(
        [("ex0.co.uk",), ("ex2.com",), ("ex3.org",)], ["domain"]
    )
    kept = sel.join(F.broadcast(blocked), "domain", "left_anti")
    return kept.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))


_SQL_BLOCKLIST = r"""
WITH u AS (
  SELECT doc_id,
         'https://sub' || (doc_id % 5) || '.ex' || (doc_id % 4)
           || CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
              ELSE '.org' END
           || CASE WHEN doc_id % 7 = 0 THEN '/ads/' ELSE '/p/' END
           || doc_id AS url,
         'ex' || (doc_id % 4)
           || CASE doc_id % 3 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
              ELSE '.org' END AS domain
  FROM documents WHERE doc_id < 200
)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM u
WHERE NOT regexp_matches(url, '/ads/')
  AND domain NOT IN ('ex0.co.uk', 'ex2.com', 'ex3.org')
GROUP BY domain
"""


# --------------------------------------------------------------------------
# web-graph curation: domain link graph + PageRank centrality
# --------------------------------------------------------------------------

def _link_pages(spark, sf):
    """Deterministic linked-page corpus: 400 pages on 60 registrable
    domains, each page carrying two anchors (one bare-host, one www-host —
    both eTLD+1 branches) plus a non-anchor ``<link href>`` decoy that the
    extractor must NOT match. Everything derives arithmetically from
    doc_id, so oracles can re-derive the expected edges instead of
    mirroring the regex chain."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 400)
    a1 = ((F.col("doc_id") * 7 + 3) % 400) % 60
    a2 = ((F.col("doc_id") * 13 + 5) % 400) % 60
    url = F.concat(
        F.lit("https://www.site"),
        (F.col("doc_id") % 60).cast("string"),
        F.lit(".com/p/"),
        F.col("doc_id").cast("string"),
    )
    html = F.concat(
        F.lit('<html><head><link href="https://cdn.example.com/s.css">'
              '</head><body><a class="n" href="https://site'),
        a1.cast("string"),
        F.lit('.com/page">t</a><p>x</p><a href="https://www.site'),
        a2.cast("string"),
        F.lit('.com/q?x=1">u</a></body></html>'),
    )
    return d.select(url.alias("url"), html.alias("html_str"))


#: the arithmetic edge derivation shared by both web-graph oracles —
#: verifies the Spark side's regex extraction + host parse + eTLD+1 chain
#: end-to-end rather than mirroring it
_LINK_EDGE_CTES = """
ids AS (SELECT doc_id FROM documents WHERE doc_id < 400),
links AS (
  SELECT 'site' || (doc_id % 60) || '.com' AS src,
         'site' || (((doc_id * 7 + 3) % 400) % 60) || '.com' AS dst FROM ids
  UNION ALL
  SELECT 'site' || (doc_id % 60) || '.com',
         'site' || (((doc_id * 13 + 5) % 400) % 60) || '.com' FROM ids
),
edges AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n_links
  FROM links WHERE src <> dst GROUP BY src, dst
)"""


def q_link_graph(spark, sf):
    """Domain-level link graph from raw html (SURVEY §2 LLM-pipeline
    surface): JVM regex anchor extraction → registrable-domain resolution
    on both endpoints → edge counts. The html never shuffles — only the
    exploded (src, dst) string pairs reach the aggregation. Oracle derives
    the expected edges arithmetically from doc_id, so the whole
    extract→host→eTLD+1 chain is verified end-to-end."""
    return link_edges(_link_pages(spark, sf))


_SQL_LINK_GRAPH = f"""
WITH {_LINK_EDGE_CTES}
SELECT src, dst, n_links FROM edges
"""


def q_domain_rank(spark, sf):
    """PageRank domain centrality over the link graph (3 damped rounds —
    the Common-Crawl-style host-ranking quality prior). Iterates on
    (node, rank) / (src, dst, frac) frames only; the node count enters the
    plan as a broadcast one-row aggregate, not a driver action. Oracle
    computes the identical series as chained CTEs (same damping
    expression, same dangling-node convention); floats round only at the
    final projection."""
    ranks = pagerank(link_edges(_link_pages(spark, sf)), iters=3, damping=0.85)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


_SQL_DOMAIN_RANK = f"""
WITH {_LINK_EDGE_CTES},
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outw AS (SELECT src, SUM(CAST(n_links AS DOUBLE)) AS tot FROM edges GROUP BY src),
e2 AS (SELECT e.src, e.dst, CAST(e.n_links AS DOUBLE) / o.tot AS frac
       FROM edges e JOIN outw o ON e.src = o.src),
r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
m1 AS (SELECT dst, SUM(rank * frac) AS mass FROM e2 JOIN r0 ON e2.src = r0.node GROUP BY dst),
r1 AS (SELECT node, (1 - 0.85) / n + 0.85 * COALESCE(mass, 0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN m1 ON node = m1.dst),
m2 AS (SELECT dst, SUM(rank * frac) AS mass FROM e2 JOIN r1 ON e2.src = r1.node GROUP BY dst),
r2 AS (SELECT node, (1 - 0.85) / n + 0.85 * COALESCE(mass, 0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN m2 ON node = m2.dst),
m3 AS (SELECT dst, SUM(rank * frac) AS mass FROM e2 JOIN r2 ON e2.src = r2.node GROUP BY dst),
r3 AS (SELECT node, (1 - 0.85) / n + 0.85 * COALESCE(mass, 0) AS rank
       FROM nodes CROSS JOIN nn LEFT JOIN m3 ON node = m3.dst)
SELECT node, ROUND(rank, 8) AS rank FROM r3
"""


# --------------------------------------------------------------------------
# curation: stratified mixture sampling, LR quality classifier, in-doc
# paragraph dedup
# --------------------------------------------------------------------------

def q_sample_mixture(spark, sf):
    """Deterministic stratified corpus-mixture sampling — the
    language/quality rebalancing pass every multilingual corpus build runs
    (CC-100/ROOTS-style). Stratum = (lang-id heuristic, quality >= 0.5);
    per-stratum keep rates are literal; the keep decision is a salted md5
    uniform on doc_id, so the sample is layout-independent (stable across
    resumes/AQE re-plans, unlike ``df.sample``) and exactly reproducible
    by the oracle. One scan, one hash exchange on the narrow stratum key."""
    d = _t(spark, sf, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    lang = textops.lang_id(F.col("text"), words=words)
    hi = textops.quality_score(F.col("text"), words=words) >= 0.5
    rate = (
        F.when(lang == "en", F.when(hi, F.lit(1.0)).otherwise(F.lit(0.6)))
        .when(lang == "de", F.when(hi, F.lit(0.8)).otherwise(F.lit(0.4)))
        .when(lang == "es", F.when(hi, F.lit(0.8)).otherwise(F.lit(0.4)))
        .otherwise(F.when(hi, F.lit(0.3)).otherwise(F.lit(0.1)))
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10000
    ) / 10000.0
    return (
        d.select(lang.alias("pred_lang"), hi.alias("hi_quality"), (u < rate).alias("keep"))
        .groupBy("pred_lang", "hi_quality")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
    )


_SQL_SAMPLE_MIXTURE = """
WITH scored AS (
  SELECT
    CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 20
              > greatest(length(text), 1) THEN 'zh'
         WHEN len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) >=
              len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('der','die','das','und','ist','mit','für')))
          AND len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) >=
              len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('el','la','los','de','que','y','es')))
          AND len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('the','a','of','and','to','in','is','for','on','with'))) > 0
          THEN 'en'
         WHEN len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('der','die','das','und','ist','mit','für'))) >=
              len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('el','la','los','de','que','y','es')))
          AND len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('der','die','das','und','ist','mit','für'))) > 0
          THEN 'de'
         WHEN len(list_filter(str_split_regex(lower(text), '\\s+'),
              w -> w IN ('el','la','los','de','que','y','es'))) > 0
          THEN 'es'
         ELSE 'unk' END AS pred_lang,
    (0.4 * least(length(text) / 500.0, 1.0)
   + 0.4 * least(4.0 * len(list_filter(str_split_regex(lower(text), '\\s+'),
         w -> w IN ('the','a','of','and','to','in','is','for','on','with')))
         / greatest(len(str_split_regex(lower(text), '\\s+')), 1), 1.0)
   + 0.2 * (1.0 - least(10.0 * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
         / greatest(length(text), 1), 1.0))) >= 0.5 AS hi_quality,
    (CAST('0x' || substr(md5(doc_id || ':mix'), 1, 8) AS BIGINT) % 10000) / 10000.0 AS u
  FROM documents
)
SELECT pred_lang, hi_quality,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN u < CASE pred_lang
                 WHEN 'en' THEN CASE WHEN hi_quality THEN 1.0 ELSE 0.6 END
                 WHEN 'de' THEN CASE WHEN hi_quality THEN 0.8 ELSE 0.4 END
                 WHEN 'es' THEN CASE WHEN hi_quality THEN 0.8 ELSE 0.4 END
                 ELSE CASE WHEN hi_quality THEN 0.3 ELSE 0.1 END END
             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM scored GROUP BY pred_lang, hi_quality
"""


def q_quality_lr(spark, sf):
    """Model-based quality scoring — the GPT-3/CCNet-style classifier
    filter as a literal-weight logistic model over scan-computable
    features (the trained weights of a real deployment would arrive as
    literals exactly like this; no Python, no shuffle of text). Outputs
    the score-decile histogram + mean probability per decile."""
    d = _t(spark, sf, "documents")
    words = F.split(F.lower(F.col("text")), r"\s+")
    q = textops.quality_score(F.col("text"), words=words)
    n_words = F.size(words)
    alpha = F.length(F.regexp_replace(F.col("text"), r"[^A-Za-z]", ""))
    mean_wl = alpha / F.greatest(n_words, F.lit(1)).cast("double")
    z = F.lit(-2.0) + F.lit(4.0) * q + F.lit(0.2) * mean_wl
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    bucket = F.least(F.floor(p * 10), F.lit(9)).cast("int")
    return (
        d.select(bucket.alias("decile"), p.alias("p"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("p"), 6).alias("avg_p"),
        )
    )


_SQL_QUALITY_LR = """
WITH feats AS (
  SELECT
    0.4 * least(length(text) / 500.0, 1.0)
  + 0.4 * least(4.0 * len(list_filter(str_split_regex(lower(text), '\\s+'),
        w -> w IN ('the','a','of','and','to','in','is','for','on','with')))
        / greatest(len(str_split_regex(lower(text), '\\s+')), 1), 1.0)
  + 0.2 * (1.0 - least(10.0 * length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        / greatest(length(text), 1), 1.0)) AS q,
    length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
      / CAST(greatest(len(str_split_regex(lower(text), '\\s+')), 1) AS DOUBLE) AS mean_wl
  FROM documents
), scored AS (
  SELECT 1.0 / (1.0 + exp(-(-2.0 + 4.0 * q + 0.2 * mean_wl))) AS p FROM feats
)
SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(AVG(p), 6) AS avg_p
FROM scored GROUP BY decile
"""


def q_dedup_paragraphs(spark, sf):
    """In-document repeated-segment removal, keep-first (the intra-doc
    complement of ``dedup_lines``' cross-doc rule): segments split on
    '. ', a segment survives iff it is the first occurrence of its value
    within the document, surviving segments rejoin in original order.
    Entirely in-row JVM higher-order functions — zero exchanges, runs at
    scan speed; the clean text is fingerprinted (md5) so the comparison is
    byte-exact while rows stay narrow. Each doc gets its lead sentence
    re-appended twice so the rule always has work to do."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 60)
    head = F.substring(F.col("text"), 1, 40)
    t = F.concat_ws(". ", head, F.col("text"), head, head, F.lit("End"))
    segs = F.split(t, r"\. ")
    kept = F.filter(
        segs, lambda s, i: F.array_position(segs, s) == i + F.lit(1)
    )
    return d.select(
        "doc_id",
        F.size(segs).alias("n_segs"),
        F.size(kept).alias("n_kept"),
        F.md5(F.concat_ws(". ", kept)).alias("clean_fp"),
    )


_SQL_DEDUP_PARAGRAPHS = """
WITH built AS (
  SELECT doc_id,
         str_split(text[1:40] || '. ' || text || '. ' || text[1:40] || '. '
                   || text[1:40] || '. End', '. ') AS segs
  FROM documents WHERE doc_id < 60
)
SELECT doc_id,
       CAST(len(segs) AS INTEGER) AS n_segs,
       CAST(len(list_filter(segs, (s, i) -> list_position(segs, s) = i)) AS INTEGER) AS n_kept,
       md5(array_to_string(list_filter(segs, (s, i) -> list_position(segs, s) = i),
           '. ')) AS clean_fp
FROM built
"""


# The thematic catalog. Exposed as QUERIES below, ordered by the last round
# that recorded each entry in the committed CORRECTNESS_r{N}.json files,
# oldest first: the external correctness check walks the dict in insertion
# order and records at most ~50 entries per round, so every entry cycles
# through external verification and none sits permanently past the cap. The
# FULL catalog always runs uncapped in tests/test_oracle_catalog.py.
_CATALOG = {
    "flagship_extract": flagship,
    "cluster_kmeans": q_cluster_kmeans,
    "dedup_semantic": q_semantic_dedup,
    "dedup_semantic_fitted": q_semantic_dedup_fitted,
    "j3_range_join": q_range_join,
    "j4_sessionize": q_sessionize,
    "web_link_graph": q_link_graph,
    "web_domain_rank": q_domain_rank,
    "curation_sample_mixture": q_sample_mixture,
    "curation_quality_lr": q_quality_lr,
    "dedup_paragraphs": q_dedup_paragraphs,
    "text_pii_redact": q_pii_redact,
    "text_nfc_normalize": q_nfc_normalize,
    "text_vocab_topk": q_vocab_topk,
    "curation_gopher_rules": q_gopher_rules,
    "p10_pack_sequences": q_pack_sequences,
    "curation_blocklist": q_blocklist,
    "text_bpe_tokens": q_bpe_tokens,
    "text_quality": q_quality,
    "text_url_ops": q_url_ops,
    "text_repetition": q_repetition,
    "text_top_gram_share": q_top_gram_share,
    "curation_domain_quota": q_domain_quota,
    "p4_train_filter": q_train_filter,
    "p7_train_split": q_train_split,
    "p8_training_prep": q_training_prep,
    "j6_semi_anti": q_semi_anti,
    "j7_asof_join": q_asof_join,
    "dedup_embedding_cosine": q_embedding_near_dup,
    "dedup_embedding_lsh": q_embedding_lsh,
    "w4_rank_frames": q_rank_frames,
    "s4_fixture_scan": q_fixture_scan,
    "s5_span_table": q_span_table,
    "s9_pdf_extract": q_pdf_extract,
    "w5_chunked_extract": q_chunked_extract,
    "stream_span_rates": q_stream_span_rates,
    "stream_first_seen": q_stream_first_seen,
    "dedup_minhash_lsh": q_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "dedup_incremental": q_incremental_dedup,
    "dedup_lines": q_dedup_lines,
    "dedup_exact_substring": q_exact_substring,
    "dedup_exact_substring_keep1": q_exact_substring_keep1,
    "decon_ngram_overlap": q_decon_ngrams,
    "p9_near_dup_prep": q_near_dup_prep,
    "p9_near_dup_prep_star": q_near_dup_prep_star,
    "p11_substring_prep": q_substring_prep,
    "p11_substring_prep_star": q_substring_prep_star,
    "p11_substring_prep_mix": q_substring_prep_mix,
    "dedup_simhash": q_simhash,
    "dedup_ngram_jaccard": q_ngram_jaccard,
    "sim_ann_lsh": q_ann_lsh,
    "sim_ann_join": q_ann_join,
    "sim_ivf_kmeans": q_ivf_kmeans,
    "mm_media_features": q_media_features,
    "mm_media_frames": q_media_frames,
    "mm_media_resize": q_media_resize,
    "q1_pricing_summary": q_pricing_summary,
    "j2_region_rollup": q_region_rollup,
    "q9_profit_star": q_profit_by_nation_brand,
    "w2_interval_merge": q_interval_merge,
    "k1_topk_per_group": q_topk_per_group,
    "dedup_exact": q_dedup_exact,
    "sim_cosine_topk": q_cosine_topk,
    "skew_salted_agg": q_salted_agg,
    "a3_rollup": q_rollup,
    "text_lang_id": q_lang_id,
    "text_fingerprint": q_fingerprint,
    "q17_small_qty": q_small_qty_revenue,
    "a2_ordered_concat": q_ordered_concat,
    "w1_first_per_group": q_first_per_group,
    "text_token_stats": q_token_stats,
    "j5_next_event": q_next_event,
    "q3_shipping_priority": q_shipping_priority,
    "j1_zip_positional": q_zip_positional,
    "q6_revenue_scalar": q_revenue_scalar,
    "a1_mode": q_mode,
    "k2_global_topk": q_global_topk,
    "set_ops": q_set_ops,
    "set_distinct": q_distinct_pairs,
    "f_json_extract": q_json_extract,
    "f_array_stats": q_array_stats,
    "f_date_ops": q_date_ops,
}

def _recorded_rounds() -> dict[str, int]:
    """Highest CORRECTNESS_r{N}.json round that records each entry. Empty
    where the files are absent (an executor importing the shipped zip)."""
    rounds: dict[str, int] = {}
    for path in Path(__file__).resolve().parents[2].glob("CORRECTNESS_r*.json"):
        n = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            rounds[name] = max(n, rounds.get(name, 0))
    return rounds


_ROUNDS = _recorded_rounds()
# Never-recorded entries get round 0; the sort is stable, so entries of the
# same round keep their thematic _CATALOG order.
QUERIES = dict(sorted(_CATALOG.items(), key=lambda kv: _ROUNDS.get(kv[0], 0)))

ORACLES = {
    "q1_pricing_summary": _SQL_PRICING,
    "q6_revenue_scalar": _SQL_REVENUE,
    "j2_region_rollup": _SQL_REGION,
    "q3_shipping_priority": _SQL_SHIPPING,
    "q9_profit_star": _SQL_PROFIT,
    "q17_small_qty": _SQL_SMALL_QTY,
    "j1_zip_positional": _SQL_ZIP,
    "j3_range_join": _SQL_RANGE,
    "j4_sessionize": _SQL_SESSIONIZE,
    "j5_next_event": _SQL_NEXT,
    "a1_mode": _SQL_MODE,
    "a2_ordered_concat": _SQL_ORDERED_CONCAT,
    "w1_first_per_group": _SQL_FIRST,
    "w2_interval_merge": _SQL_INTERVAL_MERGE,
    "k1_topk_per_group": _SQL_TOPK_GROUP,
    "k2_global_topk": _SQL_GLOBAL_TOPK,
    "set_ops": _SQL_SET_OPS,
    "set_distinct": _SQL_DISTINCT,
    "f_json_extract": _SQL_JSON,
    "f_array_stats": _SQL_ARRAY_STATS,
    "f_date_ops": _SQL_DATE_OPS,
    "dedup_exact": _SQL_DEDUP_EXACT,
    "text_token_stats": _SQL_TOKEN_STATS,
    "text_bpe_tokens": _SQL_BPE,
    "text_lang_id": _SQL_LANG_ID,
    "text_quality": _SQL_QUALITY,
    "text_pii_redact": _SQL_PII,
    "dedup_incremental": _incremental_sql(),
    "text_nfc_normalize": _SQL_NFC,
    "text_vocab_topk": _SQL_VOCAB,
    "curation_gopher_rules": _SQL_GOPHER,
    "p10_pack_sequences": _SQL_PACK,
    "curation_blocklist": _SQL_BLOCKLIST,
    "text_fingerprint": _SQL_FINGERPRINT,
    "text_url_ops": _SQL_URL_OPS,
    "text_repetition": _SQL_REPETITION,
    "text_top_gram_share": _SQL_TOP_GRAM,
    "curation_domain_quota": _SQL_DOMAIN_QUOTA,
    "sim_cosine_topk": _SQL_COSINE,
    "p4_train_filter": _SQL_TRAIN_FILTER,
    "p7_train_split": _SQL_TRAIN_SPLIT,
    "p8_training_prep": _SQL_TRAINING_PREP,
    "skew_salted_agg": _SQL_SALTED_AGG,
    "j6_semi_anti": _SQL_SEMI_ANTI,
    "j7_asof_join": _SQL_ASOF,
    "a3_rollup": _SQL_ROLLUP,
    "dedup_embedding_cosine": _SQL_EMB_NEAR_DUP,
    "dedup_embedding_lsh": _emb_lsh_sql(),
    "cluster_kmeans": _kmeans_sql(),
    "dedup_semantic": _semantic_dedup_sql(),
    "dedup_semantic_fitted": _semantic_dedup_fitted_sql(),
    "sim_ann_lsh": _ann_lsh_sql(),
    "sim_ann_join": _ann_join_sql(),
    "sim_ivf_kmeans": _ivf_kmeans_sql(),
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_clusters": _clusters_sql(),
    "dedup_clusters_star": _clusters_star_sql(),
    "dedup_lines": _SQL_DEDUP_LINES,
    "dedup_exact_substring": _SQL_EXACT_SUBSTRING,
    "dedup_exact_substring_keep1": _SQL_EXACT_SUBSTRING_KEEP1,
    "decon_ngram_overlap": _SQL_DECON_NGRAMS,
    "p9_near_dup_prep": _near_dup_prep_sql(),
    "p9_near_dup_prep_star": _near_dup_prep_star_sql(),
    "p11_substring_prep": _substring_prep_sql(),
    "p11_substring_prep_star": _substring_prep_star_sql(),
    "p11_substring_prep_mix": _substring_prep_mix_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_ngram_jaccard": _SQL_NGRAM_JACCARD,
    "w4_rank_frames": _SQL_RANK_FRAMES,
    "s4_fixture_scan": _SQL_FIXTURE_SCAN,
    "s9_pdf_extract": _pdf_extract_sql(),
    "mm_media_features": _SQL_MEDIA_FEATURES,
    "mm_media_frames": _SQL_MEDIA_FRAMES,
    "mm_media_resize": _SQL_MEDIA_RESIZE,
    "w5_chunked_extract": _SQL_CHUNKED_EXTRACT,
    "stream_span_rates": _SQL_STREAM_RATES,
    "stream_first_seen": _SQL_STREAM_FIRST_SEEN,
    "s5_span_table": _SQL_SPAN_TABLE,
    "web_link_graph": _SQL_LINK_GRAPH,
    "web_domain_rank": _SQL_DOMAIN_RANK,
    "curation_sample_mixture": _SQL_SAMPLE_MIXTURE,
    "curation_quality_lr": _SQL_QUALITY_LR,
    "dedup_paragraphs": _SQL_DEDUP_PARAGRAPHS,
}
