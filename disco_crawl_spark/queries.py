"""Driver-contract query registry: every operator class from SURVEY.md §2
re-expressed over the driver's testdata tables, each with a DuckDB oracle
where ANSI-SQL can express it (rows-only otherwise; those are verified
against pure-Python oracles in pytest instead).

Naming convention: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
value-hashing. Doubles are rounded (2-6 dp depending on magnitude) on BOTH
sides so accumulation-order float noise cannot flip the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import functions as cf
from . import sources
from .operators import (dedup, graph, multimodal, schedule, similarity,
                        sketch, textstats)
from .operators.diff import content_novelty, snapshot_diff

QUERY_VEC = [1.0 if i % 3 == 0 else (0.5 if i % 3 == 1 else -0.25)
             for i in range(64)]
_QVEC_SQL = "[" + ", ".join(str(x) for x in QUERY_VEC) + "]::DOUBLE[]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


REGISTRY: dict = {}


def q(name: str, sql: "str | None"):
    def deco(fn):
        REGISTRY[name] = (fn, sql)
        return fn
    return deco


# ===========================================================================
# §2.2 projections / filters / predicates
# ===========================================================================


@q("scope_filter", """
SELECT doc_id, source, n_chars FROM documents
WHERE lang = 'en' AND n_chars >= 200
""")
def scope_filter(spark, sf):
    # gov.au-scope analog: predicate + projection, pushdown-friendly
    d = _t(spark, sf, "documents")
    return (d.filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
            .select("doc_id", "source", "n_chars"))


@q("jurisdiction_case", """
SELECT n_name,
       CASE WHEN r_name IN ('ASIA', 'AFRICA') THEN 'EAST'
            WHEN r_name = 'EUROPE' THEN 'EU'
            ELSE 'OTHER' END AS zone
FROM nation JOIN region ON n_regionkey = r_regionkey
""")
def jurisdiction_case(spark, sf):
    # the when/otherwise classifier chain (parser.py:279-293 shape)
    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    j = n.join(r, n.n_regionkey == r.r_regionkey)
    zone = (F.when(F.col("r_name").isin("ASIA", "AFRICA"), "EAST")
            .when(F.col("r_name") == "EUROPE", "EU").otherwise("OTHER"))
    return j.select("n_name", zone.alias("zone"))


@q("suspicious_filter", """
SELECT event_id, props FROM events
WHERE props NOT LIKE '%@%' AND props LIKE '%k%' AND user_id % 7 <> 0
""")
def suspicious_filter(spark, sf):
    e = _t(spark, sf, "events")
    return (e.filter(~F.col("props").contains("@") & F.col("props").contains("k")
                     & (F.col("user_id") % 7 != 0))
            .select("event_id", "props"))


# ===========================================================================
# §2.3 joins (incl. the anti-join heart of the crawler)
# ===========================================================================


@q("seen_anti_join", """
SELECT o_orderkey, o_totalprice FROM orders
WHERE NOT EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
""")
def seen_anti_join(spark, sf):
    # the URL-seen anti-join shape (worker.py:739-746): candidates minus the
    # seen set; broadcast-able dimension side
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    seen = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (o.join(F.broadcast(seen), o.o_custkey == seen.c_custkey,
                   "left_anti")
            .select("o_orderkey", "o_totalprice"))


@q("lock_semi_join", """
SELECT o_orderkey, o_orderpriority FROM orders
WHERE EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = o_custkey AND c_acctbal > 5000)
""")
def lock_semi_join(spark, sf):
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (o.join(F.broadcast(rich), o.o_custkey == rich.c_custkey,
                   "left_semi")
            .select("o_orderkey", "o_orderpriority"))


@q("fetch_left_join", """
SELECT e.event_id, e.user_id, c.c_name
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'click'
""")
def fetch_left_join(spark, sf):
    # the fetch join shape: schedule LEFT JOIN pages (miss = 404)
    e, c = _t(spark, sf, "events"), _t(spark, sf, "customer")
    return (e.filter(F.col("event_type") == "click")
            .join(c, e.user_id == c.c_custkey, "left")
            .select("event_id", "user_id", "c_name"))


@q("discovery_distinct_antijoin", """
SELECT DISTINCT l_partkey FROM lineitem
WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size >= 10)
""")
def discovery_distinct_antijoin(spark, sf):
    # new-domain discovery: distinct referenced keys minus the known set
    l, p = _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    known = p.filter(F.col("p_size") >= 10).select(
        F.col("p_partkey").alias("l_partkey"))
    return (l.select("l_partkey").distinct()
            .join(F.broadcast(known), "l_partkey", "left_anti"))


# ===========================================================================
# §2.4 aggregations
# ===========================================================================


@q("agg_counts", """
SELECT event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value,
       round(avg(value), 4) AS avg_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
""")
def agg_counts(spark, sf):
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"))


@q("tpch_q1", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark, sf):
    l = _t(spark, sf, "lineitem")
    return (l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count(F.lit(1)).alias("count_order")))


@q("tpch_q3_topk", """
SELECT o_orderkey, round(revenue, 2) AS revenue FROM (
  SELECT o_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue
  FROM customer, orders, lineitem
  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
    AND l_orderkey = o_orderkey
  GROUP BY o_orderkey)
ORDER BY round(revenue, 2) DESC, o_orderkey LIMIT 10
""")
def tpch_q3_topk(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o, l = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    return (c.join(o, c.c_custkey == o.o_custkey)
            .join(l, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderkey")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
            .limit(10))


@q("tpch_q5_join_chain", """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
GROUP BY n_name
""")
def tpch_q5_join_chain(spark, sf):
    c, o, l = (_t(spark, sf, "customer"), _t(spark, sf, "orders"),
               _t(spark, sf, "lineitem"))
    s, n, r = (_t(spark, sf, "supplier"), _t(spark, sf, "nation"),
               _t(spark, sf, "region"))
    return (c.join(o, c.c_custkey == o.o_custkey)
            .join(l, l.l_orderkey == o.o_orderkey)
            .join(s, (l.l_suppkey == s.s_suppkey)
                  & (c.c_nationkey == s.s_nationkey))
            .join(n, s.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
                  n.n_regionkey == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue")))


# ===========================================================================
# §2.5 windows / sorts / limits / top-k
# ===========================================================================


@q("window_budget_rank", """
SELECT event_id, user_id, rn FROM (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events)
WHERE rn <= 3
""")
def window_budget_rank(spark, sf):
    # the per-host politeness budget window (SURVEY §2.5): row_number ≤ k
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("event_id", "user_id", "rn"))


@q("steward_hash_order", """
SELECT user_id FROM (
  SELECT DISTINCT user_id FROM events)
ORDER BY md5(user_id::VARCHAR || '|7') LIMIT 20
""")
def steward_hash_order(spark, sf):
    # the steward's seeded-hash shuffle replacement (SURVEY §8.4)
    e = _t(spark, sf, "events")
    return (e.select("user_id").distinct()
            .orderBy(F.md5(F.concat(F.col("user_id").cast("string"),
                                    F.lit("|7"))))
            .limit(20))


@q("sessionize_lag", """
SELECT user_id, n_sessions FROM (
  SELECT user_id,
         CAST(sum(new_session) AS BIGINT) AS n_sessions
  FROM (
    SELECT user_id,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 30 MINUTE OR
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events)
  GROUP BY user_id)
""")
def sessionize_lag(spark, sf):
    # stateful-stream semantics in batch form: 30-min-gap sessionization
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # microsecond-precision gap: a second-truncated cast would misclassify a
    # sub-second straddle of the 1800 s boundary (VERDICT r1 "What's wrong" #2)
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp"))
    new_s = F.when(prev.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return (e.withColumn("new_session", new_s)
            .groupBy("user_id")
            .agg(F.sum("new_session").alias("n_sessions")))


# ===========================================================================
# §2.6 set operations
# ===========================================================================


@q("union_dedup", """
SELECT user_id, event_type FROM (
  SELECT user_id, event_type FROM events WHERE value > 150
  UNION
  SELECT user_id, event_type FROM events WHERE event_type = 'signup')
""")
def union_dedup(spark, sf):
    e = _t(spark, sf, "events")
    a = e.filter(F.col("value") > 150).select("user_id", "event_type")
    b = (e.filter(F.col("event_type") == "signup")
         .select("user_id", "event_type"))
    return a.unionByName(b).distinct()


# ===========================================================================
# §2.7 scalar functions
# ===========================================================================


@q("url_seen_key_md5", """
SELECT doc_id, md5(text) AS url_key FROM documents
""")
def url_seen_key_md5(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", F.md5(F.col("text")).alias("url_key"))


@q("es_doc_id_sha256", """
SELECT doc_id, sha256(text) AS doc_sha FROM documents
""")
def es_doc_id_sha256(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select("doc_id", F.sha2(F.col("text"), 256).alias("doc_sha"))


@q("mime_split", """
SELECT doc_id,
       lower(trim(split_part(ct, ';', 1))) AS mime_type,
       lower(trim(split_part(ct, ';', 2))) AS encoding,
       split_part(lower(trim(split_part(ct, ';', 1))), '/', 1) AS mime_group,
       split_part(lower(trim(split_part(ct, ';', 1))), '/', 2) AS mime_format
FROM (SELECT doc_id, 'text/' || source || '; charset=UTF-8' AS ct
      FROM documents)
""")
def mime_split(spark, sf):
    # Content-Type split semantics (parser.py:295-317) over constructed
    # headers
    d = _t(spark, sf, "documents")
    ct = F.concat(F.lit("text/"), F.col("source"), F.lit("; charset=UTF-8"))
    d = d.select("doc_id", ct.alias("ct"))
    return d.select(
        "doc_id",
        cf.mime_type(F.col("ct")).alias("mime_type"),
        cf.mime_encoding(F.col("ct")).alias("encoding"),
        cf.mime_group(F.col("ct")).alias("mime_group"),
        cf.mime_format(F.col("ct")).alias("mime_format"))


@q("host_group_collapse", """
SELECT doc_id,
       CASE WHEN lower(trim(h)) LIKE 'www.%'
            THEN substr(lower(trim(h)), 5)
            ELSE lower(trim(h)) END AS host_group
FROM (SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'www.' || source || '.gov.au'
                  ELSE source || '.gov.au' END AS h
      FROM documents)
""")
def host_group_collapse(spark, sf):
    d = _t(spark, sf, "documents")
    h = (F.when(F.col("doc_id") % 2 == 0,
                F.concat(F.lit("www."), F.col("source"), F.lit(".gov.au")))
         .otherwise(F.concat(F.col("source"), F.lit(".gov.au"))))
    return d.select("doc_id", cf.host_group(h).alias("host_group"))


@q("json_extract", """
SELECT event_id, json_extract_string(props, '$.k') AS k_val FROM events
""")
def json_extract(spark, sf):
    e = _t(spark, sf, "events")
    return e.select("event_id",
                    F.get_json_object("props", "$.k").alias("k_val"))


@q("date_trunc_agg", """
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY strftime(ts, '%Y-%m-%d')
""")
def date_trunc_agg(spark, sf):
    e = _t(spark, sf, "events")
    return (e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 2).alias("sum_value")))


@q("windowed_event_stats", """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type, count(*)::BIGINT AS n, round(sum(value), 6) AS total_value
FROM events GROUP BY 1, 2
""")
def windowed_event_stats(spark, sf):
    """Tumbling 1-hour event-time windows keyed by event type: one
    map-side-combined hash aggregation on (window, event_type)."""
    e = _t(spark, sf, "events")
    return (e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 6).alias("total_value"))
            .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"), "event_type", "n",
                    "total_value"))


@q("filename_guess", """
SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'report' || doc_id || '.pdf'
                    ELSE NULL END AS filename
FROM documents
""")
def filename_guess(spark, sf):
    # ext-length-2..8 heuristic (parser.py:231-255) over constructed urls
    d = _t(spark, sf, "documents")
    url = (F.when(F.col("doc_id") % 3 == 0,
                  F.concat(F.lit("https://x.gov.au/files/report"),
                           F.col("doc_id"), F.lit(".pdf")))
           .otherwise(F.concat(F.lit("https://x.gov.au/dir"),
                               F.col("doc_id"), F.lit("/"))))
    return d.select("doc_id", cf.filename_guess(url).alias("filename"))


# ===========================================================================
# dedup operators (training-data pipeline)
# ===========================================================================


@q("degree_powerlaw", """
WITH e AS (
  SELECT DISTINCT user_id % 200 AS src, event_id % 200 AS dst
  FROM events WHERE user_id % 200 <> event_id % 200),
deg AS (SELECT src AS node, count(*)::BIGINT AS degree FROM e GROUP BY src),
hist AS (SELECT degree, count(*)::BIGINT AS n_nodes FROM deg GROUP BY degree),
st AS (SELECT count(*)::BIGINT AS n_total,
              sum(CASE WHEN degree >= 1 THEN ln(degree / 1.0) END) AS slog,
              sum(CASE WHEN degree >= 1 THEN 1 ELSE 0 END)::BIGINT AS n_tail
       FROM deg),
c AS (SELECT degree, n_nodes,
             sum(n_nodes) OVER (ORDER BY degree DESC
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
      FROM hist)
SELECT degree, n_nodes,
       ((cum * 1000000) // n_total)::BIGINT AS ccdf_micro,
       round(1.0 + n_tail / slog, 6) AS alpha_mhat
FROM c, st
""")
def degree_powerlaw_q(spark, sf):
    """Out-degree distribution of the dense synthetic link graph: exact
    integer histogram + CCDF and the Hill tail-exponent MLE — the
    web-graph Zipf audit that feeds skew planning (salting thresholds).
    The only window runs over the HISTOGRAM (distinct degrees), never
    rows; alpha rounded 6 dp on both sides (log-sum ulp noise)."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    return graph.degree_powerlaw(edges, d_min=1)


@q("temperature_mix", """
WITH c AS (SELECT lang, count(*)::BIGINT AS n_l FROM documents
           GROUP BY lang),
t AS (SELECT sum(n_l) AS n FROM c),
q AS (SELECT lang, n_l, sqrt(n_l / n) AS q_l FROM c, t),
z AS (SELECT sum(q_l) AS z FROM q),
tgt AS (SELECT lang, floor(200 * q_l / z)::BIGINT AS target FROM q, z),
r AS (SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang
          ORDER BY md5('42|' || doc_id::VARCHAR), doc_id)::BIGINT AS rk
      FROM documents)
SELECT r.doc_id, r.lang, r.rk
FROM r JOIN tgt USING (lang) WHERE rk <= target
""")
def temperature_mix_q(spark, sf):
    """Temperature-based multilingual sampling (XLM alpha=0.5): per-lang
    target = floor(budget * sqrt(p_l) / sum sqrt(p_m)), selection by
    md5-rank inside each language. alpha is 0.5 HERE so the weight math
    is IEEE-exact in both engines (sqrt and / are correctly-rounded by
    the standard; pow(x, 0.7) is implementation-defined in the last ulp
    and feeds a floor) — the operator takes any alpha."""
    d = _t(spark, sf, "documents")
    return textstats.temperature_mix(d, "lang", "doc_id", budget=200,
                                     alpha=0.5, seed=42)


_PSL2_SQL = ", ".join(f"'{s}'" for s in cf.PSL2)

@q("pld_rollup", f"""
WITH hosts AS (
  SELECT CASE user_id % 6
           WHEN 0 THEN 'www.agency' || (user_id % 40)::VARCHAR || '.gov.au'
           WHEN 1 THEN 'shop' || (user_id % 40)::VARCHAR || '.com.au'
           WHEN 2 THEN 'cdn.static.example' || (user_id % 10)::VARCHAR || '.com'
           WHEN 3 THEN 'news' || (user_id % 25)::VARCHAR || '.co.uk'
           WHEN 4 THEN 'blog.site' || (user_id % 30)::VARCHAR || '.org'
           ELSE 'localhost' END AS host
  FROM events),
lab AS (
  SELECT host, string_split(lower(host), '.') AS l,
         len(string_split(lower(host), '.')) AS n
  FROM hosts),
tk AS (
  SELECT host, l, n,
         CASE WHEN array_to_string(l[greatest(n - 1, 1):n], '.')
                   IN ({_PSL2_SQL})
              THEN 3 ELSE 2 END AS take
  FROM lab),
pl AS (
  SELECT host,
         CASE WHEN n <= take THEN lower(host)
              ELSE array_to_string(l[n - take + 1:n], '.') END AS pld
  FROM tk)
SELECT pld, count(*)::BIGINT AS n_pages,
       count(DISTINCT host)::BIGINT AS n_hosts
FROM pl GROUP BY pld
""")
def pld_rollup_q(spark, sf):
    """Registered-domain (eTLD+1 / PLD) rollup — the aggregation grain
    Common Crawl publishes ranks at and the politeness grain above
    per-host. Hosts synthesized from events across gov.au / com.au /
    com / co.uk / org / single-label shapes; functions.registered_domain
    is pure Catalyst (split + slice + join, whole-stage codegen), the
    rollup one map-side-combinable aggregation."""
    e = _t(spark, sf, "events")
    u = F.col("user_id")
    host = (F.when(u % 6 == 0,
                   F.concat(F.lit("www.agency"), (u % 40).cast("string"),
                            F.lit(".gov.au")))
            .when(u % 6 == 1,
                  F.concat(F.lit("shop"), (u % 40).cast("string"),
                           F.lit(".com.au")))
            .when(u % 6 == 2,
                  F.concat(F.lit("cdn.static.example"),
                           (u % 10).cast("string"), F.lit(".com")))
            .when(u % 6 == 3,
                  F.concat(F.lit("news"), (u % 25).cast("string"),
                           F.lit(".co.uk")))
            .when(u % 6 == 4,
                  F.concat(F.lit("blog.site"), (u % 30).cast("string"),
                           F.lit(".org")))
            .otherwise(F.lit("localhost")))
    h = e.select(host.alias("host"))
    return (h.withColumn("pld", cf.registered_domain(F.col("host")))
            .groupBy("pld")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                 F.countDistinct("host").cast("long").alias("n_hosts")))


@q("warc_revisit_dedup", """
WITH cap AS (
  SELECT 'u' || (user_id % 300)::VARCHAR AS url, ts,
         md5('c' || (event_id % 97)::VARCHAR) AS digest
  FROM events),
w AS (
  SELECT url, ts, digest,
         first_value(url) OVER
           (PARTITION BY digest ORDER BY ts, url) AS w_url,
         first_value(ts) OVER
           (PARTITION BY digest ORDER BY ts, url) AS w_ts
  FROM cap)
SELECT url, ts, digest,
       CASE WHEN ts = w_ts AND url = w_url
            THEN 'response' ELSE 'revisit' END AS record_type,
       CASE WHEN ts = w_ts AND url = w_url
            THEN NULL ELSE w_url END AS refers_to_url,
       CASE WHEN ts = w_ts AND url = w_url
            THEN NULL ELSE w_ts END AS refers_to_ts
FROM w
""")
def warc_revisit_dedup_q(spark, sf):
    """WARC identical-payload-digest dedup over a synthetic capture log
    (events -> url/ts/digest with digests repeating mod 97): first
    capture per digest is the stored 'response', later captures become
    'revisit' records pointing at it. The oracle is the naive window;
    the operator elects the winner with an algebraic min(struct) + one
    digest join (no per-digest sort — boilerplate digests are the skew
    case at archive scale)."""
    e = _t(spark, sf, "events")
    cap = e.select(
        F.concat(F.lit("u"), (F.col("user_id") % 300).cast("string"))
        .alias("url"),
        F.col("ts"),
        F.md5(F.concat(F.lit("c"), (F.col("event_id") % 97)
                       .cast("string"))).alias("digest"))
    return sources.warc_revisit_records(cap)


@q("cdc_chunks", """
WITH t AS (
  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS s
  FROM documents),
tt AS (SELECT doc_id, s, length(s) AS n FROM t WHERE length(s) > 0),
pos AS (SELECT doc_id, s, unnest(range(8, n + 1)) AS i FROM tt),
b AS (
  SELECT doc_id, i
  FROM pos
  WHERE (ascii(substr(s, i::INT, 1)) * 1 + ascii(substr(s, i::INT - 1, 1)) * 2
       + ascii(substr(s, i::INT - 2, 1)) * 3 + ascii(substr(s, i::INT - 3, 1)) * 4
       + ascii(substr(s, i::INT - 4, 1)) * 5 + ascii(substr(s, i::INT - 5, 1)) * 6
       + ascii(substr(s, i::INT - 6, 1)) * 7 + ascii(substr(s, i::INT - 7, 1)) * 8
        ) % 64 = 0),
cuts AS (
  SELECT DISTINCT doc_id, b FROM (
    SELECT doc_id, i AS b FROM b
    UNION ALL
    SELECT doc_id, n AS b FROM tt)),
seg AS (
  SELECT doc_id, b,
         row_number() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS chunk_id,
         coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0) AS prev
  FROM cuts)
SELECT seg.doc_id,
       chunk_id::BIGINT AS chunk_id,
       (prev + 1)::BIGINT AS start_pos,
       (b - prev)::BIGINT AS chunk_len,
       md5(substr(tt.s, (prev + 1)::INT, (b - prev)::INT)) AS chunk_md5
FROM seg JOIN tt ON seg.doc_id = tt.doc_id
""")
def cdc_chunks_q(spark, sf):
    """Content-defined chunking over the documents table: rolling-hash
    (window=8, mask 2^6) boundaries on the printable-ASCII projection —
    the storage-dedup primitive that keeps re-crawled pages' unchanged
    tails byte-identical chunks. The oracle replays the identical dot
    product per position with ascii()/substr(); the operator computes
    every position of a doc in one numpy sliding-window matmul per
    Arrow batch (mapInPandas — zero shuffle)."""
    d = _t(spark, sf, "documents")
    return (dedup.cdc_chunks(d, "text", "doc_id")
            .withColumnRenamed("id", "doc_id"))


@q("dedup_exact", """
SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
""")
def dedup_exact(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.exact_dedup(d, "text", "doc_id")


@q("dedup_passages", """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), segs0 AS (
  SELECT doc_id,
         list_transform(range(CAST(ceil(len(t) / 32.0) AS BIGINT)),
                        i -> array_to_string(t[(i*32+1):((i+1)*32)], ' ')) AS segl
  FROM toks
), segs AS (
  SELECT doc_id, generate_subscripts(segl, 1) - 1 AS seg_idx,
         unnest(segl) AS seg, CAST(len(segl) AS BIGINT) AS n_segments
  FROM segs0
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY md5(seg)
                               ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id, min(n_segments) AS n_segments, count(*) AS n_kept,
       string_agg(seg, ' ' ORDER BY seg_idx) AS text_kept
FROM ranked WHERE rn = 1
GROUP BY doc_id
""")
def dedup_passages(spark, sf):
    # CCNet-style passage-level exact dedup (32-token blocks, the rule
    # that stays non-degenerate on this newline-free corpus): keep
    # each passage's first (doc_id, idx) occurrence corpus-wide, rebuild
    # docs from surviving passages. Oracle mirrors the winner rule as a
    # row_number()=1 window; the engine elects winners with an algebraic
    # min(struct) agg instead (partial-agg handles boilerplate-passage skew).
    d = _t(spark, sf, "documents")
    return dedup.passage_dedup(d, "text", "doc_id", k_tokens=32)


@q("dedup_token_jaccard", """
WITH toks AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS tk
  FROM documents WHERE doc_id < 200)
SELECT a.doc_id AS a, b.doc_id AS b,
       round(len(list_intersect(a.tk, b.tk))::DOUBLE /
             len(list_distinct(list_concat(a.tk, b.tk))), 6) AS jaccard
FROM toks a, toks b
WHERE a.doc_id < b.doc_id
  AND round(len(list_intersect(a.tk, b.tk))::DOUBLE /
            len(list_distinct(list_concat(a.tk, b.tk))), 6) >= 0.5
""")
def dedup_token_jaccard(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.token_jaccard_pairs(d, "text", "doc_id", threshold=0.5,
                                     id_cap=200)


def _minhash_lsh_oracle_sql(wrap_cc: bool = False) -> str:
    """Exact SQL mirror of the full minhash near-dup pipeline: the seeded
    (a, b) hash family is embedded as literals; shingle hashing (md5 token
    fold, 32-bit mask), 32-row signatures, 8-band bucketing with the same
    md5 bucket string Spark builds, the bucket-size bound, and the exact
    string-shingle Jaccard verify are all reproduced in DuckDB.

    ``wrap_cc=True`` composes the clustering stage on top: the pair set
    becomes a CTE and a recursive walk labels every document with its
    component minimum — the oracle for ``dedup_keep`` over the REAL
    minhash pairs (round-3 VERDICT order #8), not the capped
    token-Jaccard variant."""
    import numpy as np
    rng = np.random.RandomState(42)
    a = rng.randint(1, 1 << 31, size=32, dtype=np.int64)
    b = rng.randint(0, 1 << 31, size=32, dtype=np.int64)
    A = "[" + ", ".join(str(int(x)) for x in a) + "]"
    B = "[" + ", ".join(str(int(x)) for x in b) + "]"
    P, W, M = 1099511628211, 1 << 64, (1 << 61) - 1
    sql = rf"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents
),
th AS (
  SELECT doc_id, t,
    list_transform(t, w -> ('0x' || substr(md5(w),1,16))::UBIGINT::HUGEINT) AS h
  FROM toks
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(h) = 0 THEN []::BIGINT[]
         WHEN len(h) = 1 THEN [CAST(h[1] % 4294967296 AS BIGINT)]
         WHEN len(h) = 2 THEN [CAST((h[1]*{P} + h[2]) % {W} % 4294967296 AS BIGINT)]
         ELSE list_distinct(list_transform(range(len(h) - 2),
           i -> CAST(((h[i+1]*{P} + h[i+2]) % {W} * {P} + h[i+3]) % {W} % 4294967296 AS BIGINT)))
    END AS s
  FROM th
),
sigs AS (
  SELECT doc_id,
    CASE WHEN len(s) = 0 THEN list_transform(range(32), j -> 0::BIGINT)
         ELSE list_transform(range(32),
           j -> list_min(list_transform(s,
             x -> ({A}[j+1]::BIGINT * x + {B}[j+1]::BIGINT) % {M})))
    END AS sig
  FROM sh
),
banded AS (
  SELECT doc_id, bd.band,
    md5(bd.band::VARCHAR || ',' ||
        array_to_string(sig[bd.band*4+1 : bd.band*4+4], ',')) AS bucket
  FROM sigs, (SELECT unnest(range(8)) AS band) bd
),
bounded AS (
  SELECT * FROM (
    SELECT doc_id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS n FROM banded)
  WHERE n <= 1000
),
cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bounded x JOIN bounded y ON x.band = y.band AND x.bucket = y.bucket
  WHERE x.doc_id < y.doc_id
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(t) = 0 THEN []::VARCHAR[]
         WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         ELSE list_distinct(list_transform(range(len(t) - 2),
           i -> array_to_string(t[i+1:i+3], ' ')))
    END AS g
  FROM toks
)
SELECT c.a, c.b,
  round(CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) = 0 THEN 0.0
        ELSE len(list_intersect(ga.g, gb.g))::DOUBLE
             / len(list_distinct(list_concat(ga.g, gb.g))) END, 6) AS jaccard
FROM cands c JOIN grams ga ON ga.doc_id = c.a JOIN grams gb ON gb.doc_id = c.b
WHERE (CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) = 0 THEN 0.0
       ELSE len(list_intersect(ga.g, gb.g))::DOUBLE
            / len(list_distinct(list_concat(ga.g, gb.g))) END) >= 0.5"""
    if not wrap_cc:
        return sql
    head, final = sql.rsplit("SELECT c.a, c.b,", 1)
    return (head.rstrip().rstrip(")") + "),\n"
            ).replace("WITH toks AS", "WITH RECURSIVE toks AS", 1) + (
            "mh AS (\nSELECT c.a, c.b," + final + """),
edges AS (
  SELECT a AS src, b AS dst FROM mh
  UNION ALL SELECT b, a FROM mh),
walk AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.dst AS id, w.comp
  FROM walk w JOIN edges e ON e.src = w.id)
SELECT id AS doc_id, min(comp) AS keep_id,
       (min(comp) = id) AS is_canonical
FROM walk GROUP BY id""")


@q("dedup_minhash_lsh", _minhash_lsh_oracle_sql())
def dedup_minhash_lsh(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.minhash_dedup_pairs(d, "text", "doc_id", threshold=0.5,
                                     num_hashes=32, bands=8)


@q("dedup_keep_minhash", _minhash_lsh_oracle_sql(wrap_cc=True))
def dedup_keep_minhash(spark, sf):
    """Canonical-document selection over the FULL minhash pair set (every
    document, no cap) — connected components on the pipeline's real input,
    so the bench measures the CC operator where a training-corpus dedup
    actually runs it (round-3 VERDICT order #8)."""
    d = _t(spark, sf, "documents")
    pairs = dedup.minhash_dedup_pairs(d, "text", "doc_id", threshold=0.5,
                                      num_hashes=32, bands=8)
    return dedup.dedup_keep(d, pairs, "doc_id")


@q("dedup_simhash", r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents
),
tok AS (
  SELECT doc_id, ('0x' || substr(md5(u.w), 1, 16))::UBIGINT AS h
  FROM toks, unnest(t) AS u(w)
),
bits AS (
  SELECT doc_id, b.i,
    CASE WHEN 2 * sum(((h >> b.i) & 1)::BIGINT) > count(*)
         THEN (1::UBIGINT << b.i) ELSE 0::UBIGINT END AS bitval
  FROM tok, (SELECT unnest(range(64)) AS i) b
  GROUP BY doc_id, b.i
),
sigs AS (
  SELECT d.doc_id, coalesce(s.fp, 0::UBIGINT) AS fp
  FROM documents d LEFT JOIN (
    SELECT doc_id, bit_or(bitval) AS fp FROM bits GROUP BY doc_id) s
  USING (doc_id)
),
chunks AS (
  SELECT doc_id, fp, c.i AS chunk, (fp >> (16 * c.i)) & 65535 AS val
  FROM sigs, (SELECT unnest(range(4)) AS i) c
),
bounded AS (
  SELECT * FROM (
    SELECT doc_id, fp, chunk, val,
           count(*) OVER (PARTITION BY chunk, val) AS n
    FROM chunks)
  WHERE n <= 2000
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
         bit_count(xor(a.fp, b.fp)) AS hamming
  FROM bounded a JOIN bounded b ON a.chunk = b.chunk AND a.val = b.val
  WHERE a.doc_id < b.doc_id
)
SELECT a, b, hamming FROM pairs WHERE hamming <= 10
""")  # full simhash spec in SQL: md5 token bits, majority sign,
    # pigeonhole chunk join with the same bucket bound
def dedup_simhash(spark, sf):
    d = _t(spark, sf, "documents")
    return dedup.simhash_near_dup_pairs(d, "text", "doc_id", max_distance=10)


# ===========================================================================
# similarity search
# ===========================================================================


@q("ann_cosine_topk", f"""
WITH scored AS (
  SELECT vec_id,
         round(list_dot_product(embedding::DOUBLE[], {_QVEC_SQL}) /
               (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product({_QVEC_SQL}, {_QVEC_SQL}))), 6)
           AS cosine
  FROM embeddings)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 20
""")
def ann_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    return similarity.cosine_topk(e, "embedding", "vec_id", QUERY_VEC, k=20)


def _ann_ivf_oracle_sql(k: int = 8, iters: int = 5, sample: int = 256,
                        seed: int = 42, nprobe: int = 3, topk: int = 20,
                        batch_nq: "int | None" = None,
                        semdedup_tau: "float | None" = None) -> str:
    """Exact SQL mirror of the IVF pipeline — the k-means training is
    data-dependent, so the 5 Lloyd iterations run INSIDE the SQL as
    unrolled CTE pairs (assign by argmin distance with numpy's
    first-index tie break = ``row_number ... ORDER BY d2, cid``; recompute
    each centroid as the per-dimension mean of its members, keeping the old
    centroid for empty clusters). Only the seeded INIT is embedded as
    literals: ``RandomState(seed).choice(sample, k)`` depends on nothing
    but (sample, k, seed), and the driver testdata has ≥ ``sample``
    embeddings at every sf, so the chosen sample ranks are static. The
    final nprobe-list scan + exact rounded cosine mirror ``ivf_query``."""
    import numpy as np
    choice = np.random.RandomState(seed).choice(sample, size=k, replace=False)
    vals = ", ".join(f"({j}, {int(choice[j]) + 1})" for j in range(k))
    qn = float(np.sqrt(np.dot(QUERY_VEC, QUERY_VEC)))

    def assign_cte(src, cents, out):
        return f"""{out} AS (
  SELECT vec_id, emb, cid FROM (
    SELECT s.vec_id, s.emb, c.cid,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(s.emb, c.cv),
        c.cid) AS rn
    FROM {src} s CROSS JOIN {cents} c) WHERE rn = 1)"""

    def update_cte(asg, prev, out):
        return f"""{out} AS (
  SELECT c.cid, coalesce(m.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN (
    SELECT cid, list(avgv ORDER BY dim) AS cv FROM (
      SELECT cid, dim, avg(val) AS avgv FROM (
        SELECT cid, unnest(emb) AS val, generate_subscripts(emb, 1) AS dim
        FROM {asg})
      GROUP BY cid, dim) GROUP BY cid) m USING (cid))"""

    steps, prev = [], "c0"
    for i in range(1, iters + 1):
        steps.append(assign_cte("samp", prev, f"a{i}"))
        steps.append(update_cte(f"a{i}", prev, f"c{i}"))
        prev = f"c{i}"
    lloyd = ",\n".join(steps)
    prefix = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
samp AS (
  SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) AS rk
  FROM e ORDER BY vec_id LIMIT {sample}),
c0 AS (
  SELECT t.cid, s.emb AS cv
  FROM (VALUES {vals}) t(cid, rk) JOIN samp s USING (rk)),
{lloyd},"""
    if semdedup_tau is not None:
        # SemDeDup tail: full assignment, in-cluster pairwise cosine, drop
        # any vector with a >= tau neighbor of smaller id (similarity.
        # semantic_dedup's keep rule, verbatim)
        return prefix + f"""
asg AS (
  SELECT vec_id, emb, cid FROM (
    SELECT e.vec_id, e.emb, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.emb, c.cv),
        c.cid) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1),
pairs AS (
  SELECT r.vec_id AS b
  FROM asg l JOIN asg r ON l.cid = r.cid AND l.vec_id < r.vec_id
  WHERE round(list_dot_product(l.emb, r.emb)
        / (sqrt(list_dot_product(l.emb, l.emb))
           * sqrt(list_dot_product(r.emb, r.emb))), 6) >= {semdedup_tau})
SELECT vec_id, cid AS ivf_list,
       vec_id NOT IN (SELECT b FROM pairs) AS keep
FROM asg
"""
    if batch_nq is not None:
        # batched tail: every query probes its nprobe nearest lists (the
        # UDF's stable argsort = ORDER BY d2, cid) and ranks within its
        # probed lists' members
        return prefix + f"""
q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < {batch_nq}),
qpr AS (
  SELECT qid, cid FROM (
    SELECT q.qid, c.cid,
      row_number() OVER (PARTITION BY q.qid ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(q.qemb, c.cv),
        c.cid) AS rn
    FROM q CROSS JOIN {prev} c) WHERE rn <= {nprobe}),
asg AS (
  SELECT vec_id, emb, cid FROM (
    SELECT e.vec_id, e.emb, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.emb, c.cv),
        c.cid) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1),
scored AS (
  SELECT p.qid AS query_id, a.vec_id,
         round(list_dot_product(a.emb, q.qemb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(q.qemb, q.qemb))), 6) AS cosine
  FROM qpr p JOIN asg a ON a.cid = p.cid JOIN q ON q.qid = p.qid)
SELECT query_id, vec_id, cosine, "rank" FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS "rank"
  FROM scored)
WHERE "rank" <= {topk}
"""
    return prefix + f"""
probes AS (
  SELECT cid FROM {prev}
  ORDER BY list_dot_product(cv, cv) - 2*list_dot_product(cv, {_QVEC_SQL}),
           cid
  LIMIT {nprobe}),
asg AS (
  SELECT vec_id, emb, cid FROM (
    SELECT e.vec_id, e.emb, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.emb, c.cv),
        c.cid) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1)
SELECT vec_id,
       round(list_dot_product(emb, {_QVEC_SQL})
             / (sqrt(list_dot_product(emb, emb)) * {qn!r}), 6) AS cosine
FROM asg WHERE cid IN (SELECT cid FROM probes)
ORDER BY cosine DESC, vec_id LIMIT {topk}
"""


@q("ann_ivf", _ann_ivf_oracle_sql())
def ann_ivf(spark, sf):
    """IVF coarse-quantizer ANN (brief: 'IVF or LSH-bucketed variant'):
    deterministic seeded k-means on a bounded sample, argmin-matmul list
    assignment, nprobe-list scan + exact cosine. The DuckDB oracle runs
    the same 5 Lloyd iterations as unrolled CTEs (``_ann_ivf_oracle_sql``);
    float-noise between numpy and DuckDB summation orders only matters at
    exact argmin/top-k ties, which the random testdata does not produce —
    verified at sf 0.001/0.01/0.1."""
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    indexed, C = similarity.ivf_index(e, "embedding", "vec_id",
                                      n_centroids=8, sample_size=256)
    return similarity.ivf_query(indexed, C, "embedding", "vec_id",
                                QUERY_VEC, k=20, nprobe=3)


@q("ann_ivf_batch", _ann_ivf_oracle_sql(topk=5, batch_nq=8))
def ann_ivf_batch(spark, sf):
    """Batched many-queries IVF ANN — the coarse-quantizer twin of
    ``ann_batch_queries``: the first 8 vectors (self-retrieval) against
    the IVF index in one job; per-query nprobe-list probe via a
    vectorized argsort UDF, static list pruning + broadcast join,
    per-query top-k window."""
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    indexed, C = similarity.ivf_index(e, "embedding", "vec_id",
                                      n_centroids=8, sample_size=256)
    queries_df = e.filter(F.col("vec_id") < 8)
    return similarity.ivf_batch_query(indexed, C, queries_df, "embedding",
                                      "vec_id", "vec_id", k=5, nprobe=3)


@q("semantic_dedup", _ann_ivf_oracle_sql(semdedup_tau=0.44))
def semantic_dedup_q(spark, sf):
    """SemDeDup semantic deduplication: IVF k-means clusters the embedding
    space, then every vector with an in-cluster neighbor of cosine >= 0.44
    and smaller id is dropped (tau tuned to the synthetic embeddings'
    similarity range so both keep outcomes occur)."""
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    return similarity.semantic_dedup(e, "embedding", "vec_id",
                                     n_centroids=8, tau=0.44,
                                     sample_size=256)


def _pq_oracle_sql(m: int = 16, ksub: int = 32, iters: int = 5,
                   sample: int = 256, topk: int = 20,
                   seed: int = 42, rerank: int = 100,
                   ivf_k: "int | None" = None, nprobe: int = 3) -> str:
    """Exact SQL mirror of the product-quantization pipeline: for each of
    the ``m`` subspaces the k-means runs INSIDE the SQL as unrolled CTE
    pairs (the ``_ann_ivf_oracle_sql`` assign/update pattern over the
    list-SLICE of the embedding), every vector is encoded by argmin
    against its subspace's final codebook, and the ADC distance is the
    same c·c − 2·q_s·c + q_s·q_s expansion the Spark LUT evaluates,
    rounded to 6dp BEFORE the top-k ordering. Subspace ``s`` seeds its
    init ranks with ``seed + s`` — identical to ``train_pq_codebooks``.
    With ``ivf_k`` set, a coarse k-means chain (the ``_ann_ivf`` pattern,
    seed = ``seed``) assigns every vector an IVF list, and the ADC
    shortlist is restricted to the ``nprobe`` lists nearest the query —
    the IVF-PQ mirror."""
    import numpy as np
    dsub = 64 // m
    ctes, enc_joins, adc_terms = [], [], []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        choice = np.random.RandomState(seed + s).choice(
            sample, size=ksub, replace=False)
        vals = ", ".join(f"({j}, {int(choice[j]) + 1})" for j in range(ksub))
        qs = QUERY_VEC[s * dsub:(s + 1) * dsub]
        qs_sql = "[" + ", ".join(str(float(x)) for x in qs) + "]::DOUBLE[]"
        qs_n = float(np.dot(qs, qs))
        ctes.append(f"""s{s}v AS MATERIALIZED (
  SELECT vec_id, rk, emb[{lo}:{hi}] AS sv FROM samp),
c{s}_0 AS MATERIALIZED (
  SELECT t.cid, s.sv AS cv
  FROM (VALUES {vals}) t(cid, rk) JOIN s{s}v s USING (rk))""")
        prev = f"c{s}_0"
        for i in range(1, iters + 1):
            ctes.append(f"""a{s}_{i} AS MATERIALIZED (
  SELECT vec_id, sv, cid FROM (
    SELECT s.vec_id, s.sv, c.cid,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(s.sv, c.cv),
        c.cid) AS rn
    FROM s{s}v s CROSS JOIN {prev} c) WHERE rn = 1),
c{s}_{i} AS MATERIALIZED (
  SELECT c.cid, coalesce(mm.cv, c.cv) AS cv
  FROM {prev} c LEFT JOIN (
    SELECT cid, list(avgv ORDER BY dim) AS cv FROM (
      SELECT cid, dim, avg(val) AS avgv FROM (
        SELECT cid, unnest(sv) AS val, generate_subscripts(sv, 1) AS dim
        FROM a{s}_{i})
      GROUP BY cid, dim) GROUP BY cid) mm USING (cid))""")
            prev = f"c{s}_{i}"
        ctes.append(f"""enc{s} AS MATERIALIZED (
  SELECT vec_id, cid, cv FROM (
    SELECT e.vec_id, c.cid, c.cv,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(c.cv, c.cv)
          - 2*list_dot_product(e.emb[{lo}:{hi}], c.cv),
        c.cid) AS rn
    FROM e CROSS JOIN {prev} c) WHERE rn = 1)""")
        enc_joins.append(f"JOIN enc{s} USING (vec_id)"
                         if s else "enc0")
        adc_terms.append(
            f"(list_dot_product(enc{s}.cv, enc{s}.cv)"
            f" - 2*list_dot_product({qs_sql}, enc{s}.cv) + {qs_n!r})")
    chain = ",\n".join(ctes)
    qsql = "[" + ", ".join(str(float(x)) for x in QUERY_VEC) + "]::DOUBLE[]"
    qq = float(np.dot(QUERY_VEC, QUERY_VEC))
    coarse, cand_filter = "", ""
    if ivf_k is not None:
        gchoice = np.random.RandomState(seed).choice(
            sample, size=ivf_k, replace=False)
        gvals = ", ".join(f"({j}, {int(gchoice[j]) + 1})"
                          for j in range(ivf_k))
        gctes = [f"""gc0 AS MATERIALIZED (
  SELECT t.cid, s.emb AS cv
  FROM (VALUES {gvals}) t(cid, rk) JOIN samp s USING (rk))"""]
        gprev = "gc0"
        for i in range(1, iters + 1):
            gctes.append(f"""ga{i} AS MATERIALIZED (
  SELECT vec_id, emb, cid FROM (
    SELECT s.vec_id, s.emb, c.cid,
      row_number() OVER (PARTITION BY s.vec_id ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(s.emb, c.cv),
        c.cid) AS rn
    FROM samp s CROSS JOIN {gprev} c) WHERE rn = 1),
gc{i} AS MATERIALIZED (
  SELECT c.cid, coalesce(mm.cv, c.cv) AS cv
  FROM {gprev} c LEFT JOIN (
    SELECT cid, list(avgv ORDER BY dim) AS cv FROM (
      SELECT cid, dim, avg(val) AS avgv FROM (
        SELECT cid, unnest(emb) AS val, generate_subscripts(emb, 1) AS dim
        FROM ga{i})
      GROUP BY cid, dim) GROUP BY cid) mm USING (cid))""")
            gprev = f"gc{i}"
        gctes.append(f"""gasg AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        list_dot_product(c.cv, c.cv) - 2*list_dot_product(e.emb, c.cv),
        c.cid) AS rn
    FROM e CROSS JOIN {gprev} c) WHERE rn = 1),
gprobes AS MATERIALIZED (
  SELECT cid FROM (
    SELECT cid, row_number() OVER (ORDER BY
      list_dot_product(cv, cv) - 2*list_dot_product({qsql}, cv),
      cid) AS rn
    FROM {gprev}) WHERE rn <= {nprobe})""")
        coarse = ",\n".join(gctes) + ",\n"
        cand_filter = ("  WHERE vec_id IN (SELECT vec_id FROM gasg "
                       "WHERE cid IN (SELECT cid FROM gprobes))\n")
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
samp AS MATERIALIZED (
  SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) AS rk
  FROM e ORDER BY vec_id LIMIT {sample}),
{coarse}{chain},
shortlist AS MATERIALIZED (
  SELECT vec_id, round({' + '.join(adc_terms)}, 6) AS adc_d2
  FROM {' '.join(enc_joins)}
{cand_filter}  ORDER BY adc_d2 ASC, vec_id ASC LIMIT {rerank})
SELECT e.vec_id,
       round(list_dot_product(e.emb, e.emb)
             - 2*list_dot_product({qsql}, e.emb) + {qq!r}, 6) AS l2_d2
FROM e JOIN shortlist USING (vec_id)
ORDER BY l2_d2 ASC, e.vec_id ASC LIMIT {topk}
"""


@q("pq_ann_topk", _pq_oracle_sql())
def pq_ann_topk_q(spark, sf):
    """Product-quantization ANN (Jégou et al. 2011): per-subspace k-means
    codebooks on the bounded sample, every vector compressed to m=16
    sub-codes (16 bytes vs 256 — the memory-budget path that makes a
    100 TB embedding table scannable), ADC shortlists 100 candidates,
    exact L2 re-rank returns the top 20 (recall@20 ≈ 0.8-0.95 here)."""
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    return similarity.pq_ann_topk(e, "embedding", "vec_id", QUERY_VEC,
                                  k=20, m=16, ksub=32, sample_size=256,
                                  rerank=100)


@q("ivf_pq_topk", _pq_oracle_sql(ivf_k=8, nprobe=5))
def ivf_pq_topk_q(spark, sf):
    """IVF-PQ, the production vector index (FAISS IVF8,PQ16): the coarse
    quantizer prunes to the 5 of 8 lists nearest the query (recall@20
    0.70-0.85 on these cluster-free gaussian embeddings — nprobe is the
    standard recall/selectivity dial), ADC over 16-byte codes shortlists
    100 candidates within them, exact L2 re-rank returns the top 20.
    Raw-vector PQ (no residual refinement) — documented divergence from
    classic FAISS, same API shape."""
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    return similarity.ivf_pq_topk(e, "embedding", "vec_id", QUERY_VEC,
                                  k=20, n_centroids=8, nprobe=5, m=16,
                                  ksub=32, sample_size=256, rerank=100)


def _embedding_neardup_oracle_sql(bands: int = 8, planes: int = 4,
                                  threshold: float = 0.4) -> str:
    """Exact SQL mirror of the banded-hyperplane embedding near-dup: the
    seeded hyperplane matrix is embedded as literals; per-band sign buckets,
    the band self-join with its bucket bound, and the exact cosine verify
    are all reproduced in DuckDB."""
    import numpy as np
    rng = np.random.RandomState(42)
    H = rng.normal(size=(bands * planes, 64)).astype(np.float64)
    hlits = ["[" + ", ".join(repr(float(x)) for x in row) + "]::DOUBLE[]"
             for row in H]

    def band_expr(b):
        return " + ".join(
            f"(CASE WHEN list_dot_product(emb, {hlits[b * planes + i]}) > 0"
            f" THEN {1 << i} ELSE 0 END)" for i in range(planes))

    cases = "\n      ".join(
        f"WHEN {b} THEN {band_expr(b)}" for b in range(bands))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
banded AS (
  SELECT vec_id, emb, b.band,
    CASE b.band
      {cases}
    END AS bucket
  FROM e, (SELECT unnest(range({bands})) AS band) b
),
bounded AS (
  SELECT * FROM (
    SELECT vec_id, emb, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS n FROM banded)
  WHERE n <= 2000
)
SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
  round(list_dot_product(x.emb, y.emb)
        / (sqrt(list_dot_product(x.emb, x.emb))
           * sqrt(list_dot_product(y.emb, y.emb))), 6) AS cosine
FROM bounded x JOIN bounded y ON x.band = y.band AND x.bucket = y.bucket
WHERE x.vec_id < y.vec_id
  AND round(list_dot_product(x.emb, y.emb)
        / (sqrt(list_dot_product(x.emb, x.emb))
           * sqrt(list_dot_product(y.emb, y.emb))), 6) >= {threshold}
"""


@q("dedup_embedding_cosine", _embedding_neardup_oracle_sql(planes=8))
def dedup_embedding_cosine(spark, sf):
    """Embedding-cosine near-dup (brief: the vector member of the dedup
    family): banded hyperplane LSH candidates + exact codegen cosine."""
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    # planes=8 → 256 buckets/band: measured at sf0.1 (2000 random vectors)
    # planes=6 proposed 255k candidate pairs (13% of all pairs — dense
    # buckets dominated the runtime, VERDICT r2 #2); 256 buckets/band cuts
    # candidates ~5x while near-identical vectors still collide in ≥1 of
    # the 8 bands w.h.p. (0.86^8 per band → 94% recall at cosine 0.9)
    return similarity.embedding_near_dup_pairs(
        e, "embedding", "vec_id", dim=64, threshold=0.4, bands=8, planes=8)


def _ann_lsh_oracle_sql() -> str:
    """Exact SQL mirror of the hyperplane-LSH query: the seeded hyperplane
    matrix H and the python-computed probe buckets are embedded as literals
    (the family is deterministic given seed=42), so DuckDB reproduces the
    bucket assignment, the probed-bucket filter, and the cosine top-k."""
    import numpy as np
    from .operators.similarity import probe_buckets
    rng = np.random.RandomState(42)
    H = rng.normal(size=(8, 64)).astype(np.float64)
    buckets = probe_buckets(H, QUERY_VEC, probes=4)
    qn = float(np.sqrt(np.dot(QUERY_VEC, QUERY_VEC)))
    hlits = ["[" + ", ".join(repr(float(x)) for x in row) + "]::DOUBLE[]"
             for row in H]
    bucket_expr = "\n    + ".join(
        f"(CASE WHEN list_dot_product(emb, {hlits[i]}) > 0"
        f" THEN {1 << i} ELSE 0 END)" for i in range(8))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
b AS (SELECT vec_id, emb, {bucket_expr} AS bucket FROM e)
SELECT vec_id,
       round(list_dot_product(emb, {_QVEC_SQL})
             / (sqrt(list_dot_product(emb, emb)) * {qn!r}), 6) AS cosine
FROM b WHERE bucket IN ({", ".join(str(b) for b in buckets)})
ORDER BY cosine DESC, vec_id LIMIT 20
"""


@q("ann_lsh_bucketed", _ann_lsh_oracle_sql())
def ann_lsh_bucketed(spark, sf):
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    indexed, H = similarity.lsh_index(e, "embedding", dim=64, planes=8)
    return similarity.lsh_query(indexed, H, "embedding", "vec_id",
                                QUERY_VEC, k=20, probes=4)


def _ann_batch_oracle_sql(planes: int = 8, dim: int = 64, nq: int = 8,
                          probes: int = 3, topk: int = 5) -> str:
    """Exact SQL mirror of the batched multi-query ANN: the seeded
    hyperplane family is embedded as literals; per-query multi-probe
    (base bucket + flips of the ``probes-1`` lowest-|margin| planes,
    stable tie-break on plane index, identical to
    ``make_probe_buckets_udf``) is computed IN SQL, since the query
    vectors come from the data and are unknown at oracle-build time."""
    import numpy as np
    rng = np.random.RandomState(42)
    H = rng.normal(size=(planes, dim)).astype(np.float64)
    hlits = ["[" + ", ".join(repr(float(x)) for x in row) + "]::DOUBLE[]"
             for row in H]

    def bexpr(col):
        return "\n    + ".join(
            f"(CASE WHEN list_dot_product({col}, {hlits[i]}) > 0"
            f" THEN {1 << i} ELSE 0 END)" for i in range(planes))

    margins_union = "\n  UNION ALL\n".join(
        f"  SELECT qid, {i} AS i, list_dot_product(qemb, {hlits[i]}) AS mg"
        f" FROM q" for i in range(planes))
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings),
b AS (SELECT vec_id, emb, {bexpr("emb")} AS bucket FROM e),
q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < {nq}),
m AS (
{margins_union}),
qb AS (SELECT qid, {bexpr("qemb")} AS base FROM q),
fl AS (SELECT qid, i,
              row_number() OVER (PARTITION BY qid ORDER BY abs(mg), i) AS rk
       FROM m),
pr AS (
  SELECT qid, base AS bucket FROM qb
  UNION ALL
  SELECT f.qid, xor(qb.base, 1 << f.i) AS bucket
  FROM fl f JOIN qb ON f.qid = qb.qid WHERE f.rk <= {probes - 1}),
cand AS (
  SELECT pr.qid, b.vec_id, b.emb, q.qemb
  FROM pr JOIN b ON b.bucket = pr.bucket JOIN q ON q.qid = pr.qid),
scored AS (
  SELECT qid AS query_id, vec_id,
         round(list_dot_product(emb, qemb)
               / (sqrt(list_dot_product(emb, emb))
                  * sqrt(list_dot_product(qemb, qemb))), 6) AS cosine
  FROM cand)
SELECT query_id, vec_id, cosine, "rank" FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id) AS "rank"
  FROM scored)
WHERE "rank" <= {topk}
"""


@q("ann_batch_queries", _ann_batch_oracle_sql())
def ann_batch_queries(spark, sf):
    """Batched many-queries ANN (round-3 VERDICT order #4): a queries
    DataFrame (the first 8 vectors, self-retrieval) against the
    hyperplane-LSH index in one job — explode per-query probe buckets,
    static bucket pruning + broadcast join, per-query top-k window."""
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    indexed, H = similarity.lsh_index(e, "embedding", dim=64, planes=8)
    queries_df = e.filter(F.col("vec_id") < 8)
    return similarity.lsh_batch_query(indexed, H, queries_df, "embedding",
                                      "vec_id", "vec_id", k=5, probes=3)


@q("similarity_pairs_topk", f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
           WHERE vec_id < 100),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         round(list_dot_product(a.emb, b.emb) /
               (sqrt(list_dot_product(a.emb, a.emb))
                * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
  FROM e a, e b WHERE a.vec_id <> b.vec_id)
SELECT a, b, cosine FROM (
  SELECT a, b, cosine,
         row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b) AS rn
  FROM pairs)
WHERE rn <= 3
""")
def similarity_pairs_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    e = e.withColumn("embedding",
                     F.transform("embedding", lambda x: x.cast("double")))
    return similarity.pairwise_cosine_topk(e, "embedding", "vec_id", k=3,
                                           id_cap=100)


# ===========================================================================
# text analysis
# ===========================================================================


@q("token_count", """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       length(text) AS n_chars
FROM documents
""")
def token_count(spark, sf):
    d = _t(spark, sf, "documents")
    return textstats.token_count(d, "text", "doc_id")


@q("bpe_token_count", r"""
SELECT doc_id,
       len(regexp_extract_all(lower(text),
           '[a-z]{1,4}|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
FROM documents
""")
def bpe_token_count(spark, sf):
    d = _t(spark, sf, "documents")
    return textstats.bpe_ish_token_count(d, "text", "doc_id")


@q("quality_score", """
WITH s AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tok,
         length(text) AS n_chars,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')),
             ['the','a','an','and','or','of','to','in','is','are','was',
              'were','be','been','it','this','that','for','on','with','as',
              'at','by','from'])) AS n_stop,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
           AS n_punct,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
           AS n_upper,
         len(list_distinct(string_split(lower(text), ' '))) AS n_dtok
  FROM documents)
SELECT doc_id, n_tok AS n_tokens,
       round(coalesce((n_chars - n_tok + 1) / nullif(n_tok, 0), 0), 6)
         AS mean_word_len,
       round(coalesce(n_punct / nullif(n_chars, 0), 0), 6) AS punct_ratio,
       round(coalesce(n_stop / nullif(n_dtok, 0), 0), 6) AS stopword_ratio,
       round(coalesce(n_upper / nullif(n_chars, 0), 0), 6) AS upper_ratio,
       round(CASE WHEN n_tok >= 10 THEN 1.0 ELSE 0.0 END
             + CASE WHEN (n_chars - n_tok + 1) / nullif(n_tok, 0)
                         BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END
             + CASE WHEN n_punct / nullif(n_chars, 0) <= 0.1
                    THEN 1.0 ELSE 0.0 END
             + coalesce(n_stop / nullif(n_dtok, 0), 0), 6) AS quality
FROM s
""")
def quality_score(spark, sf):
    d = _t(spark, sf, "documents")
    return textstats.quality_score(d, "text", "doc_id")


@q("domain_quality_gate", """
WITH s AS (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tok,
         length(text) AS n_chars,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')),
             ['the','a','an','and','or','of','to','in','is','are','was',
              'were','be','been','it','this','that','for','on','with','as',
              'at','by','from'])) AS n_stop,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
           AS n_punct,
         len(list_distinct(string_split(lower(text), ' '))) AS n_dtok
  FROM documents),
scored AS (
  SELECT doc_id, source,
         round(CASE WHEN n_tok >= 10 THEN 1.0 ELSE 0.0 END
               + CASE WHEN (n_chars - n_tok + 1) / nullif(n_tok, 0)
                           BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END
               + CASE WHEN n_punct / nullif(n_chars, 0) <= 0.1
                      THEN 1.0 ELSE 0.0 END
               + coalesce(n_stop / nullif(n_dtok, 0), 0), 6) AS quality
  FROM s),
dom AS (
  SELECT source, round(avg(quality), 4) AS domain_quality,
         count(*) AS domain_docs
  FROM scored GROUP BY source),
good AS (
  SELECT * FROM dom
  ORDER BY domain_quality DESC, source LIMIT 10)
SELECT sc.doc_id, sc.source, sc.quality, g.domain_quality, g.domain_docs
FROM scored sc JOIN good g USING (source)
""")
def domain_quality_gate(spark, sf):
    """FineWeb/C4-style domain-level quality gate over `documents`
    (`source` is the domain key): keep docs from the top-10 domains by
    mean quality, deterministic (quality desc, source asc) tie-break.
    See operators/textstats.py for the 100 TB shape: narrow per-domain
    agg + broadcast gate join."""
    d = _t(spark, sf, "documents")
    return textstats.domain_quality_gate(d, "text", "doc_id", "source",
                                         top_k=10)


@q("decontaminate", """
WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
             FROM documents),
grams AS (SELECT doc_id, array_to_string(list_slice(toks, i, i+3), ' ') AS g
          FROM tok, unnest(generate_series(1, greatest(len(toks)-3, 0)))
               AS t(i)),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 37 = 0),
hits AS (SELECT doc_id, count(b.g) AS n_hits
         FROM grams LEFT JOIN bench b USING (g)
         WHERE doc_id % 37 <> 0 GROUP BY doc_id)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 37 <> 0
""")
def decontaminate(spark, sf):
    """Benchmark decontamination (GPT-3 §2.2-style 13-gram filter, n=4 at
    corpus scale): a deterministic slice of `documents` (doc_id % 37 = 0)
    plays the held-out eval suite; every other doc is scored by how many
    of its token 4-grams appear in the eval set. Eval grams broadcast;
    the doc side never shuffles strings (see operators/textstats.py)."""
    d = _t(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    train = d.filter(F.col("doc_id") % 37 != 0)
    return textstats.decontaminate(train, "text", "doc_id", bench, ngram=4)


@q("stratified_sample", """
SELECT doc_id, source FROM (
  SELECT doc_id, source, row_number() OVER (
    PARTITION BY source
    ORDER BY md5('42|' || doc_id::VARCHAR), doc_id) AS rn
  FROM documents) WHERE rn <= 20
""")
def stratified_sample(spark, sf):
    """Exact per-source quota sampling (20 docs/source) ranked by a pure
    hash of the id — the deterministic complement of corpus_mix_sample's
    Bernoulli fractions; identical selection at any parallelism."""
    d = _t(spark, sf, "documents")
    return (textstats.stratified_sample(d, "source", 20, "doc_id", seed=42)
            .select("doc_id", "source"))


@q("pack_chunks", """
SELECT doc_id, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_offset,
       CAST((cum - n_tokens) // 512 AS BIGINT) AS chunk_id,
       CAST(((cum - 1) // 512) - ((cum - n_tokens) // 512) + 1 AS BIGINT)
         AS n_chunks_spanned
FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             sum(len(string_split(text, ' '))) OVER
               (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents)
""")
def pack_chunks(spark, sf):
    """GPT-style concat-and-chunk sequence packing: global token offsets
    in doc_id order, cut into 512-token training windows. The oracle is
    the naive single global window; the Spark plan is the scalable
    two-level scan (per-range-partition cumsum + O(buckets) driver
    offsets) — same numbers, no single-task sort."""
    d = _t(spark, sf, "documents")
    return textstats.pack_chunks(d, "text", "doc_id", ctx=512, buckets=16)


@q("lang_id", """
WITH t AS (SELECT doc_id, lower(coalesce(text,'')) AS s FROM documents),
sc AS (SELECT doc_id,
  (8*length(s) - length(replace(s,'the','')) - length(replace(s,'and',''))
   - length(replace(s,'ing','')) - length(replace(s,'ion',''))
   - length(replace(s,'to ','')) - length(replace(s,' of',''))
   - length(replace(s,'is ','')) - length(replace(s,'ed ',''))) // 3 AS en,
  (8*length(s) - length(replace(s,'de ','')) - length(replace(s,'la ',''))
   - length(replace(s,'os ','')) - length(replace(s,'el ',''))
   - length(replace(s,'ión','')) - length(replace(s,' qu',''))
   - length(replace(s,'es ','')) - length(replace(s,'ar ',''))) // 3 AS es,
  (8*length(s) - length(replace(s,'le ','')) - length(replace(s,'de ',''))
   - length(replace(s,'es ','')) - length(replace(s,'ent',''))
   - length(replace(s,' qu','')) - length(replace(s,'la ',''))
   - length(replace(s,'une','')) - length(replace(s,'ais',''))) // 3 AS fr,
  (8*length(s) - length(replace(s,'der','')) - length(replace(s,'die',''))
   - length(replace(s,'und','')) - length(replace(s,'ein',''))
   - length(replace(s,'sch','')) - length(replace(s,'ich',''))
   - length(replace(s,'en ','')) - length(replace(s,'cht',''))) // 3 AS de
 FROM t)
SELECT doc_id,
  CASE WHEN greatest(en,es,fr,de) = 0 THEN 'und'
       WHEN en >= es AND en >= fr AND en >= de THEN 'en'
       WHEN es >= fr AND es >= de THEN 'es'
       WHEN fr >= de THEN 'fr'
       ELSE 'de' END AS lang_guess
FROM sc
""")  # the trigram-count argmax is exactly expressible in SQL (VERDICT r1 #2)
def lang_id_q(spark, sf):
    d = _t(spark, sf, "documents")
    return textstats.language_id(d, "text", "doc_id")


@q("fingerprint_overlap", r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id,
    list_transform(range(greatest(len(t) - 4, 0)),
                   i -> array_to_string(t[i+1:i+5], ' ')) AS g
  FROM toks
),
hs AS (
  SELECT doc_id,
    list_transform(g, x -> ('0x' || substr(md5(x), 1, 16))::UBIGINT >> 1) AS h
  FROM grams
),
fp AS (
  SELECT doc_id,
    list_distinct(list_transform(range(greatest(len(h) - 3, 1)),
                                 i -> list_min(h[i+1:i+4]))) AS f
  FROM hs WHERE len(h) > 0
),
ex AS (SELECT doc_id, unnest(f) AS hv FROM fp),
rare AS (SELECT hv FROM ex GROUP BY hv HAVING count(*) <= 10),
ex2 AS (SELECT ex.doc_id, ex.hv FROM ex JOIN rare USING (hv))
SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
FROM ex2 a JOIN ex2 b ON a.hv = b.hv AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
""")  # full winnowing spec (k=5 grams, window-4 min, md5>>1) + the
# MOSS-style ubiquitous-fingerprint cap (df<=10), both mirrored in SQL
def fingerprint_overlap(spark, sf):
    d = _t(spark, sf, "documents")
    return textstats.fingerprint_overlap_pairs(d, "text", "doc_id",
                                               min_shared=3, max_df=10)


@q("dedup_clusters", """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS tk
  FROM documents WHERE doc_id < 200),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM toks a, toks b
  WHERE a.doc_id < b.doc_id
    AND round(len(list_intersect(a.tk, b.tk))::DOUBLE /
              len(list_distinct(list_concat(a.tk, b.tk))), 6) >= 0.5),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL SELECT b, a FROM pairs),
walk AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents WHERE doc_id < 200
  UNION
  SELECT e.dst AS id, w.comp
  FROM walk w JOIN edges e ON e.src = w.id)
SELECT id AS doc_id, min(comp) AS keep_id,
       (min(comp) = id) AS is_canonical
FROM walk GROUP BY id
""")
def dedup_clusters(spark, sf):
    """Near-dup CLUSTERING — the stage after pair generation that decides
    which copy a training corpus keeps: token-Jaccard pairs → connected
    components (iterative min-label propagation) → canonical = component
    min id. The DuckDB oracle walks the same graph with a recursive CTE."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.token_jaccard_pairs(d, "text", "doc_id", threshold=0.5,
                                      id_cap=200)
    return dedup.dedup_keep(d, pairs, "doc_id")


@q("dedup_keep_best", """
WITH RECURSIVE toks AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS tk
  FROM documents WHERE doc_id < 200),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM toks a, toks b
  WHERE a.doc_id < b.doc_id
    AND round(len(list_intersect(a.tk, b.tk))::DOUBLE /
              len(list_distinct(list_concat(a.tk, b.tk))), 6) >= 0.5),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL SELECT b, a FROM pairs),
walk AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents WHERE doc_id < 200
  UNION
  SELECT e.dst AS id, w.comp
  FROM walk w JOIN edges e ON e.src = w.id),
comps AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
sc AS (SELECT c.id, c.comp, d.n_chars
       FROM comps c JOIN documents d ON d.doc_id = c.id),
win AS (SELECT comp, id AS keep_id FROM (
          SELECT comp, id,
                 row_number() OVER (PARTITION BY comp
                                    ORDER BY n_chars DESC, id ASC) AS rn
          FROM sc) WHERE rn = 1)
SELECT s.id AS doc_id, s.comp, w.keep_id,
       (s.id = w.keep_id) AS is_canonical
FROM sc s JOIN win w ON w.comp = s.comp
""")
def dedup_keep_best_q(spark, sf):
    # quality-aware canonical election: same component structure as
    # dedup_clusters, but the kept copy is the LONGEST member (the
    # keep-the-cleanest policy), tie -> smallest id; winner by
    # max(struct(score, -id)) — no window on the Spark side
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.token_jaccard_pairs(d, "text", "doc_id", threshold=0.5,
                                      id_cap=200)
    return dedup.dedup_keep_best(d, pairs, "doc_id", "n_chars")


@q("repetition_stats", """
WITH base AS (
  SELECT doc_id, length(text) AS n_chars,
         string_split(lower(text), ' ') AS t
  FROM documents),
st AS (
  SELECT doc_id, n_chars, len(t) AS n_tokens,
    round(coalesce((len(t) - len(list_distinct(t)))::DOUBLE
                   / nullif(len(t), 0), 0), 6) AS dup_token_frac,
    CASE WHEN len(t) >= 2
         THEN list_transform(range(len(t) - 1),
                             i -> t[i+1] || ' ' || t[i+2])
         ELSE []::VARCHAR[] END AS grams
  FROM base),
cnt AS (
  SELECT doc_id, n_chars, n_tokens, dup_token_frac, u.g, count(*) AS c
  FROM st, unnest(grams) AS u(g)
  GROUP BY ALL),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, g ASC) AS rn
    FROM cnt) WHERE rn = 1)
SELECT s.doc_id, s.n_tokens, s.dup_token_frac,
       coalesce(t.g, '') AS top_ngram,
       round(coalesce(t.c * length(t.g)::DOUBLE / nullif(s.n_chars, 0), 0), 6)
         AS top_ngram_frac
FROM st s LEFT JOIN top t USING (doc_id)
""")
def repetition_stats_q(spark, sf):
    """Gopher-style repetition filters (duplicate-token fraction, top-bigram
    character coverage) — the quality signals that cut boilerplate-heavy
    crawl text from training corpora."""
    d = _t(spark, sf, "documents")
    return textstats.repetition_stats(d, "text", "doc_id", ngram=2)


@q("corpus_mix_sample", """
SELECT doc_id, lang, source FROM documents
WHERE ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 13))::UBIGINT::DOUBLE
      / 4503599627370496
      < (CASE WHEN lang = 'en' THEN 0.8 WHEN lang = 'de' THEN 0.25
              ELSE 0.5 END)
""")
def corpus_mix_sample(spark, sf):
    """Deterministic weighted corpus mixing: per-language Bernoulli keep
    probabilities driven by a pure hash of the doc id — identical sample
    under retries, repartitions, and cluster sizes (what a distributed
    training-mix sampler needs; DataFrame.sample is none of those)."""
    d = _t(spark, sf, "documents")
    out = textstats.weighted_sample(
        d, "lang", {"en": 0.8, "de": 0.25}, "doc_id", seed=42,
        default_weight=0.5)
    return out.select("doc_id", "lang", "source")


@q("redact_pii", r"""
WITH t AS (
  SELECT doc_id,
    text || CASE doc_id % 3
      WHEN 0 THEN ' Contact sam.lee@data.gov.au for access.'
      WHEN 1 THEN ' Call +61 2 6123 4567 or visit 10.1.2.3 now.'
      ELSE ' No contact details were published.' END AS text
  FROM documents WHERE doc_id < 300)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\+\d{1,3}[ -]?\d{1,4}[ -]?\d{3,4}[ -]?\d{3,4}', '<PHONE>', 'g'
  ) AS text_redacted
FROM t
""")
def redact_pii_q(spark, sf):
    """PII scrub over text with synthesized contact details (the testdata
    corpus has none) — same RE2 patterns on both sides."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    pii = (F.when(F.col("doc_id") % 3 == 0,
                  F.lit(" Contact sam.lee@data.gov.au for access."))
           .when(F.col("doc_id") % 3 == 1,
                 F.lit(" Call +61 2 6123 4567 or visit 10.1.2.3 now."))
           .otherwise(F.lit(" No contact details were published.")))
    d = d.select("doc_id", F.concat(F.col("text"), pii).alias("text"))
    return textstats.redact_pii(d, "text", "doc_id")


@q("goose_main_content", """
SELECT doc_id,
       trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS text_goose
FROM documents WHERE doc_id < 200
""")
def goose_main_content(spark, sf):
    """The verified_goose stage (process_goose.py:16-46) over html
    synthesized from the documents table: the nav paragraph is chrome (the
    extractor must drop it), the body paragraph is the document text. The
    oracle is exact because the testdata text is ASCII with no escapes, so
    the stage's unicode_escape quirk is the identity and cleaned_text
    reduces to whitespace-normalized text."""
    from . import udfs as _udfs
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    html = F.encode(F.concat(
        F.lit("<html><body><nav><p>site navigation menu</p></nav><p>"),
        F.col("text"), F.lit("</p></body></html>")), "utf-8")
    return d.select("doc_id", _udfs.goose_text(html).alias("text_goose"))


@q("readability_scores", r"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS txt FROM documents
),
st AS (
  SELECT doc_id,
    greatest(1, len(list_filter(string_split_regex(txt, '[.!?]+'),
                                s -> trim(s) <> ''))) AS S,
    regexp_extract_all(txt, '[A-Za-z'']+') AS ws
  FROM base
),
sy AS (
  SELECT doc_id, S,
    greatest(1, len(ws)) AS W,
    coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS C,
    coalesce(list_sum(list_transform(ws, w ->
      CASE WHEN trim(lower(w), '''') = '' THEN 0
           ELSE greatest(1,
             len(regexp_extract_all(trim(lower(w), ''''), '[aeiouy]+'))
             - CASE WHEN regexp_matches(trim(lower(w), ''''), 'e$')
                     AND NOT regexp_matches(trim(lower(w), ''''), '(le|ee)$')
                     AND len(regexp_extract_all(trim(lower(w), ''''), '[aeiouy]+')) > 1
                    THEN 1 ELSE 0 END)
      END)), 0) AS Y,
    coalesce(list_sum(list_transform(ws, w ->
      CASE WHEN trim(lower(w), '''') <> ''
            AND greatest(1,
              len(regexp_extract_all(trim(lower(w), ''''), '[aeiouy]+'))
              - CASE WHEN regexp_matches(trim(lower(w), ''''), 'e$')
                      AND NOT regexp_matches(trim(lower(w), ''''), '(le|ee)$')
                      AND len(regexp_extract_all(trim(lower(w), ''''), '[aeiouy]+')) > 1
                     THEN 1 ELSE 0 END) >= 3
           THEN 1 ELSE 0 END)), 0) AS P
  FROM st
),
sc AS (
  SELECT doc_id,
    CAST(W AS DOUBLE) AS W, CAST(S AS DOUBLE) AS S,
    CAST(C AS DOUBLE) AS C, CAST(Y AS DOUBLE) AS Y, CAST(P AS DOUBLE) AS P
  FROM sy
)
SELECT doc_id,
  CAST(round_even(greatest(0.0, 4.71*(C/W) + 0.5*(W/S) - 21.43), 0) AS INT) + 5 AS ARI,
  CAST(round_even(greatest(0.0, 0.0588*((C/W)*100) - 0.296*((S/W)*100) - 15.8), 0) AS INT) + 5 AS ColemanLiau,
  CAST(round_even(greatest(0.0, 0.1579*(100.0*P/W) + 0.0496*(W/S)
       + CASE WHEN 100.0*P/W > 5 THEN 3.6365 ELSE 0 END), 0) AS INT) + 5 AS DaleChall,
  CAST(round_even(greatest(0.0, (100 - (206.835 - 1.015*(W/S) - 84.6*(Y/W)))/10.0), 0) AS INT) + 5 AS Flesch,
  CAST(round_even(greatest(0.0, 0.39*(W/S) + 11.8*(Y/W) - 15.59), 0) AS INT) + 5 AS FleschKincaid,
  CAST(round_even(greatest(0.0,
       CASE WHEN ((W - P)*1 + P*3)/S > 20 THEN (((W - P)*1 + P*3)/S)/2
            ELSE (((W - P)*1 + P*3)/S - 2)/2 END), 0) AS INT) + 5 AS LinsearWrite,
  CAST(round_even(greatest(0.0, 1.0430 * sqrt(30.0*P/S) + 3.1291), 0) AS INT) + 5 AS SMOG
FROM sc
""")  # the full 7-score spec in SQL: same regexes, same banker's rounding
def readability_scores_q(spark, sf):
    d = _t(spark, sf, "documents")
    r = textstats.readability(d, "text", "doc_id")
    return r.select("doc_id", "readability.*")


# ===========================================================================
# crawl-kernel surfaces over constructed inputs (rows-only: UDF semantics
# have no ANSI-SQL equivalent; verified against the kernel in pytest)
# ===========================================================================


def _meta_html_expr():
    """The synthesized page the two page-meta queries share."""
    return F.encode(F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id"),
        F.lit("</title></head><body><h1>Quality Assessment Statement</h1>"
              "<p>"), F.col("text"), F.lit("</p></body></html>")), "utf-8")


def _parse_meta(spark, sf):
    from . import udfs as _udfs
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    url = F.concat(F.lit("https://docs.gov.au/d"), F.col("doc_id"),
                   F.lit(".html"))
    return d.select(
        "doc_id",
        _udfs.parse_page(_meta_html_expr(), url, F.lit("docs.gov.au"),
                         F.lit("https"), F.lit(None).cast("string"))
        .alias("p"))


@q("page_meta_extract", """
SELECT doc_id,
       'Doc ' || doc_id::VARCHAR AS title,
       'assessment|quality|statement' AS keywords,
       octet_length(encode('<html><head><title>Doc ' || doc_id::VARCHAR
         || '</title></head><body><h1>Quality Assessment Statement</h1><p>'
         || text || '</p></body></html>')) AS content_size
FROM documents WHERE doc_id < 100
""")
def page_meta_extract(spark, sf):
    """Title/keywords/content-size extraction (parser.py:92-98,329-338)
    driven through the Spark parse UDF over HTML synthesized from the
    documents table. The oracle is exact because the synthesized page's
    title is 'Doc <id>', its only header is the constant h1 (whose >6-char
    words lowercased+sorted are the keywords), and content_size is the
    utf-8 byte length of the synthesized string — all constructible in
    DuckDB. The non-ANSI base58-multihash content_hash is verified
    separately (``page_content_hash``, rows-only + kernel-parity pytest)."""
    out = _parse_meta(spark, sf)
    # keywords is array<string> internally; the driver canonicalizer sorts
    # row values through pandas and cannot hash Python lists, so the
    # driver-facing select flattens it to a '|'-joined string.
    return out.select("doc_id", F.col("p.title").alias("title"),
                      F.concat_ws("|", F.col("p.keywords")).alias("keywords"),
                      F.col("p.content_size").alias("content_size"))


@q("multimodal_decode_stats", """
WITH par AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         CASE doc_id % 3 WHEN 0 THEN 8 + doc_id % 5
              WHEN 1 THEN 0 ELSE 4 END AS width,
         CASE doc_id % 3 WHEN 0 THEN 6 + doc_id % 4
              WHEN 1 THEN 0 ELSE 4 END AS height,
         CASE doc_id % 3 WHEN 0 THEN 1
              WHEN 1 THEN 100 + doc_id % 50
              ELSE 4 + (doc_id // 3) % 3 END AS frames,
         CASE doc_id % 3 WHEN 0 THEN (8 + doc_id % 5) * (6 + doc_id % 4)
              WHEN 1 THEN 100 + doc_id % 50
              ELSE (4 + (doc_id // 3) % 3) * 16 END AS n,
         CASE doc_id % 3 WHEN 0 THEN 31 WHEN 1 THEN 17 ELSE 13 END AS a,
         CASE doc_id % 3 WHEN 0 THEN 7 WHEN 1 THEN 13 ELSE 11 END AS b,
         CASE doc_id % 3 WHEN 0 THEN 0
              WHEN 1 THEN 100 + doc_id % 50
              ELSE 4 + (doc_id // 3) % 3 END AS dur_num,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 8000 ELSE 5 END
           AS dur_den
  FROM documents),
sums AS (
  SELECT p.doc_id, CAST(sum((p.doc_id * p.a + t.j * p.b) % 256) AS BIGINT)
           AS px_sum
  FROM par p JOIN range(0, 160) AS t(j) ON t.j < p.n
  GROUP BY p.doc_id)
SELECT p.doc_id::INT AS media_id, p.kind, p.width::INT AS width,
       p.height::INT AS height, p.frames::INT AS frames,
       CAST((p.dur_num * 1000000) // p.dur_den AS BIGINT)
         AS duration_micros,
       CAST((s.px_sum * 1000000) // p.n AS BIGINT) AS mean_micro
FROM par p JOIN sums s ON s.doc_id = p.doc_id
""")
def multimodal_decode_stats_q(spark, sf):
    """Multimodal decode plumbing, driver-oracle-checked end to end: a
    formula codec synthesizes one image/audio/video payload per document
    (byte j of row i is (i·a + j·b) mod 256 — no RNG), the payloads flow
    through the REAL binary-column mapInPandas decode path, and the
    output stats are exact fixed-point integers the oracle recomputes
    from (i, j) arithmetic alone. Closes the one operator family that
    had only pytest evidence (VERDICT r4 #5); reference analog: the
    postprocessor derivative chain (postprocessor/process_raw.py:43)."""
    d = _t(spark, sf, "documents")
    media = multimodal.synthesize_media_from_ids(d, "doc_id")
    return multimodal.decode_stats(media)


@q("page_content_hash", None)
def page_content_hash(spark, sf):
    """base58(multihash(SHA1(body))) content addressing (parser.py:54-57):
    not ANSI-expressible (DuckDB has no base58), so rows-only here; the
    kernel is pinned by pytest parity tests against refsem.content_hash."""
    return _parse_meta(spark, sf).select(
        "doc_id", F.col("p.content_hash").alias("content_hash"))


@q("url_canonicalize", """
SELECT doc_id, href, normalized, fetch_url, md5(stripped) AS url_key FROM (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN '../up/page' || doc_id::VARCHAR || '.html#frag'
      WHEN 1 THEN './a//b/../c' || doc_id::VARCHAR
      WHEN 2 THEN '/abs/' || doc_id::VARCHAR || '/?q=1'
      ELSE 'HTTPS://Ext.gov.au/P' || doc_id::VARCHAR END AS href,
    CASE doc_id % 4
      WHEN 0 THEN '../up/page' || doc_id::VARCHAR || '.html'
      WHEN 1 THEN 'a/c' || doc_id::VARCHAR
      WHEN 2 THEN '/abs/' || doc_id::VARCHAR || '/?q=1'
      ELSE 'https://Ext.gov.au/P' || doc_id::VARCHAR END AS normalized,
    CASE doc_id % 4
      WHEN 0 THEN 'https://www.x.gov.au/../up/page' || doc_id::VARCHAR || '.html'
      WHEN 1 THEN 'https://www.x.gov.au/a/c' || doc_id::VARCHAR
      WHEN 2 THEN 'https://www.x.gov.au/abs/' || doc_id::VARCHAR || '/?q=1'
      ELSE 'https://www.x.gov.au/P' || doc_id::VARCHAR END AS fetch_url,
    CASE doc_id % 4
      WHEN 0 THEN '/../up/page' || doc_id::VARCHAR || '.html'
      WHEN 1 THEN '/a/c' || doc_id::VARCHAR
      WHEN 2 THEN '/abs/' || doc_id::VARCHAR || '/?q=1'
      ELSE '/P' || doc_id::VARCHAR END AS stripped
  FROM documents WHERE doc_id < 200)
""")
def url_canonicalize(spark, sf):
    """normalize_href + domainize + seen-key (worker.py:104-181,120-128)
    over constructed messy hrefs — the frontier-preparation kernels."""
    from . import udfs as _udfs
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    href = (F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("../up/page"), F.col("doc_id"),
                            F.lit(".html#frag")))
            .when(F.col("doc_id") % 4 == 1,
                  F.concat(F.lit("./a//b/../c"), F.col("doc_id")))
            .when(F.col("doc_id") % 4 == 2,
                  F.concat(F.lit("/abs/"), F.col("doc_id"), F.lit("/?q=1")))
            .otherwise(F.concat(F.lit("HTTPS://Ext.gov.au/P"),
                                F.col("doc_id"))))
    out = d.select("doc_id", href.alias("href"))
    out = out.withColumn("normalized", _udfs.normalize_href(F.col("href")))
    out = out.withColumn(
        "fetch_url", _udfs.domainize(F.lit("www.x.gov.au"),
                                     F.col("normalized"), F.lit("https")))
    return out.withColumn("url_key", _udfs.url_seen_key(F.col("fetch_url")))


@q("robots_gate", """
SELECT doc_id,
  CASE WHEN doc_id % 2 = 0
       THEN 'https://x.gov.au/private/d' || doc_id::VARCHAR
       ELSE 'https://x.gov.au/public/d' || doc_id::VARCHAR END AS url,
  (doc_id % 2 <> 0) AS allowed
FROM documents WHERE doc_id < 200
""")
def robots_gate(spark, sf):
    """The robots broadcast-join filter (worker.py:97-101) over constructed
    URLs: even doc_ids land under /private/ which the corpus robots denies."""
    from . import udfs as _udfs
    robots = {"x.gov.au": "User-agent: *\nDisallow: /private/\n"}
    kernel = _udfs.make_link_kernel(spark, robots)
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    url = (F.when(F.col("doc_id") % 2 == 0,
                  F.concat(F.lit("https://x.gov.au/private/d"),
                           F.col("doc_id")))
           .otherwise(F.concat(F.lit("https://x.gov.au/public/d"),
                               F.col("doc_id"))))
    return (d.select("doc_id", url.alias("url"))
            .withColumn("allowed", kernel(F.lit("x.gov.au"), F.col("url"),
                                          F.lit(None).cast("string"))
                        ["allowed"]))


@q("rollup_revenue", """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def rollup_revenue(spark, sf):
    # grouping-sets capability (absent in the reference; a first-class
    # engine feature here)
    o = _t(spark, sf, "orders")
    return (o.rollup("o_orderstatus", "o_orderpriority")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n"))
            .select(F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                    F.coalesce("o_orderpriority", F.lit("ALL"))
                     .alias("priority"),
                    "revenue", "n"))


@q("approx_distinct_monitor", None)
def approx_distinct_monitor(spark, sf):
    """approx_count_distinct for monitoring dashboards (SURVEY §2.4 — never
    the authoritative seen-set). rows-only: HLL sketches are engine-specific."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"))


@q("inverted_postings", r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
tf AS (
  SELECT doc_id, u.term, count(*) AS tf
  FROM toks, unnest(t) AS u(term) GROUP BY doc_id, u.term),
agg AS (
  SELECT term, count(*)::BIGINT AS doc_freq, sum(tf)::BIGINT AS total_tf
  FROM tf GROUP BY term),
win AS (
  SELECT term, doc_id AS top_doc FROM (
    SELECT term, doc_id, row_number() OVER (
      PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rn
    FROM tf) WHERE rn = 1)
SELECT a.term, a.doc_freq, a.total_tf, w.top_doc
FROM agg a JOIN win w USING (term) WHERE a.doc_freq >= 2
""")
def inverted_postings(spark, sf):
    # the ES-indexing stage as a first-class Spark op: per-term postings
    # stats, winner by max(struct) — the oracle's window is oracle-side only
    d = _t(spark, sf, "documents")
    return textstats.inverted_index_stats(d, "text", "doc_id", min_df=2)


@q("tfidf_top_terms", r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
tf AS (
  SELECT doc_id, u.term, count(*) AS tf
  FROM toks, unnest(t) AS u(term) GROUP BY doc_id, u.term),
dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY term),
nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln(nd.n_docs / dfreq.doc_freq), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
ranked AS (
  SELECT doc_id, term, tfidf, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
  FROM scored)
SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
""")
def tfidf_top_terms_q(spark, sf):
    # per-doc keyword extraction: tf·ln(N/df), top-3 per doc via
    # slice(array_sort(collect_list)) inside the doc agg — no window over
    # the scored table (the oracle's window is oracle-side only)
    d = _t(spark, sf, "documents")
    return textstats.tfidf_top_terms(d, "text", "doc_id", k=3)


_BM25_QUERY = "spark window query"


@q("bm25_topk", r"""
WITH qt AS (SELECT unnest(['query', 'spark', 'window']) AS term),
toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(t))::DOUBLE AS avgdl
          FROM toks),
tf AS (
  SELECT doc_id, u.term, count(*) AS tf, max(len(t)) AS dl
  FROM toks, unnest(t) AS u(term)
  WHERE u.term IN (SELECT term FROM qt)
  GROUP BY doc_id, u.term),
dfreq AS (SELECT term, count(*)::DOUBLE AS doc_freq FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
    round(sum(ln(1 + (s.n_docs - d.doc_freq + 0.5) / (d.doc_freq + 0.5))
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))),
          6) AS score
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id)
SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id ASC LIMIT 10
""")
def bm25_topk_q(spark, sf):
    # BM25 ranked retrieval over the corpus (the ES default-similarity
    # query, Spark-native): postings filtered to the query's terms BEFORE
    # the (doc, term) shuffle, dl carried in the scan, top-k TakeOrdered
    d = _t(spark, sf, "documents")
    return textstats.bm25_topk(d, "text", "doc_id", _BM25_QUERY, k=10)


_BM25_BATCH_QUERIES = [(1, "spark window query"), (2, "fast table scan"),
                       (3, "merge join batch"), (4, "the slow value")]


@q("bm25_batch", r"""
WITH q(query_id, qtext) AS (VALUES
  (1, 'spark window query'), (2, 'fast table scan'),
  (3, 'merge join batch'), (4, 'the slow value')),
qt AS (
  SELECT DISTINCT query_id, u.term
  FROM (SELECT query_id,
          list_filter(string_split_regex(lower(qtext), '\s+'),
                      x -> x <> '') AS t
        FROM q), unnest(t) AS u(term)),
toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(t))::DOUBLE AS avgdl
          FROM toks),
tf AS (
  SELECT doc_id, u.term, count(*) AS tf, max(len(t)) AS dl
  FROM toks, unnest(t) AS u(term)
  WHERE u.term IN (SELECT DISTINCT term FROM qt)
  GROUP BY doc_id, u.term),
dfreq AS (SELECT term, count(*)::DOUBLE AS doc_freq FROM tf GROUP BY term),
scored AS (
  SELECT qt.query_id, tf.doc_id,
    round(sum(ln(1 + (s.n_docs - d.doc_freq + 0.5) / (d.doc_freq + 0.5))
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))),
          6) AS score
  FROM tf JOIN dfreq d USING (term) JOIN qt USING (term) CROSS JOIN stats s
  GROUP BY qt.query_id, tf.doc_id)
SELECT query_id, doc_id, score, "rank" FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS "rank"
  FROM scored)
WHERE "rank" <= 5
""")
def bm25_batch_q(spark, sf):
    """Batched many-queries BM25: four queries against the corpus in one
    job — workload-term filter before the postings shuffle, broadcast
    query fan-out, per-query top-5 (the ann_batch_queries lexical twin)."""
    d = _t(spark, sf, "documents")
    qdf = spark.createDataFrame(_BM25_BATCH_QUERIES,
                                "query_id long, qtext string")
    return textstats.bm25_batch_topk(d, "text", "doc_id", qdf,
                                     "query_id", "qtext", k=5)


_SUBSTR_K = 8


@q("substring_dedup", rf"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
idx AS (
  SELECT unnest(range((SELECT max(len(t)) FROM toks))) AS pos),
wins AS (
  SELECT doc_id, pos,
         substr(md5(array_to_string(list_slice(t, pos + 1,
                                               pos + {_SUBSTR_K}), ' ')),
                1, 16) AS g
  FROM toks, idx WHERE pos <= len(t) - {_SUBSTR_K}),
dup AS (SELECT g FROM wins GROUP BY g HAVING count(*) > 1),
starts AS (
  SELECT doc_id, pos FROM wins WHERE g IN (SELECT g FROM dup)),
tokpos AS (
  SELECT doc_id, pos AS j, t[pos + 1] AS x
  FROM toks, idx WHERE pos < len(t)),
kept AS (
  SELECT tp.doc_id, tp.j, tp.x FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM starts s
    WHERE s.doc_id = tp.doc_id AND s.pos <= tp.j
      AND tp.j < s.pos + {_SUBSTR_K})),
rebuilt AS (
  SELECT doc_id, string_agg(x, ' ' ORDER BY j) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
       len(t.t)::BIGINT AS n_tokens,
       (len(t.t) - coalesce(r.n_kept, 0))::BIGINT AS n_removed
FROM toks t LEFT JOIN rebuilt r USING (doc_id)
""")
def substring_dedup_q(spark, sf):
    # ExactSubstr span removal (Lee et al. 2022): every k-token window
    # occurring >1x corpus-wide is cut from every doc carrying it
    d = _t(spark, sf, "documents")
    return dedup.substring_dedup(d, "text", "doc_id", k=_SUBSTR_K)


# ===========================================================================
# incremental-crawl snapshot diff
# ===========================================================================


@q("crawl_delta", """
WITH old_s AS (
  SELECT doc_id, md5(coalesce(text, chr(1) || 'null') || chr(31)) AS h
  FROM documents WHERE doc_id % 5 != 0),
new_s AS (
  SELECT doc_id,
         md5(coalesce(CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END,
                      chr(1) || 'null') || chr(31)) AS h
  FROM documents WHERE doc_id % 7 != 0)
SELECT coalesce(o.doc_id, n.doc_id) AS key,
       CASE WHEN o.h IS NULL THEN 'new'
            WHEN n.h IS NULL THEN 'gone'
            WHEN o.h = n.h THEN 'unchanged' ELSE 'changed' END AS status,
       (o.h IS NOT NULL)::INT AS in_old,
       (n.h IS NOT NULL)::INT AS in_new
FROM old_s o FULL JOIN new_s n ON o.doc_id = n.doc_id
""")
def crawl_delta(spark, sf):
    """Incremental-crawl snapshot diff: last month's snapshot (doc_id % 5
    slice removed) vs this month's (doc_id % 7 slice removed, every third
    doc's content mutated) — each key classified new/gone/changed/
    unchanged by content hash. The reference crawls single-shot
    (worker.py's one run-to-completion loop); the diff is what a recurring
    corpus pipeline runs between icelite snapshots."""
    d = _t(spark, sf, "documents")
    old = d.filter(F.col("doc_id") % 5 != 0)
    new = (d.filter(F.col("doc_id") % 7 != 0)
           .withColumn("text",
                       F.when(F.col("doc_id") % 3 == 0,
                              F.upper(F.col("text")))
                       .otherwise(F.col("text"))))
    return snapshot_diff(old, new, "doc_id", ["text"])


# ===========================================================================
# cross-corpus (incremental-ingest) near-dup removal
# ===========================================================================


def _cross_corpus_oracle_sql(threshold: float = 0.5) -> str:
    """Mirror of ``dedup.cross_corpus_dedup``: the same seeded family /
    shingle fold / banding as ``_minhash_lsh_oracle_sql``, but the bucket
    join is new-side (doc_id % 3 != 0) × ref-side (doc_id % 3 == 0) with
    the bucket-size bound applied per side, and the final aggregation
    elects each new doc's best reference match (highest rounded Jaccard,
    ties to the smallest ref id)."""
    import numpy as np
    rng = np.random.RandomState(42)
    a = rng.randint(1, 1 << 31, size=32, dtype=np.int64)
    b = rng.randint(0, 1 << 31, size=32, dtype=np.int64)
    A = "[" + ", ".join(str(int(x)) for x in a) + "]"
    B = "[" + ", ".join(str(int(x)) for x in b) + "]"
    P, W, M = 1099511628211, 1 << 64, (1 << 61) - 1
    return rf"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents
),
th AS (
  SELECT doc_id, t,
    list_transform(t, w -> ('0x' || substr(md5(w),1,16))::UBIGINT::HUGEINT) AS h
  FROM toks
),
sh AS (
  SELECT doc_id,
    CASE WHEN len(h) = 0 THEN []::BIGINT[]
         WHEN len(h) = 1 THEN [CAST(h[1] % 4294967296 AS BIGINT)]
         WHEN len(h) = 2 THEN [CAST((h[1]*{P} + h[2]) % {W} % 4294967296 AS BIGINT)]
         ELSE list_distinct(list_transform(range(len(h) - 2),
           i -> CAST(((h[i+1]*{P} + h[i+2]) % {W} * {P} + h[i+3]) % {W} % 4294967296 AS BIGINT)))
    END AS s
  FROM th
),
sigs AS (
  SELECT doc_id,
    CASE WHEN len(s) = 0 THEN list_transform(range(32), j -> 0::BIGINT)
         ELSE list_transform(range(32),
           j -> list_min(list_transform(s,
             x -> ({A}[j+1]::BIGINT * x + {B}[j+1]::BIGINT) % {M})))
    END AS sig
  FROM sh
),
banded AS (
  SELECT doc_id, bd.band,
    md5(bd.band::VARCHAR || ',' ||
        array_to_string(sig[bd.band*4+1 : bd.band*4+4], ',')) AS bucket
  FROM sigs, (SELECT unnest(range(8)) AS band) bd
),
new_b AS (
  SELECT * FROM (
    SELECT doc_id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS n
    FROM banded WHERE doc_id % 3 != 0)
  WHERE n <= 1000
),
ref_b AS (
  SELECT * FROM (
    SELECT doc_id, band, bucket,
           count(*) OVER (PARTITION BY band, bucket) AS n
    FROM banded WHERE doc_id % 3 = 0)
  WHERE n <= 1000
),
cands AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM new_b x JOIN ref_b y ON x.band = y.band AND x.bucket = y.bucket
),
grams AS (
  SELECT doc_id,
    CASE WHEN len(t) = 0 THEN []::VARCHAR[]
         WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
         ELSE list_distinct(list_transform(range(len(t) - 2),
           i -> array_to_string(t[i+1:i+3], ' ')))
    END AS g
  FROM toks
),
mh AS (
  SELECT c.a, c.b,
    round(CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) = 0 THEN 0.0
          ELSE len(list_intersect(ga.g, gb.g))::DOUBLE
               / len(list_distinct(list_concat(ga.g, gb.g))) END, 6) AS j
  FROM cands c JOIN grams ga ON ga.doc_id = c.a JOIN grams gb ON gb.doc_id = c.b
  WHERE (CASE WHEN len(list_distinct(list_concat(ga.g, gb.g))) = 0 THEN 0.0
         ELSE len(list_intersect(ga.g, gb.g))::DOUBLE
              / len(list_distinct(list_concat(ga.g, gb.g))) END) >= {threshold}
),
ranked AS (
  SELECT a, b, j,
         row_number() OVER (PARTITION BY a ORDER BY j DESC, b ASC) AS rn,
         count(*) OVER (PARTITION BY a) AS nm
  FROM mh)
SELECT a AS doc_id, b AS best_ref, j AS best_jaccard,
       nm::BIGINT AS n_ref_matches
FROM ranked WHERE rn = 1"""


@q("dedup_cross_corpus", _cross_corpus_oracle_sql())
def dedup_cross_corpus(spark, sf):
    """Incremental-ingest dedup: the new slice of the corpus (doc_id % 3
    != 0) deduped AGAINST the already-ingested reference slice (% 3 == 0)
    — new×ref bucket join, never a self-join of the union."""
    d = _t(spark, sf, "documents")
    ref = d.filter(F.col("doc_id") % 3 == 0)
    new = d.filter(F.col("doc_id") % 3 != 0)
    return dedup.cross_corpus_dedup(new, ref, "text", "doc_id",
                                    threshold=0.5, num_hashes=32, bands=8)


# ===========================================================================
# CCNet-style LM-perplexity quality bucketing
# ===========================================================================


@q("ccnet_perplexity", r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
refc AS (
  SELECT tok, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 5 = 0)
  GROUP BY tok),
tv AS (SELECT sum(cnt)::BIGINT AS _t, count(*)::BIGINT AS _v FROM refc),
doc AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) = 0 THEN [NULL]::VARCHAR[] ELSE t END) AS tok
  FROM toks),
scored AS (
  SELECT d.doc_id, d.tok,
         ln((coalesce(c.cnt, 0) + 1)::DOUBLE / (tv._t + tv._v + 1)::DOUBLE)
           AS lp
  FROM doc d LEFT JOIN refc c ON d.tok = c.tok CROSS JOIN tv),
per AS (
  SELECT doc_id, count(tok)::BIGINT AS n_tokens,
         round(coalesce(-sum(CASE WHEN tok IS NOT NULL THEN lp END)
                          / count(tok), 0.0), 6) AS cross_entropy
  FROM scored GROUP BY doc_id),
cuts AS (SELECT quantile_cont(cross_entropy,
           [0.3333333333333333, 0.6666666666666666]) AS q FROM per)
SELECT doc_id, n_tokens, cross_entropy,
       round(exp(cross_entropy), 3) AS perplexity,
       CASE WHEN cross_entropy <= q[1] THEN 'head'
            WHEN cross_entropy <= q[2] THEN 'middle'
            ELSE 'tail' END AS bucket
FROM per CROSS JOIN cuts
""")
def ccnet_perplexity(spark, sf):
    """LM-quality bucketing (CCNet): unigram LM trained on the doc_id % 5
    reference slice, every document scored by cross-entropy and cut into
    head/middle/tail tertiles."""
    d = _t(spark, sf, "documents")
    return textstats.lm_perplexity(
        d, "text", "doc_id", ref_df=d.filter(F.col("doc_id") % 5 == 0))


@q("dsir_select", r"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
feats AS (
  SELECT doc_id, is_t,
    list_concat(t, CASE WHEN len(t) >= 2
      THEN list_transform(range(len(t) - 1),
                          i -> t[(i + 1)::INT] || ' ' || t[(i + 2)::INT])
      ELSE []::VARCHAR[] END) AS g
  FROM toks),
occ AS (
  SELECT doc_id, is_t,
    CASE WHEN f IS NOT NULL
         THEN (('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096)::BIGINT
    END AS b
  FROM (SELECT doc_id, is_t,
          unnest(CASE WHEN len(g) = 0 THEN [NULL]::VARCHAR[] ELSE g END) AS f
        FROM feats)),
raw AS (
  SELECT b, count(*)::BIGINT AS cr,
         count(*) FILTER (WHERE is_t)::BIGINT AS ct
  FROM occ WHERE b IS NOT NULL GROUP BY b),
tots AS (SELECT sum(cr)::BIGINT AS tr, sum(ct)::BIGINT AS tt FROM raw),
ratio AS (
  SELECT b, ln((ct + 1.0) / (tt + 4096.0))
           - ln((cr + 1.0) / (tr + 4096.0)) AS lr
  FROM raw CROSS JOIN tots),
per AS (
  SELECT doc_id, count(b)::BIGINT AS n_feats,
         round(coalesce(sum(CASE WHEN b IS NOT NULL THEN lr END), 0.0), 6)
           AS log_weight
  FROM occ LEFT JOIN ratio USING (b) GROUP BY doc_id),
cut AS (SELECT quantile_cont(log_weight, 0.7) AS c FROM per)
SELECT doc_id, n_feats, log_weight, log_weight >= c AS keep
FROM per CROSS JOIN cut
""")
def dsir_select(spark, sf):
    """DSIR importance resampling: hashed unigram+bigram bag-of-buckets
    LMs (target = English docs vs the whole raw corpus), per-doc log
    importance ratio, keep the top 30% most target-like documents."""
    d = _t(spark, sf, "documents")
    return textstats.dsir_importance(
        d, "text", "doc_id", target_filter=(F.col("lang") == "en"),
        buckets=4096, keep_frac=0.3)


def _quality_lr_oracle_sql(n_buckets: int = 64, steps: int = 5,
                           lr: float = 1.0, n_train: int = 128) -> str:
    """Exact SQL mirror of ``textstats.quality_lr_score`` — the gradient
    descent is data-dependent, so the ``steps`` full-batch GD iterations
    run INSIDE the SQL as unrolled CTE triples (per-doc error from the
    previous weights, per-bucket gradient, weight/bias update). Weights
    and bias are rounded to 9dp after every step in BOTH engines, so the
    driver's numpy GD and this CTE chain see bit-identical parameters at
    each iteration regardless of summation order (the IVF-Lloyd unroll
    pattern, applied to a continuous optimizer)."""
    bkt = f"(('0x' || substr(md5(u.w), 1, 8))::UBIGINT % {n_buckets})::BIGINT"
    step_ctes = []
    prev_w, prev_b = "w0", "bi0"
    for i in range(1, steps + 1):
        step_ctes.append(f"""e{i} AS MATERIALIZED (
  SELECT s.doc_id,
         1.0 / (1.0 + exp(-(b.bias + coalesce(fs.mv, 0.0)))) - s.y AS err
  FROM samp s CROSS JOIN {prev_b} b
  LEFT JOIN (SELECT f.doc_id, sum(f.v * w.wt) AS mv
             FROM feat f JOIN {prev_w} w USING (b)
             GROUP BY f.doc_id) fs USING (doc_id)),
w{i} AS MATERIALIZED (
  SELECT w.b, round(w.wt - {lr} * coalesce(g.gb, 0.0), 9) AS wt
  FROM {prev_w} w LEFT JOIN (
    SELECT f.b, sum(e.err * f.v) / (SELECT count(*) FROM samp) AS gb
    FROM feat f JOIN e{i} e USING (doc_id) GROUP BY f.b) g USING (b)),
bi{i} AS MATERIALIZED (SELECT round(b.bias - {lr} * (SELECT avg(err) FROM e{i}), 9)
            AS bias
          FROM {prev_b} b)""")
        prev_w, prev_b = f"w{i}", f"bi{i}"
    chain = ",\n".join(step_ctes)
    return f"""
WITH toks AS (
  SELECT doc_id, coalesce((lang = 'en')::INT, 0) AS y,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\\s+'),
                x -> x <> '') AS t
  FROM documents),
samp AS MATERIALIZED (SELECT doc_id, y, t FROM toks ORDER BY doc_id LIMIT {n_train}),
occ AS MATERIALIZED (
  SELECT doc_id, {bkt} AS b, len(t) AS dl
  FROM samp, unnest(t) AS u(w)),
feat AS MATERIALIZED (
  SELECT doc_id, b, count(*)::DOUBLE / max(dl) AS v
  FROM occ GROUP BY doc_id, b),
w0 AS MATERIALIZED (SELECT unnest(range({n_buckets}))::BIGINT AS b, 0.0 AS wt),
bi0 AS MATERIALIZED (SELECT 0.0 AS bias),
{chain},
alltok AS MATERIALIZED (
  SELECT doc_id, {bkt} AS b, len(t) AS dl
  FROM toks, unnest(t) AS u(w)),
msum AS MATERIALIZED (
  SELECT a.doc_id, sum(w.wt) / max(a.dl) AS mv
  FROM alltok a JOIN {prev_w} w USING (b) GROUP BY a.doc_id)
SELECT doc_id, lr_score, (lr_score >= 0.5)::BIGINT AS pred FROM (
  SELECT t.doc_id,
         round(1.0 / (1.0 + exp(-(b.bias + coalesce(m.mv, 0.0)))), 6)
           AS lr_score
  FROM toks t CROSS JOIN {prev_b} b LEFT JOIN msum m USING (doc_id))
"""


@q("quality_lr", _quality_lr_oracle_sql())
def quality_lr(spark, sf):
    """Model-based quality filtering: a hashed-unigram logistic-regression
    classifier (label = lang='en') trained by 5 full-batch GD steps on the
    first-128-docs sample, scored over the whole corpus as a pure map
    pass — the fasttext-filter stage of CCNet/RefinedWeb/FineWeb.

    On the driver corpus every lang shares ONE vocabulary by construction,
    so the label carries no lexical signal (AUC ≈ 0.5) — this row verifies
    exact cross-engine GD parity and the scoring plumbing; that the
    classifier LEARNS is proven by the separable-vocabulary unit test
    (test_quality_lr_learns_separable_vocab)."""
    d = _t(spark, sf, "documents")
    d = d.withColumn("is_en", (F.col("lang") == "en").cast("int"))
    return textstats.quality_lr_score(d, "text", "doc_id", "is_en")


# ===========================================================================
# BPE merge-pair statistics (tokenizer induction, first iteration)
# ===========================================================================


@q("bpe_pair_stats", r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
words AS (
  SELECT w, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
pos AS (
  SELECT w, cnt, length(w) AS l, unnest(range(length(w))) AS i FROM words),
pairs AS (
  SELECT substr(w, (i + 1)::INT, 1) AS sym_l,
         CASE WHEN i + 1 < l THEN substr(w, (i + 2)::INT, 1)
              ELSE '</w>' END AS sym_r,
         cnt
  FROM pos)
SELECT sym_l, sym_r, sum(cnt)::BIGINT AS n
FROM pairs GROUP BY sym_l, sym_r
ORDER BY n DESC, sym_l, sym_r LIMIT 50
""")
def bpe_pair_stats_q(spark, sf):
    """First BPE merge iteration's pair-count table over the corpus vocab
    (adjacent char symbols + </w> end-of-word marker, weighted by word
    frequency), top-50."""
    d = _t(spark, sf, "documents")
    return textstats.bpe_pair_stats(d, "text", top_k=50)


def _bpe_merges_oracle_sql(n_merges: int = 10) -> str:
    """Exact SQL mirror of ``textstats.bpe_learn_merges``: the merge loop
    is data-dependent, so every iteration is an unrolled MATERIALIZED CTE
    triple — pair counts over the current symbol sequences, the 1-row
    best pair (count desc, pair asc), and the double-replace rewrite.
    Entirely integer/string arithmetic: no float drift is possible, the
    merge tables must match exactly."""
    ctes = []
    for k in range(1, n_merges + 1):
        ctes.append(f"""p{k} AS MATERIALIZED (
  SELECT l, r, sum(cnt)::BIGINT AS c FROM (
    SELECT syms[(i + 1)::INT] AS l, syms[(i + 2)::INT] AS r, cnt
    FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS syms,
                 cnt
          FROM seq{k - 1}),
         unnest(range(len(syms) - 1)) AS t(i))
  GROUP BY l, r),
b{k} AS MATERIALIZED (
  SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
seq{k} AS MATERIALIZED (
  SELECT replace(replace(q.s, ' ' || b.l || ' ' || b.r || ' ',
                         ' ' || b.l || b.r || ' '),
                 ' ' || b.l || ' ' || b.r || ' ',
                 ' ' || b.l || b.r || ' ') AS s, q.cnt
  FROM seq{k - 1} q CROSS JOIN b{k} b)""")
    chain = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(
        f"SELECT {k}::BIGINT AS step, l AS sym_l, r AS sym_r,"
        f" c AS pair_count FROM b{k}" for k in range(1, n_merges + 1))
    return f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(coalesce(text,'')), '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
words AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS cnt
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
seq0 AS MATERIALIZED (
  SELECT ' ' || array_to_string(
           list_transform(range(length(w)), i -> w[(i + 1)::INT]), ' ')
         || ' </w> ' AS s, cnt
  FROM words),
{chain}
SELECT step, sym_l, sym_r, pair_count FROM ({union}) ORDER BY step
"""


def _bpe_encode_oracle_sql(n_merges: int = 10) -> str:
    """Exact SQL mirror of learn-then-encode: the ``bpe_learn_merges``
    unroll with the word identity carried through every seq CTE, then
    the per-word symbol count joined back to the (doc, word) counts.
    Pure integer/string arithmetic — must match exactly."""
    ctes = []
    for k in range(1, n_merges + 1):
        ctes.append(f"""p{k} AS MATERIALIZED (
  SELECT l, r, sum(cnt)::BIGINT AS c FROM (
    SELECT syms[(i + 1)::INT] AS l, syms[(i + 2)::INT] AS r, cnt
    FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS syms,
                 cnt
          FROM seq{k - 1}),
         unnest(range(len(syms) - 1)) AS t(i))
  GROUP BY l, r),
b{k} AS MATERIALIZED (
  SELECT l, r, c FROM p{k} ORDER BY c DESC, l ASC, r ASC LIMIT 1),
seq{k} AS MATERIALIZED (
  SELECT q.w, replace(replace(q.s, ' ' || b.l || ' ' || b.r || ' ',
                              ' ' || b.l || b.r || ' '),
                      ' ' || b.l || ' ' || b.r || ' ',
                      ' ' || b.l || b.r || ' ') AS s, q.cnt
  FROM seq{k - 1} q CROSS JOIN b{k} b)""")
    chain = ",\n".join(ctes)
    return f"""
WITH words AS MATERIALIZED (
  SELECT w, count(*)::BIGINT AS cnt FROM (
    SELECT unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
                                                 '\\s+'),
                              x -> x <> '')) AS w
    FROM documents) GROUP BY w),
seq0 AS MATERIALIZED (
  SELECT w, ' ' || array_to_string(
           list_transform(range(length(w)), i -> w[(i + 1)::INT]), ' ')
         || ' </w> ' AS s, cnt
  FROM words),
{chain},
enc AS MATERIALIZED (
  SELECT w, len(list_filter(string_split(s, ' '), x -> x <> ''))::BIGINT
           AS n_syms
  FROM seq{n_merges}),
docw AS (
  SELECT doc_id, w, count(*)::BIGINT AS k FROM (
    SELECT doc_id, unnest(list_filter(string_split_regex(
             lower(coalesce(text, '')), '\\s+'), x -> x <> '')) AS w
    FROM documents) GROUP BY doc_id, w)
SELECT d.doc_id,
       coalesce(sum(dw.k * e.n_syms), 0)::BIGINT AS n_bpe_tokens
FROM documents d
LEFT JOIN docw dw ON dw.doc_id = d.doc_id
LEFT JOIN enc e ON e.w = dw.w
GROUP BY d.doc_id
"""


@q("bpe_encode", _bpe_encode_oracle_sql())
def bpe_encode_q(spark, sf):
    """Learn→encode round trip: induce the first 10 BPE merges on the
    corpus (the bpe_learn_merges loop), then apply them — per-doc token
    counts under the TRAINED tokenizer (exact budgets, not the
    bpe_ish_token_count heuristic). The merge list is the bounded
    driver-side artifact a tokenizer ships; encoding itself runs over
    the distinct vocabulary only (textstats.bpe_encode_count)."""
    d = _t(spark, sf, "documents")
    mtab = textstats.bpe_learn_merges(d, "text", n_merges=10)
    merges = [(r["sym_l"], r["sym_r"])
              for r in mtab.orderBy("step").collect()]
    return textstats.bpe_encode_count(d, "text", "doc_id", merges)


@q("bpe_learn_merges", _bpe_merges_oracle_sql())
def bpe_learn_merges_q(spark, sf):
    """Iterative BPE tokenizer induction: the first 10 learned merge
    rules over the corpus vocabulary (bpe_pair_stats is iteration 1 of
    exactly this loop) — the artifact a trained tokenizer ships."""
    d = _t(spark, sf, "documents")
    return textstats.bpe_learn_merges(d, "text", n_merges=10)


# ===========================================================================
# C4 line-level cleaning + leakage-safe domain splits
# ===========================================================================


@q("c4_line_filter", r"""
WITH base AS (
  SELECT doc_id,
    coalesce(text, '') AS tx,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
seg AS (
  SELECT doc_id, tx,
    list_transform(range(greatest(ceil(len(t) / 12.0), 1)::INT),
                   i -> array_to_string(t[i*12+1 : i*12+12], ' ')) AS lines
  FROM base),
keptt AS (
  SELECT doc_id, tx, lines,
    list_filter(lines, ln ->
      len(list_filter(string_split_regex(ln, '\s+'), x -> x <> '')) >= 5
      AND NOT contains(lower(ln), 'javascript')) AS kept
  FROM seg),
flagged AS (
  SELECT doc_id, lines, kept,
    (contains(lower(tx), 'lorem ipsum') OR contains(tx, '{')
     OR len(kept) < 3) AS bad
  FROM keptt)
SELECT doc_id,
       CASE WHEN bad THEN '' ELSE array_to_string(kept, chr(10)) END
         AS clean_text,
       len(lines)::INT AS n_lines,
       len(kept)::INT AS n_kept,
       bad::INT AS dropped
FROM flagged
""")
def c4_line_filter_q(spark, sf):
    """C4 line-level cleaning over the corpus. The synthetic documents
    have no newline/punctuation structure, so the driver query uses the
    fixed-12-token segmenter with the word-count + javascript + page
    rules (the terminal-punctuation rule is exercised in the unit tests
    on crafted lines instead — the same fixed-block rule passage_dedup
    runs)."""
    d = _t(spark, sf, "documents")
    # mirror the oracle's lowercased tokenization so segments compare
    # byte-identically (the operator segments the raw column)
    dl = d.withColumn("text", F.lower("text"))
    return textstats.c4_line_filter(dl, "text", "doc_id", min_words=5,
                                    require_terminal_punct=False,
                                    min_kept_lines=3, segmenter="tokens",
                                    k_tokens=12)


_SPLIT_T_CUT = int(0.9 * (1 << 32))
_SPLIT_V_CUT = int((0.9 + 0.05) * (1 << 32))


@q("domain_split", f"""
SELECT doc_id, source,
       CASE WHEN h < {_SPLIT_T_CUT} THEN 'train'
            WHEN h < {_SPLIT_V_CUT} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, source,
             ('0x' || substr(md5('42|' || source), 1, 8))::UBIGINT::BIGINT
               AS h
      FROM documents)
""")
def domain_split_q(spark, sf):
    """Leakage-safe corpus splits: every document of a source lands in the
    same train/val/test bucket (hash of the GROUP key, exact integer
    compare — no float draw, no per-doc randomness)."""
    d = _t(spark, sf, "documents")
    return textstats.domain_split(d, "source", "doc_id",
                                  fractions=(0.9, 0.05), seed=42)


# ===========================================================================
# link graph: PageRank (frontier authority) + anchor-text aggregation
# ===========================================================================


def _pagerank_oracle_sql(n_mod: int = 200, iters: int = 5,
                         damping: float = 0.85) -> str:
    """Exact SQL mirror of ``graph.pagerank``: the synchronous power
    iteration is data-dependent, so (like the IVF Lloyd unroll above) the
    fixed round count runs INSIDE the SQL as chained CTEs — each round is
    the contribution aggregation, the dangling-mass scalar, and the
    teleport blend, all in DOUBLE so both engines execute the identical
    float ops. The synthetic link graph derives deterministically from
    ``events`` (src = user_id mod n, dst = event_id mod n, self-loops
    dropped, multi-edges collapsed)."""
    head = f"""WITH edges AS (
  SELECT DISTINCT user_id % {n_mod} AS src, event_id % {n_mod} AS dst
  FROM events WHERE user_id % {n_mod} <> event_id % {n_mod}),
nodes AS (SELECT src AS n FROM edges UNION SELECT dst AS n FROM edges),
nn AS (SELECT count(*)::DOUBLE AS cnt FROM nodes),
deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT n, (SELECT 1.0::DOUBLE / cnt FROM nn) AS r FROM nodes)"""
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f""",
r{t} AS (
  SELECT nd.n,
         (1.0::DOUBLE - {damping}::DOUBLE) / nn.cnt
         + {damping}::DOUBLE * (coalesce(c.contrib, 0.0::DOUBLE)
                                + dang.dmass / nn.cnt) AS r
  FROM nodes nd
  CROSS JOIN nn
  CROSS JOIN (SELECT coalesce(sum(p.r), 0.0::DOUBLE) AS dmass
              FROM r{t - 1} p LEFT JOIN deg d ON p.n = d.src
              WHERE d.src IS NULL) dang
  LEFT JOIN (SELECT e.dst AS n, sum(p.r / d.outdeg) AS contrib
             FROM edges e
             JOIN r{t - 1} p ON p.n = e.src
             JOIN deg d ON d.src = e.src
             GROUP BY e.dst) c ON c.n = nd.n)""")
    tail = f"""
SELECT n AS node, round(r, 6) AS pagerank FROM r{iters}"""
    return head + "".join(rounds) + tail


def _trustrank_cte_chain(n_mod: int = 200, iters: int = 5,
                         damping: float = 0.85, seed_mod: int = 37) -> str:
    """The TrustRank unroll as a CTE chain fragment (edges … r{iters}),
    shared by the standalone ``link_trustrank`` oracle and the
    ``frontier_priority`` composition oracle."""
    head = f"""edges AS (
  SELECT DISTINCT user_id % {n_mod} AS src, event_id % {n_mod} AS dst
  FROM events WHERE user_id % {n_mod} <> event_id % {n_mod}),
nodes AS (SELECT src AS n FROM edges UNION SELECT dst AS n FROM edges),
deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src),
seeds AS (SELECT n FROM nodes WHERE n % {seed_mod} = 0),
ns AS (SELECT count(*)::DOUBLE AS cnt FROM seeds),
pv AS (SELECT nd.n,
              CASE WHEN s.n IS NULL THEN 0.0::DOUBLE
                   ELSE (SELECT 1.0::DOUBLE / cnt FROM ns) END AS p
       FROM nodes nd LEFT JOIN seeds s ON nd.n = s.n),
r0 AS (SELECT n, p AS r FROM pv)"""
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f""",
r{t} AS (
  SELECT nd.n,
         (1.0::DOUBLE - {damping}::DOUBLE) * pv.p
         + {damping}::DOUBLE * (coalesce(c.contrib, 0.0::DOUBLE)
                                + dang.dmass * pv.p) AS r
  FROM nodes nd
  JOIN pv ON pv.n = nd.n
  CROSS JOIN (SELECT coalesce(sum(p2.r), 0.0::DOUBLE) AS dmass
              FROM r{t - 1} p2 LEFT JOIN deg d ON p2.n = d.src
              WHERE d.src IS NULL) dang
  LEFT JOIN (SELECT e.dst AS n, sum(p2.r / d.outdeg) AS contrib
             FROM edges e
             JOIN r{t - 1} p2 ON p2.n = e.src
             JOIN deg d ON d.src = e.src
             GROUP BY e.dst) c ON c.n = nd.n)""")
    return head + "".join(rounds)


def _trustrank_oracle_sql(n_mod: int = 200, iters: int = 5,
                          damping: float = 0.85, seed_mod: int = 37) -> str:
    """Exact SQL mirror of ``graph.pagerank(..., personalization=seeds)``
    (TrustRank): the pagerank unroll with the teleport vector uniform
    over the seed set (nodes ≡ 0 mod ``seed_mod``) instead of 1/N — both
    the (1-d) teleport term and the dangling redistribution multiply
    p(v), so mass re-enters only at trusted nodes. Same all-DOUBLE float
    path as the Spark expression."""
    return (f"WITH {_trustrank_cte_chain(n_mod, iters, damping, seed_mod)}"
            f"\nSELECT n AS node, round(r, 6) AS trustrank FROM r{iters}")


def _frontier_priority_oracle_sql(n_mod: int = 200, iters: int = 5,
                                  damping: float = 0.85,
                                  seed_mod: int = 37, k: int = 50) -> str:
    """Composition oracle: the TrustRank chain PLUS the bounded-recursion
    BFS closure over the SAME graph and seed set, blended into a ranked
    frontier. Priority is FIXED-POINT: the 6dp-rounded trustrank becomes
    exact integer micros (round(tr*1e6) — an integer-valued double on
    both engines, so the cast agrees), then milli-micros integer-divided
    by (1 + depth). All-integer arithmetic: no float rounding can
    diverge (a double round(tr/(1+depth), 6) measurably DID — Spark
    0.002035 vs DuckDB 0.002034 on an exact decimal midpoint tr/2).

    The recursive closure lives in its OWN subquery scope (a nested,
    fully self-contained WITH RECURSIVE): hoisting RECURSIVE to the
    outer WITH makes DuckDB 1.0 mis-evaluate the non-recursive
    trustrank chain sharing that clause (6.1M garbage rows from a
    200-row chain, measured), and AS MATERIALIZED under outer-RECURSIVE
    hangs outright — scoping the recursion is the portable form."""
    return f"""
WITH {_trustrank_cte_chain(n_mod, iters, damping, seed_mod)},
dep AS (
  SELECT node, min(depth)::BIGINT AS depth FROM (
    WITH RECURSIVE e2 AS (
      SELECT DISTINCT user_id % {n_mod} AS src, event_id % {n_mod} AS dst
      FROM events WHERE user_id % {n_mod} <> event_id % {n_mod}),
    reach AS (
      SELECT n AS node, 0 AS depth
      FROM (SELECT src AS n FROM e2 UNION SELECT dst AS n FROM e2)
      WHERE n % {seed_mod} = 0
      UNION
      SELECT e.dst AS node, r.depth + 1 AS depth
      FROM reach r JOIN e2 e ON e.src = r.node
      WHERE r.depth < 32)
    SELECT node, depth FROM reach) GROUP BY node),
tr AS (SELECT n AS node, round(r, 6) AS tr FROM r{iters})
SELECT node, depth, priority_micro, rank FROM (
  SELECT d.node, d.depth,
         (round(t.tr * 1000000)::BIGINT * 1000) // (1 + d.depth)
           AS priority_micro,
         row_number() OVER (
           ORDER BY (round(t.tr * 1000000)::BIGINT * 1000)
                    // (1 + d.depth) DESC, d.node ASC) AS rank
  FROM dep d JOIN tr t ON t.node = d.node)
WHERE rank <= {k}
"""


def _hits_oracle_sql(n_mod: int = 200, iters: int = 5) -> str:
    """Exact SQL mirror of ``graph.hits``: the hub/authority mutual
    recursion unrolled as MATERIALIZED CTE quadruples (raw authority,
    L1-normalized authority, raw hub, L1-normalized hub). Scores round
    to 9dp after every normalization in BOTH engines (the quality_lr GD
    lesson), so summation-order drift cannot compound across rounds and
    the 6dp outputs match exactly."""
    head = f"""WITH edges AS MATERIALIZED (
  SELECT DISTINCT user_id % {n_mod} AS src, event_id % {n_mod} AS dst
  FROM events WHERE user_id % {n_mod} <> event_id % {n_mod}),
nodes AS MATERIALIZED (
  SELECT src AS n FROM edges UNION SELECT dst AS n FROM edges),
h0 AS MATERIALIZED (SELECT n, 1.0::DOUBLE AS hub FROM nodes)"""
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f""",
ra{t} AS MATERIALIZED (
  SELECT nd.n, coalesce(p.s, 0.0::DOUBLE) AS s
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS n, sum(h.hub) AS s
    FROM edges e JOIN h{t - 1} h ON h.n = e.src GROUP BY e.dst) p
  USING (n)),
a{t} AS MATERIALIZED (
  SELECT n, round(s / (SELECT sum(s) FROM ra{t}), 9) AS authority
  FROM ra{t}),
rh{t} AS MATERIALIZED (
  SELECT nd.n, coalesce(p.s, 0.0::DOUBLE) AS s
  FROM nodes nd LEFT JOIN (
    SELECT e.src AS n, sum(a.authority) AS s
    FROM edges e JOIN a{t} a ON a.n = e.dst GROUP BY e.src) p
  USING (n)),
h{t} AS MATERIALIZED (
  SELECT n, round(s / (SELECT sum(s) FROM rh{t}), 9) AS hub
  FROM rh{t})""")
    tail = f"""
SELECT a.n AS node, round(a.authority, 6) AS authority,
       round(h.hub, 6) AS hub
FROM a{iters} a JOIN h{iters} h ON a.n = h.n"""
    return head + "".join(rounds) + tail


@q("link_hits", _hits_oracle_sql())
def link_hits(spark, sf):
    """HITS hubs & authorities over the same synthetic link graph as
    link_pagerank — the second classic frontier-authority signal."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    return graph.hits(edges, iters=5)


@q("link_pagerank", _pagerank_oracle_sql())
def link_pagerank(spark, sf):
    # frontier authority: 5 synchronous power-iteration rounds over the
    # outlink graph (graph.pagerank — edge side shuffled once, ranks
    # checkpointed per round)
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    ranks = graph.pagerank(edges, iters=5, damping=0.85)
    return ranks.select("node", F.round("pagerank", 6).alias("pagerank"))


@q("link_bfs_depth", """
WITH RECURSIVE edges AS MATERIALIZED (
  SELECT DISTINCT user_id % 200 AS src, event_id % 200 AS dst
  FROM events
  WHERE user_id % 200 <> event_id % 200 AND (user_id + event_id) % 11 = 0),
reach AS (
  SELECT n AS node, 0 AS depth
  FROM (SELECT src AS n FROM edges UNION SELECT dst AS n FROM edges)
  WHERE n % 37 = 0
  UNION
  SELECT e.dst AS node, r.depth + 1 AS depth
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < 32)
SELECT node, min(depth)::BIGINT AS depth FROM reach GROUP BY node
""")
def link_bfs_depth(spark, sf):
    """Crawl depth from the seed set: minimum link distance from any seed
    (nodes ≡ 0 mod 37) over a SPARSE slice of the synthetic link graph
    (the (user_id+event_id) % 11 edge filter keeps out-degree ~2, so the
    BFS actually has levels and some nodes stay unreached — the operator
    returns reached nodes only). The oracle is a bounded recursive CTE
    (depth < 32, the same bound bfs_depth raises past); min(depth) over
    the generated closure equals the synchronous frontier expansion."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"),
                      ((F.col("user_id") + F.col("event_id")) % 11)
                      .alias("__k"))
             .filter((F.col("src") != F.col("dst")) & (F.col("__k") == 0))
             .drop("__k"))
    nodes = (edges.select(F.col("src").alias("n"))
             .union(edges.select(F.col("dst").alias("n"))).distinct())
    seeds = nodes.filter(F.col("n") % 37 == 0)
    return graph.bfs_depth(edges, seeds, max_iters=32)


@q("harmonic_centrality", """
WITH RECURSIVE edges AS MATERIALIZED (
  SELECT DISTINCT user_id % 200 AS src, event_id % 200 AS dst
  FROM events
  WHERE user_id % 200 <> event_id % 200 AND (user_id + event_id) % 11 = 0),
walk AS (
  SELECT n AS origin, n AS node, 0 AS d
  FROM (SELECT src AS n FROM edges UNION SELECT dst AS n FROM edges)
  UNION
  SELECT w.origin, e.dst AS node, w.d + 1 AS d
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d < 62),
md AS (SELECT origin, node, min(d) AS d FROM walk GROUP BY 1, 2)
SELECT node, sum(1000000 // d)::BIGINT AS harmonic_micro,
       count(*)::BIGINT AS n_reachers
FROM md WHERE d > 0 GROUP BY node
""")
def harmonic_centrality_q(spark, sf):
    """Harmonic centrality — the Common Crawl host-rank metric (Boldi &
    Vigna 2014) — over the same sparse link-graph slice as
    link_bfs_depth, in exact per-term fixed point (floor(1e6/d) summed
    as integers, order-free). The oracle unrolls the all-pairs shortest
    distances with a bounded recursive CTE (d < 62 mirrors the
    operator's max_iters=63 raise bound); the operator is the
    pair-frontier BFS, an O(n^2)-pair small-graph path."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"),
                      ((F.col("user_id") + F.col("event_id")) % 11)
                      .alias("__k"))
             .filter((F.col("src") != F.col("dst")) & (F.col("__k") == 0))
             .drop("__k"))
    return graph.harmonic_centrality(edges, max_iters=63)


@q("link_trustrank", _trustrank_oracle_sql())
def link_trustrank(spark, sf):
    """TrustRank (Gyöngyi 2004): personalized PageRank whose teleport
    vector is uniform over a vetted seed set (nodes ≡ 0 mod 37) — the
    spam-demotion signal a crawl scheduler blends with raw authority.
    Same 5-round unroll and float path as link_pagerank; only the
    teleport/dangling terms change (p(v) instead of 1/N)."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    nodes = (edges.select(F.col("src").alias("n"))
             .union(edges.select(F.col("dst").alias("n"))).distinct())
    seeds = nodes.filter(F.col("n") % 37 == 0)
    ranks = graph.pagerank(edges, iters=5, damping=0.85,
                           personalization=seeds)
    return ranks.select("node", F.round("pagerank", 6).alias("trustrank"))


@q("link_cocitation", """
WITH edges AS (
  SELECT DISTINCT user_id % 200 AS src, event_id % 200 AS dst
  FROM events WHERE user_id % 200 <> event_id % 200),
capped AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
    FROM edges) WHERE rn <= 50)
SELECT x.dst AS a, y.dst AS b, count(*)::BIGINT AS cocite
FROM capped x JOIN capped y ON x.src = y.src AND x.dst < y.dst
GROUP BY x.dst, y.dst
HAVING count(*) >= 2
""")
def link_cocitation(spark, sf):
    """Co-citation similarity (related pages / mirror detection): pairs
    of targets cited by >= 2 common sources, with each source's out-list
    capped at 50 (lexicographically smallest targets — deterministic, so
    both engines cap identically) BEFORE the per-src pair join."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    return graph.cocitation(edges, max_out_degree=50, min_count=2)


@q("frontier_priority", _frontier_priority_oracle_sql())
def frontier_priority(spark, sf):
    """The crawl-policy composition the graph signals exist FOR: blend
    TrustRank authority with seed-set crawl depth into a ranked frontier
    (priority = trustrank / (1 + depth): authoritative pages near the
    vetted seeds first — unreachable pages can't be scheduled and are
    absent by construction). Composes graph.pagerank(personalization=)
    and graph.bfs_depth over the SAME graph and seed set; priority is
    FIXED-POINT (trustrank micros × 1000, integer-divided by 1+depth) so
    both engines rank identical integers — a float division measurably
    diverged on a decimal midpoint (see the oracle generator docstring).
    The global top-k window runs on the already-joined frontier
    (bounded); at 100 TB the rank would partition per host/steward batch
    exactly like window_budget_rank."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    nodes = (edges.select(F.col("src").alias("n"))
             .union(edges.select(F.col("dst").alias("n"))).distinct())
    seeds = nodes.filter(F.col("n") % 37 == 0)
    tr = (graph.pagerank(edges, iters=5, damping=0.85,
                         personalization=seeds)
          .select("node", F.round("pagerank", 6).alias("tr")))
    dep = graph.bfs_depth(edges, seeds, max_iters=32)
    pri = (dep.join(tr, "node")
           .withColumn("tr_micros",
                       F.round(F.col("tr") * 1e6, 0).cast("long"))
           .select("node", "depth",
                   F.expr("(tr_micros * 1000) div (1 + depth)")
                   .alias("priority_micro")))
    w = Window.orderBy(F.col("priority_micro").desc(), F.col("node").asc())
    return (pri.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 50))


@q("anchor_text_agg", """
WITH links AS (
  SELECT event_id % 500 AS target, event_type AS anchor FROM events),
per AS (
  SELECT target, anchor, count(*) AS cnt FROM links GROUP BY target, anchor),
tot AS (
  SELECT target, sum(cnt)::BIGINT AS n_links, count(*)::BIGINT AS n_anchors
  FROM per GROUP BY target),
win AS (
  SELECT target, anchor AS top_anchor FROM (
    SELECT target, anchor,
           row_number() OVER (PARTITION BY target
                              ORDER BY cnt DESC, anchor DESC) AS rn
    FROM per) WHERE rn = 1)
SELECT t.target, t.n_links, t.n_anchors, w.top_anchor
FROM tot t JOIN win w USING (target)
""")
def anchor_text_agg_q(spark, sf):
    # per-target anchor summary (indexing input): two hash aggs, winner by
    # max(struct) — the oracle's window is only oracle-side
    e = _t(spark, sf, "events")
    links = e.select((F.col("event_id") % 500).alias("target"),
                     F.col("event_type").alias("anchor"))
    return graph.anchor_text_agg(links)


def _lpa_oracle_sql(n_mod: int = 200, block: int = 40, cross_mod: int = 97,
                    iters: int = 4) -> str:
    """Exact SQL mirror of ``graph.label_propagation``: the synchronous
    rounds are data-dependent so the fixed round count is unrolled as
    chained CTEs (the pagerank/IVF idiom).  Each round is the
    (node, neighbor-label) count plus the per-node winner elected by
    ``row_number() OVER (ORDER BY cnt DESC, lab ASC)`` — the exact
    tie-break Spark's ``max(struct(cnt, -lab))`` implements.  Chained
    CTEs are ``AS MATERIALIZED``: DuckDB re-evaluates inlined chains
    exponentially (the PQ-oracle lesson).  The synthetic community graph
    derives deterministically from ``events``: nodes = ids mod
    ``n_mod``, edges kept when both ends share a ``block`` or on a
    sparse ``cross_mod`` hash — 5 planted blocks plus weak cross links,
    so LPA has real structure to find."""
    head = f"""WITH de AS MATERIALIZED (
  SELECT DISTINCT user_id % {n_mod} AS s, event_id % {n_mod} AS d
  FROM events
  WHERE user_id % {n_mod} <> event_id % {n_mod}
    AND ((user_id % {n_mod}) // {block} = (event_id % {n_mod}) // {block}
         OR ((user_id % {n_mod}) * 31 + event_id % {n_mod})
            % {cross_mod} = 0)),
ue AS MATERIALIZED (
  SELECT s AS a, d AS b FROM de UNION SELECT d AS a, s AS b FROM de),
l0 AS MATERIALIZED (SELECT DISTINCT a AS n, a AS lab FROM ue)"""
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f""",
c{t} AS MATERIALIZED (
  SELECT e.a, p.lab, count(*) AS cnt
  FROM ue e JOIN l{t - 1} p ON p.n = e.b GROUP BY e.a, p.lab),
l{t} AS MATERIALIZED (
  SELECT a AS n, lab FROM (
    SELECT a, lab,
           row_number() OVER (PARTITION BY a
                              ORDER BY cnt DESC, lab ASC) AS rn
    FROM c{t}) WHERE rn = 1)""")
    tail = f"""
SELECT n AS node, lab AS community FROM l{iters}"""
    return head + "".join(rounds) + tail


@q("link_communities", _lpa_oracle_sql())
def link_communities(spark, sf):
    # deterministic synchronous LPA over the planted-block link graph;
    # winner election is two hash aggs (max(struct)), never a window
    e = _t(spark, sf, "events")
    s = (F.col("user_id") % 200).alias("src")
    d = (F.col("event_id") % 200).alias("dst")
    edges = (e.select(s, d)
             .filter(F.col("src") != F.col("dst"))
             .filter(((F.col("src") / 40).cast("long")
                      == (F.col("dst") / 40).cast("long"))
                     | ((F.col("src") * 31 + F.col("dst")) % 97 == 0)))
    return (graph.label_propagation(edges)
            .select(F.col("n").alias("node"), "community"))


@q("budget_waterfill", """
WITH dem AS (
  SELECT user_id % 200 AS host, count(*)::BIGINT AS demand
  FROM events GROUP BY 1),
bud AS (SELECT (sum(demand) * 2 // 5)::BIGINT AS b FROM dem),
ranked AS (
  SELECT host, demand,
         row_number() OVER (ORDER BY demand, host) AS rn,
         sum(demand) OVER (ORDER BY demand, host) AS prefix,
         count(*) OVER () AS n
  FROM dem),
scalar AS (
  SELECT coalesce(max(CASE WHEN prefix - demand + demand * (n - rn + 1)
                                <= (SELECT b FROM bud)
                           THEN rn END), 0) AS k,
         coalesce(max(CASE WHEN prefix - demand + demand * (n - rn + 1)
                                <= (SELECT b FROM bud)
                           THEN prefix END), 0) AS pk,
         max(n) AS nn
  FROM ranked)
SELECT host, demand,
       (CASE WHEN rn <= k THEN demand
             ELSE ((SELECT b FROM bud) - pk) // greatest(nn - k, 1)
                  + CASE WHEN rn - k <=
                         ((SELECT b FROM bud) - pk)
                         - ((SELECT b FROM bud) - pk)
                           // greatest(nn - k, 1) * (nn - k)
                         THEN 1 ELSE 0 END
        END)::BIGINT AS allocated
FROM ranked, scalar
""")
def budget_waterfill_q(spark, sf):
    # max-min fair (water-filling) reallocation of a global fetch budget
    # across per-host demands — budget = 40% of total demand, a bounded
    # 1-row driver scalar (the IVF-training-sample bound)
    e = _t(spark, sf, "events")
    dem = (e.groupBy((F.col("user_id") % 200).alias("host"))
           .agg(F.count(F.lit(1)).cast("long").alias("demand")))
    total = dem.agg(F.sum("demand")).collect()[0][0]
    return schedule.budget_waterfill(dem, budget=total * 2 // 5)


@q("trap_templates", """
WITH urls AS (
  SELECT 'h' || (user_id % 50) AS host,
         CASE event_type WHEN 'view' THEN '/page/' || event_id
              WHEN 'click' THEN '/cal/2024/' || (event_id % 365)
              WHEN 'error' THEN '/item?id=' || event_id
              ELSE '/static/p' || (event_id % 20) END AS path
  FROM events),
per AS (SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g') AS tmpl,
               count(DISTINCT path)::BIGINT AS n_urls
        FROM urls GROUP BY 1, 2),
tot AS (SELECT host, sum(n_urls)::BIGINT AS host_urls FROM per GROUP BY 1)
SELECT host, tmpl, n_urls,
       (n_urls * 1000000 // host_urls)::BIGINT AS share_micro,
       CASE WHEN n_urls > 40 THEN 1 ELSE 0 END AS is_trap
FROM per JOIN tot USING (host)
""")
def trap_templates_q(spark, sf):
    # spider-trap mining over the synthetic URL space derived from events
    # (unbounded /page/<id> + /item?id=<id> templates vs bounded calendar
    # and static ones) — frontier hygiene the reference lacks
    e = _t(spark, sf, "events")
    urls = e.select(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string"))
        .alias("host"),
        F.when(F.col("event_type") == "view",
               F.concat(F.lit("/page/"), F.col("event_id").cast("string")))
        .when(F.col("event_type") == "click",
              F.concat(F.lit("/cal/2024/"),
                       (F.col("event_id") % 365).cast("string")))
        .when(F.col("event_type") == "error",
              F.concat(F.lit("/item?id="), F.col("event_id").cast("string")))
        .otherwise(F.concat(F.lit("/static/p"),
                            (F.col("event_id") % 20).cast("string")))
        .alias("path"))
    return schedule.trap_templates(urls)


@q("recrawl_change_rates", """
WITH visits AS (
  SELECT event_id % 300 AS url_id, ts, event_id,
         user_id % 4 AS ver
  FROM events),
lagged AS (
  SELECT url_id, ts, ver,
         CASE WHEN lag(ver) OVER (PARTITION BY url_id
                                  ORDER BY ts, event_id) IS NOT NULL
               AND lag(ver) OVER (PARTITION BY url_id
                                  ORDER BY ts, event_id) <> ver
              THEN 1 ELSE 0 END AS chg
  FROM visits)
SELECT url_id, count(*)::BIGINT AS n_visits,
       sum(chg)::BIGINT AS n_changed,
       (CASE WHEN count(*) > 1
             THEN sum(chg)::BIGINT * 1000000 // (count(*)::BIGINT - 1)
             ELSE 0 END)::BIGINT AS change_rate_micro,
       max(ts) AS last_ts
FROM lagged GROUP BY url_id
""")
def recrawl_change_rates_q(spark, sf):
    # freshness estimation over the synthetic revisit log (url = event_id
    # mod 300, content version = user_id mod 4); event_id tie-breaks
    # equal timestamps so visit order is layout-independent
    e = _t(spark, sf, "events")
    visits = e.select((F.col("event_id") % 300).alias("url_id"),
                      "ts", "event_id",
                      (F.col("user_id") % 4).alias("ver"))
    return schedule.recrawl_change_rates(visits, tie_col="event_id")


@q("politeness_audit", """
WITH f AS (SELECT user_id % 50 AS host, ts FROM events),
g AS (SELECT host,
             epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY host
                                                   ORDER BY ts)) AS gap_us
      FROM f)
SELECT host, count(*)::BIGINT AS n_fetches,
       min(gap_us)::BIGINT AS min_gap_sec_micro,
       sum(CASE WHEN gap_us < 120000000 THEN 1 ELSE 0 END)::BIGINT
         AS n_violations,
       (CASE WHEN count(*) > 1
             THEN sum(CASE WHEN gap_us < 120000000 THEN 1 ELSE 0 END)::BIGINT
                  * 1000000 // (count(*)::BIGINT - 1)
             ELSE 0 END)::BIGINT AS violation_rate_micro
FROM g GROUP BY host
""")
def politeness_audit_q(spark, sf):
    # per-host crawl-delay compliance over the synthetic fetch log
    # (host = user_id mod 50): integer-microsecond gaps, one host-keyed
    # shuffle shared by the lag window and the rollup
    e = _t(spark, sf, "events")
    f = e.select((F.col("user_id") % 50).alias("host"), "ts")
    return schedule.politeness_audit(f, min_delay_sec=120.0)


@q("compression_ratio", None)
def compression_ratio_q(spark, sf):
    """DEFLATE-ratio quality signal. rows-only: no ANSI engine exposes
    zlib, so parity is pinned against python zlib directly in pytest
    (byte-exact, same level)."""
    d = _t(spark, sf, "documents")
    return textstats.compression_ratio(d, "text", "doc_id")


@q("containment_pairs", """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS g
  FROM tok, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
sz AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
hot AS (SELECT g FROM (SELECT g, count(*) AS ndocs FROM grams GROUP BY g)
        WHERE ndocs > 50),
kept AS (SELECT doc_id, g FROM grams ANTI JOIN hot USING (g)),
p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT id_a, id_b, shared,
       (shared::BIGINT * 1000000 // least(sa.n, sb.n)::BIGINT)::BIGINT
         AS cont_micro
FROM p JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
WHERE shared::BIGINT * 1000 >= least(sa.n, sb.n)::BIGINT * 700
""")
def containment_pairs_q(spark, sf):
    # one-sided n-gram containment (quote/subset detection): hashed-gram
    # inverted index, broadcast anti-join on the hot-gram cap, narrow
    # (id_a,id_b) pair agg; gram counts identical to the oracle's string
    # grams (xxhash64 collision bound ~2^-64, the substring_dedup bound)
    d = _t(spark, sf, "documents")
    return dedup.containment_pairs(d, "text", "doc_id")


@q("sitemap_parse", """
WITH x AS (
  SELECT event_id AS sm_id,
         '<url><loc>https://h' || (user_id % 50) || '.gov.au/p' || event_id
         || '</loc>'
         || CASE WHEN event_id % 3 <> 0
                 THEN '<lastmod>2024-01-'
                      || lpad(((event_id % 28) + 1)::VARCHAR, 2, '0')
                      || '</lastmod>' ELSE '' END
         || CASE WHEN event_id % 5 <> 0
                 THEN '<changefreq>' || event_type || '</changefreq>'
                 ELSE '' END
         || '</url>' AS xml
  FROM events)
SELECT sm_id,
       nullif(regexp_extract(xml, '<loc>([^<]+)</loc>', 1), '') AS loc,
       nullif(regexp_extract(xml, '<lastmod>([^<]+)</lastmod>', 1), '')
         AS lastmod,
       nullif(regexp_extract(xml, '<changefreq>([^<]+)</changefreq>', 1), '')
         AS changefreq
FROM x
WHERE nullif(regexp_extract(xml, '<loc>([^<]+)</loc>', 1), '') IS NOT NULL
""")
def sitemap_parse_q(spark, sf):
    # sitemap-protocol ingestion: synthesize one <url> entry per event
    # (some missing optional tags), parse with the pure-regexp extractor;
    # the oracle parses per-row (one entry each), the Spark path runs the
    # full multi-entry explode machinery
    e = _t(spark, sf, "events")
    day = F.lpad(((F.col("event_id") % 28) + 1).cast("string"), 2, "0")
    xml = F.concat(
        F.lit("<url><loc>https://h"),
        (F.col("user_id") % 50).cast("string"),
        F.lit(".gov.au/p"), F.col("event_id").cast("string"),
        F.lit("</loc>"),
        F.when(F.col("event_id") % 3 != 0,
               F.concat(F.lit("<lastmod>2024-01-"), day,
                        F.lit("</lastmod>"))).otherwise(""),
        F.when(F.col("event_id") % 5 != 0,
               F.concat(F.lit("<changefreq>"), F.col("event_type"),
                        F.lit("</changefreq>"))).otherwise(""),
        F.lit("</url>"))
    sm = e.select(F.col("event_id").alias("sm_id"), xml.alias("xml"))
    return sources.sitemap_entries(sm, "xml").drop("xml")


@q("gopher_rules", r"""
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS n_chars,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         len(regexp_extract_all(text, '\.\.\.')) AS n_ell,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(l, '^[-*•]'))) AS n_bullet,
         len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(l, '(\.\.\.|…)$'))) AS n_elll,
         len(list_filter(string_split(text, ' '),
             w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         len(list_intersect(list_distinct(string_split(lower(text), ' ')),
             ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM documents)
SELECT doc_id, n_words,
       round(coalesce((n_chars - n_words + 1) / nullif(n_words, 0), 0), 6)
         AS mean_word_len,
       round(coalesce((n_hash + n_ell) / nullif(n_words, 0), 0), 6)
         AS symbol_ratio,
       round(coalesce(n_bullet / nullif(n_lines, 0), 0), 6)
         AS bullet_line_frac,
       round(coalesce(n_elll / nullif(n_lines, 0), 0), 6)
         AS ellipsis_line_frac,
       round(coalesce(n_alpha / nullif(n_words, 0), 0), 6)
         AS alpha_word_frac,
       n_stop AS n_stop_hits,
       CASE WHEN n_words BETWEEN 50 AND 100000
             AND (n_chars - n_words + 1) / nullif(n_words, 0)
                 BETWEEN 3 AND 10
             AND coalesce((n_hash + n_ell) / nullif(n_words, 0), 0) <= 0.1
             AND coalesce(n_bullet / nullif(n_lines, 0), 0) <= 0.9
             AND coalesce(n_elll / nullif(n_lines, 0), 0) <= 0.3
             AND coalesce(n_alpha / nullif(n_words, 0), 0) >= 0.8
             AND n_stop >= 2
            THEN 1 ELSE 0 END AS gopher_pass
FROM s
""")
def gopher_rules_q(spark, sf):
    # Gopher (arXiv:2112.11446) quality rule set: one codegen projection,
    # per-rule ratios + folded pass flag; PASS compares unrounded doubles
    # (identical IEEE division both engines), display rounds to 6dp
    d = _t(spark, sf, "documents")
    return textstats.gopher_rules(d, "text", "doc_id")


@q("dedup_fuzzy_edit", r"""
WITH d AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
k AS (
  SELECT doc_id, t, length(t) AS ln, length(t) // 32 AS lb,
         substr(t, 1, 16) AS pk, substr(reverse(t), 1, 16) AS sk
  FROM d),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.t AS ta, b.t AS tb,
         a.ln AS la, b.ln AS lbn
  FROM k a JOIN k b ON a.lb = b.lb AND a.pk = b.pk AND a.doc_id < b.doc_id
  WHERE abs(a.ln - b.ln) * 1000 <= greatest(a.ln, b.ln) * 200
  UNION
  SELECT a.doc_id, b.doc_id, a.t, b.t, a.ln, b.ln
  FROM k a JOIN k b ON a.lb = b.lb AND a.sk = b.sk AND a.doc_id < b.doc_id
  WHERE abs(a.ln - b.ln) * 1000 <= greatest(a.ln, b.ln) * 200)
SELECT id_a, id_b,
       (1000000 - levenshtein(ta, tb)::BIGINT * 1000000
                  // greatest(la, lbn))::BIGINT AS edit_sim_micro
FROM cand
WHERE levenshtein(ta, tb)::BIGINT * 1000 <= greatest(la, lbn) * 200
""")
def dedup_fuzzy_edit_q(spark, sf):
    # blocked (length-bucket x prefix/suffix) + Levenshtein-verified fuzzy
    # dedup; integer-arithmetic threshold and fixed-point similarity keep
    # the oracle bit-exact (no float rounding on a filtered value)
    d = _t(spark, sf, "documents")
    return dedup.fuzzy_edit_pairs(d, "text", "doc_id")


@q("redirect_resolve", """
WITH RECURSIVE m AS MATERIALIZED (
  SELECT 'u' || node AS src, 'u' || ((3 * node + 7) % 600) AS dst
  FROM (SELECT DISTINCT event_id % 600 AS node FROM events)
  WHERE node % 5 <> 0),
uni AS MATERIALIZED (
  SELECT src AS url FROM m UNION SELECT dst FROM m),
walk AS (
  SELECT url, url AS cur, 0 AS hops FROM uni
  UNION ALL
  SELECT w.url, m.dst, w.hops + 1
  FROM walk w JOIN m ON w.cur = m.src
  WHERE w.hops < 8),
last AS (
  SELECT url, max_by(cur, hops) AS cur, max(hops) AS hops
  FROM walk GROUP BY url)
SELECT l.url,
       CASE WHEN t.src IS NULL THEN l.cur END AS final_url,
       (CASE WHEN t.src IS NULL THEN l.hops ELSE 8 END)::BIGINT AS hops,
       (t.src IS NULL)::INT AS resolved
FROM last l LEFT JOIN (SELECT DISTINCT src FROM m) t ON l.cur = t.src
""")
def redirect_resolve_q(spark, sf):
    """Redirect-chain resolution over a synthetic functional redirect map
    derived from events: node u (≢0 mod 5) redirects to (3u+7) mod 600 —
    a rho-shaped functional graph with real tails AND real cycles, so both
    the resolved and the too-many-redirects paths are exercised. The
    operator walks by pointer doubling in ceil(log2(8)) = 3 self-joins;
    the oracle walks the same map one hop at a time with a bounded
    recursive CTE (hops < 8) and takes each URL's last row — identical
    (url, final_url, hops, resolved) by the doubling invariant."""
    e = _t(spark, sf, "events")
    nodes = e.select((F.col("event_id") % 600).alias("node")).distinct()
    m = (nodes.filter(F.col("node") % 5 != 0)
         .select(F.concat(F.lit("u"), F.col("node")).alias("src"),
                 F.concat(F.lit("u"), ((F.col("node") * 3 + 7) % 600))
                 .alias("dst")))
    return graph.resolve_redirects(m, max_hops=8)


@q("host_line_dedup", r"""
WITH base AS (
  SELECT doc_id, source,
    list_filter(string_split_regex(lower(coalesce(text,'')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
seg AS (
  SELECT doc_id, source,
    list_transform(range(greatest(ceil(len(t) / 2.0), 1)::INT),
                   i -> array_to_string(t[i*2+1 : i*2+2], ' ')) AS lines
  FROM base),
ex AS (
  SELECT doc_id, source, unnest(lines) AS line,
         generate_subscripts(lines, 1) AS pos
  FROM seg),
cnt AS (
  SELECT source, lower(trim(line)) AS norm, count(DISTINCT doc_id) AS docs
  FROM ex GROUP BY 1, 2),
j AS (
  SELECT e.doc_id, e.pos, e.line, c.docs
  FROM ex e JOIN cnt c
    ON c.source = e.source AND c.norm = lower(trim(e.line)))
SELECT doc_id,
  coalesce(string_agg(line, chr(10) ORDER BY pos)
           FILTER (WHERE docs < 2), '') AS clean_text,
  count(*)::INT AS n_lines,
  (count(*) FILTER (WHERE docs >= 2))::INT AS n_dropped
FROM j GROUP BY doc_id
""")
def host_line_dedup_q(spark, sf):
    """CCNet-style per-source boilerplate line removal. The synthetic
    corpus has no newline structure, so the driver query segments into
    fixed 2-token blocks (short enough that the shared vocabulary
    produces real cross-document repeats — the counting/join/reassembly
    path does real dropping at sf0.01); real newline segmentation and
    the min_docs threshold are exercised on crafted pages in the unit
    test. Text is pre-lowered to mirror the oracle's tokenization, the
    same honest degradation as c4_line_filter."""
    d = _t(spark, sf, "documents").withColumn("text", F.lower("text"))
    return textstats.host_line_dedup(d, "text", "doc_id", "source",
                                     min_docs=2, segmenter="tokens",
                                     k_tokens=2)


_PARAM_URLS_CTES = """urls AS (
  SELECT '/p' || (event_id % 40) || '?page=' || (event_id % 3)
         || '&ref=' || (user_id % 2) || '&session=' || (user_id % 23)
           AS url,
         md5('c|' || (event_id % 40) || '|' || (event_id % 3)) AS h
  FROM events),
base AS (
  SELECT url, h, split_part(url, '?', 1) AS path,
    list_sort(list_filter(string_split(split_part(url, '?', 2), '&'),
                          x -> x <> '')) AS params
  FROM urls),
ex AS (SELECT url, h, path, params, unnest(params) AS p FROM base),
kx AS (
  SELECT url, h, path, split_part(p, '=', 1) AS k,
         split_part(p, '=', 2) AS v,
         array_to_string(list_filter(params, x -> x <> p), '&') AS others
  FROM ex),
grp AS (SELECT k, path, others, count(DISTINCT h) AS nh
        FROM kx GROUP BY 1, 2, 3),
mk AS (SELECT k, max(nh) AS max_nh FROM grp GROUP BY k),
vs AS (SELECT k, count(DISTINCT url) AS n_urls,
              count(DISTINCT v) AS n_values
       FROM kx GROUP BY k)"""


def _param_urls(spark, sf):
    """The synthetic URL log _PARAM_URLS_CTES mirrors (shared by the
    mining and the canonicalization queries)."""
    e = _t(spark, sf, "events")
    s = lambda c: c.cast("string")
    return e.select(
        F.concat(F.lit("/p"), s(F.col("event_id") % 40),
                 F.lit("?page="), s(F.col("event_id") % 3),
                 F.lit("&ref="), s(F.col("user_id") % 2),
                 F.lit("&session="), s(F.col("user_id") % 23))
        .alias("url"),
        F.md5(F.concat_ws("|", F.lit("c"),
                          s(F.col("event_id") % 40),
                          s(F.col("event_id") % 3)))
        .alias("content_hash"))


@q("url_param_mining", f"""
WITH {_PARAM_URLS_CTES}
SELECT mk.k AS param, vs.n_urls, vs.n_values,
       ((max_nh = 1) AND (n_values >= 2))::INT AS junk
FROM mk JOIN vs ON mk.k = vs.k
""")
def url_param_mining_q(spark, sf):
    """Junk query-param mining over a synthetic URL log derived from
    events: content depends on (path, page) only, so ``session`` (23
    values) and ``ref`` (2 values) must come out junk while ``page``
    must not — a colliding (path, ref, session) group observing two
    different pages exists at sf0.01 by birthday counting, and whatever
    the corpus yields, both engines judge the identical observations."""
    return schedule.mine_junk_params(_param_urls(spark, sf),
                                     "url", "content_hash")


@q("url_canonical_strip", f"""
WITH {_PARAM_URLS_CTES},
junkkeys AS (
  SELECT mk.k FROM mk JOIN vs ON mk.k = vs.k
  WHERE max_nh = 1 AND n_values >= 2),
du AS (SELECT DISTINCT url, path, params FROM base),
keptp AS (
  SELECT d.url, d.path, x.p
  FROM du d, unnest(d.params) AS x(p)
  WHERE split_part(x.p, '=', 1) NOT IN (SELECT k FROM junkkeys)),
agg AS (
  SELECT url, any_value(path) AS path, list_sort(list(p)) AS kp
  FROM keptp GROUP BY url)
SELECT d.url,
       CASE WHEN a.kp IS NOT NULL AND len(a.kp) > 0
            THEN d.path || '?' || array_to_string(a.kp, '&')
            ELSE d.path END AS canonical_url
FROM du d LEFT JOIN agg a ON d.url = a.url
""")
def url_canonical_strip_q(spark, sf):
    """Mine → strip, end to end: convict junk params on the synthetic
    URL log, then canonicalize every distinct URL by dropping them —
    the form the frontier seen-check should key on. At sf0.01 the 4,6xx
    observed URL variants collapse to the (path, page) cross product."""
    u = _param_urls(spark, sf)
    junk = schedule.mine_junk_params(u, "url", "content_hash")
    return schedule.apply_param_canonicalization(u, junk)


@q("host_reciprocity", """
WITH pe AS (
  SELECT DISTINCT user_id % 200 AS ps, event_id % 200 AS pd
  FROM events WHERE user_id % 200 <> event_id % 200),
e AS (
  SELECT DISTINCT ps % 40 AS a, pd % 40 AS b FROM pe
  WHERE ps % 40 <> pd % 40),
m AS (
  SELECT e.a, e.b FROM e JOIN e r ON e.a = r.b AND e.b = r.a),
o AS (SELECT a, count(*) AS out_deg FROM e GROUP BY a),
mm AS (SELECT a, count(*) AS mutual FROM m GROUP BY a)
SELECT o.a AS node, out_deg, coalesce(mm.mutual, 0) AS mutual,
       (coalesce(mm.mutual, 0) * 1000000) // out_deg AS reciprocity_micro
FROM o LEFT JOIN mm ON o.a = mm.a
""")
def host_reciprocity_q(spark, sf):
    """Link-farm signal over the host graph: collapse the synthetic page
    link graph (the link_* idiom) to 40 hosts, then per-host distinct
    out-degree, reciprocated-edge count, and the fixed-point ratio.
    Organic authority is one-directional; spam cliques reciprocate."""
    ev = _t(spark, sf, "events")
    pe = (ev.select((F.col("user_id") % 200).alias("ps"),
                    (F.col("event_id") % 200).alias("pd"))
          .filter(F.col("ps") != F.col("pd")).distinct())
    he = (pe.select((F.col("ps") % 40).alias("src"),
                    (F.col("pd") % 40).alias("dst"))
          .filter(F.col("src") != F.col("dst")))
    return graph.reciprocity(he)


@q("round_novelty", r"""
WITH toks AS (
  SELECT doc_id % 6 AS rnd,
    list_filter(string_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '') AS t
  FROM documents),
ex AS (
  SELECT DISTINCT rnd, array_to_string(t[i:i+2], ' ') AS g
  FROM toks, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS s(i)),
fr AS (SELECT g, min(rnd) AS r0 FROM ex GROUP BY g)
SELECT rnd AS round, count(*) AS n_grams,
       count(*) FILTER (WHERE r0 = rnd) AS n_new,
       (count(*) FILTER (WHERE r0 = rnd) * 1000000) // count(*)
         AS novelty_micro
FROM ex JOIN fr USING (g) GROUP BY rnd
""")
def round_novelty_q(spark, sf):
    """Per-round content novelty: rounds simulated as doc_id mod 6; of
    each round's distinct token 3-grams, the fraction first seen in that
    round. The Spark side explodes xxhash64 gram KEYS (the decontaminate
    trick — grams never materialize as strings) while the oracle uses
    the gram strings themselves; the compared values are counts, equal
    up to the same 2^-64 collision bound the house already accepts."""
    d = _t(spark, sf, "documents")
    d = d.withColumn("rnd", F.col("doc_id") % 6)
    return content_novelty(d, "text", "rnd", ngram=3)


@q("rel_canonical", """
WITH b AS (
  SELECT user_id, event_id,
         'https://h' || (user_id % 50) || '.gov.au/p' || event_id AS url,
         'https://h' || (user_id % 50) || '.gov.au/p'
           || (event_id - (event_id % 4)) AS cu
  FROM events),
p AS (
  SELECT url,
    CASE WHEN event_id % 3 = 0
         THEN '<html><head><link rel="canonical" href="' || cu
              || '"></head></html>'
         WHEN event_id % 3 = 1
         THEN '<html><head><link href="' || cu
              || '" rel="canonical"></head></html>'
         ELSE '<html><head></head></html>' END AS html
  FROM b)
SELECT url,
  coalesce(
    nullif(regexp_extract(html,
      '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1), ''),
    nullif(regexp_extract(html,
      '<link[^>]*href="([^"]*)"[^>]*rel="canonical"', 1), ''),
    url) AS canonical_url,
  (coalesce(
    nullif(regexp_extract(html,
      '<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1), ''),
    nullif(regexp_extract(html,
      '<link[^>]*href="([^"]*)"[^>]*rel="canonical"', 1), ''))
   IS NOT NULL)::INT AS declared
FROM p
""")
def rel_canonical_q(spark, sf):
    """rel=canonical extraction over synthesized page heads: a third of
    the pages declare rel-first, a third href-first (both attribute
    orders exercised), a third nothing — undeclared pages canonicalize
    to themselves. Pure-regexp projection, the sitemap_entries idiom."""
    e = _t(spark, sf, "events")
    s = lambda c: c.cast("string")
    cu = F.concat(F.lit("https://h"), s(F.col("user_id") % 50),
                  F.lit(".gov.au/p"),
                  s(F.col("event_id") - (F.col("event_id") % 4)))
    html = (F.when(F.col("event_id") % 3 == 0,
                   F.concat(F.lit('<html><head><link rel="canonical" '
                                  'href="'), cu, F.lit('"></head></html>')))
            .when(F.col("event_id") % 3 == 1,
                  F.concat(F.lit('<html><head><link href="'), cu,
                           F.lit('" rel="canonical"></head></html>')))
            .otherwise('<html><head></head></html>'))
    pages = e.select(
        F.concat(F.lit("https://h"), s(F.col("user_id") % 50),
                 F.lit(".gov.au/p"), s(F.col("event_id"))).alias("url"),
        html.alias("html"))
    return sources.rel_canonical_map(pages, "url", "html")


@q("mirror_hosts", """
WITH p AS (
  SELECT 'h' || (user_id % 30) AS h,
         md5('c|' || (user_id % 15) || '|' || (event_id % 40)) AS x
  FROM events),
hh AS (SELECT DISTINCT h, x FROM p),
sz AS (SELECT h, count(*) AS sz FROM hh GROUP BY h),
pr AS (
  SELECT l.h AS host_a, r.h AS host_b, count(*) AS inter
  FROM hh l JOIN hh r ON l.x = r.x AND l.h < r.h
  GROUP BY 1, 2)
SELECT host_a, host_b, inter, a.sz AS size_a, b.sz AS size_b,
       (inter * 1000000) // (a.sz + b.sz - inter) AS jaccard_micro,
       ((inter * 1000000) // (a.sz + b.sz - inter) >= 500000)::INT
         AS mirror
FROM pr JOIN sz a ON pr.host_a = a.h JOIN sz b ON pr.host_b = b.h
""")
def mirror_hosts_q(spark, sf):
    """Mirror-host detection over a synthetic 30-host page log where
    host k and host k+15 serve the identical content-hash space (the
    planted mirrors) and all other pairs share nothing: the
    inverted-index self-join must surface exactly the 15 planted pairs,
    each at Jaccard ≈ 1."""
    e = _t(spark, sf, "events")
    s = lambda c: c.cast("string")
    pages = e.select(
        F.concat(F.lit("h"), s(F.col("user_id") % 30)).alias("host"),
        F.md5(F.concat_ws("|", F.lit("c"), s(F.col("user_id") % 15),
                          s(F.col("event_id") % 40)))
        .alias("content_hash"))
    return dedup.mirror_host_pairs(pages, "host", "content_hash")


@q("dom_templates", """
WITH p AS (
  SELECT 'h' || (user_id % 20) AS host,
    '<html><head><title>t</title></head><body>'
    || CASE WHEN event_id % 4 = 0
            THEN '<div><h1></h1><p></p><p></p></div>'
            WHEN event_id % 4 = 1
            THEN '<div><h1></h1><ul><li></li></ul></div>'
            ELSE '<article><p></p></article>' END
    || '</body></html>' AS html
  FROM events),
t AS (
  SELECT host,
    md5(array_to_string(
      regexp_extract_all(html, '<([a-z][a-z0-9]*)', 1), ',')) AS template
  FROM p),
per AS (SELECT host, template, count(*) AS n_pages
        FROM t GROUP BY 1, 2),
tot AS (SELECT host, sum(n_pages) AS total FROM per GROUP BY host)
SELECT per.host, per.template, per.n_pages,
       CAST((per.n_pages * 1000000) // tot.total AS BIGINT) AS share_micro,
       ((per.n_pages * 1000000) // tot.total >= 300000)::INT AS hot
FROM per JOIN tot ON per.host = tot.host
""")
def dom_templates_q(spark, sf):
    """DOM-template mining over synthesized pages: 20 hosts serving
    three markup skeletons (two at 25% share, one at 50% — the hot one),
    fingerprinted by opening-tag sequence. Identical regexp + md5 in
    both engines; shares in fixed-point micros."""
    e = _t(spark, sf, "events")
    s = lambda c: c.cast("string")
    body = (F.when(F.col("event_id") % 4 == 0,
                   "<div><h1></h1><p></p><p></p></div>")
            .when(F.col("event_id") % 4 == 1,
                  "<div><h1></h1><ul><li></li></ul></div>")
            .otherwise("<article><p></p></article>"))
    pages = e.select(
        F.concat(F.lit("h"), s(F.col("user_id") % 20)).alias("host"),
        F.concat(F.lit("<html><head><title>t</title></head><body>"),
                 body, F.lit("</body></html>")).alias("html"))
    return sources.dom_template_stats(pages, "host", "html")


@q("recrawl_schedule", """
WITH visits AS (
  SELECT event_id % 300 AS url_id, ts, event_id,
         user_id % 4 AS ver
  FROM events),
lagged AS (
  SELECT url_id, ts, ver,
         CASE WHEN lag(ver) OVER (PARTITION BY url_id
                                  ORDER BY ts, event_id) IS NOT NULL
               AND lag(ver) OVER (PARTITION BY url_id
                                  ORDER BY ts, event_id) <> ver
              THEN 1 ELSE 0 END AS chg
  FROM visits),
rates AS (
  SELECT url_id,
         (CASE WHEN count(*) > 1
               THEN sum(chg)::BIGINT * 1000000 // (count(*)::BIGINT - 1)
               ELSE 0 END)::BIGINT AS change_rate_micro,
         max(ts) AS last_ts
  FROM lagged GROUP BY url_id),
scored AS (
  SELECT url_id,
         ((epoch_us(TIMESTAMP '2025-01-01 00:00:00') - epoch_us(last_ts))
          // 1000000)::BIGINT AS age_sec,
         change_rate_micro,
         ((epoch_us(TIMESTAMP '2025-01-01 00:00:00') - epoch_us(last_ts))
          // 1000000)::BIGINT
           * (1 + change_rate_micro) AS priority_micro
  FROM rates)
SELECT * FROM scored
ORDER BY priority_micro DESC, url_id LIMIT 50
""")
def recrawl_schedule_q(spark, sf):
    """The full freshness loop: estimate per-URL change rates from the
    synthetic revisit log, then rank by staleness x change rate against
    a FIXED now-literal (reproducible) and keep the top-50 — the next
    recrawl batch. The url_id tail key makes the top-k cutoff exact in
    both engines."""
    e = _t(spark, sf, "events")
    visits = e.select((F.col("event_id") % 300).alias("url_id"),
                      "ts", "event_id",
                      (F.col("user_id") % 4).alias("ver"))
    rates = schedule.recrawl_change_rates(visits, tie_col="event_id")
    return schedule.recrawl_priority(rates, "2025-01-01 00:00:00", k=50)


@q("embedding_sq8", """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
d AS (SELECT vec_id, unnest(x) AS v, generate_subscripts(x, 1) AS i
      FROM e),
mm AS (SELECT i, min(v) AS lo, max(v) AS hi FROM d GROUP BY i),
r AS (
  SELECT vec_id, v,
    CASE WHEN hi > lo
         THEN lo + floor((v - lo) * 255.0 / (hi - lo) + 0.5)
              * (hi - lo) / 255.0
         ELSE lo END AS dq
  FROM d JOIN mm USING (i))
SELECT vec_id,
       floor(avg((v - dq) * (v - dq)) * 1000000.0 + 0.5)::BIGINT
         AS mse_micro
FROM r GROUP BY vec_id
""")
def embedding_sq8_q(spark, sf):
    """Scalar int8 quantization error per vector: per-dimension corpus
    [min, max], nearest of 256 levels via floor(t + 0.5) (never round —
    the cross-engine midpoint lesson), fixed-point MSE. The go/no-go
    measurement before swapping the rerank stage to int8 codes."""
    e = _t(spark, sf, "embeddings")
    return similarity.sq8_reconstruction(e, "embedding", "vec_id")


@q("split_leakage", f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS tk
  FROM documents WHERE doc_id < 200),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b
  FROM toks a, toks b
  WHERE a.doc_id < b.doc_id
    AND round(len(list_intersect(a.tk, b.tk))::DOUBLE /
              len(list_distinct(list_concat(a.tk, b.tk))), 6) >= 0.5),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL SELECT b, a FROM pairs),
walk AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents WHERE doc_id < 200
  UNION
  SELECT e.dst AS id, w.comp
  FROM walk w JOIN edges e ON e.src = w.id),
comps AS (SELECT id AS doc_id, min(comp) AS comp FROM walk GROUP BY id),
splits AS (
  SELECT doc_id,
         CASE WHEN h < {_SPLIT_T_CUT} THEN 'train'
              WHEN h < {_SPLIT_V_CUT} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               ('0x' || substr(md5('42|' || source), 1, 8))
                 ::UBIGINT::BIGINT AS h
        FROM documents WHERE doc_id < 200))
SELECT c.comp, count(*)::BIGINT AS n_docs,
       count(DISTINCT s.split)::BIGINT AS n_splits,
       (count(DISTINCT s.split) > 1)::INT AS leaky
FROM comps c JOIN splits s ON c.doc_id = s.doc_id
GROUP BY c.comp
""")
def split_leakage_q(spark, sf):
    """Eval-leakage audit: near-dup components (the dedup_clusters graph)
    joined against the leakage-safe domain_split — a component whose
    members straddle two splits means a near-duplicate of a test doc is
    in train. domain_split hashes the SOURCE, near-dups cluster by
    CONTENT, so cross-source duplicates are exactly what this catches."""
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.token_jaccard_pairs(d, "text", "doc_id", threshold=0.5,
                                      id_cap=200)
    comps = dedup.dedup_keep(d, pairs, "doc_id")
    splits = textstats.domain_split(d, "source", "doc_id",
                                    fractions=(0.9, 0.05), seed=42)
    return (comps.select("doc_id", F.col("keep_id").alias("comp"))
            .join(splits.select("doc_id", "split"), "doc_id")
            .groupBy("comp")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("split").alias("n_splits"))
            .withColumn("leaky",
                        (F.col("n_splits") > 1).cast("int")))


_CMS_HOSTS_CTE = """hosts AS (
  SELECT 'host-' || (CASE WHEN event_id % 10 < 7 THEN event_id % 5
                          ELSE event_id % 500 END) || '.gov.au' AS host
  FROM events)"""


@q("cms_heavy_hitters", f"""
WITH {_CMS_HOSTS_CTE},
js AS (SELECT unnest([0, 1, 2, 3]) AS j),
pr AS (SELECT j,
         (('0x' || substr(md5('42|' || j || '|' || host), 1, 8))::UBIGINT
            % 256)::BIGINT AS bucket
       FROM hosts, js),
counters AS (SELECT j, bucket, count(*)::BIGINT AS cnt
             FROM pr GROUP BY 1, 2),
cand AS (SELECT DISTINCT host FROM hosts),
probes AS (SELECT host, j,
             (('0x' || substr(md5('42|' || j || '|' || host), 1, 8))::UBIGINT
                % 256)::BIGINT AS bucket
           FROM cand, js),
est AS (SELECT p.host, min(coalesce(c.cnt, 0)) AS est
        FROM probes p LEFT JOIN counters c USING (j, bucket) GROUP BY 1),
hot AS (SELECT * FROM est
        WHERE est >= (SELECT count(*) // 20 FROM events)),
exact AS (SELECT h.host, count(*)::BIGINT AS exact
          FROM hosts h JOIN hot USING (host) GROUP BY 1)
SELECT h.host, h.est, e.exact, h.est - e.exact AS overcount
FROM hot h JOIN exact e USING (host)
""")
def cms_heavy_hitters_q(spark, sf):
    """Count-min-sketch heavy hosts over a skewed synthetic host log (5
    hot hosts at ~14% each over a 500-host tail): 4x256 deterministic
    md5-bucket counters, threshold = 5% of rows, exact audit counts on
    the sketch-flagged candidates only. The sketch's one-sided error
    (est >= exact, so no true heavy hitter is ever missed) is visible in
    the overcount column — and because every hash is the portable md5
    idiom, the ESTIMATES themselves (not just the exact counts)
    hash-match the oracle."""
    e = _t(spark, sf, "events")
    hid = F.when(F.col("event_id") % 10 < 7, F.col("event_id") % 5) \
        .otherwise(F.col("event_id") % 500)
    hosts = e.select(F.concat(F.lit("host-"), hid.cast("string"),
                              F.lit(".gov.au")).alias("host"))
    thr = hosts.count() // 20
    return sketch.cms_heavy_hitters(hosts, "host", thr,
                                    depth=4, width=256, seed=42)


_CDX_CAPS_CTE = """caps AS (
  SELECT 'HTTP://WWW.Host' || (event_id % 40) || '.Example.GOV.au:8080/Dir'
         || (user_id % 7) || '/page'
         || (CASE WHEN event_id % 2 = 0
                  THEN '?b=' || (event_id % 3) || '&a=' || (user_id % 2)
                  ELSE '?a=' || (user_id % 2) || '&b=' || (event_id % 3)
             END)
         || '#sec-' || (event_id % 4) AS url,
         ts
  FROM events)"""


@q("cdx_surt_index", f"""
WITH {_CDX_CAPS_CTE},
t1 AS (SELECT url, ts,
         regexp_replace(regexp_replace(lower(url),
                        '^[a-z][a-z0-9+.-]*://', ''), '#.*$', '') AS u
       FROM caps),
parts AS (SELECT url, ts,
    regexp_replace(regexp_replace(split_part(u, '/', 1), '^www\\.', ''),
                   ':[0-9]+$', '') AS host,
    CASE WHEN contains(u, '/')
         THEN '/' || substr(u, strpos(u, '/') + 1) ELSE '/' END AS rest
  FROM t1),
keyed AS (SELECT url, ts,
    array_to_string(list_reverse(string_split(host, '.')), ',')
      || ')' ||
    (CASE WHEN contains(rest, '?')
          AND array_to_string(list_sort(list_filter(
                string_split(split_part(rest, '?', 2), '&'),
                x -> x <> '')), '&') <> ''
     THEN split_part(rest, '?', 1) || '?' ||
          array_to_string(list_sort(list_filter(
            string_split(split_part(rest, '?', 2), '&'),
            x -> x <> '')), '&')
     ELSE split_part(rest, '?', 1) END) AS surt
  FROM parts)
SELECT surt, count(*)::BIGINT AS n_captures,
       count(DISTINCT url)::BIGINT AS n_urls,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM keyed GROUP BY surt
""")
def cdx_surt_index_q(spark, sf):
    """CDX capture index keyed by SURT (the Common Crawl / Wayback
    sort-friendly URL key): scheme/port/fragment stripped, host
    lowercased, www-stripped and label-reversed, query params sorted —
    so all captures of one resource share a key no matter how the URL
    was written, and one index range scan covers a whole host. The
    synthetic capture log alternates param order by row parity, so the
    n_urls column proves the collapse (two spelled forms, one key).
    The key is pure codegen (functions.surt_key); the group-by is the
    index build."""
    e = _t(spark, sf, "events")
    s = lambda c: c.cast("string")
    qstr = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit("?b="), s(F.col("event_id") % 3),
                 F.lit("&a="), s(F.col("user_id") % 2))
    ).otherwise(
        F.concat(F.lit("?a="), s(F.col("user_id") % 2),
                 F.lit("&b="), s(F.col("event_id") % 3)))
    caps = e.select(
        F.concat(F.lit("HTTP://WWW.Host"), s(F.col("event_id") % 40),
                 F.lit(".Example.GOV.au:8080/Dir"), s(F.col("user_id") % 7),
                 F.lit("/page"), qstr,
                 F.lit("#sec-"), s(F.col("event_id") % 4)).alias("url"),
        F.col("ts"))
    return (caps.withColumn("surt", cf.surt_key(F.col("url")))
            .groupBy("surt")
            .agg(F.count(F.lit(1)).alias("n_captures"),
                 F.count_distinct("url").alias("n_urls"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts")))


_HRW_SHARDS = [f"fetcher-{i:02d}" for i in range(8)]
_HRW_SHARDS_GROWN = [f"fetcher-{i:02d}" for i in range(9)]


def _hrw_oracle_sql(shards_before: list, shards_after: list,
                    seed: int = 42) -> str:
    """Oracle generator for rendezvous_churn: per-shard md5 weights as
    computed columns, argmax as greatest() + a DESCENDING-index CASE
    (mirrors the Spark array_max struct tie-break: highest index wins)."""
    def w(s):
        return ("('0x' || substr(md5('" + str(seed) + "|" + s +
                "|' || host), 1, 8))::UBIGINT::BIGINT")

    # a SELECT can't reference its own computed columns —
    # nest: hosts -> weights -> weights+m -> case
    def assign(shards, out):
        cols = ", ".join(f"{w(s)} AS h{i}" for i, s in enumerate(shards))
        m = "greatest(" + ", ".join(f"h{i}" for i in range(len(shards))) + ")"
        case = ("CASE " + " ".join(
            f"WHEN h{i} = m THEN '{s}'"
            for i, s in reversed(list(enumerate(shards)))) + " END")
        return (f"SELECT host, {case} AS {out} FROM "
                f"(SELECT *, {m} AS m FROM "
                f"(SELECT host, {cols} FROM hosts) t1_{out}) t2_{out}")

    return f"""
WITH hosts AS (
  SELECT DISTINCT 'host-' || (event_id % 313) || '.gov.au' AS host
  FROM events),
ab AS ({assign(shards_before, 'shard_before')}),
aa AS ({assign(shards_after, 'shard_after')})
SELECT shard_before, shard_after, count(*)::BIGINT AS n_keys
FROM ab JOIN aa USING (host)
GROUP BY 1, 2
"""


@q("rendezvous_shards", _hrw_oracle_sql(_HRW_SHARDS, _HRW_SHARDS_GROWN))
def rendezvous_shards_q(spark, sf):
    """HRW fleet-resize transition matrix over 313 synthetic hosts, 8
    fetchers -> 9: every off-diagonal row lands on the ADDED shard (the
    HRW minimal-churn invariant the modulo steward hash lacks — resizing
    a modulo fleet remaps ~8/9 of hosts; HRW moves ~1/9, and never
    between two surviving shards). Assignment is row-local codegen
    (literal struct array + array_max), zero shuffle."""
    e = _t(spark, sf, "events")
    hosts = e.select(F.concat(F.lit("host-"),
                              (F.col("event_id") % 313).cast("string"),
                              F.lit(".gov.au")).alias("host"))
    return schedule.rendezvous_churn(hosts, "host", _HRW_SHARDS,
                                     _HRW_SHARDS_GROWN, seed=42)


@q("length_quantiles", """
WITH n AS (SELECT count(*) AS n FROM documents),
bins AS (SELECT (n_chars // 64)::BIGINT AS bin, count(*)::BIGINT AS cnt
         FROM documents GROUP BY 1),
cum AS (SELECT bin, cnt,
          sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        FROM bins),
ps AS (SELECT unnest([50, 90, 99]) AS p_pct),
ks AS (SELECT p_pct::BIGINT AS p_pct,
              ((p_pct * n + 99) // 100)::BIGINT AS k
       FROM ps, n)
SELECT p_pct, k, (min(bin) * 64)::BIGINT AS est
FROM cum JOIN ks ON cum.cum >= ks.k
GROUP BY 1, 2
""")
def length_quantiles_q(spark, sf):
    """Doc-length p50/p90/p99 via the binned-quantile sketch: one
    map-side-combinable bin count (never a global sort of rows), a
    cumulative sum over the bounded bin table, lower-edge estimates
    within one bin width below the true order statistic. The corpus-card
    length distribution (Gopher A3 / CCNet shard stats) at
    any-cardinality scale."""
    d = _t(spark, sf, "documents")
    return sketch.binned_quantiles(d, "n_chars", [50, 90, 99],
                                   bin_width=64)


@q("script_mix", r"""
SELECT doc_id,
  length(text)::BIGINT AS n_chars_s,
  length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::BIGINT AS n_latin,
  length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))::BIGINT
    AS n_cjk,
  length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g'))::BIGINT
    AS n_cyrillic,
  length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS n_digit,
  (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1000000)
    // nullif(length(text), 0) AS latin_frac_micro
FROM documents
""")
def script_mix_q(spark, sf):
    """Unicode-script composition (mC4/CCNet script gate): per-doc Latin
    / CJK / Cyrillic / digit character counts and the Latin fraction in
    fixed-point micros — the mixed-script spam + mojibake detector that
    trigram lang-id misses. Pure codegen projection, no shuffle."""
    d = _t(spark, sf, "documents")
    return textstats.script_mix(d, "text", "doc_id")


# ===========================================================================
# round 4 additions: wildcard robots, bandit scheduling, OPIC, EMA health,
# normalized exact dedup
# ===========================================================================


# one literal rule set shared verbatim by the Spark gate and the SQL oracle
# (the seeded-hash-family-as-literals idiom): per host a prefix disallow, a
# longer allow that overrides it, a *.pdf$ wildcard+anchor disallow, and a
# parity-dependent section rule; h3 additionally carries the empty pattern
# (matches everything, specificity 0 — the RFC's default-allow probe).
_ROBOTS_RULES = []
for _i in range(10):
    _h = f"h{_i}"
    _ROBOTS_RULES += [
        (_h, "/sec0/", 0),
        (_h, "/sec0/p1*", 1),
        (_h, "*.pdf$", 0),
        (_h, f"/sec{_i % 3}/*", _i % 2),
    ]
_ROBOTS_RULES.append(("h3", "", 1))

_ROBOTS_RULES_VALUES = ",\n    ".join(
    f"('{h}', '{p}', {a})" for h, p, a in _ROBOTS_RULES)


@q("robots_wildcards", f"""
WITH rules AS (
  SELECT * FROM (VALUES
    {_ROBOTS_RULES_VALUES}) AS t(host, pat, al)),
rx AS (
  SELECT host, pat, al, length(pat)::BIGINT AS spec,
         '^' || replace(regexp_replace(
             CASE WHEN pat LIKE '%$'
                  THEN substring(pat, 1, length(pat) - 1) ELSE pat END,
             '([.^$+?*(){{}}\\[\\]|\\\\])', '\\\\\\1', 'g'), '\\*', '.*')
             || CASE WHEN pat LIKE '%$' THEN '$' ELSE '' END AS rx
  FROM rules
  WHERE length(pat) - length(replace(pat, '*', '')) <= 10),
u AS (
  SELECT DISTINCT 'h' || (user_id % 10) AS host,
         '/sec' || (user_id % 3) || '/p' || (event_id % 25)
           || CASE WHEN event_id % 5 = 0 THEN '.pdf' ELSE '' END AS path
  FROM events),
m AS (
  SELECT u.host, u.path, r.pat, r.al, r.spec,
         row_number() OVER (PARTITION BY u.host, u.path
                            ORDER BY r.spec DESC, r.al DESC,
                                     r.pat DESC) AS rn
  FROM u JOIN rx r ON r.host = u.host AND regexp_matches(u.path, r.rx))
SELECT u.host, u.path, coalesce(w.al, 1)::INT AS allowed, w.pat AS rule
FROM u LEFT JOIN (SELECT * FROM m WHERE rn = 1) w
  ON w.host = u.host AND w.path = u.path
""")
def robots_wildcards_q(spark, sf):
    """RFC 9309 wildcard robots gate over a synthetic URL log: ``*`` /
    trailing-``$`` rules compiled to regexes BY COLUMN EXPRESSIONS,
    longest-pattern-wins with allow beating disallow on ties, default
    allow. Exercises prefix-vs-longer-allow override (/sec0/ vs
    /sec0/p1*), wildcard+anchor (*.pdf$), the empty catch-all pattern,
    and hosts whose paths no rule matches."""
    e = _t(spark, sf, "events")
    urls = e.select(
        F.concat(F.lit("h"), F.col("user_id") % 10).alias("host"),
        F.concat(F.lit("/sec"), F.col("user_id") % 3, F.lit("/p"),
                 F.col("event_id") % 25,
                 F.when(F.col("event_id") % 5 == 0, F.lit(".pdf"))
                 .otherwise(F.lit(""))).alias("path"))
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, pattern string, allow int")
    return schedule.robots_wildcard_gate(urls, rules)


@q("host_ucb_priority", """
WITH hist AS (
  SELECT 'h' || (user_id % 40) AS host, count(*)::BIGINT AS n,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
           AS wins
  FROM events GROUP BY 1
  UNION ALL SELECT 'h_new', 0::BIGINT, 0::BIGINT),
l AS (SELECT floor(log2(sum(n)))::BIGINT AS L FROM hist)
SELECT host, n, wins,
       CASE WHEN n = 0 THEN 4611686018427387904
            ELSE (wins * 1000000 - (wins * 1000000) % greatest(n, 1))
                   // greatest(n, 1)
                 + floor(sqrt((((2 * L * 1000000000000)
                                - (2 * L * 1000000000000) % greatest(n, 1))
                               // greatest(n, 1))::DOUBLE))::BIGINT
       END AS ucb_micro
FROM hist CROSS JOIN l
""")
def host_ucb_priority_q(spark, sf):
    """UCB1 bandit host scheduling: per-host (fetches, useful-fetches)
    history from the synthetic log plus one never-fetched host; rank =
    fixed-point mean reward + floor(sqrt(2·floor(log2 N)·10^12 div n))
    exploration bonus, n = 0 ranks first at 2^62. Everything integer /
    exact-double so the ranking is bit-reproducible cross-engine."""
    e = _t(spark, sf, "events")
    hist = (e.groupBy(F.concat(F.lit("h"), F.col("user_id") % 40)
                      .alias("host"))
            .agg(F.count(F.lit(1)).alias("n_fetches"),
                 F.sum(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("n_useful")))
    extra = spark.createDataFrame(
        [("h_new", 0, 0)], "host string, n_fetches long, n_useful long")
    return schedule.ucb_priority(hist.unionByName(extra))


@q("host_error_ema", """
WITH per AS (
  SELECT 'h' || (user_id % 30) AS host, event_id % 8 AS rnd,
         (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1000000)
           // count(*) AS err
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT host, err,
         row_number() OVER (PARTITION BY host ORDER BY rnd) - 1 AS k,
         count(*) OVER (PARTITION BY host) AS n
  FROM per)
SELECT host,
       floor(sum(CASE WHEN k >= greatest(n - 32, 0) THEN err::DOUBLE
                 * CASE WHEN k - greatest(n - 32, 0) = 0
                        THEN power(0.5, least(n, 32) - 1)
                        ELSE power(0.5,
                               least(n, 32) - (k - greatest(n - 32, 0))) END
                 ELSE 0.0 END))::BIGINT AS ema_micro,
       count(*)::BIGINT AS n_rounds
FROM idx GROUP BY host
""")
def host_error_ema_q(spark, sf):
    """Per-host EWMA fetch-error rate (alpha = 1/2): per-(host, round)
    error-rate micros from the synthetic log, then the closed-form dyadic
    EMA — every weight a power of two, so the double arithmetic is exact
    and cross-engine bit-identical before the final floor."""
    e = _t(spark, sf, "events")
    per = (e.groupBy(F.concat(F.lit("h"), F.col("user_id") % 30)
                     .alias("host"),
                     (F.col("event_id") % 8).alias("round"))
           .agg(F.expr("(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 "
                       "END) * 1000000) div count(*)").alias("err_micro")))
    return schedule.error_ema(per)


def _opic_oracle_sql(n_mod: int = 200, iters: int = 4,
                     cash0: int = 1_000_000) -> str:
    """Exact SQL mirror of ``graph.opic`` (the pagerank-unroll idiom):
    each synchronous round is one received-cash aggregation with integer
    floor division, one dangling-cash scalar, and the bank-into-history
    update — all BIGINT, so the chain is exactly reproducible."""
    head = f"""WITH edges AS (
  SELECT DISTINCT user_id % {n_mod} AS src, event_id % {n_mod} AS dst
  FROM events WHERE user_id % {n_mod} <> event_id % {n_mod}),
nodes AS (SELECT src AS n FROM edges UNION SELECT dst AS n FROM edges),
nn AS (SELECT count(*)::BIGINT AS cnt FROM nodes),
deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src),
s0 AS (SELECT n, {cash0}::BIGINT AS cash, 0::BIGINT AS hist FROM nodes)"""
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f""",
s{t} AS (
  SELECT nd.n,
         (coalesce(c.recv, 0) + dang.dcash // nn.cnt)::BIGINT AS cash,
         (p.hist + p.cash)::BIGINT AS hist
  FROM nodes nd
  CROSS JOIN nn
  JOIN s{t - 1} p ON p.n = nd.n
  CROSS JOIN (SELECT coalesce(sum(q.cash), 0)::BIGINT AS dcash
              FROM s{t - 1} q LEFT JOIN deg d ON q.n = d.src
              WHERE d.src IS NULL) dang
  LEFT JOIN (SELECT e.dst AS n, sum(q.cash // d.outdeg)::BIGINT AS recv
             FROM edges e JOIN s{t - 1} q ON q.n = e.src
             JOIN deg d ON d.src = e.src
             GROUP BY e.dst) c ON c.n = nd.n)""")
    tail = f"""
SELECT n AS node, cash, hist, (cash + hist)::BIGINT AS importance_micro
FROM s{iters}"""
    return head + "".join(rounds) + tail


@q("opic_frontier", _opic_oracle_sql())
def opic_frontier_q(spark, sf):
    """OPIC importance (Abiteboul et al. 2003) over the synthetic link
    graph: 4 synchronous cash-distribution rounds in integer micros —
    the incrementally-updatable frontier-ordering signal, vs PageRank's
    frozen-snapshot fixpoint (link_pagerank)."""
    e = _t(spark, sf, "events")
    edges = (e.select((F.col("user_id") % 200).alias("src"),
                      (F.col("event_id") % 200).alias("dst"))
             .filter(F.col("src") != F.col("dst")))
    return graph.opic(edges, iters=4)


@q("dedup_exact_normalized", """
WITH noisy AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, upper(text) || '!!'
    FROM documents WHERE doc_id % 3 = 0
  UNION ALL SELECT doc_id + 200000, text || ' 123'
    FROM documents WHERE doc_id % 5 = 0
  UNION ALL SELECT doc_id + 300000, text || ' 789,'
    FROM documents WHERE doc_id % 5 = 0),
h AS (
  SELECT doc_id, md5(text) AS raw_hash,
         md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
             '[0-9]', '0', 'g'), '[!-&(-/:-@\\[-`{-~]', '', 'g'),
             '\\s+', ' ', 'g'))) AS norm_hash
  FROM noisy)
SELECT norm_hash, min(doc_id) AS doc_id, count(*) AS dup_count,
       count(DISTINCT raw_hash) AS n_raw_variants
FROM h GROUP BY norm_hash
""")
def dedup_exact_normalized_q(spark, sf):
    """Exact dedup on CCNet-normalized text over a corpus with planted
    re-rendered copies (re-cased+punctuated, two digit-differing
    variants): groups with n_raw_variants > 1 are exactly the duplicates
    raw dedup_exact keeps apart."""
    d = _t(spark, sf, "documents")
    base = d.select("doc_id", "text")
    va = (d.filter(F.col("doc_id") % 3 == 0)
          .select((F.col("doc_id") + 100000).alias("doc_id"),
                  F.concat(F.upper("text"), F.lit("!!")).alias("text")))
    vb = (d.filter(F.col("doc_id") % 5 == 0)
          .select((F.col("doc_id") + 200000).alias("doc_id"),
                  F.concat(F.col("text"), F.lit(" 123")).alias("text")))
    vc = (d.filter(F.col("doc_id") % 5 == 0)
          .select((F.col("doc_id") + 300000).alias("doc_id"),
                  F.concat(F.col("text"), F.lit(" 789,")).alias("text")))
    noisy = base.unionByName(va).unionByName(vb).unionByName(vc)
    return textstats.normalized_exact_dedup(noisy, "text", "doc_id")


@q("robots_txt_parse", r"""
WITH hosts AS (SELECT DISTINCT user_id % 20 AS i FROM events),
raw AS (
  SELECT 'h' || i AS host,
         '# synthetic robots' || chr(10) ||
         'User-agent: *' || chr(10) ||
         'Disallow: /sec' || (i % 3) || '/' || chr(10) ||
         'Allow: /sec' || (i % 3) || '/p1*' || chr(10) ||
         CASE WHEN i % 2 = 0 THEN
           'User-agent: discobot' || chr(10) || 'User-agent: otherbot'
           || chr(10) || 'Disallow: *.pdf$' || chr(10) || 'Allow:' || chr(10)
         ELSE '' END ||
         'Crawl-delay: 2' AS robots_txt
  FROM hosts),
lines AS (
  SELECT host, generate_subscripts(l, 1) AS ln, unnest(l) AS rawline
  FROM (SELECT host, string_split(robots_txt, chr(10)) AS l FROM raw)),
parsed AS (
  SELECT host, ln,
         lower(regexp_extract(regexp_replace(rawline, '#.*$', ''),
               '^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$', 1)) AS field,
         regexp_extract(regexp_replace(rawline, '#.*$', ''),
               '^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$', 2) AS value
  FROM lines),
kept AS (
  SELECT * FROM parsed
  WHERE field IN ('user-agent', 'allow', 'disallow')),
g AS (
  SELECT *, CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END AS is_ua,
         coalesce(lag(CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY host ORDER BY ln), 0) AS prev_ua
  FROM kept),
gg AS (
  SELECT *, sum(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
         OVER (PARTITION BY host ORDER BY ln) AS gid
  FROM g),
agents AS (
  SELECT DISTINCT host, gid, lower(value) AS ua FROM gg WHERE is_ua = 1),
exact AS (SELECT DISTINCT host, gid FROM agents WHERE ua = 'discobot'),
star AS (SELECT DISTINCT host, gid FROM agents WHERE ua = '*'),
chosen AS (
  SELECT * FROM exact
  UNION ALL
  SELECT s.host, s.gid FROM star s
  WHERE s.host NOT IN (SELECT host FROM exact)),
rules AS (
  SELECT host, gid, value AS pattern,
         (CASE WHEN field = 'allow' THEN 1 ELSE 0 END)::INT AS allow
  FROM gg WHERE is_ua = 0 AND length(value) > 0)
SELECT DISTINCT r.host, r.pattern, r.allow
FROM rules r JOIN chosen c ON c.host = r.host AND c.gid = r.gid
""")
def robots_txt_parse_q(spark, sf):
    """Raw robots.txt text -> rules table for agent 'discobot': even
    hosts carry a two-agent group (consecutive User-agent lines) that
    overrides the * group; odd hosts fall back to *. Exercises comment
    strip, empty-value rule drop (the bare 'Allow:'), unknown-field skip
    (Crawl-delay), and the exact-agent-beats-star selection."""
    e = _t(spark, sf, "events")
    hosts = e.select((F.col("user_id") % 20).alias("i")).distinct()
    txt = F.concat(
        F.lit("# synthetic robots\nUser-agent: *\nDisallow: /sec"),
        F.col("i") % 3, F.lit("/\nAllow: /sec"), F.col("i") % 3,
        F.lit("/p1*\n"),
        F.when(F.col("i") % 2 == 0,
               F.lit("User-agent: discobot\nUser-agent: otherbot\n"
                     "Disallow: *.pdf$\nAllow:\n")).otherwise(F.lit("")),
        F.lit("Crawl-delay: 2"))
    raw = hosts.select(F.concat(F.lit("h"), F.col("i")).alias("host"),
                       txt.alias("robots_txt"))
    return schedule.parse_robots_rules(raw, agent="discobot")


@q("frontier_growth_fit", """
WITH series AS (
  SELECT event_id % 12 AS rnd, count(*)::BIGINT AS discovered
  FROM events GROUP BY 1),
mom AS (
  SELECT count(*)::BIGINT AS n, sum(rnd)::BIGINT AS sx,
         sum(discovered)::BIGINT AS sy,
         sum(rnd * rnd)::BIGINT AS sxx,
         sum(rnd * discovered)::BIGINT AS sxy,
         max(rnd)::BIGINT AS mx
  FROM series)
SELECT n AS n_points,
       round((n * sxy - sx * sy)::DOUBLE
             / nullif(n * sxx - sx * sx, 0)::DOUBLE, 6) AS slope,
       round((sy * sxx - sx * sxy)::DOUBLE
             / nullif(n * sxx - sx * sx, 0)::DOUBLE, 6) AS intercept,
       round(((n * sxy - sx * sy) * (mx + 1)
              + (sy * sxx - sx * sxy))::DOUBLE
             / nullif(n * sxx - sx * sx, 0)::DOUBLE, 6) AS forecast_next
FROM mom
""")
def frontier_growth_fit_q(spark, sf):
    """Frontier growth forecasting: OLS of discovered-URLs-per-round on
    the round number from exact BIGINT moments (one aggregate, no ML
    library), extrapolated one round ahead — the capacity-planning
    number a crawl wave is sized by."""
    e = _t(spark, sf, "events")
    series = (e.groupBy((F.col("event_id") % 12).alias("rnd"))
              .agg(F.count(F.lit(1)).alias("discovered")))
    return schedule.growth_fit(series, "rnd", "discovered")


@q("host_quarantine", """
WITH per AS (
  SELECT 'h' || (user_id % 30) AS host, event_id % 8 AS rnd,
         (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 1000000)
           // count(*) AS err
  FROM events GROUP BY 1, 2),
idx AS (
  SELECT host, err,
         row_number() OVER (PARTITION BY host ORDER BY rnd) - 1 AS k,
         count(*) OVER (PARTITION BY host) AS n
  FROM per),
ema AS (
  SELECT host,
         floor(sum(err::DOUBLE
                   * CASE WHEN k = 0 THEN power(0.5, n - 1)
                          ELSE power(0.5, n - k) END))::BIGINT AS ema_micro
  FROM idx GROUP BY host),
urls AS (
  SELECT 'h' || (user_id % 30) AS host,
         CASE event_type WHEN 'view' THEN '/page/' || event_id
              WHEN 'click' THEN '/cal/2024/' || (event_id % 365)
              WHEN 'error' THEN '/item?id=' || event_id
              ELSE '/static/p' || (event_id % 20) END AS path
  FROM events),
per_t AS (
  SELECT host, regexp_replace(path, '[0-9]+', 'N', 'g') AS tmpl,
         count(DISTINCT path)::BIGINT AS n_urls
  FROM urls GROUP BY 1, 2),
traps AS (
  SELECT host, count(*)::BIGINT AS n_traps
  FROM per_t WHERE n_urls > 40 GROUP BY host)
SELECT e.host, e.ema_micro, coalesce(t.n_traps, 0)::BIGINT AS n_traps,
       (CASE WHEN e.ema_micro > 300000 OR coalesce(t.n_traps, 0) > 0
             THEN 1 ELSE 0 END)::INT AS quarantined
FROM ema e LEFT JOIN traps t ON t.host = e.host
""")
def host_quarantine_q(spark, sf):
    """Scheduler quarantine decision table — the composition the crawl
    loop actually consumes: per-host dyadic error EMA (error_ema) joined
    with spider-trap template counts (trap_templates); a host is
    quarantined when its EWMA error rate exceeds 30% or any URL template
    exploded past the trap cap. Both inputs are host-cardinality; the
    verdict join is host-keyed."""
    e = _t(spark, sf, "events")
    per = (e.groupBy(F.concat(F.lit("h"), F.col("user_id") % 30)
                     .alias("host"),
                     (F.col("event_id") % 8).alias("round"))
           .agg(F.expr("(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 "
                       "END) * 1000000) div count(*)").alias("err_micro")))
    ema = schedule.error_ema(per).select("host", "ema_micro")
    urls = e.select(
        F.concat(F.lit("h"), F.col("user_id") % 30).alias("host"),
        F.when(F.col("event_type") == "view",
               F.concat(F.lit("/page/"), F.col("event_id")))
        .when(F.col("event_type") == "click",
              F.concat(F.lit("/cal/2024/"), F.col("event_id") % 365))
        .when(F.col("event_type") == "error",
              F.concat(F.lit("/item?id="), F.col("event_id")))
        .otherwise(F.concat(F.lit("/static/p"), F.col("event_id") % 20))
        .alias("path"))
    traps = (schedule.trap_templates(urls)
             .filter(F.col("is_trap") == 1)
             .groupBy("host").agg(F.count(F.lit(1)).alias("n_traps")))
    return (ema.join(traps, "host", "left")
            .select("host", "ema_micro",
                    F.coalesce("n_traps", F.lit(0)).cast("long")
                    .alias("n_traps"),
                    F.when((F.col("ema_micro") > 300000)
                           | (F.coalesce("n_traps", F.lit(0)) > 0), 1)
                    .otherwise(0).cast("int").alias("quarantined")))


@q("frontier_collapse", """
WITH RECURSIVE disc AS (
  SELECT DISTINCT '/p' || (event_id % 120)
    || CASE WHEN event_id % 3 = 0 THEN '?sid=' || event_id
            WHEN event_id % 3 = 1 THEN '?page=' || (event_id % 4)
            ELSE '' END AS url
  FROM events),
base AS (
  SELECT url, split_part(url, '?', 1) AS path,
         list_sort(list_filter(string_split(split_part(url, '?', 2), '&'),
                               x -> x <> '')) AS params
  FROM disc),
keptp AS (
  SELECT b.url, b.path, x.p
  FROM base b, unnest(b.params) AS x(p)
  WHERE split_part(x.p, '=', 1) NOT IN ('sid', 'utm')),
agg AS (
  SELECT url, any_value(path) AS path, list_sort(list(p)) AS kp
  FROM keptp GROUP BY url),
strip AS (
  SELECT b.url,
         CASE WHEN a.kp IS NOT NULL AND len(a.kp) > 0
              THEN b.path || '?' || array_to_string(a.kp, '&')
              ELSE b.path END AS canon1
  FROM base b LEFT JOIN agg a ON b.url = a.url),
pids AS (SELECT DISTINCT event_id % 120 AS pid FROM events),
m AS MATERIALIZED (
  SELECT '/p' || pid AS src, '/p' || (pid - 1) AS dst
  FROM pids WHERE pid % 5 IN (1, 2)),
starts AS (SELECT DISTINCT canon1 FROM strip),
walk AS (
  SELECT canon1 AS start, canon1 AS cur, 0 AS hops FROM starts
  UNION ALL
  SELECT w.start, m.dst, w.hops + 1 FROM walk w JOIN m ON w.cur = m.src
  WHERE w.hops < 8),
red AS (SELECT start, max_by(cur, hops) AS fin FROM walk GROUP BY start),
cm AS (SELECT '/p' || pid AS src, '/p' || (pid - 1) AS cu
       FROM pids WHERE pid % 2 = 1)
SELECT s.url, coalesce(cm.cu, r.fin) AS frontier_key
FROM strip s JOIN red r ON r.start = s.canon1
LEFT JOIN cm ON cm.src = r.fin
""")
def frontier_collapse_q(spark, sf):
    """The full frontier-canonicalization pipeline, composed from three
    unit-oracled operators in crawl order: strip convicted junk params
    (apply_param_canonicalization — session ids vanish, page params
    survive), collapse redirect chains to their terminal
    (resolve_redirects — pids ≡1,2 mod 5 step down, up to 2 hops), then
    apply publisher-declared rel=canonical (odd bare pids point at
    pid−1). Every discovered URL maps to ONE frontier key — the key the
    seen-check should charge. The oracle chains the same three stages
    (sorted-param reassembly, bounded recursive walk, canonical join)."""
    e = _t(spark, sf, "events")
    disc = (e.select(F.concat(
        F.lit("/p"), F.col("event_id") % 120,
        F.when(F.col("event_id") % 3 == 0,
               F.concat(F.lit("?sid="), F.col("event_id")))
        .when(F.col("event_id") % 3 == 1,
              F.concat(F.lit("?page="), F.col("event_id") % 4))
        .otherwise(F.lit(""))).alias("url")).distinct())
    junk = spark.createDataFrame([("sid", 1), ("page", 0), ("utm", 1)],
                                 "param string, junk int")
    stripped = schedule.apply_param_canonicalization(disc, junk)
    pids = e.select((F.col("event_id") % 120).alias("pid")).distinct()
    m = (pids.filter((F.col("pid") % 5).isin(1, 2))
         .select(F.concat(F.lit("/p"), F.col("pid")).alias("src"),
                 F.concat(F.lit("/p"), F.col("pid") - 1).alias("dst")))
    res = (graph.resolve_redirects(m, max_hops=8)
           .select(F.col("url").alias("r_src"), "final_url"))
    r = (stripped.join(res, stripped["canonical_url"] == res["r_src"],
                       "left")
         .select("url",
                 F.coalesce("final_url", "canonical_url").alias("canon2")))
    cm = (pids.filter(F.col("pid") % 2 == 1)
          .select(F.concat(F.lit("/p"), F.col("pid")).alias("c_src"),
                  F.concat(F.lit("/p"), F.col("pid") - 1).alias("cu")))
    return (r.join(cm, r["canon2"] == cm["c_src"], "left")
            .select("url", F.coalesce("cu", "canon2").alias("frontier_key")))


@q("kneser_ney_bigrams", """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
bg AS (
  SELECT t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks, unnest(range(len(t) - 1)) AS u(i)
  WHERE len(t) >= 2),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2),
cw1 AS (SELECT w1, sum(c12)::BIGINT AS cw1, count(*)::BIGINT AS n1_fw
        FROM c12 GROUP BY 1),
n1b AS (SELECT w2, count(*)::BIGINT AS n1_bw FROM c12 GROUP BY 1),
bt AS (SELECT count(*)::BIGINT AS b_types FROM c12)
SELECT c.w1, c.w2, c.c12,
       ((1000000 * greatest(4 * c.c12 - 3, 0)) // (4 * f.cw1)
        + (3000000 * f.n1_fw * b.n1_bw)
          // (4 * f.cw1 * t.b_types))::BIGINT AS pkn_micro
FROM c12 c JOIN cw1 f USING (w1) JOIN n1b b USING (w2) CROSS JOIN bt t
WHERE c.c12 >= 3
""")
def kneser_ney_bigrams_q(spark, sf):
    """Train the interpolated Kneser-Ney bigram table (D = 3/4, exact
    rational fixed-point) over the documents corpus — the model-side
    counterpart of ccnet_perplexity's scoring: discounted bigram
    probability + continuation-weighted backoff, in micros."""
    d = _t(spark, sf, "documents")
    return textstats.kneser_ney_bigrams(d, "text", min_count=3)


@q("corpus_shard_pack", """
WITH ranked AS (
  SELECT doc_id, n_chars::BIGINT AS n_chars,
         (row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1)::BIGINT
           AS rank
  FROM documents)
SELECT doc_id, n_chars, rank,
       (CASE WHEN rank % 16 < 8 THEN rank % 16
             ELSE 15 - (rank % 16) END)::BIGINT AS shard
FROM ranked
""")
def corpus_shard_pack_q(spark, sf):
    """Balanced 8-way output-shard assignment: snake placement over the
    (size DESC, id) rank, rank computed with the two-level scan (never a
    single-partition window) — shard byte totals end within one
    max-document of each other before the corpus is written."""
    d = _t(spark, sf, "documents")
    return textstats.shard_pack(d, "doc_id", "n_chars", n_shards=8)


@q("meta_robots_gate", r"""
WITH b AS (
  SELECT 'https://h' || (user_id % 40) || '.gov.au/m' || event_id AS url,
         CASE WHEN event_id % 6 = 0 THEN
                '<html><head><meta name="robots" content="noindex, follow">'
                || '</head><body>x</body></html>'
              WHEN event_id % 6 = 1 THEN
                '<html><head><meta content="NOFOLLOW" name="robots">'
                || '</head><body>x</body></html>'
              WHEN event_id % 6 = 2 THEN
                '<html><head><meta name="robots" content="none">'
                || '</head><body>x</body></html>'
              WHEN event_id % 6 = 3 THEN
                '<html><head><meta name = ''robots'' content=''noindex''>'
                || '</head><body>x</body></html>'
              WHEN event_id % 6 = 4 THEN
                '<html><head><meta name=robots content=nofollow>'
                || '<meta name="robots" content="noindex">'
                || '</head><body>x</body></html>'
              ELSE '<html><head><title>t</title></head>'
                || '<body>x</body></html>' END AS html
  FROM events),
c AS (
  SELECT url,
         list_filter(list_transform(
           list_filter(regexp_extract_all(html, '(?i)<meta[^>]*>'),
             t -> regexp_matches(t,
               '(?i)name\s*=\s*("robots"|''robots''|robots[\s/>])')),
           t -> lower(coalesce(
             nullif(regexp_extract(t,
               '(?i)content\s*=\s*"([^"]*)"', 1), ''),
             nullif(regexp_extract(t,
               '(?i)content\s*=\s*''([^'']*)''', 1), ''),
             nullif(regexp_extract(t,
               '(?i)content\s*=\s*([^\s"''>/][^\s>]*)', 1), '')))),
           x -> x IS NOT NULL) AS contents
  FROM b)
SELECT url,
       (len(list_filter(contents, x ->
          regexp_matches(x, '(^|[,\s])noindex($|[,\s])')
          OR regexp_matches(x, '(^|[,\s])none($|[,\s])'))) > 0)::INT
         AS noindex,
       (len(list_filter(contents, x ->
          regexp_matches(x, '(^|[,\s])nofollow($|[,\s])')
          OR regexp_matches(x, '(^|[,\s])none($|[,\s])'))) > 0)::INT
         AS nofollow,
       (len(contents) > 0)::INT AS declared
FROM c
""")
def meta_robots_gate_q(spark, sf):
    """Page-level robots meta directives over synthesized heads (REP's
    post-fetch second layer): noindex gates the index stage, nofollow
    gates outlink emission; both attribute orders, single/double/
    unquoted attribute values, whitespace around '=', multiple robots
    tags OR'd most-restrictive-wins, token-based case-insensitive
    matching, the combined 'none' directive, and undeclared pages
    defaulting to index,follow."""
    e = _t(spark, sf, "events")
    b = e.select(
        F.concat(F.lit("https://h"), F.col("user_id") % 40,
                 F.lit(".gov.au/m"), F.col("event_id")).alias("url"),
        F.when(F.col("event_id") % 6 == 0,
               F.lit('<html><head><meta name="robots" content="noindex, '
                     'follow"></head><body>x</body></html>'))
        .when(F.col("event_id") % 6 == 1,
              F.lit('<html><head><meta content="NOFOLLOW" name="robots">'
                    '</head><body>x</body></html>'))
        .when(F.col("event_id") % 6 == 2,
              F.lit('<html><head><meta name="robots" content="none">'
                    '</head><body>x</body></html>'))
        .when(F.col("event_id") % 6 == 3,
              F.lit("<html><head><meta name = 'robots' content='noindex'>"
                    '</head><body>x</body></html>'))
        .when(F.col("event_id") % 6 == 4,
              F.lit('<html><head><meta name=robots content=nofollow>'
                    '<meta name="robots" content="noindex">'
                    '</head><body>x</body></html>'))
        .otherwise(F.lit('<html><head><title>t</title></head>'
                         '<body>x</body></html>')).alias("html"))
    return sources.meta_robots_flags(b)


@q("fetch_batch_pack", """
WITH f AS (SELECT 'h' || (user_id % 40) AS host, event_id AS url_id,
                  value AS pri FROM events),
waved AS (
  SELECT host, url_id,
         (row_number() OVER (PARTITION BY host
                             ORDER BY pri DESC, url_id) - 1)::BIGINT AS wave
  FROM f),
slotted AS (
  SELECT host, url_id, wave,
         (row_number() OVER (ORDER BY wave, host, url_id) - 1)::BIGINT AS slot
  FROM waved)
SELECT host, url_id, wave, (slot // 64)::BIGINT AS batch_id FROM slotted
""")
def fetch_batch_pack_q(spark, sf):
    """Politeness batch packing: round-robin interleave across hosts, then
    64-URL batches over the interleaved order — no host contributes its
    (k+1)-th URL before every pending host contributed its k-th. Global
    rank via the two-level scan (never a single-partition window)."""
    e = _t(spark, sf, "events")
    f = e.select((F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string")))
                 .alias("host"), F.col("event_id").alias("url_id"),
                 F.col("value").alias("pri"))
    return schedule.fetch_batch_pack(f, 64, pri_col="pri")


@q("conditional_get_plan", """
WITH visits AS (
  SELECT event_id % 300 AS url_id, ts, event_id,
         user_id % 4 AS ver
  FROM events),
lagged AS (
  SELECT url_id, ts, ver,
         CASE WHEN lag(ver) OVER (PARTITION BY url_id
                                  ORDER BY ts, event_id) IS NOT NULL
               AND lag(ver) OVER (PARTITION BY url_id
                                  ORDER BY ts, event_id) <> ver
              THEN 1 ELSE 0 END AS chg
  FROM visits),
rates AS (
  SELECT url_id, count(*)::BIGINT AS n_visits,
         (CASE WHEN count(*) > 1
               THEN sum(chg)::BIGINT * 1000000 // (count(*)::BIGINT - 1)
               ELSE 0 END)::BIGINT AS change_rate_micro
  FROM lagged GROUP BY url_id),
b AS (SELECT url_id, n_visits, change_rate_micro,
             (url_id * 37 % 5000 + 500)::BIGINT AS last_bytes FROM rates)
SELECT url_id, change_rate_micro,
       CASE WHEN n_visits < 2 OR change_rate_micro >= 500000 THEN 'fetch'
            WHEN change_rate_micro >= 100000 THEN 'cond_get'
            ELSE 'skip' END AS action,
       (CASE WHEN n_visits >= 2 AND change_rate_micro < 100000
               THEN last_bytes * 1000000
             WHEN n_visits >= 2 AND change_rate_micro < 500000
               THEN last_bytes * (1000000 - change_rate_micro)
             ELSE 0 END)::BIGINT AS saved_bytes_micro
FROM b
""")
def conditional_get_plan_q(spark, sf):
    """Revalidation economics composed over recrawl_change_rates: per-URL
    fetch / cond_get / skip action plus the expected bandwidth saved by
    304s, integer byte-micros end to end."""
    e = _t(spark, sf, "events")
    visits = e.select((F.col("event_id") % 300).alias("url_id"),
                      "ts", "event_id",
                      (F.col("user_id") % 4).alias("ver"))
    rates = schedule.recrawl_change_rates(visits, tie_col="event_id")
    rates = rates.withColumn(
        "last_bytes", (F.col("url_id") * 37 % 5000 + 500).cast("long"))
    return schedule.conditional_get_plan(rates)


@q("path_cycle_trap", """
WITH u AS (
  SELECT 'h' || (user_id % 30) AS host,
         CASE WHEN event_id % 4 = 0 THEN
                '/s' || (event_id % 3) || '/t/s' || (event_id % 3)
                || '/t/s' || (event_id % 3)
              WHEN event_id % 4 = 1 THEN
                '/p' || event_id || '/q' || event_id
              WHEN event_id % 4 = 2 THEN '/x/y/z/x'
              ELSE '/one/two/three/four/five' END AS path
  FROM events),
s AS (SELECT host, path,
             list_filter(string_split(path, '/'), x -> x <> '') AS segs
      FROM u)
SELECT host, path, len(segs)::BIGINT AS depth,
       (len(segs) - len(list_distinct(segs)))::BIGINT AS n_dup_segs,
       CASE WHEN len(segs) >= 4
             AND len(segs) - len(list_distinct(segs)) >= 2
            THEN 1 ELSE 0 END AS is_cycle_trap
FROM s
""")
def path_cycle_trap_q(spark, sf):
    """Segment-recursion trap detection (/a/b/a/b/a): pure per-row array
    expression, complementary to trap_templates' numeric templates."""
    e = _t(spark, sf, "events")
    seg = (F.col("event_id") % 3).cast("string")
    u = e.select(
        F.concat(F.lit("h"), (F.col("user_id") % 30).cast("string"))
        .alias("host"),
        F.when(F.col("event_id") % 4 == 0,
               F.concat(F.lit("/s"), seg, F.lit("/t/s"), seg,
                        F.lit("/t/s"), seg))
        .when(F.col("event_id") % 4 == 1,
              F.concat(F.lit("/p"), F.col("event_id").cast("string"),
                       F.lit("/q"), F.col("event_id").cast("string")))
        .when(F.col("event_id") % 4 == 2, F.lit("/x/y/z/x"))
        .otherwise(F.lit("/one/two/three/four/five")).alias("path"))
    return schedule.path_cycle_flags(u)


@q("badwords_gate", """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents),
c AS (
  SELECT doc_id, len(toks)::BIGINT AS n_tok,
         len(list_filter(toks, x ->
             list_contains(['slow', 'fast', 'merge'], x)))::BIGINT AS n_bad
  FROM t)
SELECT doc_id, n_tok, n_bad,
       (CASE WHEN n_tok > 0 THEN n_bad * 1000000 // n_tok
             ELSE 0 END)::BIGINT AS bad_micro,
       CASE WHEN n_bad > 0 THEN 1 ELSE 0 END AS blocked
FROM c
""")
def badwords_gate_q(spark, sf):
    """C4-style blocklist gate (stand-in 3-word blocklist over the
    synthetic corpus vocabulary): per-doc hit counts with multiplicity,
    fixed-point hit rate, any-hit drop flag — pure higher-order-function
    expression, no explode."""
    d = _t(spark, sf, "documents")
    return textstats.badwords_gate(d, "text", "doc_id",
                                   ["slow", "fast", "merge"])


@q("token_budget_select", """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT
           AS n_tok,
         n_chars
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
         sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)::BIGINT AS cum_tok
  FROM t)
SELECT doc_id, n_tok, cum_tok FROM c WHERE cum_tok <= 200000
""")
def token_budget_select_q(spark, sf):
    """Greedy best-quality-first corpus selection under a 200k-token
    budget; the prefix sum is the two-level scan, never a
    single-partition window."""
    d = _t(spark, sf, "documents")
    base = d.select(
        "doc_id",
        F.size(F.filter(F.split(F.col("text"), " "),
                        lambda x: x != "")).alias("toks"),
        "n_chars")
    return textstats.token_budget_select(base, "doc_id", "toks",
                                         "n_chars", 200_000)


@q("soft_404_detect", r"""
WITH p AS (
  SELECT 'https://h' || (user_id % 40) || '/p' || event_id AS url,
         CASE WHEN event_id % 5 = 0 THEN 200
              WHEN event_id % 5 = 1 THEN 200
              WHEN event_id % 5 = 2 THEN 404
              ELSE 200 END AS status,
         CASE WHEN event_id % 5 = 0 THEN
                '<html><title>Page Not Found</title><body>' ||
                repeat('x', 80) || '</body></html>'
              WHEN event_id % 5 = 1 THEN '<html><body>ok</body></html>'
              WHEN event_id % 5 = 2 THEN
                '<html><body>hard 404 here</body></html>'
              WHEN event_id % 5 = 3 THEN
                '<html><body>This page does not exist.' ||
                repeat('y', 100) || '</body></html>'
              ELSE '<html><body>' || repeat('real content ', 20)
                   || '</body></html>' END AS html
  FROM events)
SELECT url, status::INT AS status,
       length(html)::BIGINT AS body_len,
       (regexp_matches(html,
         '(?i)(page not found|not found|does not exist|no longer available|error 404|\b404\b)'
       ))::INT AS has_404_phrase,
       (status = 200 AND (regexp_matches(html,
         '(?i)(page not found|not found|does not exist|no longer available|error 404|\b404\b)')
         OR length(html) < 64))::INT AS is_soft_404
FROM p
""")
def soft_404_detect_q(spark, sf):
    """Soft-404 hygiene over synthesized pages: 200s carrying not-found
    boilerplate or sub-minimum bodies flagged; real 404s are NOT soft
    404s."""
    e = _t(spark, sf, "events")
    url = F.concat(F.lit("https://h"),
                   (F.col("user_id") % 40).cast("string"),
                   F.lit("/p"), F.col("event_id").cast("string"))
    m = F.col("event_id") % 5
    status = (F.when(m == 2, 404).otherwise(200))
    html = (F.when(m == 0, F.concat(
                F.lit("<html><title>Page Not Found</title><body>"),
                F.repeat(F.lit("x"), 80), F.lit("</body></html>")))
            .when(m == 1, F.lit("<html><body>ok</body></html>"))
            .when(m == 2, F.lit("<html><body>hard 404 here</body></html>"))
            .when(m == 3, F.concat(
                F.lit("<html><body>This page does not exist."),
                F.repeat(F.lit("y"), 100), F.lit("</body></html>")))
            .otherwise(F.concat(F.lit("<html><body>"),
                                F.repeat(F.lit("real content "), 20),
                                F.lit("</body></html>"))))
    p = e.select(url.alias("url"), status.alias("status"),
                 html.alias("html"))
    return sources.soft_404_flags(p)


@q("charset_sniff", r"""
WITH p AS (
  SELECT 'https://h' || (user_id % 40) || '/c' || event_id AS url,
         CASE WHEN event_id % 4 = 0 THEN 'text/html; charset=ISO-8859-1'
              ELSE 'text/html' END AS content_type,
         CASE WHEN event_id % 4 = 1 THEN
                '<html><head><meta charset="Shift_JIS"></head></html>'
              WHEN event_id % 4 = 2 THEN
                '<html><head><meta http-equiv="Content-Type" ' ||
                'content="text/html; charset=windows-1251"></head></html>'
              ELSE '<html><head><title>t</title></head></html>' END AS html
  FROM events)
SELECT url,
       coalesce(
         lower(nullif(regexp_extract(content_type,
           '(?i)charset="?''?([a-z0-9_\-]+)', 1), '')),
         lower(nullif(regexp_extract(html,
           '(?i)<meta\s+charset\s*=\s*["'']?([a-z0-9_\-]+)', 1), '')),
         lower(nullif(regexp_extract(html,
           '(?i)<meta[^>]*http-equiv\s*=\s*["'']?content-type[^>]*charset=([a-z0-9_\-]+)',
           1), '')),
         'utf-8') AS charset,
       CASE WHEN nullif(regexp_extract(content_type,
              '(?i)charset="?''?([a-z0-9_\-]+)', 1), '') IS NOT NULL
              THEN 'header'
            WHEN nullif(regexp_extract(html,
              '(?i)<meta\s+charset\s*=\s*["'']?([a-z0-9_\-]+)', 1), '')
              IS NOT NULL THEN 'meta_charset'
            WHEN nullif(regexp_extract(html,
              '(?i)<meta[^>]*http-equiv\s*=\s*["'']?content-type[^>]*charset=([a-z0-9_\-]+)',
              1), '') IS NOT NULL THEN 'meta_http_equiv'
            ELSE 'default' END AS charset_source
FROM p
""")
def charset_sniff_q(spark, sf):
    """WHATWG-precedence charset sniffing (header > meta charset >
    http-equiv > utf-8 default) over synthesized pages."""
    e = _t(spark, sf, "events")
    m = F.col("event_id") % 4
    p = e.select(
        F.concat(F.lit("https://h"), (F.col("user_id") % 40).cast("string"),
                 F.lit("/c"), F.col("event_id").cast("string")).alias("url"),
        F.when(m == 0, "text/html; charset=ISO-8859-1")
        .otherwise("text/html").alias("content_type"),
        F.when(m == 1,
               F.lit('<html><head><meta charset="Shift_JIS"></head></html>'))
        .when(m == 2,
              F.lit('<html><head><meta http-equiv="Content-Type" '
                    'content="text/html; charset=windows-1251">'
                    '</head></html>'))
        .otherwise(F.lit("<html><head><title>t</title></head></html>"))
        .alias("html"))
    return sources.charset_sniff(p, ctype_col="content_type")


@q("robots_cache_plan", """
WITH hosts AS (SELECT DISTINCT 'h' || (user_id % 60) AS host FROM events),
log AS (
  SELECT 'h' || (user_id % 60) AS host, ts FROM events
  WHERE event_id % 3 = 0 AND user_id % 60 % 7 <> 0),
latest AS (SELECT host, max(ts) AS last_fetch_ts FROM log GROUP BY host)
SELECT h.host, l.last_fetch_ts,
       (date_diff('microsecond', l.last_fetch_ts,
                  TIMESTAMP '2024-03-01 00:00:00') // 1000000)::BIGINT
         AS age_sec,
       CASE WHEN l.last_fetch_ts IS NULL THEN 'fetch_first'
            WHEN date_diff('microsecond', l.last_fetch_ts,
                           TIMESTAMP '2024-03-01 00:00:00') // 1000000
                 > 86400
              THEN 'refetch'
            ELSE 'cached' END AS action
FROM hosts h LEFT JOIN latest l USING (host)
""")
def robots_cache_plan_q(spark, sf):
    """RFC 9309 §2.4 robots-cache refresh plan at a fixed `now`:
    never-fetched hosts -> fetch_first, stale (>24 h) -> refetch, else
    cached."""
    e = _t(spark, sf, "events")
    h = F.concat(F.lit("h"), (F.col("user_id") % 60).cast("string"))
    hosts = e.select(h.alias("host"))
    log = (e.filter((F.col("event_id") % 3 == 0)
                    & (F.col("user_id") % 60 % 7 != 0))
           .select(h.alias("host"), "ts"))
    return schedule.robots_cache_plan(hosts, log, "2024-03-01 00:00:00")


@q("next_round_plan", """
WITH f AS (
  SELECT 'h' || (user_id % 80) AS host, event_id AS url_id, value AS pri,
         user_id % 80 AS hn, event_id AS eid, ts
  FROM events),
hosts AS (SELECT DISTINCT host FROM f),
log AS (SELECT host, ts FROM f WHERE eid % 3 = 0 AND hn % 9 <> 0),
latest AS (SELECT host, max(ts) AS last_ts FROM log GROUP BY host),
eligible AS (
  SELECT h.host FROM hosts h LEFT JOIN latest l USING (host)
  WHERE l.last_ts IS NOT NULL),
f2 AS (SELECT f.host, url_id, pri FROM f JOIN eligible USING (host)),
dem AS (SELECT host, count(*)::BIGINT AS demand FROM f2 GROUP BY host),
bud AS (SELECT (sum(demand) * 2 // 5)::BIGINT AS b FROM dem),
ranked AS (
  SELECT host, demand,
         row_number() OVER (ORDER BY demand, host) AS rn,
         sum(demand) OVER (ORDER BY demand, host) AS prefix,
         count(*) OVER () AS n
  FROM dem),
scalar AS (
  SELECT coalesce(max(CASE WHEN prefix - demand + demand * (n - rn + 1)
                                <= (SELECT b FROM bud)
                           THEN rn END), 0) AS k,
         coalesce(max(CASE WHEN prefix - demand + demand * (n - rn + 1)
                                <= (SELECT b FROM bud)
                           THEN prefix END), 0) AS pk,
         max(n) AS nn
  FROM ranked),
alloc AS (
  SELECT host,
         (CASE WHEN rn <= k THEN demand
               ELSE ((SELECT b FROM bud) - pk) // greatest(nn - k, 1)
                    + CASE WHEN rn - k <=
                           ((SELECT b FROM bud) - pk)
                           - ((SELECT b FROM bud) - pk)
                             // greatest(nn - k, 1) * (nn - k)
                           THEN 1 ELSE 0 END
          END)::BIGINT AS allocated
  FROM ranked, scalar),
sched AS (
  SELECT host, url_id, pri,
         row_number() OVER (PARTITION BY host
                            ORDER BY pri DESC, url_id)::BIGINT AS rnk
  FROM f2)
SELECT s.host, s.url_id, s.pri, s.rnk, a.allocated
FROM sched s JOIN alloc a USING (host)
WHERE s.rnk <= a.allocated
""")
def next_round_plan_q(spark, sf):
    """The scheduler composition end to end — what `engine.step` would
    dispatch next round: robots_cache_plan gates out hosts whose robots
    was never fetched (they get a robots fetch, not page fetches),
    budget_waterfill splits the global budget (40% of eligible demand)
    max-min fairly across the remaining hosts, and a per-host
    (priority DESC, url) rank keeps each host's top `allocated` URLs.
    Three reusable operators, one plan; every step integer-exact."""
    e = _t(spark, sf, "events")
    hostn = F.col("user_id") % 80
    h = F.concat(F.lit("h"), hostn.cast("string"))
    frontier = e.select(h.alias("host"), F.col("event_id").alias("url_id"),
                        F.col("value").alias("pri"))
    log = (e.filter((F.col("event_id") % 3 == 0) & (hostn % 9 != 0))
           .select(h.alias("host"), "ts"))
    gate = schedule.robots_cache_plan(frontier, log, "2024-03-01 00:00:00")
    eligible = gate.filter(F.col("action") != "fetch_first").select("host")
    f2 = frontier.join(F.broadcast(eligible), "host")
    dem = (f2.groupBy("host")
           .agg(F.count(F.lit(1)).cast("long").alias("demand")))
    total = dem.agg(F.sum("demand")).collect()[0][0]
    alloc = schedule.budget_waterfill(dem, budget=int(total) * 2 // 5)
    w = Window.partitionBy("host").orderBy(F.col("pri").desc(), "url_id")
    ranked = f2.withColumn("rnk", F.row_number().over(w).cast("long"))
    return (ranked.join(alloc.select("host", "allocated"), "host")
            .filter(F.col("rnk") <= F.col("allocated"))
            .select("host", "url_id", "pri", "rnk", "allocated"))


@q("robots_sitemap_discovery", r"""
WITH b AS (
  SELECT 'h' || (user_id % 25) AS host,
         CASE WHEN event_id % 4 = 0 THEN
                'User-agent: *' || chr(10) || 'Disallow: /tmp' || chr(10)
                || 'Sitemap: https://h' || (user_id % 25) || '/sitemap.xml'
              WHEN event_id % 4 = 1 THEN
                'sitemap:https://h' || (user_id % 25) || '/s1.xml'
                || chr(13) || chr(10) || chr(9)
                || 'SITEMAP : https://h' || (user_id % 25) || '/s2.xml'
              WHEN event_id % 4 = 2 THEN
                'User-agent: *' || chr(10) || 'Allow: /'
              ELSE 'Sitemap: https://cdn.example/idx' || (event_id % 5)
                   || '.xml' END AS body
  FROM events),
x AS (
  SELECT host,
         unnest(regexp_extract_all(body,
                '(?mi)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)', 1)) AS sitemap_url
  FROM b)
SELECT DISTINCT host, sitemap_url FROM x
""")
def robots_sitemap_discovery_q(spark, sf):
    """Sitemap discovery from robots.txt bodies (RFC 9309 §2.3: Sitemap
    lines are global, not group-scoped): case/whitespace/CRLF-tolerant
    line extraction, per-host distinct — the seed chain robots.txt →
    sitemap index → sitemap_entries → frontier."""
    e = _t(spark, sf, "events")
    h = F.concat(F.lit("h"), (F.col("user_id") % 25).cast("string"))
    b = e.select(
        h.alias("host"),
        F.when(F.col("event_id") % 4 == 0,
               F.concat(F.lit("User-agent: *\nDisallow: /tmp\n"
                              "Sitemap: https://"), h,
                        F.lit("/sitemap.xml")))
        .when(F.col("event_id") % 4 == 1,
              F.concat(F.lit("sitemap:https://"), h, F.lit("/s1.xml"),
                       F.lit("\r\n\t"), F.lit("SITEMAP : https://"), h,
                       F.lit("/s2.xml")))
        .when(F.col("event_id") % 4 == 2,
              F.lit("User-agent: *\nAllow: /"))
        .otherwise(F.concat(F.lit("Sitemap: https://cdn.example/idx"),
                            (F.col("event_id") % 5).cast("string"),
                            F.lit(".xml"))).alias("body"))
    return sources.robots_sitemaps(b, "host", "body")


@q("quality_percentile_gate", """
WITH r AS (
  SELECT lang, doc_id, n_chars AS quality,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id)::BIGINT AS rnk,
         count(*) OVER (PARTITION BY lang)::BIGINT AS n
  FROM documents)
SELECT lang, doc_id, quality, rnk,
       CASE WHEN rnk * 1000000 <= 300000 * n THEN 1 ELSE 0 END AS kept
FROM r
""")
def quality_percentile_gate_q(spark, sf):
    """Per-language adaptive quality threshold: keep the top 30% by
    quality WITHIN each language (FineWeb-style), integer rank predicate
    so ties never make the kept set layout-dependent."""
    d = _t(spark, sf, "documents")
    return textstats.quality_percentile_gate(d, "lang", "doc_id",
                                             "n_chars", 300_000)


@q("phrase_search", """
WITH toks AS (
  SELECT doc_id, unnest(a) AS term,
         generate_subscripts(a, 1)::BIGINT AS pos
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(coalesce(text, '')),
                                              '\\s+'), x -> x <> '') AS a
        FROM documents)),
p(i, w) AS (VALUES (0::BIGINT, 'batch'), (1::BIGINT, 'batch')),
hits AS (SELECT t.doc_id, t.pos - p.i AS anchor, p.i AS i
         FROM toks t JOIN p ON t.term = p.w),
anchors AS (SELECT doc_id, anchor FROM hits
            GROUP BY doc_id, anchor HAVING count(DISTINCT i) = 2)
SELECT doc_id, count(*)::BIGINT AS n_matches FROM anchors GROUP BY doc_id
""")
def phrase_search_q(spark, sf):
    """Exact-phrase retrieval (ES match_phrase, es_mapping.py text
    fields) as ONE aggregation over slot-anchored postings — no join,
    window, or sort. The phrase is the repeated-word pair
    ('batch', 'batch'), deliberately: repeated slots are where naive
    positional-join implementations double-count or miss, and
    occurrences overlap ('batch batch batch' = 2 matches) — the oracle
    mirrors the same anchor/coverage algebra."""
    d = _t(spark, sf, "documents")
    return textstats.phrase_search(d, "text", "doc_id",
                                   ["batch", "batch"])


@q("dedup_exact_nfc", """
WITH v(vid, sfx) AS (VALUES (0, chr(233)), (1, 'e' || chr(769)),
                            (2, 'e')),
x AS (SELECT doc_id * 3 + vid AS id, text || ' caf' || sfx AS t
      FROM documents, v),
k AS (SELECT id, md5(nfc_normalize(coalesce(t, ''))) AS nfc_md5,
             md5(coalesce(t, '')) AS raw_md5
      FROM x)
SELECT nfc_md5, count(*)::BIGINT AS n_docs,
       count(DISTINCT raw_md5)::BIGINT AS n_raw_forms,
       min(id) AS keep_id
FROM k GROUP BY nfc_md5
""")
def dedup_exact_nfc_q(spark, sf):
    """Unicode-canonicalized dedup over a deterministic NFC-variant
    corpus: each document emits three byte-variants — precomposed
    U+00E9, decomposed e+U+0301 (canonically EQUAL, byte-distinct), and
    plain ASCII 'e' (distinct) — so every doc yields exactly one
    2-member NFC class raw dedup would miss and one singleton. Spark
    normalizes with the Arrow-batched unicodedata UDF; the oracle with
    DuckDB's utf8proc nfc_normalize — agreement IS the evidence the two
    Unicode implementations canonicalize identically."""
    d = _t(spark, sf, "documents")
    variants = F.array(
        F.struct(F.lit(0).alias("v"), F.lit("\u00e9").alias("sfx")),
        F.struct(F.lit(1).alias("v"), F.lit("e\u0301").alias("sfx")),
        F.struct(F.lit(2).alias("v"), F.lit("e").alias("sfx")))
    x = (d.select("doc_id", "text", F.explode(variants).alias("s"))
         .select((F.col("doc_id") * 3 + F.col("s.v")).alias("id"),
                 F.concat(F.col("text"), F.lit(" caf"),
                          F.col("s.sfx")).alias("t")))
    return textstats.nfc_dedup(x, "t", "id")


@q("vocab_drift", """
WITH toks AS (
  SELECT CASE WHEN substring(source, 4)::INT % 2 = 0 THEN 1 ELSE 0 END
           AS in_a,
         unnest(list_filter(string_split_regex(lower(coalesce(text, '')),
                                               '\\s+'), x -> x <> ''))
           AS term
  FROM documents),
per_term AS (SELECT term, sum(in_a)::BIGINT AS cnt_a,
                    sum(1 - in_a)::BIGINT AS cnt_b
             FROM toks GROUP BY term),
tot AS (SELECT sum(cnt_a)::BIGINT AS ta, sum(cnt_b)::BIGINT AS tb
        FROM per_term)
SELECT term, cnt_a, cnt_b,
       ((abs(cnt_a * tb - cnt_b * ta) * 1000000)
        // (2 * ta * tb))::BIGINT AS tvd_micro
FROM per_term, tot
ORDER BY tvd_micro DESC, term LIMIT 50
""")
def vocab_drift_q(spark, sf):
    """Corpus drift monitor between the even- and odd-numbered sources:
    top-50 terms by exact fixed-point total-variation contribution —
    the distribution-shift gate a pipeline runs before mixing a new
    crawl wave into training data."""
    d = _t(spark, sf, "documents")
    return textstats.vocab_drift_tvd(
        d, "text", "doc_id",
        F.substring("source", 4, 10).cast("int") % 2 == 0, top_k=50)


@q("hreflang_variants", r"""
WITH b AS (
  SELECT 'https://h' || (user_id % 40) || '.example/p' || event_id AS url,
         CASE WHEN event_id % 4 = 0 THEN
                '<html><head>'
                || '<link rel="alternate" hreflang="en" href="https://ex/en/p'
                || event_id || '">'
                || '<link hreflang="DE" href="https://ex/de/p' || event_id
                || '" rel="alternate">'
                || '<link rel="alternate" hreflang="x-default" '
                || 'href="https://ex/p' || event_id || '">'
                || '</head></html>'
              WHEN event_id % 4 = 1 THEN
                '<html><head>'
                || '<link rel=''alternate'' hreflang=''fr'' '
                || 'href=''https://ex/fr/p' || event_id || '''>'
                || '<link rel=alternate hreflang=pt-br '
                || 'href=https://ex/pt/p' || event_id || '>'
                || '<link rel=alternate hreflang=xx href=/xx/p' || event_id
                || '>'
                || '</head></html>'
              WHEN event_id % 4 = 2 THEN
                '<html><head><link rel="canonical" href="https://ex/c'
                || event_id || '"></head></html>'
              ELSE '<html><head><title>t</title></head></html>' END AS html
  FROM events),
c AS (
  SELECT url, list_filter(list_transform(
    list_filter(regexp_extract_all(html, '(?i)<link[^>]*>'),
      t -> regexp_matches(t,
        '(?i)rel\s*=\s*("alternate"|''alternate''|alternate[\s/>])')),
    t -> struct_pack(
      lang := lower(nullif(coalesce(
        nullif(regexp_extract(t, '(?i)hreflang\s*=\s*"([^"]*)"', 1), ''),
        nullif(regexp_extract(t, '(?i)hreflang\s*=\s*''([^'']*)''', 1), ''),
        nullif(regexp_extract(t,
          '(?i)hreflang\s*=\s*([^\s"''>][^\s>]*)', 1), ''), ''), '')),
      href := nullif(coalesce(
        nullif(regexp_extract(t, '(?i)href\s*=\s*"([^"]*)"', 1), ''),
        nullif(regexp_extract(t, '(?i)href\s*=\s*''([^'']*)''', 1), ''),
        nullif(regexp_extract(t,
          '(?i)href\s*=\s*([^\s"''>][^\s>]*)', 1), ''), ''), ''))),
    s -> s.lang IS NOT NULL AND s.href IS NOT NULL) AS alts
  FROM b)
SELECT url, len(alts)::BIGINT AS n_variants,
  coalesce(
    list_min(list_transform(list_filter(alts, s -> s.lang = 'x-default'),
                            s -> s.href)),
    list_min(list_transform(alts, s -> s.href)),
    url) AS canonical_variant,
  (len(list_filter(alts, s -> s.lang = 'x-default')) > 0)::INT
    AS has_x_default,
  (len(alts) > 0)::INT AS declared
FROM c
""")
def hreflang_variants_q(spark, sf):
    """Language-variant collapse over synthesized heads: both attribute
    orders, single/double/unquoted values (an unquoted href may start
    with ``/``), case-folded hreflang, x-default election, rel=canonical
    tags correctly ignored, and undeclared pages electing themselves."""
    e = _t(spark, sf, "events")
    eid = F.col("event_id").cast("string")
    url = F.concat(F.lit("https://h"), (F.col("user_id") % 40).cast("string"),
                   F.lit(".example/p"), eid)
    html = (F.when(F.col("event_id") % 4 == 0, F.concat(
        F.lit('<html><head>'
              '<link rel="alternate" hreflang="en" href="https://ex/en/p'),
        eid, F.lit('">'
                   '<link hreflang="DE" href="https://ex/de/p'), eid,
        F.lit('" rel="alternate">'
              '<link rel="alternate" hreflang="x-default" '
              'href="https://ex/p'), eid, F.lit('"></head></html>')))
        .when(F.col("event_id") % 4 == 1, F.concat(
            F.lit("<html><head>"
                  "<link rel='alternate' hreflang='fr' "
                  "href='https://ex/fr/p"), eid, F.lit("'>"
                  "<link rel=alternate hreflang=pt-br "
                  "href=https://ex/pt/p"), eid, F.lit(">"
                  "<link rel=alternate hreflang=xx href=/xx/p"), eid,
            F.lit("></head></html>")))
        .when(F.col("event_id") % 4 == 2, F.concat(
            F.lit('<html><head><link rel="canonical" href="https://ex/c'),
            eid, F.lit('"></head></html>')))
        .otherwise(F.lit("<html><head><title>t</title></head></html>")))
    b = e.select(url.alias("url"), html.alias("html"))
    return sources.hreflang_alternates(b, "url", "html")


@q("good_turing_novelty", """
WITH x AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 < 3 THEN text
              ELSE 'dup-' || (doc_id % 7) END AS t
  FROM documents),
per_hash AS (SELECT source AS grp, md5(coalesce(t, '')) AS h,
                    count(*)::BIGINT AS c
             FROM x GROUP BY 1, 2)
SELECT grp, sum(c)::BIGINT AS n_docs, count(*)::BIGINT AS n_distinct,
       sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS f1,
       sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS f2,
       ((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
        // sum(c))::BIGINT AS p_new_micro
FROM per_hash GROUP BY grp
""")
def good_turing_novelty_q(spark, sf):
    """Good-Turing missing-mass novelty per source over a corpus with a
    planted duplicate pool (2/5 of docs collapse onto 7 boilerplate
    strings): the keep-crawling signal, from counts alone."""
    d = _t(spark, sf, "documents")
    x = d.select("doc_id", "source",
                 F.when(F.col("doc_id") % 5 < 3, F.col("text"))
                 .otherwise(F.concat(F.lit("dup-"),
                                     (F.col("doc_id") % 7).cast("string")))
                 .alias("t"))
    return textstats.good_turing_novelty(x, "t", "doc_id", "source")


@q("minhash_calibration", r"""
WITH t0 AS (
  SELECT doc_id AS id,
         list_distinct(list_filter(
           string_split_regex(lower(coalesce(text, '')), '\s+'),
           x -> x <> '')) AS t
  FROM documents),
t1 AS (SELECT * FROM t0 WHERE len(t) > 0
       ORDER BY md5('42|' || id::VARCHAR), id LIMIT 60),
sg AS (SELECT id, t,
         list_transform(range(16), p ->
           list_min(list_transform(t, tok ->
             ('0x' || substr(md5(p::VARCHAR || '|' || tok), 1, 15))
               ::UBIGINT))) AS s
       FROM t1),
p AS (SELECT a.id AS a, b.id AS b, a.t AS ta, b.t AS tb,
             a.s AS sa, b.s AS sb
      FROM sg a JOIN sg b ON a.id < b.id)
SELECT a, b,
  ((len(list_intersect(ta, tb)) * 1000000)
   // (len(ta) + len(tb) - len(list_intersect(ta, tb))))::BIGINT
    AS jacc_micro,
  ((len(list_filter(range(16), i -> sa[i+1] = sb[i+1])) * 1000000)
   // 16)::BIGINT AS est_micro,
  (len(list_filter(range(4), bb ->
     len(list_filter(range(4), j -> sa[bb*4+j+1] = sb[bb*4+j+1])) = 4))
   > 0)::INT AS band_hit
FROM p
""")
def minhash_calibration_q(spark, sf):
    """Estimator-vs-truth calibration table for the MinHash/LSH dedup
    config (16 perms, 4 bands of 4) on a deterministic 60-doc sample:
    exact Jaccard, sketch estimate, and band recall per pair — the
    pre-flight check before a corpus-scale dedup_minhash_lsh run."""
    d = _t(spark, sf, "documents")
    return dedup.minhash_calibration(d, "text", "doc_id",
                                     n_perms=16, bands=4, sample=60)


@q("sitemap_recrawl", """
WITH sm AS (
  SELECT 'https://h' || (user_id % 50) || '.gov.au/p' || event_id AS url,
         CASE WHEN event_id % 3 <> 0
              THEN ('2024-01-'
                    || lpad(((event_id % 28) + 1)::VARCHAR, 2, '0'))::DATE
         END AS lastmod
  FROM events),
lg AS (SELECT 'https://h' || (user_id % 50) || '.gov.au/p' || event_id
         AS url,
       ('2024-01-'
        || lpad(((event_id % 20) + 1)::VARCHAR, 2, '0'))::DATE AS lf
       FROM events WHERE event_id % 2 = 0),
g AS (SELECT url, max(lf) AS last_fetch FROM lg GROUP BY url)
SELECT sm.url, sm.lastmod, g.last_fetch,
       CASE WHEN g.last_fetch IS NULL THEN 'new'
            WHEN sm.lastmod IS NULL THEN 'unknown'
            WHEN sm.lastmod > g.last_fetch THEN 'stale'
            ELSE 'fresh' END AS verdict
FROM sm LEFT JOIN g USING (url)
""")
def sitemap_recrawl_q(spark, sf):
    """Sitemap lastmod vs crawl-log last-fetch: all four scheduler
    verdicts (new / unknown / stale / fresh) exercised by the synthetic
    date mix; DATE-granular, cross-engine exact."""
    e = _t(spark, sf, "events")
    url = F.concat(F.lit("https://h"),
                   (F.col("user_id") % 50).cast("string"),
                   F.lit(".gov.au/p"), F.col("event_id").cast("string"))
    day28 = F.lpad(((F.col("event_id") % 28) + 1).cast("string"), 2, "0")
    day20 = F.lpad(((F.col("event_id") % 20) + 1).cast("string"), 2, "0")
    sm = e.select(url.alias("loc"),
                  F.when(F.col("event_id") % 3 != 0,
                         F.concat(F.lit("2024-01-"), day28))
                  .alias("lastmod"))
    lg = (e.filter(F.col("event_id") % 2 == 0)
          .select(url.alias("url"),
                  F.concat(F.lit("2024-01-"), day20).alias("fetched_on")))
    return schedule.sitemap_recrawl(sm, lg)


@q("robots_crawl_delay", r"""
WITH hosts AS (SELECT DISTINCT user_id % 60 AS i FROM events),
raw AS (
  SELECT 'h' || i AS host,
         'User-agent: *' || chr(10) ||
         CASE WHEN i % 5 <> 0
              THEN 'Crawl-delay: ' || (i % 7) || chr(10)
              ELSE 'Disallow: /x' || chr(10) END ||
         CASE WHEN i % 4 = 0 THEN 'Crawl-delay: nonsense' || chr(10)
              ELSE '' END ||
         CASE WHEN i % 5 = 0 THEN 'User-agent: otherbot' || chr(10)
              || 'Crawl-delay: 9' || chr(10) ELSE '' END ||
         CASE WHEN i % 3 = 0 THEN 'User-agent: discobot' || chr(10)
              || 'Crawl-delay: 0.5' || chr(10) ELSE '' END AS robots_txt
  FROM hosts),
lines AS (
  SELECT host, generate_subscripts(l, 1) AS ln, unnest(l) AS rawline
  FROM (SELECT host, string_split(robots_txt, chr(10)) AS l FROM raw)),
parsed AS (
  SELECT host, ln,
         lower(regexp_extract(regexp_replace(rawline, '#.*$', ''),
               '^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$', 1)) AS field,
         regexp_extract(regexp_replace(rawline, '#.*$', ''),
               '^\s*([A-Za-z-]+)\s*:\s*(\S*)\s*$', 2) AS value
  FROM lines),
kept AS (SELECT * FROM parsed
         WHERE field IN ('user-agent', 'crawl-delay', 'allow', 'disallow')),
g AS (
  SELECT *, CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END AS is_ua,
         coalesce(lag(CASE WHEN field = 'user-agent' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY host ORDER BY ln), 0) AS prev_ua
  FROM kept),
gg AS (
  SELECT *, sum(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
         OVER (PARTITION BY host ORDER BY ln) AS gid
  FROM g),
agents AS (
  SELECT DISTINCT host, gid, lower(value) AS ua FROM gg WHERE is_ua = 1),
exact AS (SELECT DISTINCT host, gid FROM agents WHERE ua = 'discobot'),
star AS (SELECT DISTINCT host, gid FROM agents WHERE ua = '*'),
chosen AS (
  SELECT * FROM exact
  UNION ALL
  SELECT s.host, s.gid FROM star s
  WHERE s.host NOT IN (SELECT host FROM exact)),
delays AS (
  SELECT host, gid,
         floor(try_cast(value AS DOUBLE) * 1000000)::BIGINT AS delay_micro
  FROM gg
  WHERE field = 'crawl-delay' AND try_cast(value AS DOUBLE) IS NOT NULL
    AND try_cast(value AS DOUBLE) >= 0)
SELECT d.host, max(d.delay_micro) AS delay_micro
FROM delays d JOIN chosen c ON d.host = c.host AND d.gid = c.gid
GROUP BY d.host
""")
def robots_crawl_delay_q(spark, sf):
    """RFC-grouped Crawl-delay election over synthetic robots bodies:
    exact-agent (fractional 0.5s) suppresses the star group's integer
    delay, invalid values drop, delay-less hosts emit no row, and a
    Disallow closes the star group so a later agent's delay stays out."""
    e = _t(spark, sf, "events")
    hosts = e.select((F.col("user_id") % 60).alias("i")).distinct()
    nl = F.lit("\n")
    body = F.concat(
        F.lit("User-agent: *"), nl,
        F.when(F.col("i") % 5 != 0,
               F.concat(F.lit("Crawl-delay: "),
                        (F.col("i") % 7).cast("string"), nl))
        .otherwise(F.concat(F.lit("Disallow: /x"), nl)),
        F.when(F.col("i") % 4 == 0,
               F.concat(F.lit("Crawl-delay: nonsense"), nl))
        .otherwise(F.lit("")),
        F.when(F.col("i") % 5 == 0,
               F.concat(F.lit("User-agent: otherbot"), nl,
                        F.lit("Crawl-delay: 9"), nl))
        .otherwise(F.lit("")),
        F.when(F.col("i") % 3 == 0,
               F.concat(F.lit("User-agent: discobot"), nl,
                        F.lit("Crawl-delay: 0.5"), nl))
        .otherwise(F.lit("")))
    b = hosts.select(F.concat(F.lit("h"), F.col("i").cast("string"))
                     .alias("host"), body.alias("robots_txt"))
    return schedule.robots_crawl_delay(b, "host", "robots_txt",
                                       agent="discobot")


# ===========================================================================
# flagship (entry): dedup + quality + language over documents
# ===========================================================================


def flagship(spark, sf):
    """Representative pipeline: exact-dedup the corpus, keep high-quality
    English docs, return per-source stats — the 'corpus preparation' query a
    crawl feeds."""
    d = _t(spark, sf, "documents")
    kept = dedup.exact_dedup(d, "text", "doc_id").select("doc_id")
    quality = textstats.quality_score(d, "text", "doc_id")
    return (d.join(kept, "doc_id")
            .join(quality, "doc_id")
            .filter(F.col("lang") == "en")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("quality"), 4).alias("avg_quality"),
                 F.round(F.avg("n_tokens"), 2).alias("avg_tokens")))


def queries() -> dict:
    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict:
    return {name: sql for name, (fn, sql) in REGISTRY.items()
            if sql is not None}
