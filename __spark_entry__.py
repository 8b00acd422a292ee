"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship parse→products pipeline over sf0.001.
``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2, checked against DuckDB at sf0.01.

Both sides of every check consume the SAME derived URL corpus: the
``CORPUS_SQL`` snippet is valid in Spark SQL and DuckDB simultaneously
and is evaluated by each engine over the same parquet `part` table, so
the inputs are bit-identical by construction.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from _entry_crawl_ops import (  # noqa: E402
    CORPUS_SQL,
    _TABLES,
    _register as _register_ops,
    crawl_ops_oracles,
    crawl_ops_queries,
)
from webcrawlerfull_spark import config as C  # noqa: E402
from webcrawlerfull_spark.functions import predicates as P  # noqa: E402
from webcrawlerfull_spark.functions.urlnorm import normalize_url  # noqa: E402
from webcrawlerfull_spark.operators import seqgen  # noqa: E402
from webcrawlerfull_spark.operators.aggregates import urls_count_by_domain  # noqa: E402
from webcrawlerfull_spark.operators.attribution import first_touch  # noqa: E402
from webcrawlerfull_spark.operators.parse_spans import links_view, parse_spans_udf  # noqa: E402
from webcrawlerfull_spark.streaming.delta_frontier import assign_positions  # noqa: E402

# shared URL corpus (ONE SQL text, both engines) + the crawl-operator
# oracle suite live in _entry_crawl_ops; re-exported here for the tools

# regexes shared verbatim by rlike (Java) and regexp_matches (RE2) — the
# pattern tables use no constructs outside the common subset
_SIMPLE_RE = P.SIMPLE_COMBINED
_PAG_RE = P.PAGINATION_COMBINED
_CAT_RE = P.CATEGORY_COMBINED
_TRACKING_RE = "|".join(C.TRACKING_PARAM_SUBSTRINGS)
_DOMAIN_RE = {k: C.combined_regex(v) for k, v in C.DOMAIN_PATTERNS.items()}


_register = _register_ops


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir)
    return spark.sql(CORPUS_SQL)


def _netloc(col):
    return P.url_authority(col)


# ---------------------------------------------------------------------------
# entry — flagship: documents → spans → product extraction (SURVEY.md §7
# step 1: "given a table of fetched documents, produce the deduplicated,
# attributed product-URL table")
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # render a deterministic synthetic page per document row (pure column
    # expressions), then run the real parse pipeline on it
    host = F.concat(F.lit("www.shop"), (F.col("doc_id") % 7).cast("string"), F.lit(".example.com"))
    base = F.concat(
        F.lit("https://"), host, F.lit("/category/c"), (F.col("doc_id") % 3).cast("string")
    )
    html = F.concat(
        F.lit("<html><body><p>"),
        F.substring("text", 1, 80),
        F.lit('</p><a href="/product/widget-'),
        F.col("doc_id").cast("string"),
        F.lit('">Product</a><a href="/p/'),
        (F.col("doc_id") * 3 % 1000).cast("string"),
        F.lit('">item <b>'),
        F.col("lang"),
        F.lit('</b></a><a href="?page='),
        (F.col("doc_id") % 5 + 2).cast("string"),
        F.lit('">Next »</a><a href="https://ext.example.org/x">out</a>'),
        F.lit('<img src="/img/'),
        F.col("doc_id").cast("string"),
        F.lit('.png"></body></html>'),
    )
    pages = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        base.alias("page_url"),
        host.alias("netloc"),
        html.alias("html"),
    ).withColumn("spans", parse_spans_udf("html", "page_url", "netloc"))

    links = links_view(pages.select("doc_id", "spans"), ["doc_id"])
    products = (
        links.where(P.is_product_url(F.col("link_url")))
        .select(
            F.col("doc_id"),
            P.rstrip_slash(F.col("link_url")).alias("product_url"),
            normalize_url(F.col("link_url")).alias("normalized_url"),
        )
        .dropDuplicates(["product_url"])
    )
    return products


# ---------------------------------------------------------------------------
# queries — Spark implementations
# ---------------------------------------------------------------------------

def _q_normalize(spark, sf_dir):
    return _corpus(spark, sf_dir).select(
        "seq", "url", normalize_url(F.col("url")).alias("norm")
    )


def _q_pagination(spark, sf_dir):
    return _corpus(spark, sf_dir).select(
        "seq",
        "url",
        P.is_pagination_url(F.col("url")).alias("is_pagination"),
    )


def _q_product_match(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    return (
        c.where(P.is_product_url(F.col("url")))
        .select(P.rstrip_slash(F.col("url")).alias("product_url"))
        .distinct()
    )


def _q_config_key(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    return (
        c.select(P.config_key(_netloc(F.col("url"))).alias("config_key"))
        .groupBy("config_key")
        .agg(F.count("*").alias("n"))
    )


def _q_config_match(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    key = P.config_key(_netloc(F.col("url")))
    return (
        c.where(P.config_product_match(F.col("url"), key))
        .select(P.rstrip_slash(F.col("url")).alias("product_url"))
        .distinct()
    )


def _q_config_key_match(spark, sf_dir):
    """P6 + J8 in one gate entry (the driver's correctness gate records
    at most 50 rows — observed r3 — so the two P6 facets are stacked
    into one frame with sentinels instead of two entries): per-key
    domain-lookup counts over ALL corpus rows (product_url='') UNION the
    per-URL matched set (config_key='', n=-1). Lossless vs the former
    p6_config_key / p6_config_match pair."""
    keys = _q_config_key(spark, sf_dir).select(
        "config_key", "n", F.lit("").alias("product_url")
    )
    matches = _q_config_match(spark, sf_dir).select(
        F.lit("").alias("config_key"),
        F.lit(-1).cast("long").alias("n"),
        "product_url",
    )
    return keys.unionByName(matches)


def _q_category_priority(spark, sf_dir):
    return _corpus(spark, sf_dir).select(
        "seq", "url", P.category_priority(F.col("url")).alias("priority")
    )


def _q_frontier_topk(spark, sf_dir, cap=15):
    from webcrawlerfull_spark.operators.frontier import conditional_priority_cap

    c = _corpus(spark, sf_dir).select(
        "url",
        _netloc(F.col("url")).alias("domain"),
        P.category_priority(F.col("url")).alias("priority"),
        F.col("seq").alias("discovery_seq"),
    )
    capped = conditional_priority_cap(c, cap, salt_partitions=8)
    return capped.select(
        "domain", "url", (F.col("_rn") - 1).alias("queue_pos")
    )


def _q_politeness(spark, sf_dir, budget=5):
    """Each host's first budgeted slice, ranked by the crawl's queue."""
    c = _corpus(spark, sf_dir).select(
        "url",
        _netloc(F.col("url")).alias("host"),
        F.lit(0).alias("depth"),
        P.category_priority(F.col("url")).alias("priority"),
        F.col("seq").alias("discovery_seq"),
    )
    return (
        assign_positions(c, None, budget)
        .where(F.col("pos") < budget)
        .select("host", "url")
    )


def _q_seen_antijoin(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    seen = c.where(F.col("seq") % 3 == 0).select("url")
    return c.join(seen, "url", "left_anti").select("url")


def _q_first_touch(spark, sf_dir):
    _register(spark, sf_dir)
    # Same computation as first_touch(mentions, [ord1, ord2], [url]) +
    # per-parser counts, restructured so the aggregation is a codegen'd
    # HashAggregate instead of the SortAggregate that min-over-struct
    # compiles to (which sorts every map partition; r7, guide §2.3 —
    # measured 0.69 s -> 0.22 s on the sf0.1 aggregation alone).
    # Equivalent because lexicographic (l_orderkey, l_linenumber) with
    # 0 <= l_linenumber < 2^20 (TPC-H linenumber is 1..7) is exactly the
    # numeric order of orderkey*2^20 + linenumber, and the winning row's
    # parser is a pure function of its linenumber — recovered from the
    # packed low bits by the same CASE the projection applied.
    mentions = spark.sql(
        """
        SELECT 'u' || CAST(l_partkey % 500 AS INT) AS url,
               l_orderkey * 1048576 + l_linenumber AS packed
        FROM lineitem
        """
    )
    firsts = mentions.groupBy("url").agg(F.min("packed").alias("p"))
    parser = (
        F.when(F.col("p") % 1048576 % 4 == 0, F.lit("simple"))
        .when(F.col("p") % 1048576 % 4 == 1, F.lit("config"))
        .when(F.col("p") % 1048576 % 4 == 2, F.lit("ai"))
        .otherwise(F.lit("sequential"))
    )
    return firsts.select(parser.alias("parser")).groupBy("parser").agg(
        F.count("*").alias("n_first")
    )


def _q_urls_per_domain(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    products = c.where(P.is_product_url(F.col("url"))).select(
        _netloc(F.col("url")).alias("domain"),
        P.rstrip_slash(F.col("url")).alias("url"),
    )
    return urls_count_by_domain(products)


def _q_seqgen(spark, sf_dir):
    c = _corpus(spark, sf_dir)
    pp = c.where(F.col("seq") % 5 == 2).select(
        F.concat(F.lit("pg"), (F.col("seq") % 40).cast("string")).alias("page_url"),
        F.col("url"),
    )
    return seqgen.generate_sequential_urls(pp, "page_url", "url").select(
        "page_url", "url"
    )


def _q_tpch_pricing(spark, sf_dir):
    _register(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


def _q_doc_fingerprint_dedup(spark, sf_dir):
    _register(spark, sf_dir)
    docs = spark.table("documents")
    fp = F.md5(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        docs.select(F.col("doc_id"), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count("*").alias("n_dupes"))
    )


def _q_doc_token_stats(spark, sf_dir):
    _register(spark, sf_dir)
    docs = spark.table("documents")
    tokens = F.split(F.trim(F.col("text")), r"\s+")
    return (
        docs.select(
            "source",
            F.size(tokens).alias("n_tokens"),
            F.length("text").alias("n_chars_actual"),
        )
        .groupBy("source")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars_actual"), 4).alias("avg_chars"),
            F.count("*").alias("n_docs"),
        )
    )


def _q_events_tumbling(spark, sf_dir):
    _register(spark, sf_dir)
    ev = spark.table("events")
    # epoch-seconds bucket (BIGINT on both engines — avoids tz-repr drift)
    bucket = (F.floor(F.unix_timestamp("ts") / 900) * 900).cast("long")
    return (
        ev.select(bucket.alias("window_start"), "event_type", "value")
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "p1_normalize_url": _q_normalize,
        "p4_pagination_classify": _q_pagination,
        "p5_product_match": _q_product_match,
        "p6_config_key_match": _q_config_key_match,
        "p7_category_priority": _q_category_priority,
        "o3_frontier_topk": _q_frontier_topk,
        "o5_politeness_budget": _q_politeness,
        "j1_seen_antijoin": _q_seen_antijoin,
        "j7_first_touch": _q_first_touch,
        "a3_urls_per_domain": _q_urls_per_domain,
        "g1_seqgen": _q_seqgen,
        "tpch_pricing_summary": _q_tpch_pricing,
        "doc_fingerprint_dedup": _q_doc_fingerprint_dedup,
        "doc_token_stats": _q_doc_token_stats,
        "events_tumbling_agg": _q_events_tumbling,
        **_extra_queries(),
        **crawl_ops_queries(),
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    corpus = f"WITH corpus AS ({CORPUS_SQL})"
    return {
        "p1_normalize_url": f"""
            {corpus},
            parts AS (
              SELECT seq, url,
                regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
                lower(regexp_extract(url, '^[a-z]+://([^/?#]*)', 1)) AS netloc,
                regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
                CASE WHEN contains(url, '?') THEN regexp_extract(url, '\\?([^#]*)', 1) ELSE '' END AS q
              FROM corpus),
            filt AS (
              SELECT seq, url, scheme, netloc, path,
                array_to_string(
                  list_filter(string_split(q, '&'),
                    p -> p <> '' AND contains(p, '=')
                         AND NOT regexp_matches(lower(string_split(p, '=')[1]), '{_TRACKING_RE}')),
                  '&') AS q2
              FROM parts)
            SELECT seq, url,
                   scheme || '://' || netloc || path ||
                   CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS norm
            FROM filt
        """,
        "p4_pagination_classify": f"""
            {corpus}
            SELECT seq, url, regexp_matches(url, '{_PAG_RE}') AS is_pagination
            FROM corpus
        """,
        "p5_product_match": f"""
            {corpus}
            SELECT DISTINCT regexp_replace(url, '/+$', '') AS product_url
            FROM corpus WHERE regexp_matches(url, '{_SIMPLE_RE}')
        """,
        "p6_config_key_match": f"""
            {corpus},
            keyed AS (
              SELECT url, CASE
                WHEN regexp_matches(regexp_extract(url, '^[a-z]+://([^/?#]*)', 1), 'default') THEN 'default'
                WHEN regexp_matches(regexp_extract(url, '^[a-z]+://([^/?#]*)', 1), 'amazon') THEN 'amazon'
                WHEN regexp_matches(regexp_extract(url, '^[a-z]+://([^/?#]*)', 1), 'shopify') THEN 'shopify'
                WHEN regexp_matches(regexp_extract(url, '^[a-z]+://([^/?#]*)', 1), 'woocommerce') THEN 'woocommerce'
                WHEN regexp_matches(regexp_extract(url, '^[a-z]+://([^/?#]*)', 1), 'magento') THEN 'magento'
                WHEN regexp_matches(regexp_extract(url, '^[a-z]+://([^/?#]*)', 1), 'bigcommerce') THEN 'bigcommerce'
                ELSE 'default' END AS k
              FROM corpus)
            SELECT k AS config_key, COUNT(*) AS n, '' AS product_url
            FROM keyed GROUP BY k
            UNION ALL
            SELECT '' AS config_key, CAST(-1 AS BIGINT) AS n,
                   product_url
            FROM (
              SELECT DISTINCT regexp_replace(url, '/+$', '') AS product_url
              FROM keyed
              WHERE (k = 'default' AND regexp_matches(url, '{_DOMAIN_RE["default"]}'))
                 OR (k = 'amazon' AND regexp_matches(url, '{_DOMAIN_RE["amazon"]}'))
                 OR (k = 'shopify' AND regexp_matches(url, '{_DOMAIN_RE["shopify"]}'))
                 OR (k = 'woocommerce' AND regexp_matches(url, '{_DOMAIN_RE["woocommerce"]}'))
                 OR (k = 'magento' AND regexp_matches(url, '{_DOMAIN_RE["magento"]}'))
                 OR (k = 'bigcommerce' AND regexp_matches(url, '{_DOMAIN_RE["bigcommerce"]}'))
            )
        """,
        "p7_category_priority": f"""
            {corpus}
            SELECT seq, url,
                   CASE WHEN regexp_matches(url, '{_CAT_RE}') THEN 0 ELSE 1 END AS priority
            FROM corpus
        """,
        "o3_frontier_topk": f"""
            {corpus},
            base AS (
              SELECT seq, url,
                     regexp_extract(url, '^[a-z]+://([^/?#]*)', 1) AS domain,
                     CASE WHEN regexp_matches(url, '{_CAT_RE}') THEN 0 ELSE 1 END AS priority
              FROM corpus),
            cnt AS (SELECT *, COUNT(*) OVER (PARTITION BY domain) AS c FROM base),
            eff AS (SELECT *, CASE WHEN c > 15 THEN priority ELSE 0 END AS e FROM cnt),
            ranked AS (
              SELECT domain, url,
                     ROW_NUMBER() OVER (PARTITION BY domain ORDER BY e, seq) - 1 AS queue_pos
              FROM eff)
            SELECT domain, url, queue_pos FROM ranked WHERE queue_pos < 15
        """,
        "o5_politeness_budget": f"""
            {corpus},
            base AS (
              SELECT url, seq,
                     regexp_extract(url, '^[a-z]+://([^/?#]*)', 1) AS host,
                     CASE WHEN regexp_matches(url, '{_CAT_RE}') THEN 0 ELSE 1 END AS priority
              FROM corpus),
            ranked AS (
              SELECT host, url,
                     ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority, seq) AS rn
              FROM base)
            SELECT host, url FROM ranked WHERE rn <= 5
        """,
        "j1_seen_antijoin": f"""
            {corpus}
            SELECT url FROM corpus
            WHERE url NOT IN (SELECT url FROM corpus WHERE seq % 3 = 0)
        """,
        "j7_first_touch": """
            WITH mentions AS (
              SELECT 'u' || CAST(l_partkey % 500 AS INT) AS url,
                     CASE CAST(l_linenumber % 4 AS INT)
                       WHEN 0 THEN 'simple' WHEN 1 THEN 'config'
                       WHEN 2 THEN 'ai' ELSE 'sequential' END AS parser,
                     l_orderkey AS ord1, l_linenumber AS ord2
              FROM lineitem),
            firsts AS (
              SELECT url, parser,
                     ROW_NUMBER() OVER (PARTITION BY url ORDER BY ord1, ord2) AS rn
              FROM mentions)
            SELECT parser, COUNT(*) AS n_first FROM firsts WHERE rn = 1 GROUP BY parser
        """,
        "a3_urls_per_domain": f"""
            {corpus}
            SELECT regexp_extract(url, '^[a-z]+://([^/?#]*)', 1) AS domain,
                   COUNT(DISTINCT regexp_replace(url, '/+$', '')) AS urls_count
            FROM corpus WHERE regexp_matches(url, '{_SIMPLE_RE}')
            GROUP BY 1
        """,
        "g1_seqgen": f"""
            {corpus},
            pp AS (
              SELECT 'pg' || CAST(seq % 40 AS INT) AS page_url, url
              FROM corpus WHERE seq % 5 = 2),
            counted AS (SELECT *, COUNT(*) OVER (PARTITION BY page_url) AS c FROM pp),
            sample AS (
              SELECT * FROM (
                SELECT page_url, url,
                       ROW_NUMBER() OVER (PARTITION BY page_url ORDER BY url) AS rn
                FROM counted WHERE c >= 3) WHERE rn <= 10),
            pats AS (
              SELECT page_url, url,
                CASE
                  WHEN regexp_extract(url, '/(\\d+)(?:/|$)', 1) <> '' THEN 0
                  WHEN regexp_extract(url, 'p=(\\d+)', 1) <> '' THEN 1
                  WHEN regexp_extract(url, 'page=(\\d+)', 1) <> '' THEN 2
                  WHEN regexp_extract(url, '-p(\\d+)', 1) <> '' THEN 3
                  WHEN regexp_extract(url, '_(\\d+)\\.html', 1) <> '' THEN 4
                  ELSE NULL END AS pat
              FROM sample),
            pagepat AS (
              SELECT *, MIN(pat) OVER (PARTITION BY page_url) AS page_pat FROM pats),
            matched AS (
              SELECT page_url, url, page_pat,
                CASE page_pat
                  WHEN 0 THEN regexp_extract(url, '/(\\d+)(?:/|$)', 0)
                  WHEN 1 THEN regexp_extract(url, 'p=(\\d+)', 0)
                  WHEN 2 THEN regexp_extract(url, 'page=(\\d+)', 0)
                  WHEN 3 THEN regexp_extract(url, '-p(\\d+)', 0)
                  WHEN 4 THEN regexp_extract(url, '_(\\d+)\\.html', 0)
                END AS g0,
                CASE page_pat
                  WHEN 0 THEN regexp_extract(url, '/(\\d+)(?:/|$)', 1)
                  WHEN 1 THEN regexp_extract(url, 'p=(\\d+)', 1)
                  WHEN 2 THEN regexp_extract(url, 'page=(\\d+)', 1)
                  WHEN 3 THEN regexp_extract(url, '-p(\\d+)', 1)
                  WHEN 4 THEN regexp_extract(url, '_(\\d+)\\.html', 1)
                END AS g1
              FROM pagepat WHERE pat = page_pat),
            nums AS (SELECT *, CAST(g1 AS BIGINT) AS num FROM matched),
            deltas AS (
              SELECT n.*, i.i,
                     unnest(CASE WHEN n.num > i.i
                            THEN [n.num + i.i, n.num - i.i]
                            ELSE [n.num + i.i] END) AS new_num
              FROM nums n CROSS JOIN (SELECT unnest([1, 2, 3]) AS i) i),
            gen AS (
              SELECT DISTINCT page_url,
                     replace(url, g0, replace(g0, g1, CAST(new_num AS VARCHAR))) AS url
              FROM deltas),
            filtered AS (
              SELECT g.page_url, g.url FROM gen g
              WHERE NOT EXISTS (
                SELECT 1 FROM pp WHERE pp.page_url = g.page_url AND pp.url = g.url)),
            capped AS (
              SELECT page_url, url,
                     ROW_NUMBER() OVER (PARTITION BY page_url ORDER BY url) AS rn
              FROM filtered)
            SELECT page_url, url FROM capped WHERE rn <= 30
        """,
        "tpch_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "doc_fingerprint_dedup": """
            SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_dupes
            FROM documents GROUP BY 1
        """,
        "doc_token_stats": """
            SELECT source,
                   CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS total_tokens,
                   ROUND(AVG(length(text)), 4) AS avg_chars,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY source
        """,
        "events_tumbling_agg": """
            SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS window_start,
                   event_type, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,

        "s12_simplify_domain": f"""
            WITH corpus AS ({S12_CORPUS_SQL})
            SELECT CASE CAST(seq % 12 AS INT)
                WHEN 0 THEN 'example_co_uk'
                WHEN 1 THEN 'store' || CAST(seq % 5 AS INT) || '_com_au'
                -- *.nagoya.jp wildcard: example.nagoya.jp is the suffix
                WHEN 2 THEN 'foo_example_nagoya_jp'
                WHEN 3 THEN 'example_com'
                WHEN 4 THEN 'example_org'
                WHEN 5 THEN 'example_gob_mx'
                WHEN 6 THEN 'myshop_co_in'
                -- !www.ck exception: suffix ck, registered www
                WHEN 7 THEN 'www_ck'
                -- *.ck wildcard: b.ck is the suffix
                WHEN 8 THEN 'foo_b_ck'
                -- !city.kawasaki.jp exception
                WHEN 9 THEN 'city_kawasaki_jp'
                -- PRIVATE suffix github.io: NOT public under tldextract's
                -- default (ICANN-only), so the key is github_io
                WHEN 10 THEN 'github_io'
                ELSE 'example_com'
              END AS domain_key,
              COUNT(*) AS n
            FROM corpus GROUP BY 1
        """,

        "events_sessionize": """
            WITH ev AS (
              SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value
              FROM events),
            marked AS (
              SELECT *,
                     CASE WHEN ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
                               IS NULL
                          OR ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id) > 600
                          THEN 1 ELSE 0 END AS new_session
              FROM ev),
            sess AS (
              SELECT *, SUM(new_session) OVER (
                PARTITION BY user_id ORDER BY ts_s, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
              FROM marked)
            SELECT user_id, CAST(session_no AS BIGINT) AS session_no, MIN(ts_s) AS session_start,
                   COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
            FROM sess GROUP BY user_id, session_no
        """,
        "tpch_top_orders": """
            SELECT l_orderkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey
            LIMIT 20
        """,
        **_extra_oracles(),
        **crawl_ops_oracles(),
    }


# ---------------------------------------------------------------------------
# training-data pipeline extras: dedup / similarity / text / multimodal
# ---------------------------------------------------------------------------

from webcrawlerfull_spark.functions import textstats as T  # noqa: E402
from webcrawlerfull_spark.operators import multimodal as MM  # noqa: E402
from webcrawlerfull_spark.operators import similarity as SIM  # noqa: E402
from webcrawlerfull_spark.operators import textdedup as TD  # noqa: E402

_EN = ", ".join(f"'{w}'" for w in T.EN_STOPWORDS)
_ES = ", ".join(f"'{w}'" for w in T.ES_STOPWORDS)
_DE = ", ".join(f"'{w}'" for w in T.DE_STOPWORDS)


def _q_bpe_tokens(spark, sf_dir):
    """BPE-ish token counting: whitespace count vs pre-tokenizer count,
    plus an md5 over the joined token stream so the oracle verifies the
    exact tokens, not just how many."""
    _register(spark, sf_dir)
    docs = spark.table("documents")
    toks = T.bpe_ish_tokens(F.col("text"))
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_ws_tokens"),
        F.size(toks).alias("n_bpe_tokens"),
        F.md5(F.concat_ws("|", toks)).alias("bpe_fp"),
    )


def _q_winnow_fp(spark, sf_dir):
    """Winnowing (rolling-hash) fingerprints: count + set hash per doc,
    and the overlap property is what dedup consumers join on."""
    _register(spark, sf_dir)
    docs = T.winnow_fingerprints(spark.table("documents"), "text")
    return docs.select(
        "doc_id",
        F.size("fps").alias("n_fp"),
        F.md5(F.concat_ws("|", "fps")).alias("fp_set_hash"),
    )


def _q_lang_id(spark, sf_dir):
    _register(spark, sf_dir)
    docs = spark.table("documents")
    return docs.select("doc_id", T.lang_guess(F.col("text")).alias("lang_guess"))


def _q_quality(spark, sf_dir):
    _register(spark, sf_dir)
    docs = spark.table("documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.punct_ratio(F.col("text")).alias("punct_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    )


def _near_dup_corpus(spark, sf_dir):
    """documents plus a mutated copy of each (last token dropped) so the
    near-dup detectors have true positives; same construction in SQL."""
    _register(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return docs.unionByName(mutated)


_NEAR_DUP_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         regexp_replace(text, '\\s+\\S+$', '') AS text
  FROM documents
"""


def _q_minhash_pairs(spark, sf_dir):
    corpus = _near_dup_corpus(spark, sf_dir)
    return TD.minhash_candidate_pairs(
        corpus, "doc_id", "text", k=64, bands=16, pre_dedup=True, max_bucket=500
    )


def _q_simhash(spark, sf_dir):
    _register(spark, sf_dir)
    docs = spark.table("documents")
    return TD.simhash64_df(docs, "doc_id", "text")


def _q_simhash_pairs(spark, sf_dir):
    corpus = _near_dup_corpus(spark, sf_dir)
    return TD.simhash_hamming_pairs(
        corpus, "doc_id", "text", max_distance=3, bands=4,
        pre_dedup=True, max_bucket=500,
    )


def _q_jaccard_verify(spark, sf_dir):
    """n-gram Jaccard verify stage over the LSH candidate pairs — the
    exact-similarity pass is candidate-bounded, never all-pairs."""
    corpus = _near_dup_corpus(spark, sf_dir)
    cands = TD.minhash_candidate_pairs(
        corpus, "doc_id", "text", k=64, bands=16, pre_dedup=True, max_bucket=500
    )
    return TD.ngram_jaccard_pairs(corpus, cands, threshold=0.5)


def _q_dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the hardened MinHash
    candidate pairs via LARGE-STAR/SMALL-STAR contraction (O(log n)
    rounds independent of diameter — chain-shaped dup graphs don't
    stall the driver loop); nodes are the exact-dedup representatives.
    A dedup pipeline keeps one doc per component, not one per pairwise
    edge."""
    from webcrawlerfull_spark.functions.textstats import fingerprint

    corpus = _near_dup_corpus(spark, sf_dir)
    pairs = TD.minhash_candidate_pairs(
        corpus, "doc_id", "text", k=64, bands=16, pre_dedup=True, max_bucket=500
    )
    fps = corpus.select("doc_id", fingerprint(F.col("text")).alias("_fp"))
    reps = fps.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    comp = TD.connected_components_star(
        pairs, nodes=reps.select(F.col("doc_id").alias("node"))
    )
    return comp


def _q_dedup_incremental(spark, sf_dir):
    """Incremental cross-round dedup through the crawl's per-round call,
    ``incremental_dedup_delta``: round A (doc_id < 250) runs with no
    prior state, and its delta (the kept docs' fingerprints + LSH bands,
    no text) is the state round B — the remaining docs plus exact copies
    of A[:100] and last-word-dropped near copies of A[100:200] — is
    classified against, without rescanning A's text. A's 250 docs have
    distinct fingerprints and non-blank text, so A keeps every doc."""
    _register(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    a = docs.where(F.col("doc_id") < 250)
    fresh = docs.where(F.col("doc_id") >= 250)
    exact_copies = a.where(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    near_copies = (
        docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
        .select(
            (F.col("doc_id") + 3000000).alias("doc_id"),
            F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
        )
    )
    b = fresh.unionByName(exact_copies).unionByName(near_copies)
    state = TD.incremental_dedup_delta(a, None, k=16, bands=4)
    delta = TD.incremental_dedup_delta(b, state, k=16, bands=4)
    # the stacked delta carries doc_id as a string. try_cast: the cast
    # is pushed into every union branch, and a plain cast of the other
    # kinds' '' sentinel fails before the kind filter drops those rows
    return delta.where(F.col("kind") == "verdict").select(
        F.col("doc_id").try_cast("long").alias("doc_id"), "status"
    )


def _q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-bucketed: the embeddings plus
    a slightly-perturbed copy of each (first component +0.1) so true
    near-dups exist; same construction mirrored in the oracle."""
    _register(spark, sf_dir)
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dims = len(emb.first()["embedding"])
    mutated = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.1)),
            F.slice("embedding", 2, dims - 1),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mutated)
    return SIM.cosine_near_dup_pairs(
        corpus, dims=dims, threshold=0.9, planes=6, max_bucket=500
    )


def _query_vec(spark, sf_dir):
    _register(spark, sf_dir)
    return [
        float(x)
        for x in spark.table("embeddings").where(F.col("vec_id") == 0).first()[
            "embedding"
        ]
    ]


def _q_ann_cosine(spark, sf_dir):
    """Two facets stacked (50-entry gate cap, sentinel-union pattern —
    VERDICT r5 item 5):
    - 'brute': exact brute-force cosine top-10.
    - 'ivf_full_probe': the SAME top-10 produced through the persisted
      IVF-flat index at nprobe = nlist. Probing every inverted list
      makes the result exactly the brute-force answer BY CONTRACT, so
      DuckDB can oracle it — while the Spark side still has to build
      the k-means quantizer, write the list-partitioned index, rank
      centroids, read the lists back and re-rank exactly. (Pruned-probe
      recall is measured evidence, not an oracle property:
      tests/test_ann_ivf.py + the boundary panel in
      BENCH/ivf_families_r6.json.)
    """
    import hashlib as _hl
    import os as _os

    qv = _query_vec(spark, sf_dir)
    emb = spark.table("embeddings")
    brute = SIM.cosine_topk(emb, qv, k=10).select(
        F.lit("brute").alias("variant"),
        "vec_id",
        F.round("cosine", 4).alias("cosine_r"),
    )
    idx_path = _os.path.join(
        "/tmp/ann_ivf_index", _hl.md5(sf_dir.encode()).hexdigest()[:12]
    )
    SIM.write_ivf_index(emb, idx_path, dims=len(qv))
    nlist = SIM.read_index_meta(idx_path, spark)["nlist"]
    ivf = SIM.ivf_topk_indexed(
        spark, idx_path, qv, k=10, nprobe=nlist
    ).select(
        F.lit("ivf_full_probe").alias("variant"),
        "vec_id",
        F.round("cosine", 4).alias("cosine_r"),
    )
    return brute.unionByName(ivf)


def _q_ann_batch_topk(spark, sf_dir):
    """Batch ANN: per-query exact top-5 for 8 query vectors in ONE
    corpus pass (broadcast query table + per-query window top-k) —
    the many-query shape that amortizes the corpus scan."""
    _register(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    top = SIM.cosine_topk_batch(emb, queries, k=5)
    return top.select(
        "q_id", "vec_id", F.round("cosine", 4).alias("cosine_r"), "rank"
    )


def ann_index_build(spark, sf_dir):
    """(Re)build the persisted LSH index for ``sf_dir``; returns its
    path. The index is partitioned on ``sig_prefix``, the first
    ``min(planes, planes_for(n))`` signature bits: the 8 planes over a
    2k-vector corpus write 16 dirs, not one ~10-row file per bucket;
    ``_ann_meta.json`` records ``prefix_bits`` and the index schema.
    Split out of ``_q_ann_lsh`` so bench.py can time the one-time index
    BUILD (a corpus count, a repartition-by-prefix shuffle and a
    partitioned write — amortized over every later query) separately
    from the per-query PROBE (VERDICT r4 item 2: folding the build into
    the probed query's timing buried an 11x-faster probe under a
    rebuild that production runs once)."""
    import hashlib as _hl
    import os as _os

    qv = _query_vec(spark, sf_dir)
    emb = spark.table("embeddings")
    idx_path = _os.path.join(
        "/tmp/ann_index", _hl.md5(sf_dir.encode()).hexdigest()[:12]
    )
    SIM.write_lsh_index(emb, idx_path, dims=len(qv), planes=8)
    return idx_path


def ann_probe(spark, sf_dir, idx_path):
    """Probe-only half of the persisted-index ANN query: one glob finds
    which of the probe-prefix dirs exist, only those are read (stored
    schema, no listing of the whole index), then the exact ``sig IN
    probes`` filter and in-bucket cosine top-k."""
    qv = _query_vec(spark, sf_dir)
    top = SIM.lsh_topk_indexed(
        spark, idx_path, qv, dims=len(qv), k=10, planes=8, multi_probe=1
    )
    return top.select("vec_id", F.round("cosine", 4).alias("cosine_r"))


def _q_ann_lsh(spark, sf_dir):
    """Persisted signature-prefix-partitioned index + Hamming-1
    multi-probe: the query's 9 probe signatures map to their distinct
    prefixes, and only the dirs of those prefixes are listed and read
    (Spark lists the given dirs in parallel only above 32 of them).
    Always rebuilds the index first: a stale index from an older
    signature scheme must never leak into the correctness gate (cheap
    at gate scale)."""
    return ann_probe(spark, sf_dir, ann_index_build(spark, sf_dir))


def _q_media_features(spark, sf_dir):
    _register(spark, sf_dir)
    docs = spark.table("documents")
    media = MM.synth_media(docs)
    feats = MM.extract_features(media, n_features=8, fake=True)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("features", 1).cast("double"), 4).alias("f0"),
    )


def _q_frame_sample(spark, sf_dir):
    _register(spark, sf_dir)
    media = MM.synth_media(spark.table("documents"))
    return MM.frame_sample(media, every_n=10).select("media_id", "frame_no")




# S12 corpus: hosts spanning PSL two-level suffixes (co.uk, com.au,
# geographic jp), deep subdomains, bare registered domains, and case
# mixing — the oracle's expected keys are hand-derived per branch
S12_CORPUS_SQL = """
SELECT p_partkey AS seq,
  'https://' ||
    CASE CAST(p_partkey % 12 AS INT)
      WHEN 0 THEN 'shop.Example.co.uk'
      WHEN 1 THEN 'www.store' || CAST(p_partkey % 5 AS INT) || '.com.au'
      WHEN 2 THEN 'foo.example.nagoya.jp'
      WHEN 3 THEN 'a.b.example.com'
      WHEN 4 THEN 'example.org'
      WHEN 5 THEN 'x.example.gob.mx'
      WHEN 6 THEN 'deals.myshop.co.in'
      WHEN 7 THEN 'store.www.ck'
      WHEN 8 THEN 'shop.foo.b.ck'
      WHEN 9 THEN 'sub.city.kawasaki.jp'
      WHEN 10 THEN 'foo.github.io'
      ELSE 'www.shop' || CAST(p_partkey % 3 AS INT) || '.example.com'
    END || '/p/' || p_partkey AS url
FROM part
"""


def _q_simplify_domain(spark, sf_dir):
    from webcrawlerfull_spark.api import simplify_domain

    _register(spark, sf_dir)
    c = spark.sql(S12_CORPUS_SQL)
    return (
        c.select(simplify_domain(F.col("url")).alias("domain_key"))
        .groupBy("domain_key")
        .agg(F.count("*").alias("n"))
    )




def _q_curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation over the documents table in ONE
    composed plan: language filter (en) → quality threshold (≥0.7) →
    exact-dedup keep-first → per-source kept-doc / kept-token
    accounting. The filters fuse into the parquet scan (codegen), the
    dedup is one hash aggregate + semi-join — the whole pipeline is a
    single job, not four passes over the corpus."""
    _register(spark, sf_dir)
    docs = spark.table("documents")
    scored = docs.select(
        "doc_id",
        "source",
        "text",
        T.lang_guess(F.col("text")).alias("lang_g"),
        T.quality_score(F.col("text")).alias("q"),
    )
    passed = scored.where((F.col("lang_g") == "en") & (F.col("q") >= 0.7))
    reps = passed.groupBy(T.fingerprint(F.col("text")).alias("fp")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = passed.join(reps.select("doc_id"), "doc_id", "left_semi")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(T.token_count(F.col("text"))).cast("bigint").alias("kept_tokens"),
    )


def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (10-min inactivity) — the stateful-stream
    analogue expressed as lag + running sum windows."""
    from pyspark.sql import Window

    _register(spark, sf_dir)
    ev = spark.table("events").select(
        "user_id", "event_id", F.unix_timestamp("ts").alias("ts_s"), "value"
    )
    # total order (ts_s, event_id) + explicit ROWS frame: second-truncated
    # timestamps can collide, and RANGE vs ROWS would diverge on ties
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gap = F.col("ts_s") - F.lag("ts_s").over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 600), F.lit(1)).otherwise(F.lit(0)),
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = marked.withColumn(
        "session_no", F.sum("new_session").over(w_run)
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.min("ts_s").alias("session_start"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_tpch_top_orders(spark, sf_dir):
    """Join-path analytics: revenue per order for one market segment
    (broadcastable dims, partial aggregation, top-k)."""
    _register(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey
        LIMIT 20
        """
    )


def _lang_hits_sql(words: str) -> str:
    return (
        "len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"t -> list_contains([{words}], t)))"
    )


def _simhash64_votes_sql(bits: int = 64) -> str:
    """Vote columns v0..v63 over per-token md5 hex (computed once into hs)."""
    nib = "(strpos('0123456789abcdef', substring(h, {pos}, 1)) - 1)"
    cols = []
    for b in range(bits):
        nibble_idx, bit = divmod(b, 4)
        v = nib.format(pos=nibble_idx + 1)
        cols.append(
            "list_sum(list_transform(hs, h -> CASE WHEN "
            f"CAST(floor({v} / {2 ** bit}) AS BIGINT) % 2 = 1 "
            f"THEN 1 ELSE -1 END)) AS v{b}"
        )
    return ", ".join(cols)


def _simhash64_sig_sql(bits: int = 64) -> str:
    """Hex signature from vote columns: nibble n = bits 4n..4n+3."""
    chars = []
    for n in range(bits // 4):
        val = " + ".join(
            f"(CASE WHEN v{4 * n + j} > 0 THEN {2 ** j} ELSE 0 END)"
            for j in range(4)
        )
        chars.append(f"substring('0123456789abcdef', 1 + ({val}), 1)")
    return " || ".join(chars)


def _simhash64_sql(source_sql: str = "SELECT doc_id, text FROM documents") -> str:
    return f"""
        WITH corpus AS ({source_sql}),
        tok AS (
          SELECT doc_id,
                 list_transform(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   t -> md5(t)) AS hs
          FROM corpus),
        votes AS (SELECT doc_id, {_simhash64_votes_sql()} FROM tok)
        SELECT doc_id, {_simhash64_sig_sql()} AS simhash FROM votes
    """


def _simhash_pairs_sql(
    max_distance: int = 3, bands: int = 4, max_bucket: int = 500
) -> str:
    """Mirrors simhash_hamming_pairs incl. the skew hardening: exact-dup
    pre-collapse to the min-id representative + band-bucket cap."""
    width = (64 // bands) // 4
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"substring(simhash, {b * width + 1}, {width}) AS band_val FROM sigs"
        for b in range(bands)
    )
    nib_a = "(strpos('0123456789abcdef', substring(sig_a, {pos}, 1)) - 1)"
    nib_b = "(strpos('0123456789abcdef', substring(sig_b, {pos}, 1)) - 1)"
    ham = " + ".join(
        f"bit_count(xor({nib_a.format(pos=n + 1)}, {nib_b.format(pos=n + 1)}))"
        for n in range(16)
    )
    dedup_corpus = f"""
        sp_corpus0 AS ({_NEAR_DUP_SQL}),
        sp_fps AS (
          SELECT doc_id,
                 md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
          FROM sp_corpus0),
        sp_reps AS (SELECT fp, MIN(doc_id) AS doc_id FROM sp_fps GROUP BY 1),
        dedup_corpus AS (
          SELECT c.* FROM sp_corpus0 c
          WHERE EXISTS (SELECT 1 FROM sp_reps r WHERE r.doc_id = c.doc_id))
    """
    return f"""
        WITH {dedup_corpus},
        sigbase AS ({_simhash64_sql("SELECT doc_id, text FROM dedup_corpus")}),
        sigs AS (SELECT doc_id, simhash FROM sigbase),
        stacked AS ({band_rows}),
        bsize AS (
          SELECT band_id, band_val, COUNT(*) AS n
          FROM stacked GROUP BY 1, 2),
        kept AS (
          SELECT s.* FROM stacked s JOIN bsize z
            ON s.band_id = z.band_id AND s.band_val = z.band_val
          WHERE z.n <= {max_bucket}),
        cands AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS sig_a, b.simhash AS sig_b
          FROM kept a JOIN kept b
            ON a.band_id = b.band_id AND a.band_val = b.band_val
          WHERE a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(({ham}) AS BIGINT) AS hamming
        FROM cands WHERE ({ham}) <= {max_distance}
    """


def _band_ctes(src: str, p: str, k: int = 16, bands: int = 4) -> str:
    """tok/shingle/signature/band CTEs (prefix ``p``) over source CTE
    ``src`` — mirrors minhash_signature + lsh_bands incl. the
    content-free guard (empty/whitespace docs emit no bands)."""
    r = k // bands
    mh = ", ".join(
        f"list_min(list_transform(sh, s -> md5(s || '|{j}'))) AS m{j}"
        for j in range(k)
    )
    band_exprs = ", ".join(
        "md5(" + " || '|' || ".join(f"m{b * r + i}" for i in range(r)) + f") AS b{b}"
        for b in range(bands)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, b{b} AS band_hash FROM {p}banded"
        for b in range(bands)
    )
    return f"""
        {p}tok AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
          FROM {src} WHERE text IS NOT NULL AND trim(text) <> ''),
        {p}sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM {p}tok),
        {p}sigs AS (SELECT doc_id, {mh} FROM {p}sh),
        {p}banded AS (SELECT doc_id, {band_exprs} FROM {p}sigs),
        {p}stacked AS ({band_rows})
    """


def _incremental_sql(k: int = 16, bands: int = 4) -> str:
    """Mirrors incremental_dedup_delta's verdicts over the same two-round
    construction as _q_dedup_incremental: round A's state is its
    distinct fingerprints and band hashes."""
    return f"""
        WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
        b AS (
          SELECT doc_id, text FROM documents WHERE doc_id >= 250
          UNION ALL
          SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 100
          UNION ALL
          SELECT doc_id + 3000000, regexp_replace(text, '\\s+\\S+$', '')
          FROM documents WHERE doc_id >= 100 AND doc_id < 200),
        state_fp AS (
          SELECT DISTINCT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
          FROM a),
        {_band_ctes('a', 'a_', k, bands)},
        state_bands AS (SELECT DISTINCT band_id, band_hash FROM a_stacked),
        b_fp AS (
          SELECT doc_id, text,
                 md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
          FROM b),
        b_rep AS (SELECT fp, MIN(doc_id) AS rep FROM b_fp GROUP BY 1),
        b_lab AS (
          SELECT f.doc_id, f.text, f.fp, r.rep,
                 (f.fp IN (SELECT fp FROM state_fp)) AS in_state
          FROM b_fp f JOIN b_rep r ON f.fp = r.fp),
        surv AS (
          SELECT doc_id, text FROM b_lab
          WHERE NOT (doc_id <> rep OR in_state)),
        {_band_ctes('surv', 's_', k, bands)},
        near AS (
          SELECT DISTINCT s.doc_id FROM s_stacked s
          JOIN state_bands z
            ON s.band_id = z.band_id AND s.band_hash = z.band_hash)
        SELECT doc_id,
               CASE WHEN doc_id <> rep OR in_state THEN 'exact_dup'
                    WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
                    ELSE 'kept' END AS status
        FROM b_lab
    """


def _minhash_ctes(k: int = 64, bands: int = 16, max_bucket: int = 500) -> str:
    r = k // bands
    mh = ", ".join(
        f"list_min(list_transform(sh, s -> md5(s || '|{j}'))) AS m{j}"
        for j in range(k)
    )
    band_exprs = ", ".join(
        "md5(" + " || '|' || ".join(f"m{b * r + i}" for i in range(r)) + f") AS b{b}"
        for b in range(bands)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, b{b} AS band_hash FROM banded"
        for b in range(bands)
    )
    return f"""
        corpus0 AS ({_NEAR_DUP_SQL}),
        fps AS (
          SELECT doc_id,
                 md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
          FROM corpus0),
        reps AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY 1),
        corpus AS (
          SELECT c.* FROM corpus0 c
          WHERE EXISTS (SELECT 1 FROM reps r WHERE r.doc_id = c.doc_id)),
        tok AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
          FROM corpus),
        sh_t AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3 THEN
                   list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                 ELSE [array_to_string(toks, ' ')] END AS sh
          FROM tok),
        sigs AS (SELECT doc_id, {mh} FROM sh_t),
        banded AS (SELECT doc_id, {band_exprs} FROM sigs),
        stacked AS ({band_rows}),
        bsize AS (
          SELECT band_id, band_hash, COUNT(*) AS n
          FROM stacked GROUP BY 1, 2),
        kept AS (
          SELECT s.* FROM stacked s JOIN bsize z
            ON s.band_id = z.band_id AND s.band_hash = z.band_hash
          WHERE z.n <= {max_bucket}),
        cand_pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM kept a JOIN kept b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
          WHERE a.doc_id < b.doc_id)
    """


def _minhash_sql(k: int = 64, bands: int = 16, max_bucket: int = 500) -> str:
    return f"""
        WITH {_minhash_ctes(k, bands, max_bucket)}
        SELECT id_a, id_b FROM cand_pairs
    """


def _components_sql(k: int = 64, bands: int = 16, max_bucket: int = 500) -> str:
    """Connected components via a recursive transitive-closure CTE over
    the same candidate pairs (component = min reachable node). Mirrors
    _q_dedup_components: nodes are the pre-dedup representatives (the
    ``corpus`` CTE is already rep-filtered)."""
    return f"""
        WITH RECURSIVE {_minhash_ctes(k, bands, max_bucket)},
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM cand_pairs
          UNION
          SELECT id_b, id_a FROM cand_pairs),
        nodes AS (SELECT doc_id AS node FROM corpus),
        reach(node, label) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT e.dst, r.label
          FROM reach r JOIN edges e ON e.src = r.node)
        SELECT node, MIN(label) AS component FROM reach GROUP BY node
    """


def _jaccard_sql(threshold: float = 0.5) -> str:
    return f"""
        WITH {_minhash_ctes()},
        sets AS (SELECT doc_id, list_distinct(sh) AS s FROM sh_t),
        scored AS (
          SELECT p.id_a, p.id_b,
                 round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                       / greatest(len(list_distinct(list_concat(sa.s, sb.s))), 1),
                       4) AS jaccard
          FROM cand_pairs p
          JOIN sets sa ON sa.doc_id = p.id_a
          JOIN sets sb ON sb.doc_id = p.id_b)
        SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}
    """


def _lsh_sig_sql(vec: str, dims: int, planes: int = 8) -> str:
    bits = []
    for p_i in range(planes):
        terms = []
        for d in range(dims):
            sign = "+" if SIM.plane_weight(p_i, d) > 0 else "-"
            terms.append(f"{sign} {vec}[{d + 1}]")
        bits.append(
            f"CASE WHEN ({' '.join(terms)}) > 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def _byte_val_sql(hexcol: str, i: int) -> str:
    c1 = f"(strpos('0123456789abcdef', substring({hexcol}, {2 * i + 1}, 1)) - 1)"
    c2 = f"(strpos('0123456789abcdef', substring({hexcol}, {2 * i + 2}, 1)) - 1)"
    return f"({c1} * 16 + {c2})"


def _extra_queries():
    return {
        "doc_bpe_tokens": _q_bpe_tokens,
        "doc_winnow_fingerprints": _q_winnow_fp,
        "doc_lang_id": _q_lang_id,
        "doc_quality_score": _q_quality,
        "dedup_minhash_lsh_pairs": _q_minhash_pairs,
        "dedup_components": _q_dedup_components,
        "dedup_incremental": _q_dedup_incremental,
        "dedup_simhash": _q_simhash,
        "dedup_simhash_pairs": _q_simhash_pairs,
        "dedup_jaccard_verify": _q_jaccard_verify,
        "dedup_embedding_cosine": _q_embedding_near_dup,
        "ann_cosine_topk": _q_ann_cosine,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_batch_topk": _q_ann_batch_topk,
        "media_feature_extract": _q_media_features,
        "media_frame_sample": _q_frame_sample,
        "s12_simplify_domain": _q_simplify_domain,
        "curation_pipeline": _q_curation_pipeline,
        "events_sessionize": _q_events_sessionize,
        "tpch_top_orders": _q_tpch_top_orders,
    }


def _extra_oracles():
    dims = 64
    cos = (
        "list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
        "(SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0))"
    )
    bpe_pat = T.BPE_ISH_PATTERN.replace("'", "''")
    return {
        "doc_winnow_fingerprints": """
            WITH norm AS (
              SELECT doc_id,
                     lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
              FROM documents),
            grams AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(length(t) - 7, 1) + 1),
                       i -> md5(substring(t, i, 8))) AS hs
              FROM norm),
            mins AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(len(hs) - 15, 1) + 1),
                       j -> list_min(hs[j:j+15])) AS m
              FROM grams),
            fps AS (
              SELECT doc_id, list_sort(list_distinct(m)) AS f FROM mins)
            SELECT doc_id, len(f) AS n_fp,
                   md5(array_to_string(f, '|')) AS fp_set_hash
            FROM fps
        """,
        "doc_bpe_tokens": f"""
            SELECT doc_id,
                   len(regexp_split_to_array(trim(text), '\\s+'))
                     AS n_ws_tokens,
                   len(regexp_extract_all(text, '{bpe_pat}', 0))
                     AS n_bpe_tokens,
                   md5(array_to_string(
                     regexp_extract_all(text, '{bpe_pat}', 0), '|')) AS bpe_fp
            FROM documents
        """,
        "doc_lang_id": f"""
            WITH hits AS (
              SELECT doc_id,
                     {_lang_hits_sql(_EN)} AS en,
                     {_lang_hits_sql(_ES)} AS es,
                     {_lang_hits_sql(_DE)} AS de
              FROM documents)
            SELECT doc_id,
                   CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
                        WHEN es >= de AND es > 0 THEN 'es'
                        WHEN de > 0 THEN 'de'
                        ELSE 'unk' END AS lang_guess
            FROM hits
        """,
        "doc_quality_score": f"""
            WITH base AS (
              SELECT doc_id,
                     len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                     round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           / greatest(length(text), 1), 4) AS punct_ratio,
                     {_lang_hits_sql(_EN)} AS en_hits
              FROM documents)
            SELECT doc_id, n_tokens, punct_ratio,
                   round(
                     (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN punct_ratio < 0.1 THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN en_hits > 0 THEN 0.3 ELSE 0.0 END), 4) AS quality
            FROM base
        """,
        "curation_pipeline": f"""
            WITH scored AS (
              SELECT doc_id, source, text,
                     {_lang_hits_sql(_EN)} AS en_hits,
                     {_lang_hits_sql(_ES)} AS es_hits,
                     {_lang_hits_sql(_DE)} AS de_hits,
                     len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                     round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                           / greatest(length(text), 1), 4) AS punct_ratio
              FROM documents),
            langed AS (
              SELECT *,
                     CASE WHEN en_hits >= es_hits AND en_hits >= de_hits
                               AND en_hits > 0 THEN 'en'
                          WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                          WHEN de_hits > 0 THEN 'de' ELSE 'unk' END AS lang_g,
                     round(
                       (CASE WHEN n_tokens BETWEEN 10 AND 100000
                             THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN punct_ratio < 0.1 THEN 0.3 ELSE 0.0 END)
                       + (CASE WHEN en_hits > 0 THEN 0.3 ELSE 0.0 END), 4) AS q
              FROM scored),
            passed AS (
              SELECT * FROM langed WHERE lang_g = 'en' AND q >= 0.7),
            reps AS (
              SELECT md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
                     MIN(doc_id) AS doc_id
              FROM passed GROUP BY 1),
            kept AS (
              SELECT p.* FROM passed p
              WHERE EXISTS (SELECT 1 FROM reps r WHERE r.doc_id = p.doc_id))
            SELECT source, COUNT(*) AS n_kept,
                   CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                        AS BIGINT) AS kept_tokens
            FROM kept GROUP BY source
        """,
        "dedup_minhash_lsh_pairs": _minhash_sql(),
        "dedup_components": _components_sql(),
        "dedup_incremental": _incremental_sql(),
        "dedup_simhash": _simhash64_sql(),
        "dedup_simhash_pairs": _simhash_pairs_sql(),
        "dedup_jaccard_verify": _jaccard_sql(),
        "dedup_embedding_cosine": f"""
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            corpus AS (
              SELECT vec_id, e FROM base
              UNION ALL
              SELECT vec_id + 1000000, list_concat([e[1] + 0.1], e[2:])
              FROM base),
            sigs AS (
              SELECT vec_id, e, {_lsh_sig_sql("e", 64, planes=6)} AS sig
              FROM corpus),
            bsize AS (SELECT sig, COUNT(*) AS n FROM sigs GROUP BY 1),
            kept AS (
              SELECT s.* FROM sigs s JOIN bsize z ON s.sig = z.sig
              WHERE z.n <= 500),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.e, b.e), 4) AS cosine
              FROM kept a JOIN kept b ON a.sig = b.sig
              WHERE a.vec_id < b.vec_id)
            SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.9
        """,
        "ann_cosine_topk": f"""
            -- two stacked facets: the exact top-10, once labeled as the
            -- brute-force path and once as the IVF full-probe path
            -- (nprobe = nlist probes every list, so the index result is
            -- the exact answer by contract — see _q_ann_cosine)
            WITH top10 AS (
              SELECT vec_id, round({cos}, 4) AS cosine_r
              FROM embeddings
              ORDER BY {cos} DESC, vec_id
              LIMIT 10)
            SELECT 'brute' AS variant, vec_id, cosine_r FROM top10
            UNION ALL
            SELECT 'ivf_full_probe' AS variant, vec_id, cosine_r FROM top10
        """,
        "ann_batch_topk": """
            WITH q AS (
              SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.q_id, e.vec_id,
                     round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
              FROM embeddings e CROSS JOIN q),
            ranked AS (
              SELECT q_id, vec_id, cosine,
                     ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY cosine DESC, vec_id
                     ) AS "rank"
              FROM scored)
            SELECT q_id, vec_id, round(cosine, 4) AS cosine_r, "rank"
            FROM ranked WHERE "rank" <= 5
        """,
        "ann_lsh_topk": f"""
            WITH q AS (
              SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            sigs AS (
              SELECT vec_id, embedding,
                     {_lsh_sig_sql("CAST(embedding AS DOUBLE[])", dims)} AS sig
              FROM embeddings),
            qsig AS (SELECT {_lsh_sig_sql("qv", dims)} AS sig FROM q)
            SELECT vec_id, round({cos}, 4) AS cosine_r
            FROM sigs, qsig
            WHERE ({" + ".join(
                f"(CASE WHEN substring(sigs.sig, {i + 1}, 1) <> "
                f"substring(qsig.sig, {i + 1}, 1) THEN 1 ELSE 0 END)"
                for i in range(8)
            )}) <= 1
            ORDER BY {cos} DESC, vec_id
            LIMIT 10
        """,
        "media_feature_extract": f"""
            WITH media AS (
              SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                     CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                          WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                     unhex(md5(text) || md5(text || '2')) AS payload
              FROM documents),
            hashed AS (
              SELECT media_id, kind, octet_length(payload) AS n_bytes,
                     sha256(lower(hex(payload))) AS h
              FROM media)
            SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
                   round({_byte_val_sql("h", 0)} / 255.0, 4) AS f0
            FROM hashed
        """,
        "media_frame_sample": """
            WITH media AS (
              SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
                     CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                          WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                     octet_length(unhex(md5(text) || md5(text || '2'))) AS n_bytes
              FROM documents)
            SELECT media_id, CAST(f.i AS INT) AS frame_no
            FROM media, LATERAL (
              SELECT unnest(range(least(greatest(1, n_bytes // 10), 5))) AS i) f
            WHERE kind = 'video'
        """,
    }
