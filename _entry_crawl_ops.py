"""Driver-checked oracle queries for the crawl operators that round 1
verified only through the pytest parity suite: P3, P8, P10, P11, H2,
O1, O2, O7, A1/A2/A4/A5, J2, J3 (SURVEY.md §2 / VERDICT round-1 item 1).

Every query here exercises the REAL engine code path (run_cascade,
discovered_links, build_next_frontier, first_touch_or_packed,
parser_stats, the ai_slot functions) over a links corpus derived — by
ONE shared SQL text — from the same parquet tables DuckDB sees, so both
engines consume bit-identical inputs.

Corpus shape: pages of quadratically-growing size (page k holds the
corpus rows with floor(sqrt(seq)) == k, i.e. 2k+1 links), each page with
its own host; a third of each page's links are rewritten onto the page
host (internal), every seq%10==7 row collapses to one per-page duplicate
URL, the rest point at other hosts (external). This exercises the
internal-link filter, pagination-first ordering, first-occurrence dedup,
the ≥5 early exit (small pages stay under it), and the conditional
per-domain cap.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawlerfull_spark import config as C
from webcrawlerfull_spark.functions import ai_slot
from webcrawlerfull_spark.functions import predicates as P
from webcrawlerfull_spark.operators import frontier as fr
from webcrawlerfull_spark.operators.aggregates import parser_stats
from webcrawlerfull_spark.operators.attribution import first_touch_or_packed
from webcrawlerfull_spark.operators.cascade import run_cascade

# ---------------------------------------------------------------------------
# shared URL corpus — ONE SQL text, evaluated by both engines (moved here
# from __spark_entry__ so both modules build on it without a cycle)
# ---------------------------------------------------------------------------

CORPUS_SQL = """
SELECT
  p_partkey AS seq,
  'https://www.' ||
    CASE CAST(p_partkey % 6 AS INT)
      WHEN 0 THEN 'store' WHEN 1 THEN 'shopify' WHEN 2 THEN 'amazon'
      WHEN 3 THEN 'woocommerce' WHEN 4 THEN 'magento' ELSE 'bigcommerce'
    END || CAST(p_partkey % 7 AS INT) || '.example.com' ||
    CASE CAST(p_partkey % 5 AS INT)
      WHEN 0 THEN '/product/widget-' || p_partkey
      WHEN 1 THEN '/category/c' || CAST(p_partkey % 10 AS INT)
      WHEN 2 THEN '/p/' || p_partkey
      WHEN 3 THEN '/blog/post-' || p_partkey
      ELSE '/item-' || p_partkey || '.html'
    END ||
    CASE CAST(p_partkey % 4 AS INT)
      WHEN 0 THEN ''
      WHEN 1 THEN '?page=' || CAST(p_partkey % 20 AS INT)
      WHEN 2 THEN '?utm_source=feed&id=' || p_partkey
      ELSE '?ref=mail&p=' || CAST(p_partkey % 9 AS INT)
    END ||
    CASE WHEN p_partkey % 11 = 0 AND p_partkey % 4 = 0 THEN '/' ELSE '' END
  AS url
FROM part
"""

# pages + links: page k = corpus rows with floor(sqrt(seq)) = k
LINKS_CORPUS_SQL = f"""
WITH corpus AS ({CORPUS_SQL}),
paged AS (
  SELECT CAST(floor(sqrt(seq)) AS INT) AS page_id, seq, url FROM corpus
),
hosted AS (
  SELECT page_id, seq, url,
    'www.' ||
      CASE CAST(page_id % 6 AS INT)
        WHEN 0 THEN 'store' WHEN 1 THEN 'shopify' WHEN 2 THEN 'amazon'
        WHEN 3 THEN 'woocommerce' WHEN 4 THEN 'magento' ELSE 'bigcommerce'
      END || CAST(page_id % 7 AS INT) || '.example.com' AS page_host
  FROM paged
)
SELECT page_id, page_host,
  'https://' || page_host || '/cat/c' || CAST(page_id AS INT) AS page_url,
  seq,
  CASE WHEN seq % 10 = 7
       THEN 'https://' || page_host || '/category/cdup'
       WHEN seq % 3 = 0
       THEN 'https://' || page_host ||
            regexp_extract(url, '^[a-z]+://[^/?#]*(.*)', 1)
       ELSE url END AS link_url
FROM hosted
"""

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_PAG_RE = P.PAGINATION_COMBINED
_SIMPLE_RE = P.SIMPLE_COMBINED
_CAT_RE = P.CATEGORY_COMBINED
_IMPORTANT_RE = P.IMPORTANT_COMBINED
_DOMAIN_RE = {k: C.combined_regex(v) for k, v in C.DOMAIN_PATTERNS.items()}
_AUTH_RE = "^[a-z]+://([^/?#]*)"


# last registration (session object held STRONGLY + sf_dir): every
# queries() entry calls _register, and re-reading 10 parquet footers +
# re-creating 10 temp views cost ~0.3-0.5 s of driver-side time PER
# QUERY (r7 measurement) while changing nothing after the first call.
# Metadata-only memo — no data or results are cached. Keyed on the
# session IDENTITY (strong ref, so a stopped session's id is never
# reused) and the sf_dir; a different session or dir re-registers.
_registered: dict = {}


def _register(spark: SparkSession, sf_dir: str) -> None:
    if _registered.get("session") is spark and _registered.get("dir") == sf_dir:
        return
    # each registration is ~100 ms of driver-side footer/schema work
    # (measured r7) and the tables are independent — a small thread pool
    # overlaps the py4j round trips (guide §2.6); ~1.1 s -> ~0.3 s
    from concurrent.futures import ThreadPoolExecutor

    present = [
        (t, os.path.join(sf_dir, f"{t}.parquet"))
        for t in _TABLES
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    ]

    def reg(tp: tuple[str, str]) -> None:
        t, path = tp
        spark.read.parquet(path).createOrReplaceTempView(t)

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(present)))) as pool:
        list(pool.map(reg, present))
    _registered["session"] = spark
    _registered["dir"] = sf_dir


def _links_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir)
    return spark.sql(LINKS_CORPUS_SQL)


def _pages_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARSED_PAGE-shaped rows (status/url/host/domain/depth/queue_pos/
    link_spans) assembled from the shared links corpus; kind mirrors the
    parse UDF's rule (pagination only for INTERNAL anchors)."""
    base = _links_base(spark, sf_dir)
    authority = P.url_authority(F.col("link_url"))
    kind = F.when(
        (authority == F.col("page_host")) & P.is_pagination_url(F.col("link_url")),
        F.lit("pagination"),
    ).otherwise(F.lit("link"))
    tagged = base.select(
        "page_id", "page_host", "page_url", "seq", "link_url", kind.alias("kind")
    )
    grouped = tagged.groupBy("page_id", "page_host", "page_url").agg(
        F.array_sort(F.collect_list(F.struct("seq", "kind", "link_url"))).alias("raw")
    )
    link_spans = F.transform(
        F.col("raw"),
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["link_url"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return grouped.select(
        F.col("page_url").alias("url"),
        F.col("page_host").alias("host"),
        F.col("page_host").alias("domain"),
        F.lit(0).alias("depth"),
        F.col("page_id").cast("long").alias("queue_pos"),
        F.lit("ok").alias("status"),
        link_spans.alias("link_spans"),
    )


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def _q_p3_internal_link(spark, sf_dir):
    """P3 — internal-link predicate (tasks.py:83) as the engine evaluates
    it in the frontier discovery path."""
    base = _links_base(spark, sf_dir)
    return base.select(
        "seq",
        F.col("link_url").alias("url"),
        (P.url_authority(F.col("link_url")) == F.col("page_host")).alias(
            "is_internal"
        ),
    )


def _q_p8_retry_policy(spark, sf_dir):
    """P8 — important-URL retry attempts (tasks.py:594-601)."""
    base = _links_base(spark, sf_dir)
    return base.select(
        "seq",
        F.col("link_url").alias("url"),
        F.when(P.is_important_url(F.col("link_url")), F.lit(2))
        .otherwise(F.lit(1))
        .alias("attempts"),
    )


def _q_p10_ai_url_dedup(spark, sf_dir):
    """P10 — AI-output absolutization + order-preserving dedup
    (_process_urls, ai_parser_langchain.py:109-128)."""
    base = _links_base(spark, sf_dir)
    href = F.when(
        F.col("seq") % 3 == 1,
        F.regexp_extract("link_url", r"^[a-z]+://[^/?#]*(.*)", 1),
    ).otherwise(F.col("link_url"))
    rows = base.select("page_id", "page_url", "seq", href.alias("href"))
    grouped = rows.groupBy("page_id", "page_url").agg(
        F.array_sort(F.collect_list(F.struct("seq", "href"))).alias("raw")
    )
    hrefs = F.transform(F.col("raw"), lambda s: s["href"])
    deduped = grouped.select(
        "page_id",
        ai_slot.absolutize_and_dedup(hrefs, F.col("page_url")).alias("deduped"),
    )
    return deduped.select(
        "page_id", F.posexplode("deduped").alias("out_pos", "url")
    )


def _q_p11_ai_truncate(spark, sf_dir):
    """P11 — HTML truncation for the AI prompt (ai_parser_langchain.py:82),
    n=64 at test scale so the cut is actually exercised."""
    _register(spark, sf_dir)
    docs = spark.table("documents")
    t = ai_slot.truncate_html(F.col("text"), 64)
    return docs.select(
        "doc_id", F.length(t).alias("n_chars"), F.md5(t).alias("fp")
    )


def _q_j3_product_union(spark, sf_dir):
    """J3 — product-set union across pages/parsers (tasks.py:472,488,628)."""
    base = _links_base(spark, sf_dir)
    a = base.where(F.col("seq") % 2 == 0).select(F.col("link_url").alias("url"))
    b = base.where(F.col("seq") % 3 == 0).select(F.col("link_url").alias("url"))
    return a.unionByName(b).dropDuplicates()


def _q_o2_find_urls_order(spark, sf_dir):
    """O2/H1-order — canonical find_urls output order (pagination first,
    then document order, first-occurrence dedup, internal only) as data:
    (page, url, position), via the REAL discovered_links operator."""
    pages = _pages_corpus(spark, sf_dir)
    links = fr.discovered_links(pages, max_depth=2)
    return links.select(
        F.col("src_queue_pos").cast("int").alias("page_id"),
        "url",
        (F.col("discovery_seq") % (1 << 20)).cast("int").alias("pos"),
    )


def _q_j2_next_frontier(spark, sf_dir):
    """J2+O2+O3 — the full next-frontier build: discovery, keep-first
    dedup, seen anti-join, batch-visibility rule, conditional salted
    priority cap — via the REAL build_next_frontier."""
    pages = _pages_corpus(spark, sf_dir)
    base = _links_base(spark, sf_dir)
    seen = (
        base.where(F.col("seq") % 7 == 3)
        .select(F.col("link_url").alias("url"))
        .distinct()
    )
    scheduled = (
        base.where(F.col("seq") % 9 == 0)
        .groupBy("link_url")
        .agg(F.min("seq").alias("queue_pos"))
        .select(F.col("link_url").alias("url"), "queue_pos")
    )
    nf = fr.build_next_frontier(
        pages, scheduled, seen, max_depth=2, round_id=0, frontier_cap=15
    )
    return nf.select("domain", "url", "depth", "priority", "queue_pos")


def _q_h2_pattern_parse_sorted(spark, sf_dir):
    """H2 — pattern parse output sorted ascending (_pattern_parser.py:39)
    as (page, rank, url) data, via the real cascade's simple array."""
    _, _, arrays = run_cascade(_pages_corpus(spark, sf_dir))
    return arrays.select(
        F.col("queue_pos").cast("int").alias("page_id"),
        F.posexplode(F.array_sort("simple_arr")).alias("rnk", "product_url"),
    )


def _q_o1_sorted_parser_output(spark, sf_dir):
    """O1 — the page's combined (simple ∪ config) product set in sorted
    order, the cascade's canonical products_sorted array."""
    _, _, arrays = run_cascade(_pages_corpus(spark, sf_dir))
    return arrays.select(
        F.col("queue_pos").cast("int").alias("page_id"),
        F.posexplode("products_sorted").alias("rnk", "product_url"),
    )


def _q_o7_cascade_early_exit(spark, sf_dir):
    """O7 — early-exit observability: whether config ran (simple < 5) and
    each parser's per-page found counts, incl. sequential generation."""
    _, _, arrays = run_cascade(_pages_corpus(spark, sf_dir))
    return arrays.select(
        F.col("queue_pos").cast("int").alias("page_id"),
        F.size("simple_arr").alias("simple_found"),
        "config_ran",
        F.when(F.col("config_ran"), F.size("config_arr"))
        .otherwise(F.lit(0))
        .alias("config_found"),
        F.size("seq_arr").alias("seq_found"),
    )


_CASCADE_CACHE: dict = {}


def _cascade_products(spark, sf_dir):
    # memoized per (session, sf_dir): the cascade corpus plan is shared
    # by several gate entries and re-planning it per entry dominated the
    # gate's tail (the r3 driver run recorded only the first 50 rows).
    # Single-slot: switching sf_dir (or session) evicts and unpersists
    # the prior entry so cached partitions never accumulate, and the key
    # holds the session itself (strong ref, identity-compared) so a
    # stop/start cycle can't resurrect a stale entry via id() reuse.
    cached = _CASCADE_CACHE.get("key")
    if cached is None or cached[0] is not spark or cached[1] != sf_dir:
        for df in _CASCADE_CACHE.get("value", ())[1:]:
            try:
                df.unpersist()
            except Exception:
                pass  # dead session: nothing to unpersist
        mentions, page_stats, _ = run_cascade(_pages_corpus(spark, sf_dir))
        # the crawl's products chain helper: queue_pos is the page id,
        # so (domain, url, queue_pos) is unique as the packing requires,
        # and every corpus page has depth 0
        products = first_touch_or_packed(mentions, max_depth=0)
        _CASCADE_CACHE["key"] = (spark, sf_dir)
        _CASCADE_CACHE["value"] = (
            mentions, page_stats.persist(), products.persist()
        )
    return _CASCADE_CACHE["value"]


def _q_a1_a5_parser_attribution(spark, sf_dir):
    """A1/A2/A4/A5 in one gate entry (the driver's gate records at most
    50 rows — observed r3 — so the two former aggregate entries are
    stacked with sentinels, lossless): the aggregate_results_locally
    shape (tasks.py:289-361) — per-parser totals, first-touch uniques,
    distinct domains (rows with domain='', n_first=-1) UNION
    parser_url_counts — first-found attribution per (domain, parser)
    (tasks.py:555-577; rows with total/unique/domains=-1)."""
    _, page_stats, products = _cascade_products(spark, sf_dir)
    neg = F.lit(-1).cast("long")
    stats = parser_stats(page_stats, products).select(
        "parser", F.lit("").alias("domain"), neg.alias("n_first"),
        "total", "unique", "domains",
    )
    by_domain = (
        products.groupBy("domain", "parser")
        .agg(F.count("*").alias("n_first"))
        .select(
            "parser", "domain", "n_first",
            neg.alias("total"), neg.alias("unique"), neg.alias("domains"),
        )
    )
    return stats.unionByName(by_domain)


# H1/P2 corpus: HTML assembled by shared SQL, so the expected span
# sequence is known by construction and the REAL parse UDF (tokenizer,
# entity unescape, urljoin, pagination classification) is driver-checked
H1_CORPUS_SQL = f"""
WITH corpus AS ({CORPUS_SQL})
SELECT seq,
  'www.shop' || CAST(seq % 7 AS INT) || '.example.com' AS host,
  'https://www.shop' || CAST(seq % 7 AS INT) || '.example.com/cat'
    AS page_url,
  CASE CAST(seq % 4 AS INT)
    WHEN 0 THEN '/product/w-' || seq
    WHEN 1 THEN url
    WHEN 2 THEN '/category/c1?page=2'
    ELSE '?page=' || CAST(seq % 5 AS INT)
  END AS href,
  CASE CAST(seq % 3 AS INT)
    WHEN 0 THEN 'Product ' || seq
    WHEN 1 THEN 'Next »'
    ELSE '  spaced text  '
  END AS atext,
  'word' || CAST(seq % 9 AS INT) AS word
FROM corpus
"""


def _q_h1_parse_spans(spark, sf_dir):
    """H1+P2 — the payload UDF end to end: html -> ordered interleaved
    spans (kind, text, media_ref, offset), incl. entity unescaping,
    relative-href resolution, and internal-pagination classification."""
    from webcrawlerfull_spark.operators.parse_spans import parse_spans_udf

    _register(spark, sf_dir)
    base = spark.sql(H1_CORPUS_SQL)
    html = F.concat(
        F.lit("<p>"), F.col("word"), F.lit(" &amp; more</p>"),
        F.lit('<a href="'), F.col("href"), F.lit('">'), F.col("atext"),
        F.lit("</a>"),
        F.lit('<img src="/img/'), F.col("seq").cast("string"),
        F.lit('.png">'),
    )
    parsed = base.select(
        "seq", parse_spans_udf(html, F.col("page_url"), F.col("host")).alias("spans")
    )
    return parsed.select("seq", F.explode("spans").alias("s")).select(
        "seq",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


# robots.txt corpus: one deterministic robots file per host covering
# star sections, foreign-UA sections, empty Disallow, comments, Allow
# lines, and mixed directive case
ROBOTS_CORPUS_SQL = f"""
WITH corpus AS ({CORPUS_SQL})
SELECT seq,
  'h' || CAST(seq AS INT) || '.example.com' AS host,
  CASE CAST(seq % 5 AS INT)
    WHEN 0 THEN 'User-agent: *' || chr(10) || 'Disallow: /private/'
                || chr(10) || 'Disallow: /tmp'
    WHEN 1 THEN 'User-agent: googlebot' || chr(10) || 'Disallow: /all/'
                || chr(10) || 'User-agent: *' || chr(10) || 'Disallow: /blog/'
    WHEN 2 THEN 'User-agent: *' || chr(10) || 'Disallow:'
    WHEN 3 THEN '# comment' || chr(10) || 'User-Agent: *' || chr(10)
                || 'Allow: /x' || chr(10) || 'disallow: /Cart'
    ELSE 'User-agent: other' || chr(10) || 'Disallow: /everything'
  END AS robots_txt
FROM corpus
"""


def _q_robots_parse(spark, sf_dir):
    """robots.txt -> the ``*`` group's Allow/Disallow rules in file
    order (north-star robots gating, RFC 9309 incl. Allow lines), via
    the real columnar parser."""
    from webcrawlerfull_spark.functions.robots import parse_robots

    _register(spark, sf_dir)
    base = spark.sql(ROBOTS_CORPUS_SQL)
    parsed = parse_robots(
        base.select(F.col("seq").alias("host"), "robots_txt")
    )
    return parsed.select(
        F.col("host").alias("seq"), F.posexplode("rules").alias("pos", "r")
    ).select("seq", "pos", F.col("r.prefix").alias("prefix"), F.col("r.allow").alias("allow"))


def _q_s9_s10_file_sinks(spark, sf_dir):
    """S9/S10 — the JSON and CSV file sinks, driver-checked as a ROUND
    TRIP: the corpus is written through the real sink functions, read
    back, and compared against DuckDB's direct evaluation of the same
    corpus (any loss/corruption in either sink fails the hash)."""
    import hashlib
    import shutil

    from webcrawlerfull_spark.api import save_csv, save_json

    _register(spark, sf_dir)
    c = spark.sql(CORPUS_SQL).select(F.col("seq").cast("long").alias("seq"), "url")
    base = os.path.join(
        "/tmp/sink_check", hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    )
    shutil.rmtree(base, ignore_errors=True)
    jdir, cdir = os.path.join(base, "json"), os.path.join(base, "csv")
    save_json(c, jdir)
    save_csv(c, cdir)
    j = spark.read.json(jdir).select(
        F.lit("json").alias("fmt"), F.col("seq").cast("long").alias("seq"), "url"
    )
    cs = spark.read.option("header", True).schema("seq long, url string").csv(
        cdir
    ).select(F.lit("csv").alias("fmt"), "seq", "url")
    return j.unionByName(cs)


def _q_crawl_e2e_lineage(spark, sf_dir):
    """S1/S2/S4/S11 + A6/A7 + cross-round doc dedup — two real
    end-to-end crawls over small fixed synthetic worlds, stacked
    (sentinel convention, driver gate caps at 50 entries):

    - variant='parity': the reference-parity crawl (dedup off); per-
      round frontier size, fetch/parse counts, first-touch products.
    - variant='dedup': the same world SHAPE but with MirrorWorld content
      duplicates (every odd product renders its even twin's page
      verbatim) and ``doc_dedup=True`` in EXACT-ONLY mode (dedup_bands=0
      — pure fingerprint accounting, so the oracle can replay it in
      Python); per-round docs_deduped from lineage; products sentinel -1
      (dedup-mode attribution is pytest's job, test_doc_dedup_crawl).

    Both oracled against the VENDORED reference crawler + parser
    (oracle/refcrawler, refparser.parse_spans) — value-hash equality."""
    import tempfile

    from webcrawlerfull_spark.config import CrawlConfig
    from webcrawlerfull_spark.sources.catalog import Catalog
    from webcrawlerfull_spark.streaming.driver import crawl
    from webcrawlerfull_spark.synthgen import MirrorWorld, World

    world = World(seed=11, n_hosts=3, base_pages=30)
    mworld = MirrorWorld(seed=11, n_hosts=3, base_pages=30)
    with tempfile.TemporaryDirectory() as tmp:
        cat = Catalog(spark, os.path.join(tmp, "cat"))
        cfg = CrawlConfig(max_depth=3, shuffle_partitions=8)
        res = crawl(spark, world.seeds(), cfg, world, cat)
        rows = (
            res.lineage.select(
                F.lit("parity").alias("variant"),
                "round", "frontier_size", "fetched", "parsed", "products",
                "docs_deduped",
            )
            .orderBy("round")
            .collect()
        )
        cat2 = Catalog(spark, os.path.join(tmp, "cat2"))
        cfg2 = CrawlConfig(
            max_depth=3, shuffle_partitions=8, doc_dedup=True,
            dedup_k=16, dedup_bands=0,
        )
        res2 = crawl(spark, mworld.seeds(), cfg2, mworld, cat2)
        rows += (
            res2.lineage.select(
                F.lit("dedup").alias("variant"),
                "round", "frontier_size", "fetched", "parsed",
                F.lit(-1).cast("long").alias("products"),
                "docs_deduped",
            )
            .orderBy("round")
            .collect()
        )
    return spark.createDataFrame(
        rows,
        "variant string, round int, frontier_size long, fetched long, "
        "parsed long, products long, docs_deduped long",
    )


def crawl_ops_queries() -> dict:
    return {
        "robots_parse": _q_robots_parse,
        "s9_s10_file_sinks": _q_s9_s10_file_sinks,
        "crawl_e2e_lineage": _q_crawl_e2e_lineage,
        "h1_parse_spans": _q_h1_parse_spans,
        "p3_internal_link": _q_p3_internal_link,
        "p8_retry_policy": _q_p8_retry_policy,
        "p10_ai_url_dedup": _q_p10_ai_url_dedup,
        "p11_ai_truncate": _q_p11_ai_truncate,
        "j3_product_union": _q_j3_product_union,
        "o2_find_urls_order": _q_o2_find_urls_order,
        "j2_next_frontier": _q_j2_next_frontier,
        "h2_pattern_parse_sorted": _q_h2_pattern_parse_sorted,
        "o1_sorted_parser_output": _q_o1_sorted_parser_output,
        "o7_cascade_early_exit": _q_o7_cascade_early_exit,
        "a1_a5_parser_attribution": _q_a1_a5_parser_attribution,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles — the same semantics in ANSI SQL over the same corpus
# ---------------------------------------------------------------------------

# spans with in-page order + kind flags (mirrors _pages_corpus)
_SPANS_CTE = f"""
base AS ({LINKS_CORPUS_SQL}),
spans AS (
  SELECT page_id, page_host, page_url, link_url AS url,
         ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY seq) - 1 AS pos,
         regexp_extract(link_url, '{_AUTH_RE}', 1) = page_host AS is_internal,
         (regexp_extract(link_url, '{_AUTH_RE}', 1) = page_host
          AND regexp_matches(link_url, '{_PAG_RE}')) AS is_pag
  FROM base)
"""

# canonical find_urls order per page (pagination first, then others, each
# keep-first; internal only)
_ORDERED_CTE = """
pag AS (
  SELECT page_id, url, MIN(pos) AS p FROM spans WHERE is_pag GROUP BY 1, 2),
oth AS (
  SELECT page_id, url, MIN(pos) AS p FROM spans
  WHERE NOT is_pag AND is_internal GROUP BY 1, 2),
oth2 AS (
  SELECT o.page_id, o.url, o.p FROM oth o
  WHERE NOT EXISTS (
    SELECT 1 FROM pag g WHERE g.page_id = o.page_id AND g.url = o.url)),
ordered AS (
  SELECT page_id, url,
         ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY grp, p) - 1 AS pos
  FROM (SELECT page_id, url, 0 AS grp, p FROM pag
        UNION ALL
        SELECT page_id, url, 1 AS grp, p FROM oth2))
"""


def _config_key_case(col: str) -> str:
    branches = "\n".join(
        f"WHEN regexp_matches({col}, '{k}') THEN '{k}'" for k in C.DOMAIN_PATTERNS
    )
    return f"CASE {branches} ELSE 'default' END"


def _config_match_where(key: str, url: str) -> str:
    return " OR ".join(
        f"({key} = '{k}' AND regexp_matches({url}, '{_DOMAIN_RE[k]}'))"
        for k in C.DOMAIN_PATTERNS
    )


# cascade over the corpus: per-page simple/config/seq product sets,
# page flags, mentions in cascade order (mirrors run_cascade)
_CASCADE_CTE = f"""
simple_m AS (
  SELECT DISTINCT page_id, page_host,
         regexp_replace(url, '/+$', '') AS purl
  FROM spans WHERE regexp_matches(url, '{_SIMPLE_RE}')),
keyed AS (
  SELECT DISTINCT page_id, page_host,
         {_config_key_case("page_host")} AS k
  FROM spans),
config_m AS (
  SELECT DISTINCT s.page_id, s.page_host,
         regexp_replace(s.url, '/+$', '') AS purl
  FROM spans s JOIN keyed USING (page_id)
  WHERE {_config_match_where("k", "s.url")}),
scount AS (SELECT page_id, COUNT(*) AS c FROM simple_m GROUP BY 1),
ccount AS (SELECT page_id, COUNT(*) AS c FROM config_m GROUP BY 1),
pageflags AS (
  SELECT k.page_id, k.page_host,
         COALESCE(s.c, 0) AS simple_cnt,
         COALESCE(s.c, 0) < {C.CASCADE_EARLY_EXIT} AS config_ran
  FROM keyed k LEFT JOIN scount s USING (page_id)),
config_only AS (
  SELECT c.page_id, c.page_host, c.purl
  FROM config_m c JOIN pageflags f USING (page_id)
  WHERE f.config_ran AND NOT EXISTS (
    SELECT 1 FROM simple_m s
    WHERE s.page_id = c.page_id AND s.purl = c.purl)),
products AS (
  SELECT page_id, page_host, purl FROM simple_m
  UNION
  SELECT page_id, page_host, purl FROM config_only)
"""

# sequential generation over the per-page product sets (mirrors
# _seq_generated; same structure as the g1 oracle)
_SEQGEN_CTE = f"""
counted AS (
  SELECT page_id, page_host, purl,
         COUNT(*) OVER (PARTITION BY page_id) AS c
  FROM products),
sample AS (
  SELECT * FROM (
    SELECT page_id, page_host, purl,
           ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY purl) AS rn
    FROM counted WHERE c >= {C.SEQGEN_MIN_PRODUCTS}) WHERE rn <= {C.SEQGEN_SAMPLE}),
pats AS (
  SELECT page_id, page_host, purl,
    CASE
      WHEN regexp_extract(purl, '/(\\d+)(?:/|$)', 1) <> '' THEN 0
      WHEN regexp_extract(purl, 'p=(\\d+)', 1) <> '' THEN 1
      WHEN regexp_extract(purl, 'page=(\\d+)', 1) <> '' THEN 2
      WHEN regexp_extract(purl, '-p(\\d+)', 1) <> '' THEN 3
      WHEN regexp_extract(purl, '_(\\d+)\\.html', 1) <> '' THEN 4
      ELSE NULL END AS pat
  FROM sample),
pagepat AS (
  SELECT *, MIN(pat) OVER (PARTITION BY page_id) AS page_pat FROM pats),
matched AS (
  SELECT page_id, page_host, purl, page_pat,
    CASE page_pat
      WHEN 0 THEN regexp_extract(purl, '/(\\d+)(?:/|$)', 0)
      WHEN 1 THEN regexp_extract(purl, 'p=(\\d+)', 0)
      WHEN 2 THEN regexp_extract(purl, 'page=(\\d+)', 0)
      WHEN 3 THEN regexp_extract(purl, '-p(\\d+)', 0)
      WHEN 4 THEN regexp_extract(purl, '_(\\d+)\\.html', 0)
    END AS g0,
    CASE page_pat
      WHEN 0 THEN regexp_extract(purl, '/(\\d+)(?:/|$)', 1)
      WHEN 1 THEN regexp_extract(purl, 'p=(\\d+)', 1)
      WHEN 2 THEN regexp_extract(purl, 'page=(\\d+)', 1)
      WHEN 3 THEN regexp_extract(purl, '-p(\\d+)', 1)
      WHEN 4 THEN regexp_extract(purl, '_(\\d+)\\.html', 1)
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
  SELECT DISTINCT page_id, page_host,
         replace(purl, g0, replace(g0, g1, CAST(new_num AS VARCHAR))) AS url
  FROM deltas),
fresh AS (
  SELECT g.page_id, g.page_host, g.url FROM gen g
  WHERE NOT EXISTS (
    SELECT 1 FROM products p
    WHERE p.page_id = g.page_id AND p.purl = g.url)),
seqgen AS (
  SELECT page_id, page_host, url AS purl FROM (
    SELECT page_id, page_host, url,
           ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY url) AS rn
    FROM fresh) WHERE rn <= {C.SEQGEN_MAX_URLS}),
sqcount AS (SELECT page_id, COUNT(*) AS c FROM seqgen GROUP BY 1)
"""

_MENTIONS_CTE = """
mentions AS (
  SELECT page_id, page_host, purl, 'simple' AS parser, 0 AS parser_rank
  FROM simple_m
  UNION ALL
  SELECT page_id, page_host, purl, 'config', 1 FROM config_only
  UNION ALL
  SELECT page_id, page_host, purl, 'sequential', 3 FROM seqgen),
firsts AS (
  SELECT page_host, purl, parser,
         ROW_NUMBER() OVER (
           PARTITION BY page_host, purl ORDER BY page_id, parser_rank) AS rn
  FROM mentions)
"""


@functools.lru_cache(maxsize=1)
def _e2e_expected_lineage_sql() -> str:
    """Expected per-round lineage for the e2e crawl entry, derived by
    running the VENDORED reference crawler (pure Python, deterministic)
    over the identical fixed world and aggregating its instrumentation:
    frontier size entering each depth, scheduled (=fetched) count,
    parse failures, and per-depth first-touch product attribution."""
    from webcrawlerfull_spark.oracle import refcrawler as rc
    from webcrawlerfull_spark.synthgen import World

    world = World(seed=11, n_hosts=3, base_pages=30)
    results = rc.crawl(world, world.seeds(), max_depth=3)
    rows = []
    for d in range(3):
        frontier = sum(
            r.frontier_sizes[d] if d < len(r.frontier_sizes) else 0
            for r in results.values()
        )
        if frontier == 0:
            break
        fetched = sum(
            sum(1 for dep, _ in r.fetch_schedule if dep == d)
            for r in results.values()
        )
        failed = sum(r.failed_by_depth.get(d, 0) for r in results.values())
        products = sum(
            sum(1 for dep in r.first_found_depth.values() if dep == d)
            for r in results.values()
        )
        rows.append(("parity", d, frontier, fetched, fetched - failed, products, 0))
        if fetched == 0:
            break
    rows += _e2e_dedup_expected_rows()
    values = ", ".join(
        f"('{r[0]}', {r[1]}, {r[2]}, {r[3]}, {r[4]}, {r[5]}, {r[6]})"
        for r in rows
    )
    return f"""
        SELECT CAST(variant AS VARCHAR) AS variant,
               CAST(round AS INTEGER) AS round,
               CAST(frontier_size AS BIGINT) AS frontier_size,
               CAST(fetched AS BIGINT) AS fetched,
               CAST(parsed AS BIGINT) AS parsed,
               CAST(products AS BIGINT) AS products,
               CAST(docs_deduped AS BIGINT) AS docs_deduped
        FROM (VALUES {values})
             AS t(variant, round, frontier_size, fetched, parsed, products,
                  docs_deduped)
    """


def _e2e_dedup_expected_rows() -> list:
    """Expected per-round lineage for the dedup e2e variant, replayed in
    pure Python: the vendored crawler gives the per-depth fetch
    schedule over the MirrorWorld; each ok page's text is the vendored
    parser's span texts joined by ' ' (exactly the engine's
    concat_ws(' ', texts)); exact-only dedup (dedup_bands=0) is then
    cumulative distinct-fingerprint accounting — a round drops every ok
    doc whose normalized-text md5 was already kept (prior rounds or a
    lower-id doc in this round). Products are sentinel -1 (see the
    query docstring)."""
    import hashlib
    import re as _re
    from urllib.parse import urlparse

    from webcrawlerfull_spark.oracle import refcrawler as rc
    from webcrawlerfull_spark.oracle import refparser as rp
    from webcrawlerfull_spark.synthgen import MirrorWorld

    world = MirrorWorld(seed=11, n_hosts=3, base_pages=30)
    results = rc.crawl(world, world.seeds(), max_depth=3)
    rows = []
    kept_fps: set[str] = set()
    for d in range(3):
        frontier = sum(
            r.frontier_sizes[d] if d < len(r.frontier_sizes) else 0
            for r in results.values()
        )
        if frontier == 0:
            break
        fetched_urls = [
            u
            for r in results.values()
            for dep, u in r.fetch_schedule
            if dep == d
        ]
        failed = sum(r.failed_by_depth.get(d, 0) for r in results.values())
        round_fps = []
        for url in fetched_urls:
            html = world.fetch(url)
            if html is None:
                continue  # failed fetch: status!='ok', not a dedup input
            spans = rp.parse_spans(html, url, urlparse(url).netloc)
            text = " ".join(s["text"] for s in spans if s["text"] is not None)
            round_fps.append(
                hashlib.md5(
                    _re.sub(r"\s+", " ", text).lower().encode()
                ).hexdigest()
            )
        dropped = len(round_fps) - len(set(round_fps) - kept_fps)
        kept_fps |= set(round_fps)
        rows.append(
            ("dedup", d, frontier, len(fetched_urls), len(round_fps), -1, dropped)
        )
        if not fetched_urls:
            break
    return rows


def crawl_ops_oracles() -> dict:
    cascade_full = f"WITH {_SPANS_CTE}, {_CASCADE_CTE}"
    return {
        "robots_parse": f"""
            WITH base AS ({ROBOTS_CORPUS_SQL})
            SELECT seq, 0 AS pos, '/private/' AS prefix, FALSE AS allow
            FROM base WHERE CAST(seq % 5 AS INT) = 0
            UNION ALL
            SELECT seq, 1, '/tmp', FALSE FROM base WHERE CAST(seq % 5 AS INT) = 0
            UNION ALL
            SELECT seq, 0, '/blog/', FALSE FROM base WHERE CAST(seq % 5 AS INT) = 1
            UNION ALL
            SELECT seq, 0, '/x', TRUE FROM base WHERE CAST(seq % 5 AS INT) = 3
            UNION ALL
            SELECT seq, 1, '/Cart', FALSE FROM base WHERE CAST(seq % 5 AS INT) = 3
        """,
        "s9_s10_file_sinks": f"""
            WITH corpus AS ({CORPUS_SQL})
            SELECT f.fmt, CAST(seq AS BIGINT) AS seq, url
            FROM corpus
            CROSS JOIN (SELECT 'json' AS fmt UNION ALL SELECT 'csv') f
        """,
        # crawl_e2e_lineage: the BFS crawl itself is not SQL-expressible,
        # so the oracle is the VENDORED REFERENCE CRAWLER's expected
        # per-round lineage for the same fixed world, computed in pure
        # Python (deterministic) and embedded as a VALUES literal —
        # making the e2e row fully hash-checkable instead of rows-only
        "crawl_e2e_lineage": _e2e_expected_lineage_sql(),
        # expected spans derived from the HTML's construction: text node
        # with the entity unescaped; anchor resolved per href shape
        # (root-relative / absolute-external / pagination path / query-
        # only relative), classified internal-pagination per the
        # reference rules; media resolved root-relative
        "h1_parse_spans": f"""
            WITH base AS ({H1_CORPUS_SQL})
            SELECT seq, 0 AS offset, 'text' AS kind,
                   word || ' & more' AS text,
                   CAST(NULL AS VARCHAR) AS media_ref
            FROM base
            UNION ALL
            SELECT seq, 1,
                   CASE WHEN CAST(seq % 4 AS INT) = 1 THEN 'link'
                        WHEN CAST(seq % 4 AS INT) IN (2, 3) THEN 'pagination'
                        WHEN CAST(seq % 3 AS INT) = 1 THEN 'pagination'
                        ELSE 'link' END,
                   trim(atext),
                   CASE CAST(seq % 4 AS INT)
                     WHEN 0 THEN 'https://' || host || href
                     WHEN 1 THEN href
                     WHEN 2 THEN 'https://' || host || href
                     ELSE page_url || href END
            FROM base
            UNION ALL
            SELECT seq, 2, 'media', CAST(NULL AS VARCHAR),
                   'https://' || host || '/img/' || seq || '.png'
            FROM base
        """,
        "p3_internal_link": f"""
            WITH base AS ({LINKS_CORPUS_SQL})
            SELECT seq, link_url AS url,
                   regexp_extract(link_url, '{_AUTH_RE}', 1) = page_host
                     AS is_internal
            FROM base
        """,
        "p8_retry_policy": f"""
            WITH base AS ({LINKS_CORPUS_SQL})
            SELECT seq, link_url AS url,
                   CASE WHEN regexp_matches(lower(link_url), '{_IMPORTANT_RE}')
                        THEN 2 ELSE 1 END AS attempts
            FROM base
        """,
        "p10_ai_url_dedup": f"""
            WITH base AS ({LINKS_CORPUS_SQL}),
            hrefs AS (
              SELECT page_id, page_url, seq,
                CASE WHEN seq % 3 = 1
                     THEN regexp_extract(link_url, '^[a-z]+://[^/?#]*(.*)', 1)
                     ELSE link_url END AS href
              FROM base),
            absd AS (
              SELECT page_id, seq,
                CASE WHEN href LIKE '/%'
                       THEN regexp_replace(page_url, '/$', '') || href
                     WHEN href LIKE 'http://%' OR href LIKE 'https://%'
                       THEN href
                     ELSE regexp_replace(page_url, '/+$', '') || '/'
                          || regexp_replace(href, '^/+', '') END AS aurl
              FROM hrefs),
            firsts AS (
              SELECT page_id, aurl, MIN(seq) AS ms FROM absd GROUP BY 1, 2)
            SELECT page_id,
                   ROW_NUMBER() OVER (PARTITION BY page_id ORDER BY ms) - 1
                     AS out_pos,
                   aurl AS url
            FROM firsts
        """,
        "p11_ai_truncate": """
            SELECT doc_id,
                   length(substring(text, 1, 64)) AS n_chars,
                   md5(substring(text, 1, 64)) AS fp
            FROM documents
        """,
        "j3_product_union": f"""
            WITH base AS ({LINKS_CORPUS_SQL})
            SELECT link_url AS url FROM base WHERE seq % 2 = 0
            UNION
            SELECT link_url AS url FROM base WHERE seq % 3 = 0
        """,
        "o2_find_urls_order": f"""
            WITH {_SPANS_CTE}, {_ORDERED_CTE}
            SELECT page_id, url, CAST(pos AS INT) AS pos FROM ordered
        """,
        "j2_next_frontier": f"""
            WITH {_SPANS_CTE}, {_ORDERED_CTE},
            disc AS (
              SELECT o.url, MIN(s.page_host) AS domain,
                     MIN(o.page_id * 1048576 + o.pos) AS dseq
              FROM ordered o
              JOIN (SELECT DISTINCT page_id, page_host FROM base) s
                USING (page_id)
              GROUP BY o.url),
            unseen AS (
              SELECT * FROM disc
              WHERE url NOT IN (
                SELECT DISTINCT link_url FROM base WHERE seq % 7 = 3)),
            sched AS (
              SELECT link_url AS url, MIN(seq) AS qp FROM base
              WHERE seq % 9 = 0 GROUP BY 1),
            batched AS (
              SELECT u.url, u.domain, u.dseq
              FROM unseen u LEFT JOIN sched s USING (url)
              WHERE s.qp IS NULL
                 OR floor(s.qp / 10) > floor(floor(u.dseq / 1048576) / 10)),
            prio AS (
              SELECT *, CASE WHEN regexp_matches(url, '{_CAT_RE}')
                             THEN 0 ELSE 1 END AS priority
              FROM batched),
            cnt AS (
              SELECT *, COUNT(*) OVER (PARTITION BY domain) AS c FROM prio),
            eff AS (
              SELECT *, CASE WHEN c > 15 THEN priority ELSE 0 END AS e
              FROM cnt),
            ranked AS (
              SELECT domain, url, priority,
                     ROW_NUMBER() OVER (
                       PARTITION BY domain ORDER BY e, dseq) - 1 AS queue_pos
              FROM eff)
            SELECT domain, url, 1 AS depth, priority, queue_pos
            FROM ranked WHERE queue_pos < 15
        """,
        "h2_pattern_parse_sorted": f"""
            {cascade_full}
            SELECT page_id,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY page_id ORDER BY purl) - 1 AS INT) AS rnk,
                   purl AS product_url
            FROM simple_m
        """,
        "o1_sorted_parser_output": f"""
            {cascade_full}
            SELECT page_id,
                   CAST(ROW_NUMBER() OVER (
                     PARTITION BY page_id ORDER BY purl) - 1 AS INT) AS rnk,
                   purl AS product_url
            FROM products
        """,
        "o7_cascade_early_exit": f"""
            {cascade_full}, {_SEQGEN_CTE}
            SELECT f.page_id, f.simple_cnt AS simple_found, f.config_ran,
                   CASE WHEN f.config_ran THEN COALESCE(cc.c, 0)
                        ELSE 0 END AS config_found,
                   COALESCE(sq.c, 0) AS seq_found
            FROM pageflags f
            LEFT JOIN ccount cc USING (page_id)
            LEFT JOIN sqcount sq USING (page_id)
        """,
        "a1_a5_parser_attribution": f"""
            {cascade_full}, {_SEQGEN_CTE}, {_MENTIONS_CTE},
            found AS (
              SELECT f.page_id, f.page_host, 'simple' AS parser,
                     f.simple_cnt AS found
              FROM pageflags f
              UNION ALL
              SELECT f.page_id, f.page_host, 'config',
                     CASE WHEN f.config_ran THEN COALESCE(cc.c, 0) ELSE 0 END
              FROM pageflags f LEFT JOIN ccount cc USING (page_id)
              UNION ALL
              SELECT f.page_id, f.page_host, 'ai', 0 FROM pageflags f
              UNION ALL
              SELECT f.page_id, f.page_host, 'sequential', COALESCE(sq.c, 0)
              FROM pageflags f LEFT JOIN sqcount sq USING (page_id)),
            totals AS (
              SELECT parser, CAST(SUM(found) AS BIGINT) AS total,
                     COUNT(DISTINCT CASE WHEN found > 0 THEN page_host END)
                       AS domains
              FROM found GROUP BY 1),
            uniq AS (
              SELECT parser, COUNT(*) AS u
              FROM firsts WHERE rn = 1 GROUP BY 1)
            SELECT t.parser, '' AS domain, CAST(-1 AS BIGINT) AS n_first,
                   t.total, COALESCE(u.u, 0) AS "unique", t.domains
            FROM totals t LEFT JOIN uniq u USING (parser)
            UNION ALL
            SELECT parser, page_host AS domain, COUNT(*) AS n_first,
                   CAST(-1 AS BIGINT) AS total, CAST(-1 AS BIGINT) AS "unique",
                   CAST(-1 AS BIGINT) AS domains
            FROM firsts WHERE rn = 1 GROUP BY 1, 2
        """,
    }
