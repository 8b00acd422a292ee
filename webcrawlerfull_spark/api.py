"""Public API — the reference's FastAPI control plane re-expressed as
plain functions over the catalog (SURVEY.md §2.10: no web server; the
engine entry point is spark-submit).

- ``crawl_domains``      ≈ POST /crawl/        (server/src/main.py:49-74)
- ``task_status``        ≈ GET /task/{id}      (server/src/main.py:76-105)
- ``get_urls``           ≈ GET /urls/{id}/{domain} (server/src/main.py:150-208)
- ``save_json``/``save_csv`` ≈ the optional file sinks S9/S10
  (worker/src/db/storage.py:189-225)
- ``simplify_domain``    ≈ Storage._simplify_domain S12
  (worker/src/db/storage.py:52-65): registered-domain + suffix with '_',
  with full PSL rule semantics (exact/wildcard/exception rules, curated
  ICANN snapshot subset) in webcrawlerfull_spark.psl
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawlerfull_spark import psl
from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming import delta_frontier as dfq
from webcrawlerfull_spark.streaming.driver import CrawlResult, crawl
from webcrawlerfull_spark.synthgen import World

def crawl_domains(
    spark: SparkSession,
    domains: list[str],
    max_depth: int,
    catalog_path: str,
    world: World | None = None,
    task_id: str = "task-0",
    **cfg_kwargs,
) -> CrawlResult:
    """E1 — run a crawl over the given seed domains."""
    cfg = CrawlConfig(max_depth=max_depth, task_id=task_id, **cfg_kwargs)
    world = world or World()
    cat = Catalog(spark, catalog_path)
    return crawl(spark, domains, cfg, world, cat)


def task_status(spark: SparkSession, catalog_path: str, task_id: str) -> dict:
    """E2 — latest lineage row = progress; no pending work = done (an
    empty next frontier, or a drained queue for a budgeted crawl)."""
    cat = Catalog(spark, catalog_path)
    lineage = cat.read_all("lineage")
    if lineage is None:
        return {"state": "PENDING", "task_id": task_id}
    rows = (
        lineage.where(F.col("task_id") == task_id)
        .orderBy(F.col("round").desc())
        .limit(1)
        .collect()
    )
    if not rows:
        return {"state": "PENDING", "task_id": task_id}
    last = rows[0].asDict()
    nxt = last["round"] + 1
    if cat.committed_rounds("frontier_cursor"):
        # budgeted crawl: done iff the per-host queue has drained (the
        # same check crawl() makes on resume); it writes no frontier table
        cursor = dfq.read_cursor(cat, up_to_round=nxt)
        done = dfq.backlog(cursor).pending == 0
    else:
        done = not cat.has_round("frontier", nxt) or cat.read_round(
            "frontier", nxt
        ).isEmpty()
    return {
        "state": "SUCCESS" if done else "PROGRESS",
        "task_id": task_id,
        **last,
    }


def get_urls(
    spark: SparkSession, catalog_path: str, task_id: str, domain: str
) -> DataFrame:
    """E3 — one table read replaces the Redis->Mongo two-tier fallback."""
    cat = Catalog(spark, catalog_path)
    products = cat.read_all("products")
    if products is None:
        return spark.createDataFrame([], "task_id string, domain string, url string")
    return (
        products.where(
            (F.col("task_id") == task_id) & (F.col("domain") == domain)
        )
        .select("task_id", "domain", "url")
        .dropDuplicates(["url"])
    )


def save_json(df: DataFrame, path: str) -> None:
    """S9 — append-mode JSON sink (flag-gated in the reference)."""
    df.write.mode("append").json(path)


def save_csv(df: DataFrame, path: str) -> None:
    """S10 — append-mode CSV sink with header row."""
    df.write.mode("append").option("header", True).csv(path)


def simplify_domain(url: Column) -> Column:
    """S12 — '<registered>_<suffix-with-_>' storage key, e.g.
    https://shop.example.co.uk/x -> 'example_co_uk'. Full PSL rule
    semantics (exact + wildcard + exception rules, tldextract-parity
    formatting) live in webcrawlerfull_spark.psl."""
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    return psl.registered_key(host)
