"""O2/O3/J2 — next-frontier construction from parsed pages.

Reproduces the reference's per-depth queue build
(/root/reference/worker/src/tasks.py:491-529) as pure DataFrame ops:

1. discovery: internal anchors of each page, pagination first within a
   page, then document order (find_urls canonical order, tasks.py:105-106)
2. batch-visibility dedup: the reference checks ``next_url not in
   visited_urls`` at discovery time (tasks.py:492), when ``visited``
   holds the seen-set at round start PLUS the current round's batches up
   to and including the discovering page's batch (marked before fetch,
   tasks.py:438-440; batch size 10, tasks.py:433). A link to a URL
   scheduled in a LATER batch therefore survives into the queue (and
   occupies cap space) and is only dropped by the next round's batch
   filter — reproduced here exactly.
3. within/cross-page keep-first dedup via min(discovery_seq)
4. the 500-cap with category-priority reordering, applied ONLY when the
   queue exceeds the cap (tasks.py:529 — otherwise discovery order is
   kept and priority is ignored)

discovery_seq encoding: src_queue_pos * 2^20 + index within the page's
canonical find_urls order (pagination first, then document order) — a
single sortable key for (page order, pagination-first, document order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcrawlerfull_spark import config as C
from webcrawlerfull_spark.functions import predicates as P
from webcrawlerfull_spark.operators import bloom

_PAGE_SHIFT = 1 << 20   # discovery_seq = src_queue_pos * 2^20 + in-page index
BATCH_SIZE = 10  # tasks.py:433


def discovered_links(pages: DataFrame, max_depth: int) -> DataFrame:
    """Internal anchors of fetched pages that are below the link-discovery
    depth limit (find_urls is skipped at the last depth, tasks.py:641).

    The per-page part of find_urls (internal filter, pagination-first
    ordering, within-page first-occurrence dedup, tasks.py:100-106) is
    computed SHUFFLE-FREE as array expressions — array_distinct and
    array_except both keep first-occurrence order, which is exactly the
    canonical find_urls order. Only the exploded slim rows
    (url, host, domain, depth, seq) ever shuffle."""
    eligible = pages.where(
        (F.col("status") == "ok") & (F.col("depth") < F.lit(max_depth - 1))
    )
    spans = F.col("link_spans")  # slim column: prose text never decoded
    pag = F.array_distinct(
        F.transform(
            F.filter(spans, lambda s: s["kind"] == "pagination"),
            lambda s: s["media_ref"],
        )
    )
    internal_links = F.array_distinct(
        F.transform(
            F.filter(
                spans,
                lambda s: (s["kind"] == "link")
                & (F.parse_url(s["media_ref"], F.lit("AUTHORITY")) == F.col("host")),
            ),
            lambda s: s["media_ref"],
        )
    )
    ordered = F.concat(pag, F.array_except(internal_links, pag))
    return (
        eligible.select(
            "host",
            "domain",
            F.col("depth").alias("src_depth"),
            F.col("queue_pos").alias("src_queue_pos"),
            F.posexplode(ordered).alias("pos", "url"),
        )
        .select(
            "host",
            "domain",
            "src_depth",
            "src_queue_pos",
            "url",
            (F.col("src_queue_pos") * F.lit(_PAGE_SHIFT) + F.col("pos")).alias(
                "discovery_seq"
            ),
        )
    )


def build_next_frontier(
    pages: DataFrame,
    scheduled: DataFrame,
    seen: DataFrame,
    max_depth: int,
    round_id: int,
    frontier_cap: int = C.FRONTIER_CAP_PER_DOMAIN,
    seen_filters: DataFrame | None = None,
    cfg: C.CrawlConfig | None = None,
) -> DataFrame:
    """pages: PARSED_PAGE(+queue_pos); scheduled: this round's fetched
    slice (url, queue_pos); seen: URL-seen AT ROUND START (url)."""
    links = discovered_links(pages, max_depth)

    # keep-first across all discoveries of a url (min encodes page order,
    # pagination-first, span order)
    links = links.groupBy("url", "host", "domain").agg(
        F.min("discovery_seq").alias("discovery_seq"),
        F.min("src_depth").alias("src_depth"),
    )

    # drop urls already seen at round start (J2 left-anti; bloom-gated at
    # scale so only maybe-seen rows shuffle against the exact table)
    cfg = cfg or C.CrawlConfig()
    links = bloom.seen_anti_join(
        links, seen, seen_filters, cfg.bloom_buckets,
        cfg.bloom_capacity_per_bucket,
    )

    # batch-visibility rule: drop urls scheduled this round in a batch
    # <= the discovering page's batch
    sched_batches = scheduled.select(
        "url", F.floor(F.col("queue_pos") / BATCH_SIZE).alias("sched_batch")
    )
    links = (
        links.withColumn(
            "disc_batch",
            F.floor(
                F.floor(F.col("discovery_seq") / _PAGE_SHIFT) / F.lit(BATCH_SIZE)
            ),
        )
        .join(sched_batches, "url", "left")
        .where(
            F.col("sched_batch").isNull()
            | (F.col("sched_batch") > F.col("disc_batch"))
        )
        .drop("sched_batch", "disc_batch")
    )

    # category-priority + conditional 500-cap (per domain), hot-domain-safe
    links = links.withColumn("priority", P.category_priority(F.col("url")))
    capped = conditional_priority_cap(
        links, frontier_cap, salt_partitions=SALT_PARTITIONS
    )
    return (
        capped
        .select(
            "url",
            "host",
            "domain",
            (F.col("src_depth") + 1).alias("depth"),
            "priority",
            "discovery_seq",
            F.pmod(F.xxhash64("url"), F.lit(64)).cast("int").alias("salt_bucket"),
            F.lit(round_id + 1).alias("round"),
            (F.col("_rn") - 1).alias("queue_pos"),
        )
    )


# the crawl's host-hash salting fan-out for the cap's phase-1 windows
# (output is identical for any value; it bounds a hot domain's task size)
SALT_PARTITIONS = 32


def conditional_priority_cap(
    links: DataFrame, cap: int, salt_partitions: int = 16
) -> DataFrame:
    """O3 — the reference's conditional frontier cap (tasks.py:513-529):
    when a domain's queue exceeds ``cap``, category-priority URLs come
    first; otherwise pure discovery order. Returns the top-``cap`` rows
    per domain with ``_rn`` (1-based rank) attached.

    Scale shape: a SALTED TWO-PHASE top-k, single pass over the input.
    Phase 1 ranks per (domain, salt) by (priority, discovery_seq) — a
    valid superset of the true order under BOTH gate outcomes: gate on
    means the true order IS (priority, seq); gate off means the domain
    has ≤ cap rows, so every salt slice has ≤ cap rows and nothing is
    cut. The per-salt COUNT rides the same window partition, and phase 2
    reconstructs the domain total as sum(count over rank-1 rows) on the
    ≤ salt_partitions×cap survivors — so the count gate costs no extra
    shuffle, no broadcast, and (crucially) no recomputation of the
    upstream discovery joins, while no task ever sees more than one salt
    slice of a hot domain pre-cap. Identical output to a single
    per-domain window. Requires (url, domain, priority, discovery_seq);
    discovery_seq is unique per (domain, url) so the order is total and
    deterministic."""
    salted = links.withColumn(
        "_salt", F.pmod(F.xxhash64("url"), F.lit(salt_partitions))
    )
    w1 = Window.partitionBy("domain", "_salt").orderBy(
        "priority", "discovery_seq"
    )
    w1_cnt = Window.partitionBy("domain", "_salt")
    survivors = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .withColumn("_scnt", F.count("*").over(w1_cnt))
        .where(F.col("_rn1") <= cap)
    )
    w_dom = Window.partitionBy("domain")
    total = F.sum(F.when(F.col("_rn1") == 1, F.col("_scnt"))).over(w_dom)
    gated = survivors.withColumn(
        "_eff_priority",
        F.when(total > cap, F.col("priority")).otherwise(F.lit(0)),
    )
    w2 = Window.partitionBy("domain").orderBy("_eff_priority", "discovery_seq")
    return (
        gated.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= cap)
        .drop("_eff_priority", "_salt", "_rn1", "_scnt")
    )


def seed_frontier(spark, seeds: list[str], round_id: int = 0) -> DataFrame:
    """Round-0 frontier: one row per seed domain (tasks.py:401)."""
    from urllib.parse import urlparse

    rows = [
        {
            "url": s,
            "host": urlparse(s).netloc,
            "domain": s,
            "depth": 0,
            "priority": 1,
            "discovery_seq": 0,
            "salt_bucket": 0,
            "round": round_id,
            "queue_pos": 0,
        }
        for s in seeds
    ]
    from webcrawlerfull_spark import schemas
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(schemas.FRONTIER.fields + [StructField("queue_pos", LongType())])
    return spark.createDataFrame(rows, schema=schema)
