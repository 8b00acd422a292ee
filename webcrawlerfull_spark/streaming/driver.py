"""The crawl driver — Structured-Streaming-style micro-batch rounds over
the frontier table, with per-round checkpointing and resume.

The reference's BFS loop (/root/reference/worker/src/tasks.py:415-544)
is a hand-rolled micro-batch stream: each depth reads the frontier,
fetches, parses, appends products, and re-materializes the frontier.
Here each round is one Spark job graph whose outputs are committed to
the catalog; the frontier is self-feeding (round k writes frontier
round=k+1), which a literal ``readStream``/foreachBatch can express but
a plain restartable loop expresses more simply (SURVEY.md §2.8) — the
checkpoint is the catalog itself, not a streaming checkpoint dir.

Resume (north rule "resumable after failure with no re-fetch of seen
URLs"): lineage round k is written last = commit marker; on restart we
drop partial state after max committed round and continue from the
frontier that round already wrote. Re-running a round is idempotent
(overwrite-by-round-dir) and the seen anti-join guarantees no URL is
ever scheduled twice across the whole run.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from webcrawlerfull_spark import schemas
from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.operators.bloom import (
    scheme_ok,
    update_filters,
)
from webcrawlerfull_spark.operators.attribution import first_touch_or_packed
from webcrawlerfull_spark.operators.cascade import run_cascade
from webcrawlerfull_spark.operators.textdedup import (
    check_dedup_scheme,
    dedup_signatures,
    incremental_dedup_delta,
)
from webcrawlerfull_spark.operators.frontier import build_next_frontier, seed_frontier
from webcrawlerfull_spark.operators.parse_spans import fetch_and_parse
from webcrawlerfull_spark.plans.round import apply_robots
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming import delta_frontier as dfq
from webcrawlerfull_spark.synthgen import World


# per-task row targets for round_partitions: fetch+parse is heavy per
# row, while the post-parse shuffles (joins/windows over slim link rows)
# are light
FETCH_ROWS_PER_TASK = 50
SHUFFLE_ROWS_PER_TASK = 500


def round_partitions(frontier_size: int, cfg: CrawlConfig) -> tuple[int, int]:
    """(shuffle_parts, fetch_parts) for one round, sized to its frontier
    instead of running every round at shuffle_partitions = cores (a small
    round otherwise pays per-task and Python-worker overhead that grows
    with the core count while the data doesn't). Discovered-link rows
    explode ~10-50x past the frontier, so the shuffle target divides by
    ``SHUFFLE_ROWS_PER_TASK`` only after a 20x fan-out allowance; both
    are clamped to [1, shuffle_partitions]. An unknown (<= 0) frontier
    size gets the ceiling."""
    cap = cfg.shuffle_partitions
    if frontier_size <= 0:
        return cap, cap
    fetch = max(1, min(cap, -(-frontier_size // FETCH_ROWS_PER_TASK)))
    shuffle = max(1, min(cap, -(-frontier_size * 20 // SHUFFLE_ROWS_PER_TASK)))
    return shuffle, fetch


@dataclass
class CrawlResult:
    products: DataFrame      # (task_id, domain, url, parser, depth, round)
    lineage: DataFrame       # per-round metrics
    seen: DataFrame          # (url, round)
    rounds_run: int


def _empty_seen(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], schema=schemas.SEEN_EXACT)


@dataclass
class _Slice:
    """The schedule stage's round input: ``size`` is lineage's
    frontier_size, ``round_size`` (the rows it may schedule) sizes the
    round's partitions. Parity keeps the ``frontier``; a budgeted round
    persists its ``cursor`` for the frontier chain."""

    size: int
    round_size: int
    frontier: DataFrame | None = None
    cursor: DataFrame | None = None
    bands: list[int] | None = None  # queue bands to read; None: all

    def release(self) -> None:
        if self.cursor is not None:
            self.cursor.unpersist()


def _pending(
    catalog: Catalog, cfg: CrawlConfig, round_id: int, delta_mode: bool,
    observed_size: int | None,
) -> _Slice:
    """Schedule stage, loop top: the round's pending work; size 0 ends
    the crawl. A budgeted round takes it from the cursor state in ONE
    aggregation job (backlog counters + the bands to read), never a
    frontier scan; the cursor is persisted for its three readers. Such a
    round may fetch nothing while it disposes duplicate or seen rows,
    but consumed advances every round, so the backlog drains. Parity's
    frontier size was observed on the previous round's write (counted
    only at a crawl() call's first round); a round that fetched nothing
    discovered nothing, and its observed 0 stops the crawl here."""
    if delta_mode:
        cursor = dfq.read_cursor(catalog, up_to_round=round_id).persist()
        bk = dfq.backlog_and_bands(cursor, cfg.politeness_budget)
        round_size = min(
            bk.pending, cfg.politeness_budget * max(bk.pending_hosts, 1)
        )
        return _Slice(bk.pending, round_size, cursor=cursor, bands=bk.bands)
    frontier = catalog.read_round("frontier", round_id)
    size = observed_size if observed_size is not None else frontier.count()
    return _Slice(size, size, frontier=frontier)


def _seen_state(
    spark: SparkSession, catalog: Catalog, cfg: CrawlConfig, round_id: int,
    validate: bool,
) -> tuple[DataFrame, DataFrame | None]:
    """The URL-seen state at round start: the exact seen table and, with
    ``use_bloom``, the cumulative bloom filters. ``validate`` (a crawl()
    call's first round; this driver only writes current-scheme deltas)
    drops persisted filters of another hash scheme or geometry (bucket
    count, bits, hashes), whose silent false negatives would re-fetch
    seen URLs. Missing filters (stale, or bloom switched on at a resume)
    are rebuilt from the exact seen table: they must cover every URL in
    it."""
    seen = catalog.read_all("seen", up_to_round=round_id - 1) or _empty_seen(spark)
    if not cfg.use_bloom or round_id == 0:
        return seen, None
    seen_filters = catalog.read_bloom(up_to_round=round_id - 1)
    if seen_filters is not None and validate and not scheme_ok(
        seen_filters, cfg.bloom_buckets, cfg.bloom_capacity_per_bucket
    ):
        catalog.drop_table("seen_bloom")
        seen_filters = None
    if seen_filters is None:
        seeded = update_filters(
            seen.select("url"), None, cfg.bloom_buckets,
            cfg.bloom_capacity_per_bucket,
        )
        catalog.write_round(seeded, "seen_bloom", round_id - 1)
        seen_filters = catalog.read_bloom(up_to_round=round_id - 1)
    return seen, seen_filters


def _schedule(
    catalog: Catalog, cfg: CrawlConfig, robots: DataFrame | None, sl: _Slice,
    seen: DataFrame, seen_filters: DataFrame | None, round_id: int,
    delta_mode: bool,
) -> DataFrame:
    """Schedule stage: robots + seen check, then the ``scheduled`` table
    FIRST (mark-before-fetch, tasks.py:438-440), read back.

    A budgeted round reads ONLY each pending host's next budget-sized
    queue slice (band-filtered) and disposes all of it: robots-blocked,
    duplicate and already-seen rows are skipped forever, the rest is
    fetched. No full-frontier re-rank and no prev-scheduled anti-join
    (the batch carve-over rows were dropped at insert time).

    In parity the whole frontier is the round. The J1 check anti-joins
    against LAST ROUND'S scheduled slice only, NOT the cumulative seen
    state. Invariant (by induction over rounds; base: round 0 is seeds
    on an empty catalog): frontier(r) ∩ seen(r-1) ⊆ scheduled(r-1). New
    links entering frontier(r) were anti-joined against the FULL seen
    state inside build_next_frontier (bloom-prefiltered exact anti-join,
    no false negatives), and the only seen URLs that survive the build
    are those the batch-visibility rule keeps on purpose: links to URLs
    scheduled in a LATER batch of round r-1 (tasks.py:433-440,492 —
    dropped by "the next round's batch filter", which is this join).
    Resume-safe: the frontier table is always build-produced (or seeds),
    and drop_rounds_after() keeps it consistent with scheduled(r-1).

    The seen table is the scheduled url projection and is NOT written:
    the catalog derives seen from scheduled via the fetch_round stamp.
    Nothing is committed until lineage lands, so a crash mid-round is
    safe."""
    if delta_mode:
        candidates = dfq.read_candidates(
            catalog, sl.cursor, cfg.politeness_budget, round_id, sl.bands
        )
        scheduled = dfq.schedule_slice(
            apply_robots(candidates, robots), seen, seen_filters, cfg
        )
    else:
        scheduled = apply_robots(sl.frontier, robots)
        if round_id > 0:
            prev_sched = catalog.read_round("scheduled", round_id - 1)
            scheduled = scheduled.join(
                prev_sched.select("url"), "url", "left_anti"
            )
    catalog.write_round(
        scheduled.withColumn("fetch_round", F.lit(round_id)),
        "scheduled",
        round_id,
    )
    return catalog.read_round("scheduled", round_id)


def _fetch(
    catalog: Catalog, world: World, scheduled: DataFrame, n_fetch: int,
    round_id: int,
) -> tuple[DataFrame, int, int]:
    """Fetch stage: fetch+parse the scheduled slice ONCE into the durable
    documents table, which every consumer reads back (no re-fetch). Its
    span columns stay primitive arrays plus the slim link_spans, all the
    crawl reads; parse_spans.spans_view() rebuilds the spans struct.
    Returns the documents and the fetched/parsed counts, observed on the
    write (one row per scheduled URL)."""
    pages = fetch_and_parse(
        scheduled.repartition(n_fetch, F.xxhash64("url")), world
    )
    obs = Observation()
    catalog.write_round(
        pages.observe(
            obs,
            F.count(F.lit(1)).alias("fetched"),
            F.count(F.when(F.col("status") == "ok", F.lit(1))).alias("parsed"),
        ),
        "documents",
        round_id,
    )
    docs = catalog.read_round("documents", round_id)
    return docs, int(obs.get["fetched"]), int(obs.get["parsed"])


def _frontier_chain(
    catalog: Catalog, cfg: CrawlConfig, sl: _Slice, docs: DataFrame,
    scheduled: DataFrame, seen: DataFrame, seen_filters: DataFrame | None,
    round_id: int, delta_mode: bool,
) -> int | None:
    """Build and write the next frontier on the chain's thread, so even
    its py4j plan construction overlaps doc-dedup. A budgeted round
    appends ONE queue delta plus the touched cursor rows, never
    rewriting the backlog (BENCH §7.5), and returns None. Parity writes
    the whole next frontier and returns its row count, observed on the
    write."""
    next_frontier = build_next_frontier(
        docs, scheduled, seen, cfg.max_depth, round_id,
        seen_filters=seen_filters, cfg=cfg,
    )
    if delta_mode:
        dfq.append_delta(
            catalog, next_frontier, scheduled, sl.cursor,
            cfg.politeness_budget, round_id,
        )
        return None
    obs = Observation()
    catalog.write_round(
        next_frontier.observe(obs, F.count(F.lit(1)).alias("rows")),
        "frontier",
        round_id + 1,
    )
    return int(obs.get["rows"])


def _doc_dedup(
    catalog: Catalog, cfg: CrawlConfig, docs: DataFrame, round_id: int,
    validate: bool,
) -> tuple[DataFrame, int]:
    """Cross-round document dedup, the interleaved-docs curation stage:
    content dups are excluded from the parser cascade, but ALL fetched
    pages still feed link discovery (dedup curates documents, not the
    crawl graph). One write per round (verdicts + the kept docs' fp/band
    state delta in one stacked frame), mirroring the bloom touched-bucket
    shape; the dropped count is observed on that same write. Returns the
    documents the cascade parses and the dropped count.

    ``validate`` (the first round of a crawl() call) checks that state an
    earlier call persisted was written under this run's scheme; state
    this call wrote needs no check."""
    dd_state = catalog.read_all("doc_dedup_state", up_to_round=round_id - 1)
    if dd_state is not None and validate:
        check_dedup_scheme(
            dd_state, cfg.dedup_k, cfg.dedup_bands, cfg.dedup_family
        )
    ok_docs = docs.where(F.col("status") == "ok").select(
        "doc_id", F.concat_ws(" ", "texts").alias("_text")
    )
    # the stacked delta is one linear chain over sigs, so the round's
    # text is scanned once by the write itself
    sigs = dedup_signatures(
        ok_docs, "doc_id", "_text", cfg.dedup_k, cfg.dedup_bands,
        cfg.dedup_family,
        kernel=(cfg.dedup_family == "fast" and cfg.dedup_bands > 0),
    )
    delta = incremental_dedup_delta(
        ok_docs, dd_state, id_col="doc_id", text_col="_text",
        k=cfg.dedup_k, bands=cfg.dedup_bands, sigs=sigs,
        family=cfg.dedup_family,
    )
    obs_dedup = Observation()
    catalog.write_round(
        delta.observe(
            obs_dedup,
            F.count(
                F.when(
                    (F.col("kind") == "verdict") & (F.col("status") != "kept"),
                    F.lit(1),
                )
            ).alias("dropped"),
        ),
        "doc_dedup_state",
        round_id,
    )
    dropped = int(obs_dedup.get["dropped"])
    kept_ids = (
        catalog.read_round("doc_dedup_state", round_id)
        .where((F.col("kind") == "verdict") & (F.col("status") == "kept"))
        .select("doc_id")
    )
    return docs.join(kept_ids, "doc_id", "left_semi"), dropped


def _products_chain(
    catalog: Catalog, cfg: CrawlConfig, mentions: DataFrame,
    page_stats: DataFrame, page_arrays: DataFrame, round_id: int,
) -> int:
    """Write the round's mentions and page_stats, then its first-touch
    products; returns the product count, observed on the write. Both
    writes derive from the cascade's page_arrays, which is cached only
    while they run so the cascade executes once per round."""
    page_arrays.persist()
    catalog.write_round(
        mentions.withColumn("round", F.lit(round_id)), "mentions", round_id
    )
    catalog.write_round(
        page_stats.withColumn("round", F.lit(round_id)), "page_stats", round_id
    )
    page_arrays.unpersist()
    # attribution reads the stored mentions parquet back — the cascade plan
    # runs exactly once per round (J7). Per-domain first touch (reference
    # keeps url_first_found_by per domain, tasks.py:397): a URL reachable
    # from two seed domains keeps one attributed row per domain.
    products = first_touch_or_packed(
        catalog.read_round("mentions", round_id), cfg.max_depth
    )
    prior = catalog.read_all("products", up_to_round=round_id - 1)
    if prior is not None:
        products = products.join(
            prior.select("domain", "url"), ["domain", "url"], "left_anti"
        )
    obs = Observation()
    catalog.write_round(
        products.select(
            F.lit(cfg.task_id).alias("task_id"),
            "domain",
            "url",
            "parser",
            "depth",
            F.lit(round_id).alias("round"),
        ).observe(obs, F.count(F.lit(1)).alias("products")),
        "products",
        round_id,
    )
    return int(obs.get["products"])


def _commit(
    catalog: Catalog, cfg: CrawlConfig, sl: _Slice, round_id: int,
    lineage: dict, delta_mode: bool,
) -> None:
    """Commit stage, once the round's chains have joined: the lineage row
    LAST, as the commit marker (one driver-local pyarrow row, no Spark
    job), then compaction after it. Every ``compact_every`` rounds the
    growing state tables (bloom filters included) merge into one dir, so
    read_all's fan-in stays O(1); a budgeted crawl's queue compacts on
    dir-count pressure, not on that clock (an O(pending) rewrite per
    clock tick cost more than the reads it saved)."""
    catalog.write_round_local([lineage], "lineage", round_id, schemas.LINEAGE)
    if cfg.compact_every and (round_id + 1) % cfg.compact_every == 0:
        catalog.compact("products", round_id, ["task_id", "domain", "url"])
        catalog.compact("seen", round_id, ["url"])
        if cfg.use_bloom:
            catalog.compact_latest("seen_bloom", round_id, ["bucket_id"])
        if cfg.doc_dedup:
            # pure dir-merge (deltas are disjoint; no dedup keys)
            catalog.compact("doc_dedup_state", round_id)
    if delta_mode and (
        len(catalog.committed_rounds("frontier_q")) > dfq.QUEUE_COMPACT_DIRS
    ):
        dfq.compact(catalog, round_id + 1)
    sl.release()


def _resume_finished(
    catalog: Catalog, cfg: CrawlConfig, round_id: int, delta_mode: bool
) -> bool:
    """The resume guards: True when the catalog's crawl has finished
    (budgeted: the queue drained; parity: no next frontier), raising
    when this run cannot continue it. A budget mismatch is refused: the
    other mode's tables hold the pending work, so this run would report
    the crawl finished (ADVICE r6). A frontier table means a parity
    catalog, frontier_cursor rounds a budgeted one."""
    if delta_mode and catalog.committed_rounds("frontier"):
        # a frontier table is also what the removed merged budgeted
        # layout wrote; that catalog cannot continue as a budgeted
        # crawl, and continuing it without one would change its
        # semantics, so the message does not suggest dropping it
        raise ValueError(
            "resume mode mismatch: this catalog has a frontier table, "
            "written by a parity crawl or by the removed merged "
            "budgeted layout, but this run has politeness_budget="
            f"{cfg.politeness_budget}; such a catalog cannot be "
            "resumed with a budget"
        )
    if not delta_mode and catalog.committed_rounds("frontier_cursor"):
        raise ValueError(
            "resume mode mismatch: this catalog was written by a "
            "budgeted crawl (frontier_cursor table present) but this "
            "run has politeness_budget=None; resume with the original "
            "politeness_budget setting"
        )
    if not delta_mode:
        return not catalog.has_round("frontier", round_id)
    cursor = dfq.read_cursor(catalog, up_to_round=round_id)
    if dfq.backlog(cursor).pending == 0:
        return True
    # pending work in the earlier queue layout: Spark's reader would
    # fail at the first queue read ("Conflicting directory structures
    # detected"), so refuse with the reason instead
    band_dirs = dfq.band_dirs(catalog)
    if band_dirs:
        raise ValueError(
            "frontier_q layout mismatch: this catalog's queue was "
            "written with one directory per band (e.g. "
            f"{band_dirs[0]}), a layout this version no longer "
            "reads; finish the crawl with the version that wrote "
            "it, or start a new catalog"
        )
    return False


def crawl(
    spark: SparkSession,
    seeds: list[str],
    cfg: CrawlConfig,
    world: World,
    catalog: Catalog,
    robots: DataFrame | None = None,
    max_rounds: int | None = None,
) -> CrawlResult:
    """Run (or resume) a crawl to completion. ``max_rounds`` stops early
    (for resume tests); call again with the same catalog to continue.

    Parity mode (politeness_budget None) keeps the whole frontier in the
    ``frontier`` table; a budgeted crawl keeps it in the per-host queue
    of streaming.delta_frontier (``frontier_q`` + ``frontier_cursor``)."""
    delta_mode = cfg.politeness_budget is not None
    committed = catalog.max_committed_round()
    if committed is None:
        round_id = 0
        frontier = seed_frontier(spark, seeds)
        if delta_mode:
            dfq.bootstrap(catalog, frontier, cfg.politeness_budget)
        else:
            catalog.write_round(frontier, "frontier", 0)
    else:
        catalog.drop_rounds_after(committed)
        round_id = committed + 1
        if _resume_finished(catalog, cfg, round_id, delta_mode):
            return _result(spark, catalog, rounds_run=0)

    # the per-round adaptive setting below mutates the SESSION conf;
    # restore the caller's value on exit so later queries on the same
    # session keep their profile
    saved_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    # seen cardinality is tracked incrementally (scheduled sets are
    # disjoint across rounds by construction) — resuming rebuilds the
    # running total from committed lineage instead of re-counting state
    prior_lineage = catalog.read_all("lineage")
    seen_total = (
        (prior_lineage.agg(F.sum("fetched")).collect()[0][0] or 0)
        if prior_lineage is not None
        else 0
    )
    # in parity mode one round == one reference depth, bounded by max_depth;
    # with a politeness budget the frontier drains over more rounds
    hard_stop = 10_000 if delta_mode else cfg.max_depth
    try:
        return _run_rounds(
            spark, cfg, world, catalog, robots, max_rounds, round_id,
            seen_total, hard_stop, delta_mode,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_shuffle)


def _run_rounds(
    spark: SparkSession, cfg: CrawlConfig, world: World, catalog: Catalog,
    robots: DataFrame | None, max_rounds: int | None, round_id: int,
    seen_total: int, hard_stop: int, delta_mode: bool,
) -> CrawlResult:
    """The round loop: one pass is the stage sequence schedule →
    seen/bloom state → fetch → (frontier chain ∥ doc-dedup → products
    chain ∥ bloom write) → commit."""
    first_round = round_id
    rounds_run = 0
    next_frontier_size: int | None = None
    while round_id < hard_stop and (
        max_rounds is None or rounds_run < max_rounds
    ):
        sl = _pending(catalog, cfg, round_id, delta_mode, next_frontier_size)
        if sl.size == 0:
            sl.release()
            break
        # adaptive per-round partitioning: a 600-row round 0 must not run
        # every one of its ~10 jobs at 32 shuffle partitions
        n_shuffle, n_fetch = round_partitions(sl.round_size, cfg)
        spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
        validate = round_id == first_round
        seen, seen_filters = _seen_state(spark, catalog, cfg, round_id, validate)
        t0 = time.monotonic()
        scheduled = _schedule(
            catalog, cfg, robots, sl, seen, seen_filters, round_id, delta_mode
        )

        # overlapped chains (guide §2.6). A round is a chain of small
        # Spark jobs, so its latency is its critical path. Three write
        # chains run on driver threads, each submitted as soon as every
        # input it reads exists, while the main thread runs the fetch,
        # doc-dedup and the cascade plan:
        #   - bloom delta: waits for `scheduled` (probes the pre-round
        #     seen_filters);
        #   - next frontier: waits for `documents` (reads documents,
        #     scheduled, seen, seen_filters, plus the round's cursor in
        #     delta mode) — nothing doc-dedup or the cascade produce;
        #   - cascade→products: waits for doc-dedup (kept documents) and
        #     reads products up to the previous round.
        # Nothing in this round reads a chain's output; the next round
        # reads it after the commit marker. One pool per round: leaving
        # the with-block joins every chain, also when the main thread
        # raises mid-round, and the loop at its end re-raises the first
        # chain failure before the commit.
        with ThreadPoolExecutor(3, thread_name_prefix="crawl-chain") as pool:
            chains = []
            if cfg.use_bloom:
                # touched-bucket-only delta (the MERGE shape): the reader
                # reconstructs live state as latest-row-per-bucket, so a
                # round persists only the buckets it actually updated
                new_filters = update_filters(
                    scheduled.select("url"), seen_filters, cfg.bloom_buckets,
                    cfg.bloom_capacity_per_bucket,
                )
                chains.append(pool.submit(
                    catalog.write_round, new_filters, "seen_bloom", round_id
                ))
            docs, fetched, parsed = _fetch(
                catalog, world, scheduled, n_fetch, round_id
            )
            frontier_fut = pool.submit(
                _frontier_chain, catalog, cfg, sl, docs, scheduled, seen,
                seen_filters, round_id, delta_mode,
            )
            kept_docs, docs_deduped = docs, 0
            if cfg.doc_dedup:
                kept_docs, docs_deduped = _doc_dedup(
                    catalog, cfg, docs, round_id, validate
                )
            # the cascade plan (py4j Column trees + the layer cache) is
            # built here on the main thread
            products_fut = pool.submit(
                _products_chain, catalog, cfg, *run_cascade(kept_docs),
                round_id,
            )
            chains += [frontier_fut, products_fut]
            for f in chains:
                f.result()  # re-raise the first chain failure
        next_frontier_size = frontier_fut.result()
        seen_total += fetched
        _commit(
            catalog, cfg, sl, round_id,
            {
                "task_id": cfg.task_id,
                "round": round_id,
                "frontier_size": sl.size,
                "seen_cardinality": seen_total,
                "fetched": fetched,
                "parsed": parsed,
                "products": products_fut.result(),
                "docs_deduped": docs_deduped,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            },
            delta_mode,
        )
        round_id += 1
        rounds_run += 1

    return _result(spark, catalog, rounds_run)


def _result(spark: SparkSession, catalog: Catalog, rounds_run: int) -> CrawlResult:
    products = catalog.read_all("products")
    lineage = catalog.read_all("lineage")
    seen = catalog.read_all("seen")
    empty_products = spark.createDataFrame([], schema=schemas.PRODUCTS)
    empty_lineage = spark.createDataFrame([], schema=schemas.LINEAGE)
    return CrawlResult(
        products=products if products is not None else empty_products,
        lineage=lineage if lineage is not None else empty_lineage,
        seen=seen if seen is not None else _empty_seen(spark),
        rounds_run=rounds_run,
    )
