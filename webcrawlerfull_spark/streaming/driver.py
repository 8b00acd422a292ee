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

import os
import sys
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
from webcrawlerfull_spark.operators.attribution import (
    first_touch,
    first_touch_products,
)
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


def round_partitions(frontier_size: int, cfg: CrawlConfig) -> tuple[int, int]:
    """(shuffle_parts, fetch_parts) for one round, sized to its frontier.
    Discovered-link rows explode ~10-50x past the frontier, so the
    shuffle target divides by ``shuffle_rows_per_task`` only after a 20x
    fan-out allowance; both are clamped to [1, shuffle_partitions]."""
    if not cfg.adaptive_partitions or frontier_size <= 0:
        return cfg.shuffle_partitions, cfg.shuffle_partitions
    cap = cfg.shuffle_partitions
    fetch = max(1, min(cap, -(-frontier_size // cfg.fetch_rows_per_task)))
    shuffle = max(
        1, min(cap, -(-frontier_size * 20 // cfg.shuffle_rows_per_task))
    )
    return shuffle, fetch


@dataclass
class CrawlResult:
    products: DataFrame      # (task_id, domain, url, parser, depth, round)
    lineage: DataFrame       # per-round metrics
    seen: DataFrame          # (url, round)
    rounds_run: int


def _empty_seen(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], schema=schemas.SEEN_EXACT)


class _StageClock:
    """WCF_STAGE_TIMING=1 prints per-stage wall times to stderr (used to
    attribute round wall-clock when hunting scaling bottlenecks). A lap
    labelled ``X ∥ Y`` timed stage X on the main thread while chain Y was
    in flight; the round's last chain lap ends at the join."""

    def __init__(self, round_id: int):
        self.enabled = os.environ.get("WCF_STAGE_TIMING") == "1"
        self.round_id = round_id
        self.t = time.monotonic()

    def lap(self, stage: str) -> None:
        if not self.enabled:
            return
        now = time.monotonic()
        print(
            f"[stage-timing] round={self.round_id} {stage}: {now - self.t:.2f}s",
            file=sys.stderr,
        )
        self.t = now


def _doc_dedup(
    catalog: Catalog,
    cfg: CrawlConfig,
    docs: DataFrame,
    dd_state: DataFrame | None,
    round_id: int,
    clock: _StageClock,
) -> tuple[DataFrame, int]:
    """Cross-round document dedup, the interleaved-docs curation stage:
    content dups are excluded from the parser cascade, but ALL fetched
    pages still feed link discovery (dedup curates documents, not the
    crawl graph). One write per round (verdicts + the kept docs' fp/band
    state delta in one stacked frame), mirroring the bloom touched-bucket
    shape; the dropped count is observed on that same write. Returns the
    documents the cascade parses and the dropped count."""
    ok_docs = docs.where(F.col("status") == "ok").select(
        "doc_id", F.concat_ws(" ", "texts").alias("_text")
    )
    # one text scan per round: the per-doc signature record (fp + band
    # hashes, fixed-width) is persisted because the stacked delta
    # consumes it from three union branches
    sigs = dedup_signatures(
        ok_docs, "doc_id", "_text", cfg.dedup_k, cfg.dedup_bands,
        cfg.dedup_family,
        kernel=(cfg.dedup_family == "fast" and cfg.dedup_bands > 0),
    ).persist()
    # MATERIALIZE the cache before building the delta: the stacked frame
    # references sigs SIX times (three union branches, each reading sigs
    # plus the reps frame derived from sigs), and a cold persist races —
    # every reference re-scans the round's full text (measured 190 s vs
    # ~25 s on a 200k-doc round at 32 cores, BENCH §8). One count() runs
    # the text scan exactly once and the six readers hit the cache.
    sigs.count()
    clock.lap("doc-dedup:sigs ∥ next-frontier")
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
    clock.lap("doc-dedup:delta-write ∥ next-frontier")
    sigs.unpersist()
    kept_ids = (
        catalog.read_round("doc_dedup_state", round_id)
        .where((F.col("kind") == "verdict") & (F.col("status") == "kept"))
        .select("doc_id")
    )
    clock.lap("doc-dedup ∥ next-frontier")
    return docs.join(kept_ids, "doc_id", "left_semi"), dropped


def _products_chain(
    catalog: Catalog,
    cfg: CrawlConfig,
    mentions: DataFrame,
    page_stats: DataFrame,
    page_arrays: DataFrame,
    round_id: int,
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
    # runs exactly once per round (J7)
    stored = catalog.read_round("mentions", round_id)
    # per-domain first touch (reference keeps url_first_found_by per domain,
    # tasks.py:397) — a URL reachable from two seed domains keeps one
    # attributed row per domain. The packed HashAggregate specialization
    # (r7) picks the identical row; the generic struct-min is the fallback
    # when the packing does not fit.
    products = first_touch_products(stored, cfg.max_depth)
    if products is None:
        products = first_touch(
            stored, ["queue_pos", "parser_rank"], ["domain", "url"]
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
            dfq.bootstrap(catalog, frontier, dfq.band_size_for(cfg))
        else:
            catalog.write_round(frontier, "frontier", 0)
    else:
        catalog.drop_rounds_after(committed)
        round_id = committed + 1
        # budget mismatch on resume: the other mode's tables hold the
        # real pending work, and without this guard the branch below
        # would see an empty frontier/cursor and silently report the
        # crawl finished (rounds_run=0) — mirror of the dedup-scheme
        # guard (ADVICE r6). A frontier table means a parity catalog,
        # frontier_cursor rounds mean a budgeted one.
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
        if delta_mode:
            # finished iff the queue has drained (cursor backlog == 0)
            cursor = dfq.read_cursor(catalog, up_to_round=round_id)
            if dfq.backlog(cursor).pending == 0:
                return _result(spark, catalog, rounds_run=0)
        elif not catalog.has_round("frontier", round_id):
            # finished run: previous round produced no next frontier
            return _result(spark, catalog, rounds_run=0)

    rounds_run = 0
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
            rounds_run, seen_total, hard_stop, delta_mode,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_shuffle)


def _run_rounds(
    spark: SparkSession,
    cfg: CrawlConfig,
    world: World,
    catalog: Catalog,
    robots: DataFrame | None,
    max_rounds: int | None,
    round_id: int,
    rounds_run: int,
    seen_total: int,
    hard_stop: int,
    delta_mode: bool,
) -> CrawlResult:
    band_size = dfq.band_size_for(cfg) if delta_mode else None
    # the frontier row count steers adaptive partitioning and the empty-
    # frontier stop; after the first round it is OBSERVED during the
    # next-frontier write instead of re-counted (one fewer job per round)
    next_frontier_size: int | None = None
    # the bloom hash-scheme check is one take(1) job and the scheme
    # cannot go stale MID-run (this driver only writes current-scheme
    # deltas), so validate persisted state once per crawl()/resume
    # invocation, not once per round
    scheme_checked = False
    dedup_scheme_checked = False
    while round_id < hard_stop:
        if max_rounds is not None and rounds_run >= max_rounds:
            break
        if delta_mode:
            # delta-frontier: backlog comes from the cursor state, not a
            # frontier table scan; round size is budget-capped per host
            # the cursor frame feeds three consumers this round (loop-top
            # agg, candidate read, cursor update) — persist it once; the
            # backlog counters and the needed band partitions come from
            # ONE aggregation job (the only per-round driver-side job
            # this layout adds)
            cursor = dfq.read_cursor(catalog, up_to_round=round_id).persist()
            bk = dfq.backlog_and_bands(
                cursor, cfg.politeness_budget, band_size
            )
            frontier_size = bk.pending
            round_size = min(
                bk.pending, cfg.politeness_budget * max(bk.pending_hosts, 1)
            )
        else:
            frontier = catalog.read_round("frontier", round_id)
            frontier_size = (
                next_frontier_size
                if next_frontier_size is not None
                else frontier.count()
            )
            round_size = frontier_size
        if frontier_size == 0:
            if delta_mode:
                cursor.unpersist()
            break
        # adaptive per-round partitioning: a 600-row round 0 must not run
        # every one of its ~10 jobs at 32 shuffle partitions
        n_shuffle, n_fetch = round_partitions(round_size, cfg)
        spark.conf.set("spark.sql.shuffle.partitions", str(n_shuffle))
        seen = catalog.read_all("seen", up_to_round=round_id - 1) or _empty_seen(spark)
        seen_filters = None
        if cfg.use_bloom and round_id > 0:
            seen_filters = catalog.read_bloom(up_to_round=round_id - 1)
            if (
                seen_filters is not None
                and not scheme_checked
                and not scheme_ok(seen_filters)
            ):
                # persisted filters were written by an OLDER in-bucket
                # hash family (or predate versioning): probing their
                # bytes with the current hashes would yield silent false
                # negatives -> re-fetch of seen URLs. Drop the stale
                # state; the reseed branch below rebuilds it from the
                # exact seen table (the source of truth).
                catalog.drop_table("seen_bloom")
                seen_filters = None
            if seen_filters is None:
                # bloom toggled on mid-run (resume) or scheme-stale: the
                # cumulative filter must cover EVERYTHING in the exact
                # seen table, else earlier-seen URLs probe definitely-new
                # and get re-fetched
                seeded = update_filters(
                    seen.select("url"), None, cfg.bloom_buckets,
                    cfg.bloom_capacity_per_bucket, cfg.bloom_fpp,
                )
                catalog.write_round(seeded, "seen_bloom", round_id - 1)
                seen_filters = catalog.read_bloom(up_to_round=round_id - 1)
            scheme_checked = True

        t0 = time.monotonic()
        clock = _StageClock(round_id)
        # ---- stage 1: schedule (robots + seen check) ---------------------
        candidates = None
        if delta_mode:
            # delta-frontier: the round reads ONLY each pending host's
            # next budget-sized queue slice (band-partition-pruned) and
            # disposes all of it — robots-blocked, duplicate and
            # already-seen rows are skipped forever, the rest fetches.
            # No full-frontier re-rank, no prev-scheduled anti-join (the
            # batch carve-over rows were dropped at insert time).
            candidates = dfq.read_candidates(
                catalog, cursor, cfg.politeness_budget, band_size, round_id,
                bands=bk.bands,
            ).persist()
            # disposed count rides the scheduled write as an Observation
            # (no dedicated count job — same treatment as the lineage
            # counters)
            obs_disposed = Observation()
            cand_obs = candidates.observe(
                obs_disposed, F.count(F.lit(1)).alias("n")
            )
            scheduled_raw = dfq.schedule_slice(
                apply_robots(cand_obs, robots), seen, seen_filters, cfg
            )
        else:
            # parity: the whole frontier is the round. The J1 check
            # anti-joins against LAST ROUND'S scheduled slice only — NOT
            # the cumulative seen state. Invariant (by induction over
            # rounds; base: round 0 is seeds on an empty catalog):
            # frontier(r) ∩ seen(r-1) ⊆ scheduled(r-1). New links entering
            # frontier(r) were anti-joined against the FULL seen state
            # inside build_next_frontier (bloom-prefiltered exact
            # anti-join — no false negatives), and the only seen URLs
            # that survive the build are those the batch-visibility rule
            # keeps on purpose: links to URLs scheduled in a LATER batch
            # of round r-1 (tasks.py:433-440,492 — dropped by "the next
            # round's batch filter", which is this join). Resume-safe:
            # the frontier table is always build-produced (or seeds), and
            # drop_rounds_after() keeps it consistent with scheduled(r-1).
            scheduled_raw = apply_robots(frontier, robots)
            if round_id > 0:
                prev_sched = catalog.read_round("scheduled", round_id - 1)
                scheduled_raw = scheduled_raw.join(
                    prev_sched.select("url"), "url", "left_anti"
                )
        # scheduled table FIRST (mark-before-fetch, tasks.py:438-440).
        # The seen table is its url projection and is NOT written: the
        # catalog derives seen from scheduled via the fetch_round stamp
        # (one fewer job per round; the projection job was pure fixed
        # cost on small budgeted rounds). Not committed until lineage
        # lands, so a crash mid-round is safe.
        catalog.write_round(
            scheduled_raw.withColumn("fetch_round", F.lit(round_id)),
            "scheduled",
            round_id,
        )
        scheduled = catalog.read_round("scheduled", round_id)

        # ---- overlapped chains (guide §2.6). A round is a chain of small
        # Spark jobs, so its latency is its critical path. Three write
        # chains run on driver threads, each submitted as soon as every
        # input it reads exists, while the main thread runs fetch+parse,
        # doc-dedup and the cascade plan:
        #   - bloom delta: waits for `scheduled` (probes the pre-round
        #     seen_filters);
        #   - next frontier: waits for `documents` (reads documents,
        #     scheduled, seen, seen_filters, plus the round's cursor and
        #     candidates in delta mode) — nothing doc-dedup or the
        #     cascade produce;
        #   - cascade→products: waits for doc-dedup (kept documents) and
        #     reads products up to the previous round.
        # Nothing in this round reads a chain's output; the next round
        # reads it after the commit marker. One pool per round: leaving
        # the with-block joins every chain, also when the main thread
        # raises mid-round, and the loop at its end re-raises the first
        # chain failure. Commit order: join, then marker, then compaction.
        with ThreadPoolExecutor(3, thread_name_prefix="crawl-chain") as pool:
            chains = []
            if cfg.use_bloom:
                # touched-bucket-only delta (the MERGE shape): the reader
                # reconstructs live state as latest-row-per-bucket, so a
                # round persists only the buckets it actually updated
                new_filters = update_filters(
                    scheduled.select("url"), seen_filters, cfg.bloom_buckets,
                    cfg.bloom_capacity_per_bucket, cfg.bloom_fpp,
                    touched_only=True,
                )
                chains.append(pool.submit(
                    catalog.write_round, new_filters, "seen_bloom", round_id
                ))
            clock.lap("schedule+bloom")

            # ---- stage 2: fetch+parse ONCE -> the durable interleaved-docs
            # table (the input_hint payload). Every downstream consumer
            # reads the stored parquet — no giant in-memory cache of span
            # structs, no re-fetch.
            to_fetch = scheduled.repartition(n_fetch, F.xxhash64("url"))
            # lazy spans layout: the stored documents table keeps the span
            # columns as primitive arrays (kinds/texts/refs) + the slim
            # link_spans; parse_spans.spans_view() reconstructs the
            # input_hint spans struct for downstream document consumers —
            # the crawl itself only ever reads link_spans
            pages = fetch_and_parse(
                to_fetch, world, extra_cols=["queue_pos"],
                materialize_spans=False,
            )
            # documents has exactly one row per scheduled URL, so observing
            # the write action yields both lineage counts with no extra job
            obs_docs = Observation()
            catalog.write_round(
                pages.observe(
                    obs_docs,
                    F.count(F.lit(1)).alias("fetched"),
                    F.count(F.when(F.col("status") == "ok", F.lit(1))).alias(
                        "parsed"
                    ),
                ),
                "documents",
                round_id,
            )
            docs = catalog.read_round("documents", round_id)
            clock.lap("fetch+parse+write-documents")

            # ---- stage 3: next frontier. The plan is built on the chain's
            # thread too, so its py4j construction overlaps doc-dedup.
            def _frontier_chain() -> int:
                """Build and write the next frontier; returns the rows
                written (the queue delta in delta mode, else the whole
                next frontier)."""
                next_frontier = build_next_frontier(
                    docs, scheduled, seen, cfg.max_depth, round_id,
                    cfg.frontier_cap, seen_filters=seen_filters, cfg=cfg,
                )
                if delta_mode:
                    # append-only: ONE delta write sized to this round's
                    # discoveries + the touched cursor rows; the backlog is
                    # never re-ranked or rewritten (BENCH §7.5's two flat
                    # O(|frontier|) intercepts were exactly here and in the
                    # schedule read above)
                    return dfq.append_delta(
                        catalog, next_frontier, scheduled, cursor,
                        candidates, band_size, round_id,
                    )
                obs_frontier = Observation()
                catalog.write_round(
                    next_frontier.observe(
                        obs_frontier, F.count(F.lit(1)).alias("rows")
                    ),
                    "frontier",
                    round_id + 1,
                )
                return int(obs_frontier.get["rows"])

            frontier_fut = pool.submit(_frontier_chain)
            chains.append(frontier_fut)

            # ---- stage 4 (opt-in): cross-round document dedup
            docs_for_cascade, docs_deduped = docs, 0
            if cfg.doc_dedup:
                dd_state = catalog.read_all(
                    "doc_dedup_state", up_to_round=round_id - 1
                )
                if dd_state is not None and not dedup_scheme_checked:
                    check_dedup_scheme(
                        dd_state, cfg.dedup_k, cfg.dedup_bands, cfg.dedup_family
                    )
                    dedup_scheme_checked = True
                docs_for_cascade, docs_deduped = _doc_dedup(
                    catalog, cfg, docs, dd_state, round_id, clock
                )

            # ---- stage 5: cascade → products. The cascade plan (py4j Column
            # trees + the layer cache) is built here on the main thread.
            mentions, page_stats, page_arrays = run_cascade(docs_for_cascade)
            clock.lap("cascade-plan ∥ next-frontier")
            products_fut = pool.submit(
                _products_chain, catalog, cfg, mentions, page_stats,
                page_arrays, round_id,
            )
            chains.append(products_fut)
            for f in chains:
                f.result()  # re-raise the first chain failure
        clock.lap("cascade+products ∥ next-frontier ∥ bloom joined")

        if delta_mode:
            # obs_disposed is the one observation in the driver whose
            # CollectMetrics node sits BELOW further transformations
            # (it observes the candidates frame; the scheduled write
            # wraps it in dedup + anti-join + rank). When a round's
            # whole slice is disposed (scheduled write is EMPTY), AQE's
            # runtime empty-relation propagation replaces the observed
            # subtree in the final write plan and the metrics row comes
            # back schema-less — Observation.get then raises from
            # toPyRow (inherited r6 bug, reproduced deterministically
            # at round 10 of the seed-42/4-host/budget-3 world; see
            # tests/test_delta_frontier.py::test_delta_all_disposed_round).
            # Fallback: count the persisted candidates frame — already
            # materialized this round, so it is a cached-scan count,
            # and it only runs in the rare all-disposed round.
            try:
                disposed_n = int(obs_disposed.get["n"])
            except Exception:
                disposed_n = candidates.count()
            next_frontier_size = frontier_size - disposed_n + frontier_fut.result()
        else:
            next_frontier_size = frontier_fut.result()

        # lineage LAST = the commit marker (A7 metrics, north-rule set).
        # All three counters were observed during this round's write
        # actions — no dedicated counting jobs.
        fetched = int(obs_docs.get["fetched"])
        parsed = int(obs_docs.get["parsed"])
        n_products = products_fut.result()
        seen_total += fetched
        wall_ms = int((time.monotonic() - t0) * 1000)
        # ONE driver-local row: written via the catalog's local fast
        # path (pyarrow, no Spark job) — a full createDataFrame + write
        # job cost ~0.3-0.5 s of pure fixed overhead per round (r7)
        catalog.write_round_local(
            [
                {
                    "task_id": cfg.task_id,
                    "round": round_id,
                    "frontier_size": frontier_size,
                    "seen_cardinality": seen_total,
                    "fetched": fetched,
                    "parsed": parsed,
                    "products": n_products,
                    "docs_deduped": docs_deduped,
                    "wall_ms": wall_ms,
                }
            ],
            "lineage",
            round_id,
            schemas.LINEAGE,
        )
        clock.lap("counts+lineage")

        # MERGE-equivalent compaction AFTER the commit marker: rewrite the
        # monotonically-growing state tables' round dirs into one so the
        # per-round read_all fan-in stays O(1) dirs on a long crawl
        if cfg.compact_every and (round_id + 1) % cfg.compact_every == 0:
            catalog.compact("products", round_id, ["task_id", "domain", "url"])
            catalog.compact("seen", round_id, ["url"])
            if cfg.doc_dedup:
                # pure dir-merge (deltas are disjoint; no dedup keys)
                catalog.compact("doc_dedup_state", round_id)

        if delta_mode and (
            len(catalog.committed_rounds("frontier_q"))
            > cfg.frontier_compact_dirs
        ):
            # fold cursor deltas + reclaim fully-consumed queue rows —
            # the only backlog-sized job in delta mode, triggered by
            # dir-count pressure (read amplification), not the
            # compact_every clock: at bench cadence a clocked O(pending)
            # rewrite cost more than the per-round rewrites it replaced
            dfq.compact(catalog, round_id + 1, band_size)

        if delta_mode:
            candidates.unpersist()
            cursor.unpersist()
        round_id += 1
        rounds_run += 1
        # parity mode: fetched == 0 means the whole frontier was seen or
        # blocked, so no documents and an empty next frontier. Delta
        # mode: a round CAN fetch 0 while disposing only duplicate/seen
        # queue rows with real work still pending — stop only when the
        # backlog is drained (the loop-top check); consumed advances
        # every round, so the loop terminates.
        if fetched == 0 and not (delta_mode and next_frontier_size > 0):
            break

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
