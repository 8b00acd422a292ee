"""Schedule-side round operators the crawl driver
(streaming/driver.py) composes into a round:

- ``politeness_schedule`` — the per-host per-round fetch quota
  (scheduled slice + deferred rest) of the merged frontier layout;
- ``apply_robots`` — robots gating of a frontier or candidate slice;
- ``merge_deferred`` — carries the deferred rows into the next merged
  frontier.

In parity mode (politeness_budget=None) one round == one reference BFS
depth and the schedule order is exactly the reference's frontier order.
With a finite budget, each host fetches at most ``budget`` URLs per
round and the rest of the frontier carries over — the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def politeness_schedule(
    frontier: DataFrame, budget: int | None, salt_partitions: int = 32
) -> tuple[DataFrame, DataFrame]:
    """O5/O6 — per-host per-round fetch quota as a salted two-phase top-k
    (a hot host would otherwise pin one task: SURVEY.md §4 custom work
    #2/#3). Phase 1 takes the per-(host, salt) top-budget, phase 2 the
    true per-host top-budget of that reduced set — equivalent to a single
    global per-host top-k, but the heavy sort is spread over
    ``salt_partitions`` slices of the hot host.

    Returns (scheduled, deferred); deferred keeps its columns and rejoins
    the next round's frontier.

    In budgeted mode ``queue_pos`` on the SCHEDULED slice is re-derived
    as the dense per-domain rank under the politeness ordering keys
    (depth, priority, discovery_seq, url) — the round's actual fetch
    order. Two downstream consumers treat queue_pos as fetch order
    (first-touch attribution orders by [queue_pos, parser_rank]; the
    batch-visibility rule groups floor(queue_pos/10)), and the frontier's
    carried-over positions are neither dense nor fetch-ordered after
    merge_deferred (deferred rows keep their original rank, fresh rows
    are offset past them). The re-rank windows over the scheduled slice
    ONLY — bounded at budget × hosts-per-domain per round, unlike the
    ever-growing deferred backlog — so it stays cheap on a long crawl.
    """
    if budget is None:
        return frontier, frontier.limit(0)
    # url tie-break: discovery_seq is unique per domain only within one
    # frontier generation; deferred rows from older rounds can collide
    # with fresh ones, and the ranks below must be deterministic
    order = [
        F.col("depth").asc(), F.col("priority").asc(),
        F.col("discovery_seq").asc(), F.col("url").asc(),
    ]
    salted = frontier.withColumn(
        "_salt", F.pmod(F.xxhash64("url"), F.lit(salt_partitions))
    )
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    phase1 = salted.withColumn("_rn1", F.row_number().over(w1))
    survivors = phase1.where(F.col("_rn1") <= budget)
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = survivors.withColumn("_rn2", F.row_number().over(w2))
    scheduled = ranked.where(F.col("_rn2") <= budget).drop("_salt", "_rn1", "_rn2")
    # per-domain fetch order (reference batches are per-domain); a
    # domain-less frontier (operator-level callers) falls back to host
    fetch_key = "domain" if "domain" in frontier.columns else "host"
    w_fetch = Window.partitionBy(fetch_key).orderBy(*order)
    scheduled = scheduled.withColumn(
        "queue_pos", (F.row_number().over(w_fetch) - 1).cast("long")
    )
    # deferred = frontier minus scheduled (cheap anti-join on url)
    deferred = frontier.join(scheduled.select("url"), "url", "left_anti")
    return scheduled, deferred


def apply_robots(frontier: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Robots gating (north_star): drop frontier URLs blocked by their
    host's ``*`` rules. A robots table with a ``rules`` column (the
    parse_robots shape) gets full RFC 9309 §2.2.2 longest-match
    allow/disallow precedence — a site that disallows ``/`` then allows
    a subtree gates correctly; a legacy disallow-prefix-only table falls
    back to any-prefix blocking. The reference has no robots handling —
    engine-side addition, None disables it (parity mode)."""
    if robots is None:
        return frontier
    from webcrawlerfull_spark.functions.robots import blocked_by_rules

    joined = frontier.join(F.broadcast(robots), "host", "left")
    # a bare "https://host" URL has empty path but means "/" — normalize
    # so Disallow "/" blocks the seed itself
    raw_path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    extra = [c for c in ("rules", "disallow_prefixes") if c in robots.columns]
    if "rules" in robots.columns:
        blocked = blocked_by_rules(path, F.col("rules"))
    else:
        blocked = F.exists(
            F.coalesce(F.col("disallow_prefixes"), F.array()),
            lambda p: path.startswith(p),
        )
    return joined.where(~blocked).drop(*extra)


def merge_deferred(next_frontier: DataFrame, deferred: DataFrame) -> DataFrame:
    """Scale mode: deferred frontier rows carry over; new discoveries that
    duplicate a deferred row are dropped (the deferred row is older).

    The deferred slice needs NO seen filter here: it is a subset of this
    round's post-anti-join ``unseen`` minus this round's ``scheduled``,
    so it is disjoint from the seen set by construction (an anti-join
    against seen at this point is a provable no-op — removed; it cost
    O(|deferred|) probes of the cumulative seen state per round).

    queue_pos assignment is WINDOW-FREE: in budgeted mode the deferred
    set for a hot domain grows by up to (cap − budget) per round, so a
    ``Window.partitionBy(domain)`` re-rank would sort an ever-growing
    hot-domain slice in one task on a long crawl. Instead deferred rows
    KEEP the rank they were assigned when first queued (stable, already
    unique per domain) and fresh rows — at most frontier_cap per domain,
    already densely ranked by build_next_frontier — are offset past the
    per-domain deferred max (one cheap partial aggregate, no sort). The
    result is unique per domain and orders every older row before every
    newer one; within each generation the original (priority,
    discovery_seq) order is preserved. The frontier's queue_pos is ONLY
    a stable per-domain unique id here — nothing downstream reads it as
    fetch order: politeness_schedule orders by (depth, priority,
    discovery_seq, url) and re-derives a dense fetch-order queue_pos on
    the scheduled slice, which is what attribution and the
    batch-visibility rule consume."""
    fresh = next_frontier.join(deferred.select("url"), "url", "left_anti")
    cols = [
        "url", "host", "domain", "depth", "priority",
        "discovery_seq", "salt_bucket", "round", "queue_pos",
    ]
    offsets = deferred.groupBy("domain").agg(
        (F.max("queue_pos") + 1).alias("_off")
    )
    fresh = (
        fresh.join(offsets, "domain", "left")
        .withColumn(
            "queue_pos", F.col("queue_pos") + F.coalesce(F.col("_off"), F.lit(0))
        )
        .drop("_off")
    )
    return deferred.select(*cols).unionByName(fresh.select(*cols))
