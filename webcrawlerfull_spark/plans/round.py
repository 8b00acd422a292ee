"""Schedule-side round operators:

- ``apply_robots`` — robots gating of a frontier or candidate slice;
  the crawl driver (streaming/driver.py) applies it every round;
- ``politeness_schedule`` — the per-host fetch quota over a whole
  frontier (scheduled slice + deferred rest) as one operator: the
  ``o5_politeness_budget`` gate entry and the operator tests run it.

The driver's parity mode (politeness_budget=None) schedules the whole
frontier, so one round == one reference BFS depth. A budgeted crawl
schedules from the append-only per-host queue in
streaming/delta_frontier.py, never by re-ranking a full frontier.
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

    Returns (scheduled, deferred); deferred is the rest of the frontier,
    columns unchanged.

    With a budget, ``queue_pos`` on the SCHEDULED slice is re-derived as
    the dense per-domain rank under the politeness ordering keys (depth,
    priority, discovery_seq, url) — the slice's actual fetch order. Two
    downstream consumers treat queue_pos as fetch order (first-touch
    attribution orders by [queue_pos, parser_rank]; the batch-visibility
    rule groups floor(queue_pos/10)), and an input frontier's positions
    need not be dense or fetch-ordered. The re-rank windows over the
    scheduled slice ONLY — bounded at budget × hosts-per-domain.
    """
    if budget is None:
        return frontier, frontier.limit(0)
    # url tie-break: discovery_seq is unique per domain only within one
    # frontier generation; rows of different generations can collide,
    # and the ranks below must be deterministic
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
