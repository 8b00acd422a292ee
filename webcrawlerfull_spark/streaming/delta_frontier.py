"""Delta-frontier: the O(|round delta|) scheduling layout every budgeted
crawl uses (BENCH/BASELINE.md §7.5's named mitigation, VERDICT r5 item 1).

A budgeted round must not re-rank or rewrite the whole backlog: at a
10^10-row frontier with 10^7-row rounds that is 10^3× the round's fetch
work (the two flat 9 s/round intercepts in §7.5). The backlog is
instead a queue the round never has to re-rank:

- ``frontier_q`` — an APPEND-ONLY per-host queue. Every row gets a dense
  per-host position ``pos`` when it is inserted (ranked by the politeness
  keys *within its insertion round*: depth, priority, discovery_seq,
  url) and a ``band = pos // budget`` column. Each delta is written
  as a few files sorted by (band, host, pos) — one for a small round —
  so a band filter skips row groups and pages by their statistics,
  with no directory per band to list or open. Rows are never updated
  or deleted by the round loop; consumption is tracked by cursor, and
  fully-consumed rows are dropped lazily at compaction time.
- ``frontier_cursor`` — one (host, consumed, next_pos) row per touched
  host per round, read back as latest-row-per-host (the same
  touched-only MERGE shape as the bloom state). ``pending = next_pos -
  consumed`` is the host's backlog.

A round then:
1. reads ONLY the bands holding each pending host's next ``budget``
   positions (band width = budget ⇒ at most two bands per host; with
   uniform per-host progress the global band set is tiny, and the
   ``band IN (...)`` filter is pushed into the Parquet scan, where the
   band-sorted files let it skip every other row group and page — so
   the read follows the round's slice, never O(|frontier|));
2. disposes that whole slice: robots-blocked rows, in-slice duplicate
   URLs (keep-first by pos) and already-seen URLs (bloom-gated exact
   anti-join — the safety net for duplicate inserts whose first copy was
   fetched after this copy was queued) are skipped forever, the rest is
   the scheduled slice; ``consumed`` advances past everything read —
   ``min(budget, pending)`` positions, known from the cursor alone
   because positions are dense per host;
3. appends the round's discoveries as ONE new delta (positions offset
   past ``next_pos``), writes the touched cursor rows, and never touches
   the rest of the queue.

Budgeted order: per-host FIFO across insertion rounds — a host's rows
from an earlier round are fetched before any row it gained later —
and politeness-ranked (depth, priority, discovery_seq, url) within one
insertion round. The order is STARVATION-FREE: the cursor advances by
exactly ``budget`` positions per round while the host has that much
pending, so a row at position p that becomes visible in round r0 with
the host's cursor at c is disposed by round r0 − 1 + ⌈(p − c + 1) /
budget⌉, however hot the host. The crawl-level invariants are tested:
same final seen SET as parity mode, per-(host, round) budget respected,
global no-refetch, deterministic under any partitioning, crash/resume
converges. Duplicate discoveries of a still-queued URL are accepted at
insert (deduping them would need an O(|frontier|) probe — the exact cost
this layout removes) and disposed at schedule time; they waste a slot,
never a fetch.

Reference: the frontier loop this replaces at scale is
/root/reference/worker/src/tasks.py:415-544 (one in-memory deque + one
process-resident seen set).
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from webcrawlerfull_spark import config as C
from webcrawlerfull_spark import schemas
from webcrawlerfull_spark.operators import bloom
from webcrawlerfull_spark.plans.round import politeness_order

CURSOR = StructType(
    [
        StructField("host", StringType()),
        StructField("consumed", LongType()),   # positions disposed so far
        StructField("next_pos", LongType()),   # next position to assign
    ]
)

# frontier_q columns = FRONTIER + pos + band (files sorted on band)
QUEUE = StructType(
    schemas.FRONTIER.fields
    + [StructField("pos", LongType()), StructField("band", LongType())]
)

# above this many distinct needed bands the isin() band filter is
# dropped (correct either way — skipping is purely a read optimization)
MAX_BAND_INLIST = 128

# the driver runs compact() once the committed frontier_q dirs exceed this
QUEUE_COMPACT_DIRS = 8


def assign_positions(
    rows: DataFrame, cursor: DataFrame | None, budget: int
) -> DataFrame:
    """Dense per-host positions for one insertion batch: politeness-key
    rank within the batch, offset past the host's ``next_pos``. The
    window sorts ONE round's delta only — never the backlog."""
    w = Window.partitionBy("host").orderBy(*politeness_order())
    ranked = rows.withColumn("_rk", F.row_number().over(w) - 1)
    if cursor is not None:
        ranked = ranked.join(
            cursor.select("host", "next_pos"), "host", "left"
        )
    else:
        ranked = ranked.withColumn("next_pos", F.lit(None).cast("long"))
    return (
        ranked.withColumn(
            "pos", F.coalesce(F.col("next_pos"), F.lit(0)) + F.col("_rk")
        )
        .withColumn("band", F.floor(F.col("pos") / F.lit(budget)))
        .drop("_rk", "next_pos")
    )


def _banded(q: DataFrame) -> DataFrame:
    """The frontier_q file layout: one shuffle on ``band`` (AQE coalesces
    it to one task, hence one file, for a small round and a few for a
    large one), rows sorted by (band, host, pos) inside each file. The
    sort gives every row group and page a narrow band range, so the
    round's ``band IN (...)`` filter skips the rest by their statistics;
    one directory per band instead cost a file per band on write and a
    listing job on read."""
    return q.repartition(F.col("band")).sortWithinPartitions(
        "band", "host", "pos"
    )


def write_queue(catalog, q: DataFrame, round_id: int) -> None:
    """Write ``q`` (QUEUE columns) as frontier_q round ``round_id`` in the
    band-sorted layout."""
    catalog.write_round(_banded(q), "frontier_q", round_id)


def bootstrap(catalog, seeds_df: DataFrame, budget: int) -> None:
    """Seed the queue: frontier_q r=0 + cursor r=0 (consumed 0)."""
    q0 = assign_positions(
        seeds_df.select(*[f.name for f in schemas.FRONTIER.fields]),
        None,
        budget,
    )
    write_queue(catalog, q0, 0)
    cursor0 = (
        catalog.read_round("frontier_q", 0)
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("next_pos"))
        .select("host", F.lit(0).cast("long").alias("consumed"), "next_pos")
    )
    catalog.write_round(cursor0, "frontier_cursor", 0)


def band_dirs(catalog) -> list[str]:
    """The ``frontier_q/r=*/band=*`` dirs of a parquet catalog: the
    earlier queue layout, one directory per band, which Spark cannot
    read next to band-sorted round dirs. Always empty for a catalog
    that has no base dir (IcebergCatalog)."""
    base = getattr(catalog, "base", None)
    if base is None:
        return []
    return sorted(glob.glob(os.path.join(base, "frontier_q", "r=*", "band=*")))


def read_cursor(catalog, up_to_round: int) -> DataFrame | None:
    """Live cursor state = latest row per host across committed deltas."""
    return catalog.read_latest("frontier_cursor", ["host"], up_to_round)


@dataclass
class Backlog:
    pending: int          # total queued-but-undisposed rows
    pending_hosts: int    # hosts with pending > 0
    # this round's needed bands; None = too many for an isin() filter,
    # read every band (backlog_and_bands only — backlog() leaves it None)
    bands: list[int] | None = None


def backlog(cursor: DataFrame | None) -> Backlog:
    if cursor is None:
        return Backlog(0, 0)
    row = (
        cursor.where(F.col("consumed") < F.col("next_pos"))
        .agg(
            F.coalesce(
                F.sum(F.col("next_pos") - F.col("consumed")), F.lit(0)
            ).alias("p"),
            F.count(F.lit(1)).alias("h"),
        )
        .collect()[0]
    )
    return Backlog(int(row["p"]), int(row["h"]))


def backlog_and_bands(cursor: DataFrame | None, budget: int) -> Backlog:
    """backlog() + the bands this round reads, in ONE aggregation job —
    the only per-round driver-side job the delta layout adds to the loop
    top. The band width is the budget, so each pending host's read
    window [consumed, consumed+budget) touches at most two bands, and
    only each host's lo and hi bands are collected: a narrower band
    would silently skip (and compaction then drop) middle-band queue
    rows (ADVICE r6). bands=None (no band filter) when the distinct set
    outgrows an isin() filter — correct either way."""
    if cursor is None:
        return Backlog(0, 0, [])
    lo = F.floor(F.col("consumed") / F.lit(budget))
    hi = F.floor((F.col("consumed") + F.lit(budget - 1)) / F.lit(budget))
    row = (
        cursor.where(F.col("consumed") < F.col("next_pos"))
        .agg(
            F.coalesce(
                F.sum(F.col("next_pos") - F.col("consumed")), F.lit(0)
            ).alias("p"),
            F.count(F.lit(1)).alias("h"),
            F.slice(
                F.array_sort(
                    F.array_union(F.collect_set(lo), F.collect_set(hi))
                ),
                1,
                MAX_BAND_INLIST + 1,
            ).alias("bands"),
        )
        .collect()[0]
    )
    bands = row["bands"] or []
    if len(bands) > MAX_BAND_INLIST:
        bands = None
    else:
        bands = [int(b) for b in bands]
    return Backlog(int(row["p"]), int(row["h"]), bands)


def read_candidates(
    catalog,
    cursor: DataFrame,
    budget: int,
    round_id: int,
    bands: list[int] | None,
) -> DataFrame:
    """Each pending host's next ``budget`` queue positions — the only
    slice of frontier_q a round ever reads. ``bands`` is
    backlog_and_bands' list (computed in the same job as the backlog):
    the ``band IN (...)`` filter is pushed into the Parquet scan, which
    skips the row groups and pages of every other band; None reads every
    band. Defining the frame runs no Spark job."""
    q = catalog.read_all("frontier_q", up_to_round=round_id)
    if bands is not None:
        q = q.where(F.col("band").isin(bands))
    pend = cursor.where(F.col("consumed") < F.col("next_pos"))
    return (
        q.join(pend, "host")
        .where(
            (F.col("pos") >= F.col("consumed"))
            & (F.col("pos") < F.col("consumed") + F.lit(budget))
        )
        .drop("next_pos")
    )


def schedule_slice(
    candidates: DataFrame,
    seen: DataFrame,
    seen_filters: DataFrame | None,
    cfg: C.CrawlConfig,
) -> DataFrame:
    """Candidates → scheduled: drop in-slice duplicate URLs (keep lowest
    pos) and already-seen URLs (duplicate inserts whose first copy has
    been fetched since — bloom-gated exact, no false negatives), then
    stamp the dense per-domain fetch-order queue_pos every downstream
    consumer reads (first-touch attribution, floor(queue_pos/10) batch
    visibility) — the politeness_schedule keys (plans.round).

    The keep-first dedup is the first_touch min(struct) aggregate (r7,
    VERDICT r6 finding #2): map-side partial aggregation instead of a
    full window shuffle+sort of the slice. ``pos`` is unique per host
    and a URL belongs to one host, so the order key is tie-free."""
    from webcrawlerfull_spark.operators.attribution import first_touch

    slice_ = first_touch(candidates, ["pos"], ["url"])
    unseen = bloom.seen_anti_join(
        slice_, seen, seen_filters, cfg.bloom_buckets,
        cfg.bloom_capacity_per_bucket,
    )
    w_fetch = Window.partitionBy("domain").orderBy(*politeness_order())
    return (
        unseen.withColumn(
            "queue_pos", (F.row_number().over(w_fetch) - 1).cast("long")
        )
        .drop("pos", "band", "consumed")
    )


def append_delta(
    catalog,
    fresh: DataFrame,
    scheduled: DataFrame,
    cursor: DataFrame,
    budget: int,
    round_id: int,
) -> None:
    """Insert one round's discoveries and advance the cursors. ``fresh``
    is build_next_frontier output (already seen-filtered and capped);
    the anti-join vs this round's scheduled slice drops the
    batch-visibility carve-over rows here instead of at next round's
    schedule (identical outcome — they occupied cap space, they are
    never fetched — without keeping them in the queue). Writes
    frontier_q r=round_id+1 and frontier_cursor r=round_id+1: one row
    per touched host (pending work or inserts). The round disposed each
    pending host's whole window, and positions are dense per host, so
    ``consumed`` advances to ``min(consumed + budget, next_pos)``
    without counting the slice."""
    fresh = fresh.drop("queue_pos").join(
        scheduled.select("url"), "url", "left_anti"
    )
    delta = assign_positions(fresh, cursor, budget).select(
        *[f.name for f in QUEUE.fields]
    )
    write_queue(catalog, delta, round_id + 1)
    ins = (
        catalog.read_round("frontier_q", round_id + 1, schema=QUEUE)
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("_ins"))
    )
    consumed = F.coalesce(F.col("consumed"), F.lit(0))
    next_pos = F.coalesce(F.col("next_pos"), F.lit(0))
    new_cursor = (
        cursor.join(ins, "host", "full_outer")
        .where((consumed < next_pos) | F.col("_ins").isNotNull())
        .select(
            "host",
            F.least(consumed + F.lit(budget), next_pos).alias("consumed"),
            (next_pos + F.coalesce(F.col("_ins"), F.lit(0))).alias("next_pos"),
        )
    )
    catalog.write_round(new_cursor, "frontier_cursor", round_id + 1)


def compact(catalog, up_to: int) -> None:
    """Amortized queue maintenance: fold the cursor deltas to
    latest-per-host and rewrite frontier_q keeping only undisposed rows
    (pos >= the host's consumed), in the same band-sorted layout so later
    rounds still skip by band. O(pending), run once the round dirs
    exceed ``QUEUE_COMPACT_DIRS`` — the only backlog-sized work in delta
    mode, and optional hygiene, not a per-round stage."""
    catalog.compact_latest("frontier_cursor", up_to, ["host"])
    cursor = read_cursor(catalog, up_to)
    if cursor is None:
        return

    def live_rows(q: DataFrame) -> DataFrame:
        return _banded(
            q.join(cursor.select("host", "consumed"), "host", "left")
            .where(F.col("pos") >= F.coalesce(F.col("consumed"), F.lit(0)))
            .drop("consumed")
        )

    catalog.compact("frontier_q", up_to, transform=live_rows)
