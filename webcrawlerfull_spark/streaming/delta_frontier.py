"""Delta-frontier: the O(|round delta|) scheduling layout every budgeted
crawl uses (BENCH/BASELINE.md §7.5's named mitigation, VERDICT r5 item 1).

A budgeted round must not re-rank or rewrite the whole backlog: at a
10^10-row frontier with 10^7-row rounds that is 10^3× the round's fetch
work (the two flat 9 s/round intercepts in §7.5). The backlog is
instead a queue the round never has to re-rank:

- ``frontier_q`` — an APPEND-ONLY per-host queue. Every row gets a dense
  per-host position ``pos`` when it is inserted (ranked by the politeness
  keys *within its insertion round*: depth, priority, discovery_seq,
  url), and is stored under a ``band = pos // band_size`` partition
  directory. Rows are never updated or deleted by the round loop;
  consumption is tracked by cursor, and fully-consumed rows are dropped
  lazily at compaction time.
- ``frontier_cursor`` — one (host, consumed, next_pos) row per touched
  host per round, read back as latest-row-per-host (the same
  touched-only MERGE shape as the bloom state). ``pending = next_pos -
  consumed`` is the host's backlog.

A round then:
1. reads ONLY the partitions holding each pending host's next ``budget``
   positions (``band_size >= budget`` ⇒ at most two bands per host; with
   uniform per-host progress the global band set is tiny, so the read is
   ~2×|scheduled|, partition-pruned — never O(|frontier|));
2. disposes that whole slice: robots-blocked rows, in-slice duplicate
   URLs (keep-first by pos) and already-seen URLs (bloom-gated exact
   anti-join — the safety net for duplicate inserts whose first copy was
   fetched after this copy was queued) are skipped forever, the rest is
   the scheduled slice; ``consumed`` advances past everything read;
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

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from webcrawlerfull_spark import config as C
from webcrawlerfull_spark import schemas
from webcrawlerfull_spark.operators import bloom

CURSOR = StructType(
    [
        StructField("host", StringType()),
        StructField("consumed", LongType()),   # positions disposed so far
        StructField("next_pos", LongType()),   # next position to assign
    ]
)

# frontier_q data columns = FRONTIER + pos; ``band`` is its partition col
QUEUE = StructType(
    schemas.FRONTIER.fields
    + [StructField("pos", LongType()), StructField("band", LongType())]
)

# above this many distinct needed bands the isin() partition filter is
# dropped (correct either way — pruning is purely a read optimization)
MAX_BAND_INLIST = 128

def _order():
    # the politeness ordering keys (identical to plans.round); built
    # lazily — F.col needs an active session on classic pyspark
    return [
        F.col("depth").asc(), F.col("priority").asc(),
        F.col("discovery_seq").asc(), F.col("url").asc(),
    ]


def band_size_for(cfg: C.CrawlConfig) -> int:
    """band_size >= budget guarantees a round's per-host read window
    [consumed, consumed+budget) spans at most two band partitions —
    backlog_and_bands collects only each host's lo and hi bands, so a
    smaller band size would silently skip (and then compact away)
    middle-band queue rows (ADVICE r6)."""
    if cfg.politeness_budget is None:
        raise ValueError("the delta frontier requires a politeness_budget")
    band_size = cfg.frontier_band_size or cfg.politeness_budget
    if band_size < cfg.politeness_budget:
        raise ValueError(
            f"frontier_band_size={band_size} < politeness_budget="
            f"{cfg.politeness_budget}: a round's per-host window would "
            "span more than two band partitions and middle-band rows "
            "would be skipped then deleted by compaction; set "
            "frontier_band_size >= politeness_budget (or leave it None)"
        )
    return band_size


def assign_positions(
    rows: DataFrame, cursor: DataFrame | None, band_size: int
) -> DataFrame:
    """Dense per-host positions for one insertion batch: politeness-key
    rank within the batch, offset past the host's ``next_pos``. The
    window sorts ONE round's delta only — never the backlog."""
    w = Window.partitionBy("host").orderBy(*_order())
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
        .withColumn("band", F.floor(F.col("pos") / F.lit(band_size)))
        .drop("_rk", "next_pos")
    )


def bootstrap(catalog, seeds_df: DataFrame, band_size: int) -> None:
    """Seed the queue: frontier_q r=0 + cursor r=0 (consumed 0)."""
    q0 = assign_positions(
        seeds_df.select(*[f.name for f in schemas.FRONTIER.fields]),
        None,
        band_size,
    )
    catalog.write_round(q0, "frontier_q", 0, partition_by=["band"])
    cursor0 = (
        catalog.read_round("frontier_q", 0)
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("next_pos"))
        .select("host", F.lit(0).cast("long").alias("consumed"), "next_pos")
    )
    catalog.write_round(cursor0, "frontier_cursor", 0)


def read_cursor(catalog, up_to_round: int) -> DataFrame | None:
    """Live cursor state = latest row per host across committed deltas."""
    df = catalog.read_all_with_round("frontier_cursor", up_to_round)
    if df is None:
        return None
    w = Window.partitionBy("host").orderBy(F.col("r").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "r")
    )


@dataclass
class Backlog:
    pending: int          # total queued-but-undisposed rows
    pending_hosts: int    # hosts with pending > 0
    bands: list[int] | None = None   # this round's needed band partitions


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


def backlog_and_bands(
    cursor: DataFrame | None, budget: int, band_size: int
) -> Backlog:
    """backlog() + needed_bands() in ONE aggregation job — the only
    per-round driver-side job the delta layout adds to the loop top.
    Each pending host's read window [consumed, consumed+budget) touches
    ≤2 bands (band_size >= budget); bands=None (no pruning) when the
    distinct set outgrows an isin() filter — correct either way."""
    if cursor is None:
        return Backlog(0, 0)
    lo = F.floor(F.col("consumed") / F.lit(band_size))
    hi = F.floor((F.col("consumed") + F.lit(budget - 1)) / F.lit(band_size))
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


def needed_bands(
    cursor: DataFrame, budget: int, band_size: int
) -> list[int] | None:
    """The ≤2 band partitions per pending host a round can touch; see
    backlog_and_bands (the driver folds this into the backlog agg)."""
    return backlog_and_bands(cursor, budget, band_size).bands


def read_candidates(
    catalog,
    cursor: DataFrame,
    budget: int,
    band_size: int,
    round_id: int,
    bands: list[int] | None = None,
) -> DataFrame:
    """Each pending host's next ``budget`` queue positions — the only
    slice of frontier_q a round ever reads (band-partition-pruned).
    ``bands`` comes from backlog_and_bands (the driver computes it in
    the same job as the backlog); computed here if not given."""
    q = catalog.read_all_with_round("frontier_q", up_to_round=round_id)
    if bands is None:
        bands = needed_bands(cursor, budget, band_size)
    if bands is not None:
        q = q.where(F.col("band").isin(bands))
    pend = cursor.where(F.col("consumed") < F.col("next_pos"))
    return (
        q.drop("r")
        .join(pend, "host")
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
    visibility) — identical keys to plans.round.politeness_schedule.

    The keep-first dedup is the first_touch min(struct) aggregate (r7,
    VERDICT r6 finding #2): map-side partial aggregation instead of a
    full window shuffle+sort of the slice. ``pos`` is unique per host
    and a URL belongs to one host, so the order key is tie-free."""
    from webcrawlerfull_spark.operators.attribution import first_touch

    slice_ = first_touch(candidates, ["pos"], ["url"])
    unseen = bloom.seen_anti_join(
        slice_, seen, seen_filters, cfg.bloom_buckets,
        cfg.bloom_capacity_per_bucket, cfg.bloom_fpp,
    )
    fetch_key = "domain" if "domain" in candidates.columns else "host"
    w_fetch = Window.partitionBy(fetch_key).orderBy(*_order())
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
    candidates: DataFrame,
    band_size: int,
    round_id: int,
) -> int:
    """Insert one round's discoveries and advance the cursors. ``fresh``
    is build_next_frontier output (already seen-filtered and capped);
    the anti-join vs this round's scheduled slice drops the
    batch-visibility carve-over rows here instead of at next round's
    schedule (identical outcome — they occupied cap space, they are
    never fetched — without keeping them in the queue). Writes
    frontier_q r=round_id+1 and frontier_cursor r=round_id+1 (touched
    hosts only). Returns the inserted-row count (observed on the delta
    write — no dedicated count job)."""
    from pyspark.sql import Observation

    fresh = fresh.drop("queue_pos").join(
        scheduled.select("url"), "url", "left_anti"
    )
    delta = assign_positions(fresh, cursor, band_size).select(
        *[f.name for f in QUEUE.fields]
    )
    # repartition by band before the partitioned write (the
    # write_lsh_index lesson): without it every task writes a file into
    # every band dir it has rows for — tasks x bands small files that
    # every later pruned read pays to open; AQE coalesces the shuffle to
    # ~one task (= one file) per band
    obs = Observation()
    catalog.write_round(
        delta.repartition(F.col("band")).observe(
            obs, F.count(F.lit(1)).alias("n")
        ),
        "frontier_q",
        round_id + 1,
        partition_by=["band"],
    )
    inserted_n = int(obs.get["n"])
    inserted = catalog.read_round("frontier_q", round_id + 1, schema=QUEUE)

    disposed = candidates.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("_disp")
    )
    ins = inserted.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("_ins")
    )
    touched = disposed.join(ins, "host", "full_outer")
    new_cursor = (
        touched.join(cursor, "host", "left")
        .select(
            "host",
            (
                F.coalesce(F.col("consumed"), F.lit(0))
                + F.coalesce(F.col("_disp"), F.lit(0))
            ).alias("consumed"),
            (
                F.coalesce(F.col("next_pos"), F.lit(0))
                + F.coalesce(F.col("_ins"), F.lit(0))
            ).alias("next_pos"),
        )
    )
    catalog.write_round(new_cursor, "frontier_cursor", round_id + 1)
    return inserted_n


def compact(catalog, up_to: int, band_size: int) -> None:
    """Amortized queue maintenance: fold the cursor deltas to
    latest-per-host and rewrite frontier_q keeping only undisposed rows
    (pos >= the host's consumed), band partitioning preserved so later
    rounds still prune. O(pending) every compact_every rounds — the only
    backlog-sized work in delta mode, and it is optional hygiene, not a
    per-round stage."""
    cursor = read_cursor(catalog, up_to)
    if cursor is None:
        return
    catalog.compact_latest("frontier_cursor", up_to, ["host"])
    cursor = read_cursor(catalog, up_to)

    def live_rows(q: DataFrame) -> DataFrame:
        return (
            q.join(cursor.select("host", "consumed"), "host", "left")
            .where(F.col("pos") >= F.coalesce(F.col("consumed"), F.lit(0)))
            .drop("consumed")
        )

    catalog.compact(
        "frontier_q", up_to, transform=live_rows, partition_by=["band"]
    )
