"""Scale-path operators the reference can't express: a budgeted
crawl's first per-host slice, robots gating, and the Structured
Streaming analogue over the events table. Budgeted crawls themselves
are tested in test_delta_frontier.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawlerfull_spark import schemas
from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.functions.robots import apply_robots
from webcrawlerfull_spark.streaming.delta_frontier import (
    assign_positions,
    schedule_slice,
)
from webcrawlerfull_spark.streaming.driver import round_partitions


def _frontier(spark, n_per_host=50, hosts=("a", "b", "c")):
    rows = []
    for h in hosts:
        for i in range(n_per_host):
            rows.append(
                {
                    "url": f"https://{h}.example.com/p/{i}",
                    "host": f"{h}.example.com",
                    "domain": f"https://{h}.example.com",
                    "depth": 1,
                    "priority": i % 2,
                    "discovery_seq": i,
                    "salt_bucket": 0,
                    "round": 1,
                    "queue_pos": i,
                }
            )
    return spark.createDataFrame(rows)


def _first_slice(f, budget):
    """(scheduled, waiting): the crawl's first budgeted slice of frontier
    ``f`` with nothing seen (assign_positions -> pos < budget ->
    schedule_slice) and the rows left in the queue."""
    spark = f.sparkSession
    ranked = assign_positions(f, None, budget)
    seen = spark.createDataFrame([], schema=schemas.SEEN_EXACT)
    scheduled = schedule_slice(
        ranked.where(F.col("pos") < budget), seen, None,
        CrawlConfig(politeness_budget=budget),
    )
    return scheduled, ranked.where(F.col("pos") >= budget)


def test_politeness_budget_respected(spark):
    f = _frontier(spark)
    scheduled, deferred = _first_slice(f, 7)
    per_host = {
        r["host"]: r["n"]
        for r in scheduled.groupBy("host").agg(F.count("*").alias("n")).collect()
    }
    assert sorted(per_host.values()) == [7, 7, 7]
    assert deferred.count() == 3 * (50 - 7)
    # scheduled are the budget-best by (depth, priority, discovery_seq)
    got = sorted(
        r["discovery_seq"]
        for r in scheduled.where(F.col("host") == "a.example.com").collect()
    )
    expected = sorted(
        range(0, 50, 2), key=lambda i: (0, i)
    )[:7]  # priority 0 rows first
    assert got == expected


def test_scheduled_queue_pos_is_dense_fetch_order(spark):
    """schedule_slice re-derives queue_pos on the scheduled slice as
    the dense per-domain rank under the politeness ordering keys — the
    consumers (first-touch attribution, floor(queue_pos/10) batch
    visibility) read it as fetch order, so the input frontier's
    positions must not leak through (ADVICE r3). Frontier queue_pos
    here is deliberately gapped + shuffled."""
    rows = []
    for h in ("a", "b"):
        for i in range(20):
            rows.append(
                {
                    "url": f"https://{h}.example.com/p/{i}",
                    "host": f"{h}.example.com",
                    "domain": f"https://{h}.example.com",
                    "depth": 1 if i % 3 else 0,
                    "priority": i % 2,
                    "discovery_seq": (37 * i) % 101,
                    "salt_bucket": 0,
                    "round": 1,
                    "queue_pos": 1000 + 17 * i,  # gapped, non-fetch-order
                }
            )
    f = spark.createDataFrame(rows)
    scheduled, _ = _first_slice(f, 8)
    got = scheduled.collect()
    for dom in {r["domain"] for r in got}:
        sl = [r for r in got if r["domain"] == dom]
        sl.sort(key=lambda r: (r["depth"], r["priority"], r["discovery_seq"], r["url"]))
        assert [r["queue_pos"] for r in sl] == list(range(len(sl)))


def test_round_partitions_sized_to_frontier():
    """(shuffle, fetch) partitions per round: ceil(n / 50) fetch tasks
    and ceil(20 n / 500) shuffle partitions, clamped to
    [1, shuffle_partitions]; an empty frontier gets the ceiling."""
    cfg = CrawlConfig(shuffle_partitions=32)
    got = {n: round_partitions(n, cfg) for n in (0, 1, 50, 51, 10_000)}
    assert got == {
        0: (32, 32), 1: (1, 1), 50: (2, 1), 51: (3, 2), 10_000: (32, 32),
    }


def test_robots_gating(spark):
    f = _frontier(spark, n_per_host=10, hosts=("a", "b"))
    robots = spark.createDataFrame(
        [{"host": "a.example.com", "disallow_prefixes": ["/p/"]}]
    )
    out = apply_robots(f, robots)
    hosts = {r["host"] for r in out.select("host").distinct().collect()}
    assert hosts == {"b.example.com"}


def test_robots_disallow_all_blocks_bare_seed(spark):
    """A bare https://host seed has empty path but means '/' — Disallow
    '/' must block it too (found by runtime probing)."""
    seed = spark.createDataFrame(
        [{"url": "https://a.example.com", "host": "a.example.com"}]
    )
    robots = spark.createDataFrame(
        [{"host": "a.example.com", "disallow_prefixes": ["/"]}]
    )
    assert apply_robots(seed, robots).count() == 0


def test_streaming_micro_batch_events(spark, sf_dir):
    """Structured Streaming analogue: the same tumbling aggregation as the
    batch events_tumbling_agg query, run through readStream+foreachBatch
    over the events parquet (micro-batch execution path)."""
    import os
    import tempfile

    ev_path = os.path.join(sf_dir, "events.parquet")
    batch = spark.read.parquet(ev_path)
    # the streaming file source needs a DIRECTORY; stage the file into one
    stage_dir = tempfile.mkdtemp()
    os.symlink(os.path.abspath(ev_path), os.path.join(stage_dir, "events.parquet"))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
        # parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    bucket = (F.floor(F.unix_timestamp("ts") / 900) * 900).cast("long")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(bucket.alias("ws"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    with tempfile.TemporaryDirectory() as tmp:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("ev_agg")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
    got = {
        (r["ws"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM ev_agg").collect()
    }
    expected = {
        (r["ws"], r["event_type"]): r["n"]
        for r in batch.groupBy(bucket.alias("ws"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected
