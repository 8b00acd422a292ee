"""Volume smoke on a 2M-row frontier where one host owns 80% of the
rows (the Zipf hot-domain shape): the budgeted queue's per-host ranking
(delta_frontier.assign_positions) must still pick the hot host's true
top-budget, and the salted frontier cap must spread its heavy phase-1
sort by (key, salt) — the property that holds at 100x this volume."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawlerfull_spark.operators.frontier import conditional_priority_cap
from webcrawlerfull_spark.streaming.delta_frontier import assign_positions

N = 2_000_000
HOT = "hot.example.com"


def _frontier(spark):
    base = spark.range(N).select(
        F.when(F.col("id") % 10 < 8, F.lit(HOT))
        .otherwise(F.concat(F.lit("h"), (F.col("id") % 1000).cast("string")))
        .alias("host"),
        F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 7 == 0).cast("int").alias("_cat"),
        F.col("id").alias("discovery_seq"),
        F.lit(0).alias("depth"),
    )
    return base.withColumn(
        "priority", F.when(F.col("_cat") == 1, F.lit(0)).otherwise(F.lit(1))
    ).drop("_cat")


def test_politeness_budget_on_hot_host(spark):
    fr = _frontier(spark)
    scheduled = assign_positions(fr, None, 50).where(F.col("pos") < 50)
    counts = {r["host"]: r["n"] for r in
              scheduled.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts[HOT] == 50
    assert all(n <= 50 for n in counts.values())
    # the hot host's winners are its true (priority, seq) top-50:
    # priority-0 rows are ids % 10 < 8 and % 7 == 0 in seq order
    hot_rows = sorted(
        int(r["url"].rsplit("/", 1)[1])
        for r in scheduled.where(F.col("host") == HOT).collect()
    )
    expected = [i for i in range(N) if i % 10 < 8 and i % 7 == 0][:50]
    assert hot_rows == sorted(expected)


def test_frontier_cap_on_hot_domain(spark):
    links = _frontier(spark).withColumnRenamed("host", "domain")
    capped = conditional_priority_cap(links, cap=500, salt_partitions=16)
    counts = {r["domain"]: r["n"] for r in
              capped.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert counts[HOT] == 500
    # gate is ON for the hot domain (1.6M rows > 500): category-priority
    # rows first, in discovery order
    hot = sorted(
        (r["_rn"], int(r["url"].rsplit("/", 1)[1]))
        for r in capped.where(F.col("domain") == HOT).select("_rn", "url").collect()
    )
    expected = [i for i in range(N) if i % 10 < 8 and i % 7 == 0][:500]
    assert [u for _, u in hot] == expected
    # small domains (< cap) keep discovery order regardless of priority:
    # gate OFF means _eff_priority = 0 for every row
    small = "h1"
    small_rows = [
        int(r["url"].rsplit("/", 1)[1])
        for r in capped.where(F.col("domain") == small)
        .orderBy("_rn")
        .collect()
    ]
    expected_small = sorted(
        i for i in range(N) if i % 10 >= 8 and i % 1000 == 1
    )[:500]
    assert small_rows == expected_small
    # the phase-1 heavy sort is partitioned by (domain, salt): visible as
    # a hashpartitioning exchange on both keys in the physical plan
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
