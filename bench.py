"""Benchmark entry point (driver contract: ONE JSON line on stdout).

Two parts:
1. flagship crawl — the synthetic-frontier crawl (fetch+parse+dedup+
   frontier rounds) at a bench-sized world; headline = URLs fetched+parsed
   per second (BASELINE.json metric)
2. headline operator queries at $SPARK_GRAFT_SF_DIR (default sf0.1)

Env:
  SPARK_GRAFT_CPUS     cores (default 32) -> master local[N]
  SPARK_GRAFT_SF_DIR   parquet dir for the operator queries
  BENCH_HOSTS          synthetic world size (default 40 hosts)

Scaling-efficiency protocol (BASELINE.md): run this same file at
SPARK_GRAFT_CPUS=8 and =32 on the same input, in separate JVMs, and
compare the crawl URLs/s: efficiency = (T8 / T32) / 4.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from webcrawlerfull_spark.config import CrawlConfig  # noqa: E402
from webcrawlerfull_spark.session import get_spark  # noqa: E402
from webcrawlerfull_spark.sources.catalog import Catalog  # noqa: E402
from webcrawlerfull_spark.streaming.driver import crawl  # noqa: E402
from webcrawlerfull_spark.synthgen import World  # noqa: E402

BENCH_QUERIES = [
    "p1_normalize_url",
    "p5_product_match",
    "o3_frontier_topk",
    "j7_first_touch",
    "g1_seqgen",
    "doc_fingerprint_dedup",
    "events_tumbling_agg",
    "ann_lsh_topk",
]


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_hosts = int(os.environ.get("BENCH_HOSTS", "600"))
    sf_label = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    spark = get_spark(
        app_name="wcf-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    # ---- flagship crawl ----------------------------------------------------
    world = World(
        seed=7,
        n_hosts=n_hosts,
        base_pages=20000,
        cat_min=8,
        cat_span=4,
        per_page_min=30,
        per_page_span=20,
        max_pag=6,
        fail_rate=0.01,
    )
    timings: dict[str, float] = {}
    # warm-up: a tiny untimed crawl first, so the headline throughput
    # measures the engine, not one-time JVM codegen + Python-worker
    # spawn + first-parquet-commit costs (~4-6 s on this host). Reported
    # separately as warmup_wall for transparency.
    t0 = time.monotonic()
    warm_world = World(seed=3, n_hosts=3, base_pages=30)
    with tempfile.TemporaryDirectory() as tmp:
        wcat = Catalog(spark, os.path.join(tmp, "wcat"))
        crawl(
            spark,
            warm_world.seeds(),
            CrawlConfig(max_depth=2, shuffle_partitions=cpus),
            warm_world,
            wcat,
        )
    warmup_wall = round(time.monotonic() - t0, 3)
    # min-of-k (VERDICT r5 item 7): the 32-core crawl key swings 2-3x
    # between identical-binary runs on this host (BENCH §7.6), so one
    # sample per round made BENCH_rN deltas meaningless for this key.
    # The min is the least-contended sample — the measurement closest to
    # the engine's cost; the full list is reported for spread.
    crawl_reps = int(os.environ.get("WCF_BENCH_CRAWL_REPS", "3"))
    crawl_runs: list[float] = []
    for rep in range(max(1, crawl_reps)):
        with tempfile.TemporaryDirectory() as tmp:
            cat = Catalog(spark, os.path.join(tmp, "cat"))
            cfg = CrawlConfig(
                max_depth=3, politeness_budget=None, shuffle_partitions=cpus
            )
            t0 = time.monotonic()
            res = crawl(spark, world.seeds(), cfg, world, cat)
            wall = round(time.monotonic() - t0, 3)
            crawl_runs.append(wall)
            if wall == min(crawl_runs):
                crawl_wall = wall
                fetched = res.lineage.agg(F.sum("fetched")).collect()[0][0] or 0
                products = res.products.count()
                round_walls = {
                    f"round{r['round']}": r["wall_ms"] / 1000.0
                    for r in res.lineage.select("round", "wall_ms").collect()
                }
    timings["crawl_3_rounds"] = min(crawl_runs)
    urls_per_sec = round(fetched / crawl_wall, 2) if crawl_wall else 0.0

    # ---- scale-mode crawl (opt-in: WCF_BENCH_SCALE_MODE=<budget>) --------
    # The north-rule scale path on the same world: per-host politeness
    # budget, bloom-gated seen filtering, periodic MERGE-style state
    # compaction. Reported under separate keys so the driver's headline
    # (value/queries) stays comparable across rounds. Budgeted crawls run
    # until the frontier drains, so wall time is bounded with max_rounds
    # (WCF_BENCH_SCALE_ROUNDS, default 6) rather than relying on the
    # budget being large enough to finish quickly.
    scale_extra: dict = {}
    scale_budget = os.environ.get("WCF_BENCH_SCALE_MODE")
    if scale_budget:
        scale_rounds = int(os.environ.get("WCF_BENCH_SCALE_ROUNDS", "6"))
        with tempfile.TemporaryDirectory() as tmp:
            cat2 = Catalog(spark, os.path.join(tmp, "cat2"))
            cfg2 = CrawlConfig(
                max_depth=3,
                politeness_budget=int(scale_budget),
                use_bloom=True,
                compact_every=3,
                shuffle_partitions=cpus,
            )
            t0 = time.monotonic()
            res2 = crawl(
                spark, world.seeds(), cfg2, world, cat2,
                max_rounds=scale_rounds,
            )
            wall2 = time.monotonic() - t0
            lin2 = res2.lineage.select("round", "fetched", "wall_ms").collect()
            fetched2 = sum(r["fetched"] for r in lin2)
            scale_extra = {
                "scale_crawl_wall": round(wall2, 3),
                "scale_rounds": res2.rounds_run,
                "scale_fetched": int(fetched2),
                "scale_urls_per_sec": round(fetched2 / wall2, 2) if wall2 else 0.0,
                "scale_budget": int(scale_budget),
                # per-round walls + sizes: the Amdahl evidence — the
                # fixed (core-count-independent) share per round is
                # derived by comparing these at two parallelism levels
                # across budgets (round size ∝ budget)
                "scale_round_walls": {
                    f"round{r['round']}": r["wall_ms"] / 1000.0 for r in lin2
                },
                "scale_round_fetched": {
                    f"round{r['round']}": r["fetched"] for r in lin2
                },
            }

    # ---- doc-dedup crawl (opt-in: WCF_BENCH_DOC_DEDUP=1) -----------------
    # The curation-stage cost: the SAME headline crawl with cross-round
    # content dedup on (exact fp + MinHash bands vs accumulated state).
    # Separate keys; the per-round delta vs round_walls above is the
    # dedup stage's marginal cost (measured ~7 s on the 600k-doc parse
    # round at 32 cores with the persisted one-scan signature frame).
    dedup_extra: dict = {}
    if os.environ.get("WCF_BENCH_DOC_DEDUP"):
        with tempfile.TemporaryDirectory() as tmp:
            cat3 = Catalog(spark, os.path.join(tmp, "cat3"))
            cfg3 = CrawlConfig(
                max_depth=3, politeness_budget=None, shuffle_partitions=cpus,
                doc_dedup=True,
            )
            t0 = time.monotonic()
            res3 = crawl(spark, world.seeds(), cfg3, world, cat3)
            wall3 = time.monotonic() - t0
            lin3 = res3.lineage.select(
                "round", "fetched", "docs_deduped", "wall_ms"
            ).collect()
            dedup_extra = {
                "dedup_crawl_wall": round(wall3, 3),
                "dedup_docs_deduped": int(sum(r["docs_deduped"] for r in lin3)),
                "dedup_round_walls": {
                    f"round{r['round']}": r["wall_ms"] / 1000.0 for r in lin3
                },
            }

    # ---- operator queries ----------------------------------------------------
    qs = entrymod.queries()
    for name in BENCH_QUERIES:
        if name == "ann_lsh_topk":
            # build and probe timed SEPARATELY (BENCH protocol note in
            # BENCH/BASELINE.md): ann_index_build is the one-time
            # repartition-by-sig shuffle + partitioned write, amortized
            # over every later query; ann_lsh_topk is PROBE-ONLY from
            # round 5 on (r3/r4 values for this key timed build+probe)
            t0 = time.monotonic()
            idx_path = entrymod.ann_index_build(spark, sf_dir)
            timings["ann_index_build"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            n = entrymod.ann_probe(spark, sf_dir, idx_path).count()
            timings[name] = round(time.monotonic() - t0, 3)
            assert n >= 0
            continue
        t0 = time.monotonic()
        n = qs[name](spark, sf_dir).count()
        timings[name] = round(time.monotonic() - t0, 3)
        assert n >= 0

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "crawl+operator wall clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label,
                "urls_fetched_parsed_per_sec": urls_per_sec,
                "crawl_fetched": int(fetched),
                "crawl_runs": crawl_runs,
                "round_walls": round_walls,
                "crawl_products": int(products),
                "cpus": cpus,
                "warmup_wall": warmup_wall,
                **scale_extra,
                **dedup_extra,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
