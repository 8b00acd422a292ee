"""Generate PLANS.md — formatted physical plans of the engine's hot
operators with scale annotations (the ".explain and iterate" evidence).

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from webcrawlerfull_spark.config import CrawlConfig  # noqa: E402
from webcrawlerfull_spark.operators.cascade import run_cascade  # noqa: E402
from webcrawlerfull_spark.operators.frontier import (  # noqa: E402
    build_next_frontier,
    seed_frontier,
)
from webcrawlerfull_spark.operators.parse_spans import fetch_and_parse  # noqa: E402
from webcrawlerfull_spark.plans.round import politeness_schedule  # noqa: E402
from webcrawlerfull_spark.session import get_spark  # noqa: E402
from webcrawlerfull_spark.synthgen import World  # noqa: E402
from webcrawlerfull_spark import schemas  # noqa: E402

SF = "/root/testdata/sf0.01"


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="dump-plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    world = World(seed=42, n_hosts=4, base_pages=40)
    frontier = seed_frontier(spark, world.seeds())
    pages = fetch_and_parse(frontier, world)
    mentions, page_stats, _arrays = run_cascade(pages)
    seen = spark.createDataFrame([], schema=schemas.SEEN_EXACT)
    nf = build_next_frontier(pages, frontier, seen, 3, 0)
    sched, _ = politeness_schedule(frontier, budget=5, salt_partitions=8)

    # the crawl driver's per-round doc-dedup write (stage 2b): delta over
    # the signature kernel's frame vs a one-round prior state
    from webcrawlerfull_spark.operators.textdedup import (
        dedup_signatures,
        incremental_dedup_delta,
    )

    ok_docs = pages.where(F.col("status") == "ok").select(
        "doc_id", F.concat_ws(" ", "texts").alias("_text")
    )
    dd_sigs = dedup_signatures(
        ok_docs, "doc_id", "_text", 16, 4, family="fast", kernel=True
    )
    dd_state = spark.createDataFrame(
        [("fp", "", "", "x" * 32, -1, ""), ("band", "", "", "", 0, "y" * 32)],
        "kind string, doc_id string, status string, fp string, "
        "band_id int, band_hash string",
    )
    dd_delta = incremental_dedup_delta(
        ok_docs, dd_state, id_col="doc_id", text_col="_text", k=16, bands=4,
        sigs=dd_sigs, family="fast",
    )

    sections = [
        (
            "cascade → mentions (per-page semantics, zero shuffle until explode)",
            mentions,
            "Expect: mapInArrow (fetch+parse) → ONE Project with the array "
            "expressions → Generate (explode). No Exchange before the explode: "
            "per-page cascade/seqgen never shuffles.",
        ),
        (
            "next frontier (J2 + O3)",
            nf,
            "Expect: narrow link arrays → Generate → ONE hash aggregate "
            "(cross-page keep-first) → anti-join vs seen → the salted "
            "two-phase cap: WindowGroupLimit per (domain, salt) for the "
            "partial top-500, then WindowGroupLimit per domain over the "
            "bounded survivors — no task ever sorts a hot domain alone.",
        ),
        (
            "politeness schedule (salted two-phase top-k)",
            sched,
            "Expect: two window stages; phase 1 partitions by (host, salt) so "
            "a hot host's sort is spread; phase 2 ranks the reduced set.",
        ),
        (
            "crawl doc-dedup round delta (stage 2b, one write per round)",
            dd_delta,
            "Expect: one signature node, one chain — a single MapInPandas "
            "(the signature kernel, the plan's only read of the round's "
            "text) feeds a window on _fp, the left join on the state "
            "fingerprints, a Generate of slim band rows, the left join on "
            "the state bands, one aggregate per doc and one Generate of "
            "the output rows; the only Union adds the meta row. No "
            "InMemoryTableScan: nothing is cached. Prior rounds contribute "
            "only fixed-width hash keys (fp md5 / band md5). The "
            "state-side joins show as "
            "static SortMergeJoin only because this demo's state is an "
            "ExistingRDD with unknown stats; under AdaptiveSparkPlan (and "
            "in the driver, where the state is a size-known parquet read) "
            "AQE converts the small side to broadcast at runtime.",
        ),
        (
            "operator query: p5_product_match at sf0.01",
            entrymod.queries()["p5_product_match"](spark, SF),
            "Expect: parquet scan with ReadSchema pruned to p_partkey only; "
            "regex filter inside WholeStageCodegen; hash aggregate for the "
            "distinct.",
        ),
        (
            "operator query: ann_cosine_topk at sf0.01",
            entrymod.queries()["ann_cosine_topk"](spark, SF),
            "Expect: single scan of embeddings, aggregate expressions for the "
            "dot products (no UDF), TakeOrderedAndProject for the top-k (no "
            "full sort).",
        ),
        (
            "operator query: ann_lsh_topk (persisted index, multi-probe)",
            entrymod.queries()["ann_lsh_topk"](spark, SF),
            "Expect: parquet scan of the signature-partitioned index with "
            "PartitionFilters on sig (only the 9 probe buckets are read), "
            "then exact cosine + TakeOrderedAndProject.",
        ),
        (
            "dedup: minhash_candidate_pairs at sf0.01 (K=64, capped buckets)",
            entrymod.queries()["dedup_minhash_lsh_pairs"](spark, SF),
            "Expect: ONE aggregate fold computes the 64-hash signature per "
            "doc (no 64 separate array passes); the self-join is on "
            "(band_id, band_hash) — a hash join on band keys, never a "
            "cartesian; the bucket-size gate is a groupBy join before the "
            "pair join.",
        ),
    ]

    out = [
        "# PLANS — physical-plan evidence for the hot operators\n",
        "Generated by `python tools/dump_plans.py` (Spark "
        f"{spark.version}, local mode).\n",
    ]
    for title, df, note in sections:
        out.append(f"\n## {title}\n\n{note}\n\n```\n{fmt(df)}```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
