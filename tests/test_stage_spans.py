"""The crawl's per-stage timing comes from perfbench's layer spans
(``perfbench/run.py --trace 1``), which wrap the engine functions the
driver calls. A driver refactor that bypasses one of them silently
drops its layer from the trace; this test pins every layer a budgeted
crawl with doc-dedup reports."""

from __future__ import annotations

from perfbench.trace import Tracer, instrument
from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming.driver import crawl
from webcrawlerfull_spark.synthgen import World


def test_budgeted_crawl_reports_every_stage_span(spark, tmp_path):
    world = World(seed=42, n_hosts=3, base_pages=40)
    cfg = CrawlConfig(
        max_depth=3, politeness_budget=3, use_bloom=True, bloom_buckets=4,
        bloom_capacity_per_bucket=1000, doc_dedup=True, dedup_k=16,
        dedup_bands=4, shuffle_partitions=4,
    )
    tracer = Tracer()
    with instrument(tracer):
        res = crawl(spark, world.seeds(), cfg, world,
                    Catalog(spark, str(tmp_path)), max_rounds=2)
    assert res.rounds_run == 2
    layers = {s.layer for s in tracer.spans}
    for layer in ("schedule", "bloom", "parse_spans", "textdedup", "cascade",
                  "attribution", "frontier", "delta_frontier"):
        assert layer in layers, layer
    names = [(s.layer, s.name) for s in tracer.spans]
    # the signature kernel runs inside the round's one doc-dedup write
    assert names.count(("textdedup", "doc_dedup_state")) == 2
    assert names.count(("delta_frontier", "backlog_and_bands")) == 2
    # one commit marker per round
    assert sum(s.name.endswith(":lineage") for s in tracer.spans) == 2
