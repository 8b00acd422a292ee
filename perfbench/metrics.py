"""The benchmark's metric names, units and directions (BENCHMARK.json
lists the same; ``perfbench/tests/test_perfbench.py`` keeps the two in step).

End-to-end metrics are defined on every workload:

- ``wall_s``: a crawl's time from seeds to its last commit marker, or
  one pass of the query mix (median over the run's crawls / passes).
- ``throughput_per_s``: fetched URLs per crawl second (crawls), query
  completions per second (query mix, one closed-loop client).
- ``op_latency_s``: median per-round commit latency (lineage
  ``wall_ms``) for crawls; for the mix, the geometric mean over its
  queries of each query's median latency (the plain median over a
  nine-query mix jumps between whichever queries sit near the middle).
- ``cpu_s``: user+sys CPU of the process tree per crawl / pass.
- ``peak_rss_mb``: peak resident memory (PSS) of the process tree.
- ``disk_mb``: the crawl catalog (crawls) or the LSH index (query mix)
  on disk at the end.
- ``setup_s``: session start + warm-up + input preparation.
"""

from __future__ import annotations

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("op_latency_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("disk_mb", "MB", "lower"),
]

CRAWL_LAYERS = [
    "schedule", "bloom", "parse_spans", "textdedup", "cascade",
    "attribution", "frontier", "delta_frontier", "catalog", "driver",
]
LAYER_STATS = [
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("task_cpu_s", "s", "lower"),
    ("task_wait_s", "s", "lower"),
    ("shuffle_mb", "MB", "lower"),
    ("out_rows", "count", "lower"),
    ("out_mb", "MB", "lower"),
]
QUERY_LAYERS = [
    "p1_normalize_url", "p5_product_match", "o3_frontier_topk",
    "j7_first_touch", "g1_seqgen", "doc_fingerprint_dedup",
    "events_tumbling_agg", "ann_index_build", "ann_lsh_topk",
]
RATIOS = [
    ("driver.self_s", "s", "lower"),
    ("driver.overlap", "ratio", "higher"),
    ("schedule.yield", "ratio", "higher"),
    ("parse_spans.ok_ratio", "ratio", "higher"),
    ("parse_spans.cpu_vs_kernel", "ratio", "lower"),
    ("textdedup.kept_ratio", "ratio", "higher"),
    ("frontier.new_per_fetched", "ratio", "higher"),
    ("spark.failed_tasks", "count", "lower"),
    ("kernel.pages_per_s", "1/s", "higher"),
    ("trace.wall_s", "s", "lower"),
]

PER_LAYER = (
    [(f"{layer}.{s}", u, b) for layer in CRAWL_LAYERS for s, u, b in LAYER_STATS]
    + RATIOS
    + [
        (f"q.{q}.{s}", u, b)
        for q in QUERY_LAYERS
        for s, u, b in (("wall_s", "s", "lower"), ("task_cpu_s", "s", "lower"))
    ]
)
