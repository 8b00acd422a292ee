"""Tests of the benchmark's own code (run from the repository root):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import check, metrics, stats, trace  # noqa: E402
from perfbench.trace import Span  # noqa: E402


def _span(sid, layer, start, end, parent="root", name=None):
    return Span(sid, layer, name or layer, parent, 0, start, end)


# ---------------------------------------------------------------------------
# interval union / self time
# ---------------------------------------------------------------------------


def test_union_length_merges_overlaps_and_gaps():
    assert trace.union_length([]) == 0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.union_length([(1, 3), (0, 10), (2, 4)]) == 10
    assert trace.union_length([(0, 1), (1, 2)]) == 2


def _round_with_chains():
    """One crawl round: schedule, the bloom writer on its own thread
    overlapping fetch, then the products chain (cascade -> attribution)
    and the frontier chain in parallel, then the commit marker."""
    root = _span("root", "driver", 0.0, 10.0, parent=None, name="crawl")
    kids = [
        _span("s", "schedule", 0.0, 1.0),
        _span("b", "bloom", 1.0, 4.0),            # bloom thread
        _span("p", "parse_spans", 1.2, 3.0),
        _span("c", "cascade", 3.0, 6.0),          # products chain ...
        _span("a", "attribution", 6.0, 7.0),
        _span("f", "frontier", 3.0, 8.0),         # ... || frontier chain
        _span("l", "catalog", 8.5, 8.6, name="write_round_local:lineage"),
    ]
    return root, kids


def test_driver_self_time_with_overlapped_chains_and_bloom_thread():
    root, kids = _round_with_chains()
    # children cover [0, 8] and [8.5, 8.6]: the driver's own time is the rest
    assert trace.self_time(root, kids) == pytest.approx(10 - 8.1)
    out = trace.layer_metrics([root] + kids, {}, reps=1)
    assert out["driver.self_s"] == pytest.approx(1.9)
    assert out["driver.wall_s"] == pytest.approx(10.0)
    # self time + union of the children accounts for the whole crawl wall
    union = trace.union_length((k.start, k.end) for k in kids)
    assert out["driver.self_s"] + union == pytest.approx(out["driver.wall_s"])
    # chains: 3 + 1 + 5 s of span time inside a 5 s section [3, 8]
    assert out["driver.overlap"] == pytest.approx(9 / 5)


def test_self_time_clips_children_to_the_span():
    parent = _span("x", "driver", 2.0, 4.0, parent=None)
    assert trace.self_time(parent, [_span("y", "cascade", 0.0, 3.0)]) == pytest.approx(1.0)


def test_tracer_parents_pool_thread_spans_to_the_root():
    tr = trace.Tracer()

    def pool_span(layer):
        with tr.span(layer):
            assert tr.nested()

    with tr.span("driver", "crawl", root=True):
        assert not tr.nested()
        with tr.span("schedule"):
            assert tr.nested()
        threads = [threading.Thread(target=pool_span, args=(lay,))
                   for lay in ("bloom", "cascade", "frontier")]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    by_layer = {s.layer: s for s in tr.spans}
    root = by_layer["driver"]
    assert root.parent is None
    for layer in ("schedule", "bloom", "cascade", "frontier"):
        assert by_layer[layer].parent == root.sid, layer


# ---------------------------------------------------------------------------
# percentile rule
# ---------------------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(100)]
    assert stats.percentile(xs, 90) == 89.0
    with pytest.raises(ValueError):
        stats.percentile(xs[:99], 90)
    with pytest.raises(ValueError):
        stats.percentile(xs[:19], 50)
    assert stats.percentile(xs[:20], 50) == 9.0


def test_highest_supported_percentile():
    assert stats.highest_supported([1.0] * 30)[0] == 50
    assert stats.highest_supported([1.0] * 40)[0] == 75
    assert stats.highest_supported([1.0] * 1000)[0] == 99
    assert stats.highest_supported([1.0] * 9) is None


# ---------------------------------------------------------------------------
# output digests and the metric lists
# ---------------------------------------------------------------------------


def test_digest_is_order_independent_and_content_sensitive():
    a = pd.DataFrame({"u": ["x", "y", "y"], "n": [1, 2, 2], "f": [0.1, 0.2000000001, 0.2]})
    b = a.iloc[::-1][["f", "u", "n"]].reset_index(drop=True)
    assert check.digest(a) == check.digest(b)
    c = a.copy()
    c.loc[0, "n"] = 3
    assert check.digest(a)[1] != check.digest(c)[1]
    assert check.digest(a)[0] == 3


def test_oracle_agreement_tolerates_boundary_rounding_only():
    spark = pd.DataFrame({"vec_id": [0, 7, 3], "cosine_r": [1.0, 0.7031, 0.69]})
    duck = pd.DataFrame({"vec_id": [3, 0, 7], "cosine_r": [0.69, 1.0, 0.7030]})
    assert check.digest(spark) != check.digest(duck)
    assert check.agrees(spark, duck)
    other_member = duck.assign(vec_id=[4, 0, 7])
    assert not check.agrees(spark, other_member)
    assert not check.agrees(spark, duck.assign(cosine_r=[0.69, 1.0, 0.71]))
    assert not check.agrees(spark, duck.iloc[:2])


def test_benchmark_json_matches_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]]
    assert e2e == metrics.END_TO_END
    per = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert per == metrics.PER_LAYER
    assert len(per) <= 128


# ---------------------------------------------------------------------------
# event log -> per-layer aggregation, on a tiny traced crawl
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def traced_crawl(tmp_path_factory):
    from pyspark import SparkContext

    from perfbench import host, run, workloads

    if SparkContext._active_spark_context is not None:
        pytest.skip("the event log is set at JVM launch: needs its own pytest process")
    work = str(tmp_path_factory.mktemp("perfbench"))
    events = run.configure(work, traced=True)
    from webcrawlerfull_spark.session import get_spark
    from webcrawlerfull_spark.synthgen import World

    spark = get_spark(app_name="perfbench-test", master="local[2]", shuffle_partitions=2)
    tracer = trace.Tracer(sc=spark.sparkContext)
    ctx = workloads.Ctx(spark=spark, seed=1, seconds=0, cores=2, work=work,
                        cpu=lambda: host.tree_cpu_s(os.getpid()), tracer=tracer)
    world = World(seed=1, n_hosts=2, base_pages=40)
    try:
        with trace.instrument(tracer):
            with tracer.span("driver", "crawl", root=True):
                res, _ = workloads._crawl(ctx, "crawl_budgeted", world,
                                          os.path.join(work, "cat"), 2)
        lineage = [r.asDict() for r in res.lineage.collect()]
    finally:
        run.stop(spark)
    return tracer, trace.read_event_log(events), lineage


def test_event_log_aggregates_per_layer(traced_crawl):
    tracer, groups, lineage = traced_crawl
    out = trace.layer_metrics(tracer.spans, groups, reps=1)
    for layer in ("schedule", "bloom", "parse_spans", "textdedup", "cascade",
                  "attribution", "frontier", "delta_frontier", "catalog"):
        assert out[f"{layer}.wall_s"] > 0, layer
        assert out[f"{layer}.jobs"] >= 1, layer
        assert out[f"{layer}.tasks"] >= out[f"{layer}.jobs"], layer
    # documents has one row per fetched URL
    assert out["parse_spans.out_rows"] == sum(r["fetched"] for r in lineage)
    assert out["attribution.out_rows"] == sum(r["products"] for r in lineage)
    # every job is charged to exactly one layer
    total_jobs = sum(c["jobs"] for c in groups.values())
    layers = {k.split(".")[0] for k in out if k.endswith(".jobs")}
    assert sum(out[f"{lay}.jobs"] for lay in layers) == total_jobs
    children = [s for s in tracer.spans if s.parent is not None]
    union = trace.union_length((s.start, s.end) for s in children)
    assert out["driver.self_s"] + union == pytest.approx(out["driver.wall_s"])
