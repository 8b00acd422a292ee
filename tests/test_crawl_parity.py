"""§5.2 — crawl-order + URL-seen equality: Spark engine vs the golden
single-process oracle crawler, over the same synthetic world and seed
list (the north-rule invariant), plus §5.4 resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.operators.aggregates import parser_stats
from webcrawlerfull_spark.oracle import refcrawler
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming.driver import crawl
from webcrawlerfull_spark.synthgen import World

MAX_DEPTH = 3


@pytest.fixture(scope="module")
def small_world():
    return World(seed=42, n_hosts=6, base_pages=40)


@pytest.fixture(scope="module")
def oracle_result(small_world):
    return refcrawler.crawl(small_world, small_world.seeds(), MAX_DEPTH)


@pytest.fixture(scope="module")
def engine_result(spark, small_world, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("crawl_cat")))
    cfg = CrawlConfig(max_depth=MAX_DEPTH, politeness_budget=None, shuffle_partitions=8)
    res = crawl(spark, small_world.seeds(), cfg, small_world, cat)
    return res, cat


def _engine_schedule(engine_result):
    """(domain, round, queue_pos, url) of every scheduled fetch."""
    res, cat = engine_result
    rows = []
    for r in cat.committed_rounds("seen"):
        frontier = cat.read_round("frontier", r)
        sched = cat.read_round("seen", r).join(frontier, "url")
        rows += sched.select("domain", F.lit(r).alias("round"), "queue_pos", "url").collect()
    return rows


def test_fetch_schedule_order(engine_result, oracle_result):
    got = {}
    for row in _engine_schedule(engine_result):
        got.setdefault(row["domain"], []).append(
            (row["round"], row["queue_pos"], row["url"])
        )
    for d in got:
        got[d] = [(r, u) for r, _q, u in sorted(got[d])]
    expected = {d: res.fetch_schedule for d, res in oracle_result.items()}
    assert set(got) == {d for d, sched in expected.items() if sched}
    for d, exp in expected.items():
        assert got.get(d, []) == exp, f"schedule mismatch for {d}"


def test_seen_set(engine_result, oracle_result):
    res, _cat = engine_result
    got = {r["url"] for r in res.seen.select("url").collect()}
    expected = set().union(*(r.visited for r in oracle_result.values()))
    assert got == expected


def test_products_and_attribution(engine_result, oracle_result):
    res, _ = engine_result
    got_products = {}
    got_attr = {}
    for r in res.products.collect():
        got_products.setdefault(r["domain"], set()).add(r["url"])
        got_attr[r["url"]] = r["parser"]
    for d, o in oracle_result.items():
        assert got_products.get(d, set()) == o.products, f"product set mismatch {d}"
        for url, parser in o.first_found_by.items():
            assert got_attr.get(url) == parser, (
                f"attribution mismatch {url}: {got_attr.get(url)} != {parser}"
            )
    # attribution only exists for product urls
    all_attr = set().union(*(o.first_found_by for o in oracle_result.values()))
    assert set(got_attr) == all_attr


def test_parser_stats(engine_result, oracle_result, spark):
    res, cat = engine_result
    page_stats = cat.read_all("page_stats")
    stats_df = parser_stats(page_stats, res.products)
    got = {
        r["parser"]: (r["total"], r["unique"], r["domains"])
        for r in stats_df.collect()
    }
    exp_agg = refcrawler.aggregate_stats(oracle_result)["parser_stats"]
    for parser, s in exp_agg.items():
        assert got[parser] == (s["total"], s["unique"], s["domains"]), (
            f"stats mismatch for {parser}: {got[parser]} vs {s}"
        )


def test_lineage_counts(engine_result, oracle_result):
    res, _ = engine_result
    rows = {r["round"]: r for r in res.lineage.collect()}
    exp_per_round = {}
    for o in oracle_result.values():
        for depth, _url in o.fetch_schedule:
            exp_per_round[depth] = exp_per_round.get(depth, 0) + 1
    for rnd, n in exp_per_round.items():
        assert rows[rnd]["fetched"] == n


def test_resume_no_refetch(spark, small_world, tmp_path_factory, oracle_result):
    """Kill after round 1, restart, assert zero re-fetches and identical
    final products/seen (north-rule resumability)."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("resume_cat")))
    cfg = CrawlConfig(max_depth=MAX_DEPTH, politeness_budget=None, shuffle_partitions=8)
    seeds = small_world.seeds()
    r1 = crawl(spark, seeds, cfg, small_world, cat, max_rounds=1)
    assert r1.rounds_run == 1
    r2 = crawl(spark, seeds, cfg, small_world, cat)  # resume
    assert r2.rounds_run == MAX_DEPTH - 1

    sched = r2.seen.groupBy("url").count().where(F.col("count") > 1).collect()
    assert not sched, f"re-fetched urls: {sched}"

    got_seen = {r["url"] for r in r2.seen.select("url").collect()}
    expected = set().union(*(o.visited for o in oracle_result.values()))
    assert got_seen == expected
    got_products = {(r["domain"], r["url"]) for r in r2.products.collect()}
    exp_products = {
        (d, u) for d, o in oracle_result.items() for u in o.products
    }
    assert got_products == exp_products


def test_budgeted_crawl_matches_reference_sets(
    spark, small_world, tmp_path_factory, oracle_result
):
    """A budgeted crawl (the delta-frontier layout, budget 3) drains to
    the reference crawler's visited set and product set, and never
    schedules a URL twice. Fetch order differs from the reference BFS;
    the sets do not, as long as the per-domain frontier cap never binds
    on this world."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("budget_cat")))
    cfg = CrawlConfig(
        max_depth=MAX_DEPTH, politeness_budget=3, shuffle_partitions=8
    )
    res = crawl(spark, small_world.seeds(), cfg, small_world, cat)
    seen = [r["url"] for r in res.seen.select("url").collect()]
    assert len(seen) == len(set(seen)), "a URL was scheduled twice"
    assert set(seen) == set().union(*(o.visited for o in oracle_result.values()))
    got_products = {(r["domain"], r["url"]) for r in res.products.collect()}
    exp_products = {
        (d, u) for d, o in oracle_result.items() for u in o.products
    }
    assert got_products == exp_products
