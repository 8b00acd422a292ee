"""Control-plane API (E1/E2/E3 equivalents) + S9/S10/S12."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from webcrawlerfull_spark import api
from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming.driver import crawl
from webcrawlerfull_spark.synthgen import World


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    world = World(seed=42, n_hosts=3, base_pages=40)
    path = str(tmp_path_factory.mktemp("api_cat"))
    res = api.crawl_domains(
        spark, world.seeds(), max_depth=2, catalog_path=path,
        world=world, task_id="t-api", shuffle_partitions=8,
    )
    return world, path, res


def test_task_status_success(spark, crawled):
    _world, path, _res = crawled
    st = api.task_status(spark, path, "t-api")
    assert st["state"] == "SUCCESS"
    assert st["fetched"] > 0


def test_task_status_budgeted_progress_then_success(spark, tmp_path):
    """A budgeted crawl writes no frontier table: its status comes from
    the per-host queue, PROGRESS while rows are pending, SUCCESS once
    it has drained."""
    world = World(seed=42, n_hosts=3, base_pages=40)
    path = str(tmp_path / "budgeted")
    cfg = CrawlConfig(
        max_depth=2, task_id="t-bud", politeness_budget=3,
        shuffle_partitions=8,
    )
    crawl(spark, world.seeds(), cfg, world, Catalog(spark, path), max_rounds=2)
    st = api.task_status(spark, path, "t-bud")
    assert st["state"] == "PROGRESS" and st["round"] == 1
    res = api.crawl_domains(
        spark, world.seeds(), max_depth=2, catalog_path=path, world=world,
        task_id="t-bud", politeness_budget=3, shuffle_partitions=8,
    )
    assert res.rounds_run > 0
    assert api.task_status(spark, path, "t-bud")["state"] == "SUCCESS"


def test_get_urls(spark, crawled):
    world, path, res = crawled
    domain = world.seeds()[0]
    urls = api.get_urls(spark, path, "t-api", domain)
    got = {r["url"] for r in urls.collect()}
    expected = {
        r["url"] for r in res.products.where(F.col("domain") == domain).collect()
    }
    assert got == expected and got


def test_json_csv_sinks(spark, crawled, tmp_path):
    _world, path, res = crawled
    api.save_json(res.products, str(tmp_path / "j"))
    api.save_csv(res.products.select("task_id", "domain", "url"), str(tmp_path / "c"))
    assert spark.read.json(str(tmp_path / "j")).count() == res.products.count()
    assert (
        spark.read.option("header", True).csv(str(tmp_path / "c")).count()
        == res.products.count()
    )


def _psl_reference_key(host):
    """Independent Python implementation of the publicsuffix.org
    algorithm over the SAME vendored rule tables, with tldextract's
    output formatting — the parity oracle for the column expression."""
    from webcrawlerfull_spark import psl

    labels = host.lower().split(".")
    ps_len = None
    for e in psl.EXCEPTIONS:  # exception rules win
        el = e.split(".")
        if labels[-len(el):] == el:
            ps_len = len(el) - 1
            break
    if ps_len is None:
        best = 1  # implicit '*' rule: the last label
        for w in psl.WILDCARD_PARENTS:
            wl = ["*"] + w.split(".")
            if len(labels) >= len(wl) and labels[-(len(wl) - 1):] == wl[1:]:
                best = max(best, len(wl))
        for s in psl.EXACT_SUFFIXES:
            sl = s.split(".")
            if labels[-len(sl):] == sl:
                best = max(best, len(sl))
        ps_len = best
    if len(labels) == 1 and ps_len == 1:
        # single unlisted label: tldextract yields suffix='', domain=host
        return f"{labels[0]}.".replace(".", "_")
    suffix = ".".join(labels[-ps_len:])
    domain = labels[-(ps_len + 1)] if len(labels) > ps_len else ""
    return f"{domain}.{suffix}".replace(".", "_")


def test_simplify_domain(spark):
    cases = {
        "https://shop.example.co.uk/x": "example_co_uk",
        "https://www.store.example.com/y?a=1": "example_com",
        "https://foo.bar.com.au": "bar_com_au",
        "https://single.io/": "single_io",
        # wildcard *.ck: any one label under ck is itself a suffix
        "https://shop.foo.b.ck/": "foo_b_ck",
        "https://a.b.ck/": "a_b_ck",
        "https://b.ck/": "_b_ck",
        # exception !www.ck carves www.ck out of the wildcard
        "https://www.ck/": "www_ck",
        "https://store.www.ck/": "www_ck",
        # jp designated-city wildcards + city.* exceptions
        "https://shop.foo.kawasaki.jp/": "shop_foo_kawasaki_jp",
        "https://foo.kawasaki.jp/": "_foo_kawasaki_jp",
        "https://city.kawasaki.jp/": "city_kawasaki_jp",
        "https://sub.city.kawasaki.jp/": "city_kawasaki_jp",
        "https://kawasaki.jp/": "kawasaki_jp",
        # jp prefecture-level exact rule
        "https://shop.example.aichi.jp/": "example_aichi_jp",
        # private-section suffix: NOT public under tldextract's default
        "https://foo.github.io/": "github_io",
        # host IS a public suffix
        "https://co.uk/": "_co_uk",
        # single unlisted label
        "https://localhost/": "localhost_",
        # deep subdomain chains
        "https://a.b.c.example.gob.mx/": "example_gob_mx",
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"]).withColumn(
        "key", api.simplify_domain(F.col("url"))
    )
    got = {r["url"]: r["key"] for r in df.collect()}
    assert got == cases
    # the independent Python PSL-algorithm oracle agrees on every case
    for url, want in cases.items():
        host = url.split("/")[2]
        assert _psl_reference_key(host) == want, host


def test_simplify_domain_fuzz_vs_python_psl(spark):
    """Generated-host fuzz: the column expression and the independent
    Python PSL-algorithm implementation agree on every host assembled
    from rule fragments (exact/wildcard/exception suffixes under random
    label stacks) — deterministic seed, ~500 distinct hosts."""
    import random

    from webcrawlerfull_spark import psl

    rng = random.Random(20260816)
    parts = ["shop", "www", "a", "b", "city", "foo", "store", "x0"]
    pool = (
        psl.EXACT_SUFFIXES[::3]
        + psl.WILDCARD_PARENTS
        + psl.EXCEPTIONS
        + ["com", "io", "dev", "ck", "jp", "uk"]
    )
    hosts = set()
    for _ in range(700):
        s = rng.choice(pool)
        stack = rng.choices(parts, k=rng.randrange(0, 3))
        if rng.random() < 0.85:
            stack.append(rng.choice(parts))
        hosts.add(".".join(stack + [s]).lower())
    hosts = sorted(hosts)
    df = spark.createDataFrame(
        [(f"https://{h}/x", h) for h in hosts], ["url", "host"]
    )
    got = {
        r["host"]: r["key"]
        for r in df.withColumn(
            "key", api.simplify_domain(F.col("url"))
        ).collect()
    }
    bad = [
        (h, got[h], _psl_reference_key(h))
        for h in hosts
        if got[h] != _psl_reference_key(h)
    ]
    assert not bad, bad[:5]
