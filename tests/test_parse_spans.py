"""§5.1 — span-sequence equality: Spark parse_spans UDF vs the vendored
reference-parser oracle, per-doc_id on (kind, text, media_ref, order).
This is the BASELINE.json input_hint invariant."""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import functions as F

from webcrawlerfull_spark.operators.parse_spans import parse_spans_udf, spans_of
from webcrawlerfull_spark.oracle import refparser as rp


def _world_pages(world, limit_per_host=25):
    """Deterministic sample of (url, html) across every host/page kind."""
    pages = []
    for seed in world.seeds():
        host = urlparse(seed).netloc
        urls = [seed, seed + "/about"]
        params = world._host_params(host)
        for j in range(params["n_categories"]):
            for n in range(1, params["pag_pages"] + 1):
                urls.append(
                    f"{seed}/category/c{j}" + (f"?page={n}" if n > 1 else "")
                )
        total = params["n_categories"] * params["pag_pages"] * params["per_page"]
        for pid in range(0, total, max(1, total // 5)):
            urls.append(seed + params["product_path"](pid))
        for u in urls[:limit_per_host]:
            if world.page_exists(u):
                pages.append((u, world.render(u)))
    return pages


def test_span_equality_vs_oracle(spark, world):
    pages = _world_pages(world)
    assert len(pages) > 100
    rows = [
        {"doc_id": u, "html": h, "base_url": u, "netloc": urlparse(u).netloc}
        for u, h in pages
    ]
    df = spark.createDataFrame(rows).withColumn(
        "spans", parse_spans_udf("html", "base_url", "netloc")
    )
    got = {
        r["doc_id"]: [s.asDict() for s in (r["spans"] or [])]
        for r in df.select("doc_id", "spans").collect()
    }
    for url, html in pages:
        expected = rp.parse_spans(html, url, urlparse(url).netloc)
        assert got[url] == expected, f"span mismatch for {url}"


def test_spans_cover_all_kinds(world):
    kinds = set()
    for url, html in _world_pages(world):
        for s in spans_of(html, url, urlparse(url).netloc):
            kinds.add(s["kind"])
    assert kinds == {"text", "link", "media", "pagination"}


def test_empty_href_skipped(world):
    html = '<a href="">broken</a><a href="/x">ok</a>'
    spans = spans_of(html, "https://h.example.com", "h.example.com")
    assert [s["media_ref"] for s in spans] == ["https://h.example.com/x"]


def test_offsets_are_dense(world):
    for url, html in _world_pages(world)[:40]:
        spans = spans_of(html, url, urlparse(url).netloc)
        assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_external_links_never_pagination(spark, world):
    html = '<a href="https://other.example.net/page/2">next page</a>'
    spans = spans_of(html, "https://h.example.com", "h.example.com")
    assert spans[0]["kind"] == "link"


def test_crawl_layout_spans_view_equals_oracle(spark, world):
    """The crawl's own fetch+parse path (the mapInArrow kernel writing
    primitive arrays + slim link_spans) must reconstruct, via
    spans_view, exactly the oracle's spans per doc, and its link_spans
    must be the oracle's anchors — also after a round-trip through
    parquet, the stored documents layout."""
    import tempfile

    from webcrawlerfull_spark.operators.parse_spans import (
        fetch_and_parse,
        spans_view,
    )

    seeds = world.seeds()[:4]
    frontier = spark.createDataFrame(
        [
            {
                "url": s,
                "host": urlparse(s).netloc,
                "domain": s,
                "depth": 0,
                "priority": 1,
                "discovery_seq": i,
                "queue_pos": i,
            }
            for i, s in enumerate(seeds)
        ]
    )
    expected = {}
    for s in seeds:
        spans = rp.parse_spans(world.fetch(s), s, urlparse(s).netloc)
        links = [
            (x["kind"], x["media_ref"], x["offset"])
            for x in spans
            if x["kind"] not in ("text", "media")
        ]
        assert links
        expected[s] = (spans, links)

    def snap(df):
        return {
            r["doc_id"]: (
                [x.asDict() for x in r["spans"]],
                [tuple(x) for x in r["link_spans"]],
            )
            for r in spans_view(df).select("doc_id", "spans", "link_spans").collect()
        }

    docs = fetch_and_parse(frontier, world)
    assert snap(docs) == expected
    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(tmp + "/docs")
        assert snap(spark.read.parquet(tmp + "/docs")) == expected
