"""H1 — the payload operator: HTML → ordered interleaved spans
(kind, text, media_ref, offset), per BASELINE.json input_hint.

Replaces the reference's per-URL BeautifulSoup loops
(/root/reference/worker/src/tasks.py:55-110 ``find_urls``,
/root/reference/worker/src/parsers/_pattern_parser.py:25-36) with ONE
Arrow-batched pandas UDF producing the spans array; every downstream
view (links, pagination, product candidates) is a native Spark
``explode``/``filter`` over the array — no further Python.

Span semantics (shared contract with the pytest oracle,
oracle/refparser.py — implemented independently on each side):
- document order; offset = 0-based span index
- text nodes (outside anchors, stripped non-empty)   → kind='text'
- <a href> → media_ref = urljoin(base, href); internal anchors that the
  reference would classify as pagination (text markers on stripped
  lowered anchor text, tasks.py:88-91, OR pagination regex on the RAW
  href, tasks.py:94-98) → kind='pagination'; all other anchors
  (including external) → kind='link'; empty-href anchors skipped
- <img src> → kind='media', media_ref = urljoin(base, src), text=null
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import Optional
from urllib.parse import urljoin, urlparse

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from webcrawlerfull_spark import config as C
from webcrawlerfull_spark import schemas
from webcrawlerfull_spark.html_tokens import tokenize
from webcrawlerfull_spark.synthgen import World

_PAG_RES = [re.compile(p) for p in C.PAGINATION_PATTERNS]
_PAG_MARKERS = tuple(C.PAGINATION_TEXT_MARKERS)


def _classify_anchor(text: str, href: str) -> bool:
    t = (text or "").strip().lower()
    if any(m in t for m in _PAG_MARKERS):
        return True
    return any(r.search(href or "") for r in _PAG_RES)


def _netloc_of(absolute: str) -> str:
    """netloc of an absolute http(s) URL — string-slice equivalent of
    urlparse().netloc (pytest span-equality vs the urlparse-based oracle
    covers the equivalence over the corpus)."""
    k = absolute.find("://") + 3
    end = len(absolute)
    for stop in ("/", "?", "#"):
        e = absolute.find(stop, k)
        if 0 <= e < end:
            end = e
    return absolute[k:end]


def _make_joiner(base_url: str):
    """(href) -> (absolute_url, netloc) with string fast paths for the
    two href shapes that dominate crawled HTML (root-relative and
    absolute http(s)); everything else falls back to stdlib urljoin.
    urljoin+urlparse per anchor was the hot path's top cost after the
    regex tokenizer landed (~45 anchors/page x 10^6 pages/round)."""
    i = base_url.find("://")
    if i < 0:
        return lambda h: (urljoin(base_url, h), urlparse(urljoin(base_url, h)).netloc)
    j = base_url.find("/", i + 3)
    root = base_url if j < 0 else base_url[:j]
    root_netloc = root[i + 3 :]

    def join(href: str) -> tuple[str, str]:
        if href.startswith("/") and not href.startswith("//"):
            return root + href, root_netloc
        if href.startswith("https://") or href.startswith("http://"):
            return href, _netloc_of(href)
        full = urljoin(base_url, href)
        return full, urlparse(full).netloc

    return join


def spans_columns(
    html: str, base_url: str, domain_netloc: str
) -> tuple[list, list, list]:
    """One document → three parallel primitive lists (kind, text,
    media_ref) in document order. The columnar shape exists because
    primitive string lists cross the Arrow boundary ~an order of
    magnitude faster than list-of-dict structs; the struct zip + offset
    numbering happen JVM-side (fetch_and_parse)."""
    kinds: list = []
    texts: list = []
    refs: list = []
    join = _make_joiner(base_url)
    for ev in tokenize(html):
        if ev[0] == "text":
            chunk = ev[1].strip()
            if not chunk:
                continue
            kinds.append("text")
            texts.append(chunk)
            refs.append(None)
        elif ev[0] == "anchor":
            href, text = ev[1], ev[2]
            if not href:
                continue
            full, netloc = join(href)
            internal = (not netloc) or netloc == domain_netloc
            kinds.append(
                "pagination" if internal and _classify_anchor(text, href) else "link"
            )
            texts.append(text.strip())
            refs.append(full)
        else:  # media
            kinds.append("media")
            texts.append(None)
            refs.append(join(ev[1])[0])
    return kinds, texts, refs


def spans_of(html: str, base_url: str, domain_netloc: str) -> list[dict]:
    """One document → its spans list (engine implementation)."""
    kinds, texts, refs = spans_columns(html, base_url, domain_netloc)
    return [
        {"kind": k, "text": t, "media_ref": r, "offset": i}
        for i, (k, t, r) in enumerate(zip(kinds, texts, refs))
    ]


@pandas_udf(ArrayType(schemas.SPAN))
def parse_spans_udf(
    html: pd.Series, base_url: pd.Series, domain_netloc: pd.Series
) -> pd.Series:
    """Arrow-batched scalar UDF: html → array<struct<kind,text,media_ref,offset>>."""
    return pd.Series(
        [
            spans_of(h, b, d) if isinstance(h, str) else None
            for h, b, d in zip(html, base_url, domain_netloc)
        ]
    )


def fetch_and_parse(frontier: DataFrame, world: World) -> DataFrame:
    """S1/S2+H1 — the fetch+parse stage over a scheduled frontier slice.

    ``mapInArrow`` so fetch (deterministic synthetic, synthgen.World —
    replaces aiohttp, fetcher.py:227-269) and parse happen in one pass
    with no HTML ever shuffled. Input must carry
    (url, host, domain, depth, priority, discovery_seq, queue_pos); they
    pass straight through so no re-join is needed. Failed fetches keep
    the row with status='failed' and null spans (the reference marks
    them visited but parses nothing, tasks.py:600-602).

    The output is the stored documents layout: the interleaved spans
    stay as three primitive arrays (kinds, texts, refs) — parquet's
    layout for array<struct> is the same shredded columns, but the JVM
    skips building one struct per span before the write — plus the slim
    ``link_spans``. ``spans_view()`` reconstructs the input_hint shape.

    ``host`` carries the crawl's domain_netloc (the SEED's netloc,
    tasks.py:407) — the reference classifies internal links against it,
    not against each page's own host.
    """
    cols = ["url", "host", "domain", "depth", "priority", "discovery_seq", "queue_pos"]
    inp = frontier.select(*cols)
    raw_cols = cols + [
        "status", "doc_id", "kinds", "texts", "refs", "_lk", "_lr", "_lo",
    ]
    raw_schema = StructType(
        [inp.schema[c] for c in cols]
        + [
            StructField("status", StringType()),
            StructField("doc_id", StringType()),
            StructField("kinds", ArrayType(StringType())),
            StructField("texts", ArrayType(StringType())),
            StructField("refs", ArrayType(StringType())),
            StructField("_lk", ArrayType(StringType())),
            StructField("_lr", ArrayType(StringType())),
            StructField("_lo", ArrayType(IntegerType())),
        ]
    )

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # mapInArrow, not mapInPandas: the heavy outputs are list<string>
        # columns, and building them as pa.array from the kernel's lists
        # skips the pandas object-dtype round trip (measurably cheaper).
        # The slim link subset (kind/ref/offset of anchors only, ~1/3 of
        # spans and ~1/20 of the bytes) is pre-extracted here so the JVM
        # never builds per-span structs on the hot path.
        str_list = pa.list_(pa.string())
        int_list = pa.list_(pa.int32())
        for batch in batches:
            urls = batch.column("url").to_pylist()
            hosts = batch.column("host").to_pylist()
            kinds_c: list[Optional[list]] = []
            texts_c: list[Optional[list]] = []
            refs_c: list[Optional[list]] = []
            lk_c: list[Optional[list]] = []
            lr_c: list[Optional[list]] = []
            lo_c: list[Optional[list]] = []
            status: list[str] = []
            for url, host in zip(urls, hosts):
                html = world.fetch(url)
                if html is None:
                    status.append("failed")
                    kinds_c.append(None)
                    texts_c.append(None)
                    refs_c.append(None)
                    lk_c.append(None)
                    lr_c.append(None)
                    lo_c.append(None)
                else:
                    status.append("ok")
                    k, t, r = spans_columns(html, url, host)
                    kinds_c.append(k)
                    texts_c.append(t)
                    refs_c.append(r)
                    lk, lr, lo = [], [], []
                    for i, kind in enumerate(k):
                        if kind != "text" and kind != "media":
                            lk.append(kind)
                            lr.append(r[i])
                            lo.append(i)
                    lk_c.append(lk)
                    lr_c.append(lr)
                    lo_c.append(lo)
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in cols]
                + [
                    pa.array(status, pa.string()),
                    batch.column("url"),  # doc_id
                    pa.array(kinds_c, str_list),
                    pa.array(texts_c, str_list),
                    pa.array(refs_c, str_list),
                    pa.array(lk_c, str_list),
                    pa.array(lr_c, str_list),
                    pa.array(lo_c, int_list),
                ],
                raw_cols,
            )

    raw = inp.mapInArrow(gen, schema=raw_schema)
    link_spans = F.when(
        F.col("status") == "ok",
        F.transform(
            F.arrays_zip(F.col("_lk"), F.col("_lr"), F.col("_lo")),
            lambda z: F.struct(
                z["_lk"].alias("kind"),
                z["_lr"].alias("media_ref"),
                z["_lo"].alias("offset"),
            ),
        ),
    )
    return raw.withColumn("link_spans", link_spans).drop("_lk", "_lr", "_lo")


def spans_view(documents: DataFrame) -> DataFrame:
    """(… kinds, texts, refs …) -> the input_hint ``spans`` column
    (array<struct<kind,text,media_ref,offset>>), dropping the primitives.
    Pure column expressions — applied lazily over the stored layout."""
    zipped = F.zip_with(
        F.arrays_zip(F.col("kinds"), F.col("texts"), F.col("refs")),
        F.sequence(F.lit(0), F.size("kinds") - 1),
        lambda z, i: F.struct(
            z["kinds"].alias("kind"),
            z["texts"].alias("text"),
            z["refs"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    spans = F.when(
        (F.col("status") == "ok") & (F.size("kinds") > 0), zipped
    ).otherwise(
        F.when(F.col("status") == "ok", F.array().cast(ArrayType(schemas.SPAN)))
    )
    return documents.withColumn("spans", spans).drop("kinds", "texts", "refs")


# ---- native views over the spans table (zero Python from here on) --------

def links_view(documents: DataFrame, doc_cols: list[str] | None = None) -> DataFrame:
    """Explode link/pagination spans → one row per anchor, document order
    preserved via (doc, offset)."""
    doc_cols = doc_cols or ["doc_id"]
    return (
        documents.select(*doc_cols, F.explode("spans").alias("span"))
        .where(F.col("span.kind").isin("link", "pagination"))
        .select(
            *doc_cols,
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("anchor_text"),
            F.col("span.media_ref").alias("link_url"),
            F.col("span.offset").alias("offset"),
        )
    )
