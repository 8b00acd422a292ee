"""Training-data pipeline extras: dedup, similarity, text stats,
multimodal plumbing."""

from __future__ import annotations

import hashlib
import random
import re

import pytest
from pyspark.sql import functions as F

from webcrawlerfull_spark.functions import textstats as T
from webcrawlerfull_spark.operators import multimodal as MM
from webcrawlerfull_spark.operators import similarity as SIM
from webcrawlerfull_spark.operators import textdedup as TD


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away"),  # near-dup of 1
        (3, "completely different text about spark engines and shuffles here now"),
        (4, "el gato y el perro en la casa de los abuelos es grande"),
        (5, "THE QUICK  brown fox jumps over the lazy dog and runs away fast"),  # case/ws dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_normalizes_case_and_ws(spark, docs):
    out = TD.incremental_dedup_delta(docs, None, k=12, bands=4)
    status = {
        int(r["doc_id"]): r["status"]
        for r in out.where(F.col("kind") == "verdict").collect()
    }
    # doc 5 collapses onto doc 1; a near-dup (doc 2) is not an exact dup
    assert status == {1: "kept", 2: "kept", 3: "kept", 4: "kept", 5: "exact_dup"}


def test_minhash_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in TD.minhash_candidate_pairs(docs, k=12, bands=4).collect()
    }
    assert (1, 2) in pairs or (1, 5) in pairs
    assert (1, 3) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard_verify(spark, docs):
    cands = spark.createDataFrame(
        [(1, 2), (1, 3)], ["id_a", "id_b"]
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in TD.ngram_jaccard_pairs(docs, cands, threshold=0.0).collect()
    }
    assert out[(1, 2)] > 0.5
    assert out[(1, 3)] < 0.1


def test_simhash_similar_docs_close(spark, docs):
    out = {
        r["doc_id"]: int(r["simhash"], 16)
        for r in TD.simhash64_df(docs).collect()
    }
    ham_12 = bin(out[1] ^ out[2]).count("1")
    ham_13 = bin(out[1] ^ out[3]).count("1")
    assert ham_12 < ham_13
    assert out[5] == out[1]  # tokens are lowercased and ws-split


def _winnow_py(text: str, k: int = 8, w: int = 16) -> list[str]:
    """The winnowing definition, one k-gram and one window at a time."""
    t = re.sub(r"\s+", " ", text).lower()
    hashes = [
        hashlib.md5(t[i:i + k].encode()).hexdigest()
        for i in range(max(len(t) - (k - 1), 1))
    ]
    return sorted({
        min(hashes[j:j + w]) for j in range(max(len(hashes) - (w - 1), 1))
    })


def test_winnow_fingerprints_match_python(spark):
    """winnow_fingerprints equals the pure-Python definition on empty,
    short (fewer than k characters, fewer than w k-grams) and long
    documents, the longest several thousand characters."""
    rng = random.Random(7)
    words = ["Spark", "crawl", "the", "FRONTIER", "of", "a", "queue", "shop"]
    long_text = "\t".join(
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 9)))
        for _ in range(700)
    )
    texts = [
        "", "Short", "exactly8", "twenty-two characters!",
        "The quick  brown fox\njumps over the lazy dog",
        long_text,
    ]
    assert len(long_text) > 4000
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r["doc_id"]: r["fps"]
        for r in T.winnow_fingerprints(docs, "text").collect()
    }
    assert got == {i: _winnow_py(t) for i, t in enumerate(texts)}


def test_lang_guess(spark, docs):
    out = {r["doc_id"]: r["lg"] for r in docs.select(
        "doc_id", T.lang_guess(F.col("text")).alias("lg")
    ).collect()}
    assert out[1] == "en"
    assert out[4] == "es"


def test_cosine_topk_self_first(spark):
    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qv = rows[5][1]
    top = SIM.cosine_topk(emb, qv, k=3).collect()
    assert top[0]["vec_id"] in (5, 16, 27, 38, 49)  # identical vectors mod 11 cycle
    assert abs(top[0]["cosine"] - 1.0) < 1e-6


def test_lsh_topk_subset_of_bucket(spark):
    rows = [(i, [float((i * 13 + j) % 7 - 3) for j in range(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qv = rows[2][1]
    exact = [r["vec_id"] for r in SIM.cosine_topk(emb, qv, k=1).collect()]
    approx = [r["vec_id"] for r in SIM.lsh_topk(emb, qv, dims=8, k=1).collect()]
    assert approx  # bucket contains at least the query-identical vectors
    assert exact[0] == approx[0]


def test_multimodal_plumbing(spark, docs):
    media = MM.synth_media(docs)
    got = [(f.name, f.dataType.simpleString()) for f in media.schema.fields]
    exp = [(f.name, f.dataType.simpleString()) for f in MM.MEDIA.fields]
    assert got == exp
    feats = MM.extract_features(media, n_features=8, fake=True)
    rows = feats.collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["features"]) == 8
        assert all(0.0 <= v <= 1.0 for v in r["features"])
    # determinism
    again = MM.extract_features(media, n_features=8, fake=True).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"xx", fake=False)


def test_frame_sample_only_videos(spark, docs):
    media = MM.synth_media(docs)
    frames = MM.frame_sample(media).collect()
    kinds = {r["media_id"] for r in frames}
    video_ids = {
        r["media_id"] for r in media.where(F.col("kind") == "video").collect()
    }
    assert kinds == video_ids
    assert all(r["frame_no"] >= 0 for r in frames)


def test_wordstream_render_byte_identical():
    """r7 optimization pin: the vectorized _WordStream paragraph path
    (numpy MT19937 raw words) must render byte-identical HTML to the
    stdlib Random.choice path it replaced, for every page kind and for
    MirrorWorld's twin/perturb branches."""
    import webcrawlerfull_spark.synthgen as sg

    if sg._np is None:
        pytest.skip("numpy unavailable")
    worlds = [
        sg.World(seed=7, n_hosts=600, base_pages=20000, cat_min=8,
                 cat_span=4, per_page_min=30, per_page_span=20, max_pag=6),
        sg.World(seed=42, n_hosts=12, base_pages=60),
        sg.MirrorWorld(seed=5, n_hosts=6, base_pages=60, perturb=True),
        sg.MirrorWorld(seed=5, n_hosts=6, base_pages=60, perturb=False),
    ]
    for w in worlds:
        urls = []
        for h in w.hosts()[:4] + w.hosts()[-1:]:
            host = h["host"]
            p = w._host_params(host)
            urls += [
                f"https://{host}",
                f"https://{host}/about",
                f"https://{host}/blog/post-0",
                f"https://{host}/category/c0",
                f"https://{host}/category/c0?page=2",
            ]
            urls += [
                f"https://{host}" + p["product_path"](i) for i in range(4)
            ]
        urls = [u for u in urls if w.page_exists(u)]
        assert urls
        new = {u: w.render(u) for u in urls}
        saved = sg._np
        sg._np = None
        try:
            old = {u: w.render(u) for u in urls}
        finally:
            sg._np = saved
        assert new == old


def test_factored_regex_match_equivalence(spark):
    """r7 optimization pin: factored_regex (the execution-side regex with
    the shared leading '/' hoisted out of the alternation) must accept
    exactly the same strings as combined_regex — the frozen form the
    DuckDB oracle SQL interpolates. Checked with Python re over world
    anchor URLs + deterministic fuzz, and row by row through Spark's
    actual Java rlike path. Two unfactorable shapes ride along: a
    top-level '|' after the '/' and a leading quantifier; without
    factored_regex's guard the first matches a different language and
    the second does not compile. The guard leaves every current pattern
    table's factored string as the unguarded formula wrote it."""
    import random
    import re

    import webcrawlerfull_spark.config as C
    import webcrawlerfull_spark.synthgen as sg
    from webcrawlerfull_spark.operators.parse_spans import spans_columns

    pattern_sets = [
        C.PATTERNS,
        C.PAGINATION_PATTERNS,
        C.CATEGORY_PRIORITY_PATTERNS,
        *C.DOMAIN_PATTERNS.values(),
    ]

    def unguarded(patterns):
        slash = [p[1:] for p in patterns if p.startswith("/")]
        other = [p for p in patterns if not p.startswith("/")]
        return "|".join(
            ["/(?:" + "|".join(f"(?:{p})" for p in slash) + ")"]
            + [f"(?:{p})" for p in other]
        )

    for pats in pattern_sets:
        assert C.factored_regex(pats) == unguarded(pats)
    pattern_sets += [["/a|b", "/product/"], ["/+foo", "/items?/", "bar"]]

    w = sg.World(seed=7, n_hosts=40, base_pages=200, cat_min=8, cat_span=4,
                 per_page_min=30, per_page_span=20, max_pag=6)
    urls: list[str] = []
    frontier = w.seeds()[:20]
    for _ in range(3):
        nxt = []
        for u in frontier[:40]:
            html = w.fetch(u)
            if html is None:
                continue
            k, _, r = spans_columns(html, u, u.split("://")[1].split("/")[0])
            for kk, rr in zip(k, r):
                if kk in ("link", "pagination"):
                    urls.append(rr)
                    nxt.append(rr)
        frontier = nxt
    assert len(urls) > 500

    rng = random.Random(1)
    alphabet = "abcXYZ019-_/=.?&#%"
    fuzz = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 90)))
        for _ in range(20000)
    ]
    corpus = urls + fuzz + ["b", "x/b", "/a", "/ab", "foo", "/foo", "//foo", "/+foo"]
    for pats in pattern_sets:
        ro = re.compile(C.combined_regex(pats))
        rn = re.compile(C.factored_regex(pats))
        for s in corpus:
            assert bool(ro.search(s)) == bool(rn.search(s)), (pats, s)

    # Java-side check through real rlike: rows where the two regexes
    # disagree, per pattern set, in one job
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s,) for s in corpus], "s string")
    col = F.col("s")
    disagree = df.agg(
        *[
            F.sum(
                (col.rlike(C.combined_regex(p)) != col.rlike(C.factored_regex(p))).cast("int")
            )
            for p in pattern_sets
        ]
    ).first()
    assert list(disagree) == [0] * len(pattern_sets)


def test_first_touch_products_matches_generic(spark):
    """r7 optimization pin: the packed HashAggregate specialization of
    the products-chain attribution must pick exactly the rows the
    generic struct-min first_touch picks, including multi-domain urls,
    rank ties across pages, and depth recovery."""
    from webcrawlerfull_spark.config import MAX_DEPTH, CrawlConfig
    from webcrawlerfull_spark.operators.attribution import (
        first_touch,
        first_touch_products,
    )

    rows = []
    # url seen by several pages/parsers across two domains
    for dom in ("d1", "d2"):
        rows += [
            # (page_url, host, domain, depth, queue_pos, url, parser, parser_rank)
            (f"{dom}/pg9", "h", dom, 2, 9, "u/x", "sequential", 3),
            (f"{dom}/pg3", "h", dom, 1, 3, "u/x", "config", 1),
            (f"{dom}/pg3b", "h", dom, 1, 7, "u/x", "simple", 0),
            (f"{dom}/pg1", "h", dom, 0, 1, "u/y", "ai", 2),
        ]
    rows += [("d1/pg0", "h", "d1", 3, 0, "u/z", "simple", 0)]
    m = spark.createDataFrame(
        rows,
        "page_url string, host string, domain string, depth int, "
        "queue_pos long, url string, parser string, parser_rank int",
    )
    for max_depth in (3, 1000):
        fast = first_touch_products(m, max_depth)
        got = {
            (r["domain"], r["url"]): (r["parser"], r["depth"])
            for r in fast.collect()
        }
        ref = first_touch(m, ["queue_pos", "parser_rank"], ["domain", "url"])
        want = {
            (r["domain"], r["url"]): (r["parser"], r["depth"])
            for r in ref.collect()
        }
        assert got == want
    assert fast.schema["depth"].dataType.simpleString() == "int"
    # a depth past the packing is refused, by the config up front too
    first_touch_products(m, MAX_DEPTH)
    with pytest.raises(ValueError, match="max_depth"):
        first_touch_products(m, MAX_DEPTH + 1)
    with pytest.raises(ValueError, match="max_depth"):
        CrawlConfig(max_depth=MAX_DEPTH + 1)
    CrawlConfig(max_depth=MAX_DEPTH)


def test_first_touch_products_rejects_a_fifth_parser(
    spark, tmp_path, monkeypatch
):
    """parser_rank rides in 2 bits of the packed attribution key: with a
    fifth cascade parser the specialization and the products chain must
    raise (a packed rank 4 would alias to rank 0, 'simple')."""
    from webcrawlerfull_spark.config import CrawlConfig
    from webcrawlerfull_spark.operators import cascade
    from webcrawlerfull_spark.operators.attribution import first_touch_products
    from webcrawlerfull_spark.sources.catalog import Catalog
    from webcrawlerfull_spark.streaming.driver import _products_chain

    five = dict(cascade.PARSER_RANK, extra=4)
    m = spark.createDataFrame(
        [
            ("d/pg0", "h", "d", 1, 0, "u/x", "extra", 4),
            ("d/pg1", "h", "d", 1, 1, "u/x", "simple", 0),
            ("d/pg1", "h", "d", 1, 1, "u/y", "simple", 0),
        ],
        "page_url string, host string, domain string, depth int, "
        "queue_pos long, url string, parser string, parser_rank int",
    )
    first_touch_products(m, 3)
    monkeypatch.setattr(cascade, "PARSER_RANK", five)
    with pytest.raises(ValueError, match="5 parsers"):
        first_touch_products(m, 3)

    cat = Catalog(spark, str(tmp_path))
    stats = spark.createDataFrame([("d/pg0", 1)], "page_url string, n int")
    # m stands in for the cascade's page_arrays base too
    with pytest.raises(ValueError, match="5 parsers"):
        _products_chain(cat, CrawlConfig(max_depth=3), m, stats, m, 0)
