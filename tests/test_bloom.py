"""Bloom seen-filter: no-false-negatives property, anti-join equivalence
with the exact path, and full-crawl equivalence (SURVEY.md §7 step 5:
'verify bloom path ≡ exact path on small scale')."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.operators import bloom
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming.driver import crawl
from webcrawlerfull_spark.synthgen import World

B = 8
CAP = 5_000


def _urls(spark, n, prefix):
    return spark.range(n).select(
        F.concat(F.lit(f"https://h.example.com/{prefix}/"), F.col("id")).alias("url")
    )


def test_no_false_negatives(spark):
    seen = _urls(spark, 2000, "seen")
    filters = bloom.update_filters(seen, None, B, CAP)
    probed = bloom.probe(seen, filters, B, CAP)
    missed = probed.where(~F.col("maybe_seen")).count()
    assert missed == 0


def test_false_positive_rate_bounded(spark):
    seen = _urls(spark, 2000, "seen")
    fresh = _urls(spark, 2000, "fresh")
    filters = bloom.update_filters(seen, None, B, CAP)
    fp = bloom.probe(fresh, filters, B, CAP).where(F.col("maybe_seen")).count()
    assert fp / 2000 < 10 * bloom.FPP


def test_incremental_update(spark):
    s1 = _urls(spark, 500, "a")
    s2 = _urls(spark, 500, "b")
    f1 = bloom.update_filters(s1, None, B, CAP)
    f2 = bloom.update_filters(s2, f1, B, CAP)
    both = s1.unionByName(s2)
    assert bloom.probe(both, f2, B, CAP).where(~F.col("maybe_seen")).count() == 0


def test_anti_join_equivalence(spark):
    seen = _urls(spark, 1500, "seen")
    cands = _urls(spark, 1000, "seen").unionByName(_urls(spark, 1000, "new"))
    filters = bloom.update_filters(seen, None, B, CAP)
    exact = {
        r["url"] for r in bloom.seen_anti_join(cands, seen, None, B).collect()
    }
    bloomed = {
        r["url"]
        for r in bloom.seen_anti_join(cands, seen, filters, B, CAP).collect()
    }
    assert bloomed == exact


def test_anti_join_keeps_every_column_and_null(spark):
    """On multi-column candidates with NULLs (in the url too) the
    bloom-gated anti-join returns exactly the exact path's rows, with
    the identical schema: probe carries the rows through the cogroup
    without coercing a type or dropping a NULL."""
    from pyspark.sql.types import (
        BooleanType, DoubleType, IntegerType, LongType, StringType,
        StructField, StructType,
    )

    schema = StructType(
        [
            StructField("host", StringType()),
            StructField("url", StringType()),
            StructField("seq", LongType()),
            StructField("depth", IntegerType()),
            StructField("score", DoubleType()),
            StructField("flag", BooleanType()),
        ]
    )
    rows = [
        (
            None if i % 5 == 0 else f"h{i % 3}",
            None if i % 17 == 0 else f"https://h.example.com/seen/{i}",
            None if i % 7 == 0 else (1 << 60) + i,  # past float precision
            None if i % 9 == 0 else i,
            None if i % 4 == 0 else i / 3,
            None if i % 6 == 0 else bool(i % 2),
        )
        for i in range(600)
    ]
    cands = spark.createDataFrame(rows, schema)
    seen = _urls(spark, 300, "seen")
    filters = bloom.update_filters(seen, None, B, CAP)
    exact = bloom.seen_anti_join(cands, seen, None, B)
    bloomed = bloom.seen_anti_join(cands, seen, filters, B, CAP)
    assert bloomed.schema == exact.schema
    got, want = (sorted(map(tuple, df.collect()), key=repr)
                 for df in (bloomed, exact))
    assert got == want
    assert 0 < len(want) < len(rows)


def test_anti_join_scans_candidates_once(spark, tmp_path):
    """The executed bloom-gated anti-join scans its candidate source
    once: both union branches read the one probe output."""
    src = str(tmp_path / "cands")
    _urls(spark, 500, "seen").unionByName(_urls(spark, 500, "new")).select(
        "url", F.length("url").alias("n")
    ).write.parquet(src)
    cands = spark.read.parquet(src)
    seen = _urls(spark, 400, "seen")
    filters = bloom.update_filters(seen, None, B, CAP)
    out = bloom.seen_anti_join(cands, seen, filters, B, CAP)
    assert len(out.collect()) == 600  # 100 unseen "seen/" urls + 500 new
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in final.splitlines()
             if "FileScan" in ln and "cands" in ln]
    assert len(scans) == 1, final


def test_scheme_versioning(spark):
    seen = _urls(spark, 500, "seen")
    filters = bloom.update_filters(seen, None, B, CAP)
    assert bloom.scheme_ok(filters, B, CAP)
    # another geometry (bucket count or capacity) sets other bits
    assert not bloom.scheme_ok(filters, 2 * B, CAP)
    assert not bloom.scheme_ok(filters, B, 2 * CAP)
    # a foreign scheme string and legacy no-column state must both fail
    foreign = filters.withColumn("scheme", F.lit("blake2b-v1"))
    assert not bloom.scheme_ok(foreign, B, CAP)
    legacy = filters.drop("scheme")
    assert not bloom.scheme_ok(legacy, B, CAP)
    # merging INTO legacy bytes is refused (their hash family is unknown)
    try:
        bloom.update_filters(_urls(spark, 10, "x"), legacy, B, CAP)
        assert False, "expected ValueError for legacy filter state"
    except ValueError:
        pass


def test_resume_rebuilds_stale_scheme_filters(spark, tmp_path_factory):
    """Cross-version resume: seen_bloom written under an old hash family
    must be rebuilt from the exact seen table, not probed — otherwise
    seen URLs silently re-fetch (ADVICE r3). The crawl's seen/product
    sets must match an untampered run exactly."""
    world = World(seed=42, n_hosts=4, base_pages=40)
    seeds = world.seeds()
    cfg = CrawlConfig(
        max_depth=3, politeness_budget=None, shuffle_partitions=8,
        use_bloom=True, bloom_buckets=B,
        bloom_capacity_per_bucket=CAP,
    )

    cat_ref = Catalog(spark, str(tmp_path_factory.mktemp("ref")))
    res_ref = crawl(spark, seeds, cfg, world, cat_ref)

    cat = Catalog(spark, str(tmp_path_factory.mktemp("stale")))
    crawl(spark, seeds, cfg, world, cat, max_rounds=2)
    # tamper: rewrite every committed seen_bloom round as if an older
    # engine wrote it — same bytes, no scheme column (pre-versioning)
    for r in cat.committed_rounds("seen_bloom"):
        legacy = cat.read_round("seen_bloom", r).drop("scheme")
        legacy_rows = legacy.collect()
        cat.write_round(
            spark.createDataFrame(legacy_rows, schema=legacy.schema),
            "seen_bloom", r,
        )
    res = crawl(spark, seeds, cfg, world, cat)  # resume
    assert {r["url"] for r in res.seen.collect()} == {
        r["url"] for r in res_ref.seen.collect()
    }
    assert {(r["url"], r["parser"]) for r in res.products.collect()} == {
        (r["url"], r["parser"]) for r in res_ref.products.collect()
    }
    # and the rebuilt state is stamped with the current scheme
    rebuilt = cat.read_bloom()
    assert bloom.scheme_ok(rebuilt, B, CAP)


def test_resume_with_other_bloom_geometry_refetches_nothing(
    spark, tmp_path_factory
):
    """A resume with another bucket count must not probe the persisted
    filters: their bits were set under the old bucket routing, so seen
    URLs would pass the gate as new and be fetched again. The geometry
    is part of the persisted scheme stamp, so the resume rebuilds the
    filters from the exact seen table."""
    world = World(seed=42, n_hosts=4, base_pages=40)
    base = dict(
        max_depth=4, politeness_budget=None, shuffle_partitions=8,
        use_bloom=True, bloom_capacity_per_bucket=1000,
    )
    cat = Catalog(spark, str(tmp_path_factory.mktemp("geometry")))
    crawl(spark, world.seeds(), CrawlConfig(**base, bloom_buckets=4), world,
          cat, max_rounds=2)
    res = crawl(spark, world.seeds(), CrawlConfig(**base, bloom_buckets=16),
                world, cat)
    assert res.rounds_run == 2
    seen = res.seen.agg(
        F.count("*").alias("n"), F.countDistinct("url").alias("d")
    ).first()
    assert seen["n"] == seen["d"]
    assert bloom.scheme_ok(cat.read_bloom(), 16, 1000)


def test_crawl_bloom_equals_exact(spark, tmp_path_factory):
    world = World(seed=42, n_hosts=4, base_pages=40)
    seeds = world.seeds()
    base_cfg = dict(max_depth=3, politeness_budget=None, shuffle_partitions=8)

    cat_e = Catalog(spark, str(tmp_path_factory.mktemp("exact")))
    res_e = crawl(spark, seeds, CrawlConfig(**base_cfg), world, cat_e)

    cat_b = Catalog(spark, str(tmp_path_factory.mktemp("bloom")))
    cfg_b = CrawlConfig(
        **base_cfg, use_bloom=True, bloom_buckets=B,
        bloom_capacity_per_bucket=CAP,
    )
    res_b = crawl(spark, seeds, cfg_b, world, cat_b)

    seen_e = {r["url"] for r in res_e.seen.collect()}
    seen_b = {r["url"] for r in res_b.seen.collect()}
    assert seen_b == seen_e
    prod_e = {(r["url"], r["parser"]) for r in res_e.products.collect()}
    prod_b = {(r["url"], r["parser"]) for r in res_b.products.collect()}
    assert prod_b == prod_e
