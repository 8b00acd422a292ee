"""S7/J5 MERGE-equivalents: products/seen round-dir compaction and
touched-bucket-only bloom deltas (VERDICT r1 item 7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.operators import bloom
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming.driver import crawl
from webcrawlerfull_spark.synthgen import World

B, CAP = 8, 10_000


def _snap(res):
    prods = {(r["domain"], r["url"], r["parser"]) for r in res.products.collect()}
    seen = {r["url"] for r in res.seen.collect()}
    return prods, seen


def test_compaction_preserves_state_and_resume(spark, tmp_path_factory):
    world = World(seed=42, n_hosts=4, base_pages=40)
    seeds = world.seeds()
    base = dict(max_depth=3, politeness_budget=None, shuffle_partitions=8)

    cat_plain = Catalog(spark, str(tmp_path_factory.mktemp("plain")))
    res_plain = crawl(spark, seeds, CrawlConfig(**base), world, cat_plain)

    cat_c = Catalog(spark, str(tmp_path_factory.mktemp("compact")))
    cfg_c = CrawlConfig(
        **base, compact_every=1, use_bloom=True, bloom_buckets=B,
        bloom_capacity_per_bucket=CAP,
    )
    res_c = crawl(spark, seeds, cfg_c, world, cat_c)

    assert _snap(res_c) == _snap(res_plain)
    # every compaction rewrote all prior rounds into one directory (the
    # bloom filters too: one row per bucket, the newest)
    assert res_c.rounds_run > 1
    for table in ("products", "seen", "seen_bloom"):
        assert len(cat_c.committed_rounds(table)) == 1, table
    buckets = [r["bucket_id"] for r in cat_c.read_bloom().collect()]
    assert len(buckets) == len(set(buckets))
    # rows keep their round data column (row-level lineage survives)
    rounds_in_data = {
        r["round"] for r in cat_c.read_all("products").select("round").collect()
    }
    assert len(rounds_in_data) > 1

    # re-invoking the finished crawl is a no-op on compacted state
    res_again = crawl(spark, seeds, cfg_c, world, cat_c)
    assert res_again.rounds_run == 0
    assert _snap(res_again) == _snap(res_plain)


def test_compaction_mid_crawl_resume(spark, tmp_path_factory):
    world = World(seed=42, n_hosts=4, base_pages=40)
    seeds = world.seeds()
    base = dict(max_depth=3, politeness_budget=None, shuffle_partitions=8)

    cat_ref = Catalog(spark, str(tmp_path_factory.mktemp("ref")))
    ref = crawl(spark, seeds, CrawlConfig(**base), world, cat_ref)

    cat = Catalog(spark, str(tmp_path_factory.mktemp("killed")))
    cfg = CrawlConfig(**base, compact_every=1)
    crawl(spark, seeds, cfg, world, cat, max_rounds=2)  # "crash" after 2
    res = crawl(spark, seeds, cfg, world, cat)          # resume
    assert _snap(res) == _snap(ref)
    # no URL fetched twice across the kill/resume boundary
    dupes = res.seen.groupBy("url").count().where(F.col("count") > 1).collect()
    assert not dupes


def test_bloom_touched_only_delta_and_reconstruction(spark, tmp_path):
    """A round's bloom delta holds only the buckets it touched, and the
    catalog's latest-per-bucket read of the deltas is the state one
    update over every URL builds (bitwise OR is order-free, so the bytes
    match exactly)."""
    s1 = spark.createDataFrame([(f"u{i}",) for i in range(20)], ["url"])
    s2 = spark.createDataFrame([("u5",), ("zz-new",)], ["url"])
    cat = Catalog(spark, str(tmp_path / "cat"))
    full1 = bloom.update_filters(s1, None, B, CAP)
    cat.write_round(full1, "seen_bloom", 0)
    delta2 = bloom.update_filters(s2, cat.read_bloom(), B, CAP)
    cat.write_round(delta2, "seen_bloom", 1)
    touched = {
        r["b"]
        for r in s2.select(bloom.bucket_col(F.col("url"), B).alias("b"))
        .distinct()
        .collect()
    }
    assert {
        r["bucket_id"] for r in cat.read_round("seen_bloom", 1).collect()
    } == touched
    got = {
        r["bucket_id"]: bytes(r["filter_bytes"])
        for r in cat.read_bloom().collect()
    }
    expect = {
        r["bucket_id"]: bytes(r["filter_bytes"])
        for r in bloom.update_filters(s1.unionByName(s2), None, B, CAP).collect()
    }
    assert got == expect


def test_mid_round_crash_resume(spark, tmp_path_factory):
    """Crash AFTER a round's state writes but BEFORE its lineage commit
    marker: resume must discard every partial table for that round
    (including the bloom delta and the next frontier it already wrote),
    redo it, and converge to the uninterrupted run — with no URL
    fetched twice across committed rounds."""
    import shutil as _sh

    world = World(seed=42, n_hosts=4, base_pages=40)
    seeds = world.seeds()
    base = dict(
        max_depth=3, politeness_budget=None, use_bloom=True,
        shuffle_partitions=8,
    )

    cat_ref = Catalog(spark, str(tmp_path_factory.mktemp("ref")))
    res_ref = crawl(spark, seeds, CrawlConfig(**base), world, cat_ref)

    cat = Catalog(spark, str(tmp_path_factory.mktemp("crash")))
    crawl(spark, seeds, CrawlConfig(**base), world, cat, max_rounds=2)
    # simulate the crash: round 1's lineage never landed, everything
    # else for round 1 (scheduled/documents/mentions/page_stats/
    # products/seen_bloom + frontier r=2) is on disk (seen is derived
    # from scheduled, so its partial slice exists implicitly)
    _sh.rmtree(cat._dir("lineage", 1))
    assert cat.max_committed_round() == 0
    pre_seen_r1 = {r["url"] for r in cat.read_round("seen", 1).collect()}
    assert pre_seen_r1  # the partial state really exists

    res = crawl(spark, seeds, CrawlConfig(**base), world, cat)
    assert res.rounds_run == 2  # rounds 1 and 2 redone
    assert _snap(res) == _snap(res_ref)
    lin_ref = sorted(
        (r["round"], r["fetched"], r["products"])
        for r in res_ref.lineage.collect()
    )
    lin = sorted(
        (r["round"], r["fetched"], r["products"])
        for r in res.lineage.collect()
    )
    assert lin == lin_ref
    # no URL appears in two seen rounds (the no-refetch invariant)
    seen_rows = res.seen.groupBy("url").count()
    assert seen_rows.where(F.col("count") > 1).count() == 0


@pytest.fixture(
    scope="module", params=[False, True], ids=["dedup_off", "dedup_on"]
)
def crash_template(spark, tmp_path_factory, request):
    """Shared inputs for the crash-window matrix: the uninterrupted
    reference run plus a 2-round catalog snapshot that each window test
    copies and mutilates (rebuilding both per window would triple the
    matrix's wall time). Parametrized over doc_dedup (VERDICT r5 item
    8) so the doc_dedup_state partial-write window is pinned alongside
    the others."""
    dedup = request.param
    world = World(seed=42, n_hosts=4, base_pages=40)
    seeds = world.seeds()
    base = dict(
        max_depth=3, politeness_budget=None, use_bloom=True,
        shuffle_partitions=8, doc_dedup=dedup, dedup_k=16, dedup_bands=4,
    )
    cat_ref = Catalog(spark, str(tmp_path_factory.mktemp("wref")))
    res_ref = crawl(spark, seeds, CrawlConfig(**base), world, cat_ref)
    snap_ref = _snap(res_ref)
    lin_ref = sorted(
        (r["round"], r["fetched"], r["products"])
        for r in res_ref.lineage.collect()
    )
    tmpl = str(tmp_path_factory.mktemp("wtmpl"))
    crawl(
        spark, seeds, CrawlConfig(**base), world, Catalog(spark, tmpl),
        max_rounds=2,
    )
    return world, seeds, base, snap_ref, lin_ref, tmpl, dedup


# Round-1 writes in the driver: scheduled -> seen_bloom -> documents,
# then frontier(r=2) on one chain while [doc_dedup_state] -> mentions ->
# page_stats -> products run on the other; lineage (commit marker) lands
# after both. Each window = a crash that left exactly the listed dirs.
# (The former scheduled-vs-seen window no longer exists: seen is derived
# from scheduled, so the two can never disagree.) The doc_dedup window
# only exists in the dedup_on half of the matrix.
_WINDOWS = {
    "after_scheduled": ("scheduled",),
    "after_documents": ("scheduled", "seen_bloom", "documents"),
    "after_doc_dedup": ("scheduled", "seen_bloom", "documents", "doc_dedup_state"),
    "after_products": (
        "scheduled", "seen_bloom", "documents", "doc_dedup_state",
        "mentions", "page_stats", "products",
    ),
}


@pytest.mark.parametrize("window", sorted(_WINDOWS))
def test_mid_round_crash_window_matrix(
    spark, tmp_path_factory, crash_template, window
):
    """Every partial-state window inside a round resumes to the
    uninterrupted run's exact state (VERDICT r4 item 8): whatever prefix
    of round 1's writes landed before the crash, resume discards it past
    the round-0 commit marker and redoes rounds 1-2 identically."""
    import shutil as _sh

    world, seeds, base, snap_ref, lin_ref, tmpl, dedup = crash_template
    if window == "after_doc_dedup" and not dedup:
        pytest.skip("doc_dedup_state window only exists with dedup on")
    root = str(tmp_path_factory.mktemp(f"w_{window}"))
    _sh.rmtree(root)
    _sh.copytree(tmpl, root)
    cat = Catalog(spark, root)
    present = _WINDOWS[window]
    _sh.rmtree(cat._dir("lineage", 1))
    _sh.rmtree(cat._dir("frontier", 2), ignore_errors=True)
    for t in (
        "seen_bloom", "documents", "doc_dedup_state", "mentions",
        "page_stats", "products",
    ):
        if t not in present:
            _sh.rmtree(cat._dir(t, 1), ignore_errors=True)
    assert cat.max_committed_round() == 0

    res = crawl(spark, seeds, CrawlConfig(**base), world, cat)
    assert res.rounds_run == 2
    assert _snap(res) == snap_ref
    lin = sorted(
        (r["round"], r["fetched"], r["products"])
        for r in res.lineage.collect()
    )
    assert lin == lin_ref
    assert res.seen.groupBy("url").count().where(F.col("count") > 1).count() == 0


def test_write_round_local_stale_scratch_ignored(spark, tmp_path_factory):
    """r7: the local (pyarrow) lineage writer stages in a dot-prefixed
    scratch dir. A crash between its _SUCCESS write and the swap must
    leave committed_rounds()/read_all() working (the scratch is ignored,
    not parsed as a round dir) and the next write must succeed."""
    import os

    from webcrawlerfull_spark import schemas

    cat = Catalog(spark, str(tmp_path_factory.mktemp("lw")))
    row = {
        "task_id": "t", "round": 0, "frontier_size": 1,
        "seen_cardinality": 1, "fetched": 1, "parsed": 1, "products": 0,
        "docs_deduped": 0, "wall_ms": 5,
    }
    cat.write_round_local([row], "lineage", 0, schemas.LINEAGE)
    # simulate the crash window: a committed-looking scratch dir
    stale = os.path.join(cat._dir("lineage"), ".local=1.inprogress")
    os.makedirs(stale)
    open(os.path.join(stale, "_SUCCESS"), "w").close()
    assert cat.committed_rounds("lineage") == [0]
    row1 = dict(row, round=1)
    cat.write_round_local([row1], "lineage", 1, schemas.LINEAGE)
    assert cat.committed_rounds("lineage") == [0, 1]
    got = {
        (r["round"], r["fetched"])
        for r in cat.read_all("lineage").collect()
    }
    assert got == {(0, 1), (1, 1)}


def test_lineage_mixed_writer_rounds_read_as_one(spark, tmp_path_factory):
    """r7: resuming a catalog whose earlier lineage rounds were written
    by the Spark writer with the new pyarrow local writer must read
    back as one table (schema parity across the two writers)."""
    from webcrawlerfull_spark import schemas

    cat = Catalog(spark, str(tmp_path_factory.mktemp("mix")))
    row0 = {
        "task_id": "t", "round": 0, "frontier_size": 2,
        "seen_cardinality": 2, "fetched": 2, "parsed": 2, "products": 1,
        "docs_deduped": 0, "wall_ms": 7,
    }
    # round 0 via the ENGINE writer (how r6 catalogs wrote lineage)
    cat.write_round(
        spark.createDataFrame([row0], schema=schemas.LINEAGE), "lineage", 0
    )
    # round 1 via the LOCAL writer (how r7 writes it)
    row1 = dict(row0, round=1, fetched=3)
    cat.write_round_local([row1], "lineage", 1, schemas.LINEAGE)
    # the writing catalog reads with the schema it remembers; a fresh
    # one (as on resume) infers it from the two writers' footers
    for reader in (cat, Catalog(spark, cat.base)):
        df = reader.read_all("lineage")
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            f.dataType.simpleString() for f in schemas.LINEAGE.fields
        ]
        got = sorted((r["round"], r["fetched"]) for r in df.collect())
        assert got == [(0, 2), (1, 3)]
    assert cat.max_committed_round() == 1


def _jobs_of(spark, fn):
    """(result of fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"probe-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_remembered_schema_reads_match_inference(spark, tmp_path_factory):
    """The catalog remembers the schema of what it wrote, so its reads
    skip the footer-inference job; rows and schema must equal a fresh
    catalog's inferring read — for plain rounds, the derived seen table,
    a band-sorted frontier_q round and an EMPTY frontier_q delta, both
    written by the queue's own writer."""
    from webcrawlerfull_spark.streaming import delta_frontier as dfq

    root = str(tmp_path_factory.mktemp("schema_mem"))
    cat = Catalog(spark, root)
    # (url, host, domain, depth, priority, discovery_seq, salt_bucket,
    #  round, pos, band)
    q = spark.createDataFrame(
        [
            ("https://h/a", "h", "h", 0, 1, 0, 3, 0, 0, 0),
            ("https://h/b", "h", "h", 1, 2, 5, 9, 0, 7, 1),
        ],
        schema=dfq.QUEUE,
    )
    dfq.write_queue(cat, q, 0)
    dfq.write_queue(cat, q.limit(0), 1)
    sched = q.drop("band").withColumn("fetch_round", F.lit(0))
    cat.write_round(sched, "scheduled", 0)
    cat.write_round(
        spark.range(3).select(F.col("id").alias("n"), F.lit("x").alias("s")),
        "products", 0,
    )
    fresh = Catalog(spark, root)
    reads = {
        "products": lambda c: c.read_round("products", 0),
        "products_all": lambda c: c.read_all("products"),
        "seen": lambda c: c.read_all("seen"),
        "q0": lambda c: c.read_round("frontier_q", 0),
        "q_all": lambda c: c.read_all_with_round("frontier_q"),
        "q1_empty": lambda c: c.read_round("frontier_q", 1, schema=dfq.QUEUE),
    }
    for name, read in reads.items():
        mem, mem_jobs = _jobs_of(spark, lambda: read(cat))
        inf = read(fresh)
        assert mem.schema == inf.schema, name
        assert sorted(map(tuple, mem.collect())) == sorted(
            map(tuple, inf.collect())
        ), name
        assert mem_jobs == 0, name
    _, jobs = _jobs_of(
        spark, lambda: Catalog(spark, root).read_round("products", 0)
    )
    assert jobs >= 1  # a fresh catalog pays the inference job
    # the empty delta reads back empty with the QUEUE columns and types
    empty = fresh.read_round("frontier_q", 1, schema=dfq.QUEUE)
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in dfq.QUEUE.fields
    ]
    assert empty.count() == 0


def test_schema_changing_write_falls_back_to_inference(spark, tmp_path_factory):
    """A later write whose schema differs (nullability aside) drops the
    remembered schema: reads infer again and see the new column."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("schema_chg")))
    base = spark.range(2).select(F.col("id").alias("n"))
    cat.write_round(base, "mentions", 0)
    # same shape, different nullability: the remembered schema stays
    cat.write_round(base.withColumn("n", F.lit(5).cast("long")), "mentions", 1)
    _, jobs = _jobs_of(spark, lambda: cat.read_round("mentions", 1))
    assert jobs == 0
    cat.write_round(base.withColumn("extra", F.lit("e")), "mentions", 2)
    df, jobs = _jobs_of(spark, lambda: cat.read_round("mentions", 2))
    assert jobs >= 1
    assert df.columns == ["n", "extra"]
    assert {r["extra"] for r in df.collect()} == {"e"}
