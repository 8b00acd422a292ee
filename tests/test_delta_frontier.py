"""Delta-frontier scheduling (streaming/delta_frontier.py — the layout
every budgeted crawl uses; BENCH §7.5's mitigation for the
O(|frontier|)-per-round schedule and next-frontier cost).

The crawl-level invariants: drain to parity mode's seen set, per-(host,
round) budget respected, global no-refetch, determinism under
partitioning, crash/resume convergence, compaction transparency, and a
bounded wait for every queued row on a skewed world. Plus the
layout-level properties: dense per-host positions, cursor arithmetic,
band pruning correctness."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from webcrawlerfull_spark import schemas
from webcrawlerfull_spark.config import CrawlConfig
from webcrawlerfull_spark.operators import frontier as frontier_ops
from webcrawlerfull_spark.sources.catalog import Catalog
from webcrawlerfull_spark.streaming import delta_frontier as dfq
from webcrawlerfull_spark.streaming.driver import crawl
from webcrawlerfull_spark.synthgen import World


def _snap(res):
    return (
        {r["url"] for r in res.seen.collect()},
        {(r["domain"], r["url"]) for r in res.products.collect()},
    )


def _crawl(spark, tmp, world, **kw):
    cat = Catalog(spark, tmp)
    cfg = CrawlConfig(max_depth=kw.pop("max_depth", 2), shuffle_partitions=8, **kw)
    return crawl(spark, world.seeds(), cfg, world, cat), cat


def test_delta_drains_to_parity_seen_set(spark, tmp_path_factory):
    """Delta mode visits exactly the URL set parity mode visits (when the
    per-domain cap never binds), and attributes the same product URLs."""
    world = World(seed=42, n_hosts=3, base_pages=40)
    res_p, _ = _crawl(spark, str(tmp_path_factory.mktemp("p")), world)
    res_d, cat = _crawl(
        spark, str(tmp_path_factory.mktemp("d")), world,
        politeness_budget=3,
    )
    seen_p, prod_p = _snap(res_p)
    seen_d, prod_d = _snap(res_d)
    assert seen_d == seen_p
    assert prod_d == prod_p
    assert res_d.rounds_run > res_p.rounds_run
    # global no-refetch: no URL ever scheduled twice across the run
    all_seen = cat.read_all("seen")
    assert all_seen.count() == all_seen.select("url").distinct().count()
    # per-(host, round) budget respected on the scheduled slices
    for rnd in cat.committed_rounds("scheduled"):
        per_host = (
            cat.read_round("scheduled", rnd)
            .groupBy("host")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        assert all(r["n"] <= 3 for r in per_host)


def test_delta_deterministic_under_parallelism(
    spark, tmp_path_factory, monkeypatch
):
    """North-rule determinism for the delta layout: identical seen rounds,
    lineage counters and products at shuffle and salt partitions 2 and
    16."""
    world = World(seed=77, n_hosts=4, base_pages=50)
    results = []
    for parts in (2, 16):
        monkeypatch.setattr(frontier_ops, "SALT_PARTITIONS", parts)
        cat = Catalog(spark, str(tmp_path_factory.mktemp(f"par{parts}")))
        res = crawl(
            spark, world.seeds(),
            CrawlConfig(
                max_depth=2, politeness_budget=5, use_bloom=True,
                compact_every=2, shuffle_partitions=parts,
            ),
            world, cat,
        )
        results.append(res)
    a, b = results
    assert a.rounds_run == b.rounds_run > 2
    assert {(r["url"], r["round"]) for r in a.seen.collect()} == {
        (r["url"], r["round"]) for r in b.seen.collect()
    }
    cols = [
        "round", "frontier_size", "seen_cardinality", "fetched", "parsed",
        "products",
    ]
    assert sorted(tuple(r[c] for c in cols) for r in a.lineage.collect()) == (
        sorted(tuple(r[c] for c in cols) for r in b.lineage.collect())
    )
    pc = ["domain", "url", "parser", "depth", "round"]
    assert sorted(tuple(r[c] for c in pc) for r in a.products.collect()) == (
        sorted(tuple(r[c] for c in pc) for r in b.products.collect())
    )


def test_delta_resume_converges(spark, tmp_path_factory):
    """Kill after 2 rounds, resume: equal to the uninterrupted run, no
    URL fetched twice across the boundary; re-invoking a finished crawl
    is a no-op (the cursor-drained resume branch)."""
    world = World(seed=42, n_hosts=4, base_pages=40)
    kw = dict(politeness_budget=4, use_bloom=True)
    ref, _ = _crawl(spark, str(tmp_path_factory.mktemp("ref")), world, **kw)
    tmp = str(tmp_path_factory.mktemp("kill"))
    cat = Catalog(spark, tmp)
    cfg = CrawlConfig(max_depth=2, shuffle_partitions=8, **kw)
    crawl(spark, world.seeds(), cfg, world, cat, max_rounds=2)
    res = crawl(spark, world.seeds(), cfg, world, cat)
    assert _snap(res) == _snap(ref)
    dup = res.seen.groupBy("url").count().where(F.col("count") > 1)
    assert dup.count() == 0
    again = crawl(spark, world.seeds(), cfg, world, cat)
    assert again.rounds_run == 0
    assert _snap(again) == _snap(ref)


@pytest.fixture(scope="module")
def delta_crash_template(spark, tmp_path_factory):
    """Shared inputs for the delta-mode crash tests, built once per
    doc_dedup setting: ``template(dedup)`` returns the world, the config,
    the uninterrupted run's seen set, product set and lineage counts, and
    a 2-round catalog snapshot each window test copies and mutilates."""
    world = World(seed=42, n_hosts=4, base_pages=40)
    built = {}

    def template(dedup: bool):
        if dedup not in built:
            cfg = CrawlConfig(
                max_depth=2, shuffle_partitions=8, politeness_budget=4,
                use_bloom=True,
                doc_dedup=dedup, dedup_k=16, dedup_bands=4,
            )
            ref = crawl(
                spark, world.seeds(), cfg, world,
                Catalog(spark, str(tmp_path_factory.mktemp("wref"))),
            )
            tmpl = str(tmp_path_factory.mktemp("wtmpl"))
            crawl(spark, world.seeds(), cfg, world, Catalog(spark, tmpl),
                  max_rounds=2)
            built[dedup] = world, cfg, _snap(ref), _lineage(ref), tmpl
        return built[dedup]

    return template


def _lineage(res):
    return sorted(
        (r["round"], r["fetched"], r["products"], r["docs_deduped"])
        for r in res.lineage.collect()
    )


def _assert_resumes_to(spark, world, cfg, cat, snap_ref, lin_ref):
    res = crawl(spark, world.seeds(), cfg, world, cat)
    assert _snap(res) == snap_ref
    assert _lineage(res) == lin_ref
    dup = res.seen.groupBy("url").count().where(F.col("count") > 1)
    assert dup.count() == 0


# Round-1 writes in delta mode: scheduled -> [seen_bloom] -> documents,
# then two chains in flight together: frontier_q(r=2) ->
# frontier_cursor(r=2), and doc_dedup_state -> mentions -> page_stats ->
# products; lineage (the commit marker) lands after both. Each window is
# a set of landed writes a crash can leave behind; with doc-dedup off,
# doc_dedup_state is never written, so it is absent from every window.
_DELTA_WINDOWS = {
    "after_scheduled": ("scheduled",),
    "after_documents": ("scheduled", "seen_bloom", "documents"),
    # the frontier chain landed, doc-dedup and the products chain did not
    "after_frontier_chain": (
        "scheduled", "seen_bloom", "documents", "frontier_q",
        "frontier_cursor",
    ),
    "after_frontier_q": (
        "scheduled", "seen_bloom", "documents", "doc_dedup_state",
        "mentions", "page_stats", "products", "frontier_q",
    ),
}
_NEXT_ROUND_TABLES = ("frontier_q", "frontier_cursor")
_DELTA_CASES = [(d, w) for d in (False, True) for w in sorted(_DELTA_WINDOWS)]


@pytest.mark.parametrize(
    "dedup,window",
    _DELTA_CASES,
    ids=[f"dedup_on-{w}" if d else w for d, w in _DELTA_CASES],
)
def test_delta_mid_round_crash_window(
    spark, tmp_path_factory, delta_crash_template, dedup, window
):
    """Every partial-write window inside a delta-mode round (including a
    landed frontier_q delta whose cursor update never committed, and a
    landed frontier chain whose sibling dedup/products chain did not)
    resumes to the uninterrupted run's state, with doc-dedup off and on."""
    world, cfg, snap_ref, lin_ref, tmpl = delta_crash_template(dedup)
    root = str(tmp_path_factory.mktemp(f"w_{window}"))
    shutil.rmtree(root)
    shutil.copytree(tmpl, root)
    cat = Catalog(spark, root)
    present = set(_DELTA_WINDOWS[window])
    if not dedup:
        present.discard("doc_dedup_state")
    shutil.rmtree(cat._dir("lineage", 1))
    for t in (
        "seen_bloom", "documents", "doc_dedup_state", "mentions",
        "page_stats", "products", *_NEXT_ROUND_TABLES,
    ):
        if t not in present and (dedup or t != "doc_dedup_state"):
            shutil.rmtree(cat._dir(t, 2 if t in _NEXT_ROUND_TABLES else 1))
    assert cat.max_committed_round() == 0
    for t in ("frontier_q", "frontier_cursor", "doc_dedup_state",
              "mentions", "products"):
        rnd = 2 if t in _NEXT_ROUND_TABLES else 1
        assert cat.has_round(t, rnd) == (t in present), t
    _assert_resumes_to(spark, world, cfg, cat, snap_ref, lin_ref)


def test_chain_failure_joins_threads_and_resumes(
    spark, tmp_path_factory, delta_crash_template, monkeypatch
):
    """A doc-dedup write that fails in round 1 while the next-frontier
    chain is in flight: the failure propagates, the round's pool leaves
    no thread alive, and a resume on the same catalog converges to the
    uninterrupted run with no URL fetched twice."""
    import threading

    world, cfg, snap_ref, lin_ref, _ = delta_crash_template(True)
    cat = Catalog(spark, str(tmp_path_factory.mktemp("chain_fail")))
    write_round = Catalog.write_round
    frontier_started = threading.Event()

    def failing_write(self, df, table, round_id, *a, **kw):
        if table == "frontier_q" and round_id == 2:
            frontier_started.set()
        if table == "doc_dedup_state" and round_id == 1:
            assert frontier_started.wait(120)
            raise RuntimeError("injected doc_dedup_state failure")
        return write_round(self, df, table, round_id, *a, **kw)

    monkeypatch.setattr(Catalog, "write_round", failing_write)
    with pytest.raises(RuntimeError, match="injected doc_dedup_state"):
        crawl(spark, world.seeds(), cfg, world, cat)
    monkeypatch.undo()
    assert frontier_started.is_set()
    assert not [
        t for t in threading.enumerate() if t.name.startswith("crawl-chain")
    ]
    assert cat.max_committed_round() == 0
    _assert_resumes_to(spark, world, cfg, cat, snap_ref, lin_ref)


def test_delta_compaction_transparent(spark, tmp_path_factory, monkeypatch):
    """Queue compaction (dir-count-triggered) folds cursor deltas to
    latest-per-host and reclaims consumed queue rows without changing
    the crawl."""
    world = World(seed=7, n_hosts=4, base_pages=50)
    res_a, _ = _crawl(
        spark, str(tmp_path_factory.mktemp("nc")), world,
        politeness_budget=5, use_bloom=True,
    )
    monkeypatch.setattr(dfq, "QUEUE_COMPACT_DIRS", 2)
    res_b, cat = _crawl(
        spark, str(tmp_path_factory.mktemp("c")), world,
        politeness_budget=5, use_bloom=True, compact_every=2,
    )
    assert _snap(res_b) == _snap(res_a)
    # compaction actually ran: cursor rounds folded + one row per host
    cur = cat.read_all_with_round("frontier_cursor")
    per_host = cur.groupBy("host", "r").count().groupBy("host").count()
    # after the final fold rounds may have appended again, but the
    # latest-per-host read must still be consistent: all drained
    live = dfq.read_cursor(cat, up_to_round=10_000)
    drained = live.where(F.col("consumed") < F.col("next_pos")).count()
    assert drained == 0
    assert per_host.count() > 0


ZIPF_BUDGET = 3


@pytest.fixture(scope="module")
def zipf_catalog(spark, tmp_path_factory):
    """A drained budgeted crawl of a Zipf-skewed world (the hot host
    visits about twice the URLs of each other host), with queue
    compaction held off so every frontier_q and frontier_cursor delta
    is still on disk."""
    world = World(seed=42, n_hosts=4, base_pages=40, zipf_a=1.5)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(dfq, "QUEUE_COMPACT_DIRS", 10_000)
        _, cat = _crawl(
            spark, str(tmp_path_factory.mktemp("zipf")), world, max_depth=3,
            politeness_budget=ZIPF_BUDGET,
        )
    return cat


def test_zipf_queue_wait_is_bounded(zipf_catalog):
    """Starvation-freedom on a Zipf-skewed world: a frontier_q row at
    position p of host h that first becomes visible in round r0, with
    h's cursor at c, is consumed by round
    r0 - 1 + ceil((p - c + 1) / budget). Read from the frontier_q and
    frontier_cursor deltas."""
    budget, cat = ZIPF_BUDGET, zipf_catalog
    cursor = {}  # host -> [(dir round, consumed)] in round order
    for r in sorted(
        cat.read_all_with_round("frontier_cursor").collect(),
        key=lambda r: r["r"],
    ):
        cursor.setdefault(r["host"], []).append((r["r"], r["consumed"]))
    rows = cat.read_all_with_round("frontier_q").select(
        "host", "pos", "r"
    ).collect()
    waits = []
    for row in rows:
        deltas = cursor[row["host"]]
        c = [n for rd, n in deltas if rd <= row["r"]][-1]
        # the cursor delta of dir R+1 is written by round R
        done = [rd - 1 for rd, n in deltas if n > row["pos"]]
        assert done, f"{row} never consumed"
        bound = row["r"] - 1 + -(-(row["pos"] - c + 1) // budget)
        assert done[0] <= bound, (row, c, done[0], bound)
        waits.append(done[0] - row["r"])
    # the skew is real: some row waited several rounds behind its host
    assert max(waits) >= 3


def test_cursor_advances_by_budget_up_to_next_pos(zipf_catalog):
    """After every round of a budgeted crawl each host's cursor is
    consumed = min(previous consumed + budget, previous next_pos) and
    next_pos = previous next_pos + the rows the round inserted for it:
    append_delta keeps the books from the cursor alone, without
    counting the disposed slice."""
    budget, cat = ZIPF_BUDGET, zipf_catalog

    def state(r):
        return {
            row["host"]: (row["consumed"], row["next_pos"])
            for row in dfq.read_cursor(cat, up_to_round=r).collect()
        }

    rounds = cat.committed_rounds("lineage")
    short = 0  # host-rounds with less than a budget pending
    for r in rounds:
        before, after = state(r), state(r + 1)
        inserted = {
            row["host"]: row["n"]
            for row in cat.read_round("frontier_q", r + 1)
            .groupBy("host").agg(F.count("*").alias("n")).collect()
        }
        for host, (consumed, next_pos) in after.items():
            c0, n0 = before.get(host, (0, 0))
            assert consumed == min(c0 + budget, n0), (r, host)
            assert next_pos == n0 + inserted.get(host, 0), (r, host)
            short += c0 < n0 < c0 + budget
    assert short > 0
    # the crawl drained: the last round left no pending host
    assert all(c == n for c, n in state(rounds[-1] + 1).values())


def test_positions_dense_and_banded(spark):
    """assign_positions: dense per-host positions offset past next_pos,
    politeness-ordered within the batch, band = pos // budget."""
    rows = [
        {
            "url": f"https://h{i % 2}.x/p/{i}", "host": f"h{i % 2}.x",
            "domain": f"https://h{i % 2}.x", "depth": 1 + (i % 3),
            "priority": i % 2, "discovery_seq": i, "salt_bucket": 0,
            "round": 1,
        }
        for i in range(20)
    ]
    df = spark.createDataFrame(rows)
    cursor = spark.createDataFrame(
        [{"host": "h0.x", "consumed": 2, "next_pos": 7}], schema=dfq.CURSOR
    )
    out = dfq.assign_positions(df, cursor, budget=4).collect()
    for host, off in (("h0.x", 7), ("h1.x", 0)):
        sl = sorted(
            (r for r in out if r["host"] == host),
            key=lambda r: (r["depth"], r["priority"], r["discovery_seq"], r["url"]),
        )
        assert [r["pos"] for r in sl] == list(range(off, off + len(sl)))
        assert all(r["band"] == r["pos"] // 4 for r in sl)


@pytest.mark.parametrize("seed,budget", [(1, 1), (2, 3), (3, 7)])
def test_first_slice_matches_politeness_schedule(spark, seed, budget):
    """On a URL-unique frontier with nothing seen, the budgeted crawl's
    first slice (assign_positions -> each host's window pos < budget ->
    schedule_slice) schedules exactly what politeness_schedule (the
    operator the o5_politeness_budget gate pins) schedules, with the
    same per-domain queue_pos. Hosts of uneven size share domains, and
    discovery_seq collides within a host so the url tie-break counts."""
    import random

    from webcrawlerfull_spark.plans.round import politeness_schedule

    rng = random.Random(seed)
    rows = [
        {
            "url": f"https://h{h}.x/p/{i}", "host": f"h{h}.x",
            "domain": f"https://d{h % 3}.x", "depth": rng.randrange(3),
            "priority": rng.randrange(2), "discovery_seq": rng.randrange(4),
            "salt_bucket": 0, "round": 0,
        }
        for h in range(7)
        for i in range(rng.randrange(12))
    ]
    frontier = spark.createDataFrame(rows, schema=schemas.FRONTIER)
    cfg = CrawlConfig(politeness_budget=budget)
    candidates = dfq.assign_positions(frontier, None, budget).where(
        F.col("pos") < budget
    )
    seen = spark.createDataFrame([], schema=schemas.SEEN_EXACT)
    delta = dfq.schedule_slice(candidates, seen, None, cfg)
    scheduled, _ = politeness_schedule(frontier, budget, salt_partitions=4)

    def key(df):
        return sorted(
            (r["host"], r["url"], r["queue_pos"])
            for r in df.select("host", "url", "queue_pos").collect()
        )

    got = key(delta)
    assert got == key(scheduled)
    assert len(got) == sum(
        min(budget, sum(r["host"] == h for r in rows))
        for h in {r["host"] for r in rows}
    )


def _queue_catalog(spark, root, budget=5):
    """A catalog whose frontier_q r=0 holds hosts a, b, c with 30, 14
    and 5 rows at positions 0..n-1, written by bootstrap (the production
    write path)."""
    cat = Catalog(spark, root)
    rows = [
        {
            "url": f"https://{h}/p/{p}", "host": h, "domain": f"https://{h}",
            "depth": 1, "priority": 0, "discovery_seq": p, "salt_bucket": 0,
            "round": 0,
        }
        for h, n in (("a", 30), ("b", 14), ("c", 5))
        for p in range(n)
    ]
    dfq.bootstrap(
        cat, spark.createDataFrame(rows, schema=schemas.FRONTIER), budget
    )
    return cat


def test_backlog_bands_and_band_filtered_read(spark, tmp_path_factory):
    """backlog_and_bands' bands cover each pending host's read window; a
    band-filtered candidate read equals the unfiltered one."""
    cursor = spark.createDataFrame(
        [
            {"host": "a", "consumed": 0, "next_pos": 30},
            {"host": "b", "consumed": 13, "next_pos": 14},
            {"host": "c", "consumed": 5, "next_pos": 5},  # drained
        ],
        schema=dfq.CURSOR,
    )
    bk = dfq.backlog_and_bands(cursor, budget=5)
    # a: [0,5) -> band 0; b: [13,18) -> bands 2,3; c: drained
    assert (bk.pending, bk.pending_hosts, bk.bands) == (31, 2, [0, 2, 3])

    cat = _queue_catalog(spark, str(tmp_path_factory.mktemp("q")))
    want = {("a", p) for p in range(5)} | {("b", 13)}
    for bands in (bk.bands, None):
        cand = dfq.read_candidates(cat, cursor, 5, 0, bands)
        assert {(r["host"], r["pos"]) for r in cand.collect()} == want


def test_unfiltered_candidate_read_runs_no_job(spark, tmp_path_factory):
    """Past MAX_BAND_INLIST bands backlog_and_bands returns bands=None,
    which read_candidates takes as "read every band": defining the
    candidate frame runs no Spark job (no second backlog aggregation)."""
    from test_compaction import _jobs_of

    n = dfq.MAX_BAND_INLIST + 2
    cursor = spark.createDataFrame(
        [
            {"host": f"h{i}", "consumed": 5 * i, "next_pos": 5 * i + 1}
            for i in range(n)
        ],
        schema=dfq.CURSOR,
    )
    bk = dfq.backlog_and_bands(cursor, budget=5)
    assert bk.bands is None and bk.pending_hosts == n
    cat = _queue_catalog(spark, str(tmp_path_factory.mktemp("wide")))
    cand, jobs = _jobs_of(
        spark, lambda: dfq.read_candidates(cat, cursor, 5, 0, bk.bands)
    )
    assert jobs == 0
    assert cand.count() == 0  # no queue row of h* hosts


def _budgeted_two_rounds(spark, root):
    world = World(seed=42, n_hosts=4, base_pages=40)
    cfg = CrawlConfig(
        max_depth=2, shuffle_partitions=8, politeness_budget=4,
        use_bloom=True,
    )
    cat = Catalog(spark, root)
    crawl(spark, world.seeds(), cfg, world, cat, max_rounds=2)
    return world, cfg, cat


def test_queue_files_are_flat_and_band_filter_is_pushed(
    spark, tmp_path_factory
):
    """After a 2-round budgeted crawl no frontier_q round dir has a
    subdirectory (the band lives in the files, not in dir names), and
    the next round's candidate read pushes its band filter into the
    Parquet scan."""
    import os

    root = str(tmp_path_factory.mktemp("flat"))
    _, cfg, cat = _budgeted_two_rounds(spark, root)
    rounds = cat.committed_rounds("frontier_q")
    assert rounds == [0, 1, 2]
    for r in rounds:
        d = cat._dir("frontier_q", r)
        assert not [n for n in os.listdir(d)
                    if os.path.isdir(os.path.join(d, n))], d
    cursor = dfq.read_cursor(cat, up_to_round=2)
    bk = dfq.backlog_and_bands(cursor, cfg.politeness_budget)
    assert bk.pending > 0 and bk.bands
    cand = dfq.read_candidates(cat, cursor, cfg.politeness_budget, 2, bk.bands)
    assert cand.count() > 0
    plan = cand._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "frontier_q" in ln]
    assert scans and all("PushedFilters: [In(band," in ln for ln in scans)


def test_resume_refuses_band_directory_layout(spark, tmp_path_factory):
    """A catalog whose frontier_q round dirs hold band=B subdirectories
    (the earlier queue layout) is refused on resume with a ValueError
    that names that layout, instead of Spark's conflicting-directory
    error at the first queue read."""
    root = str(tmp_path_factory.mktemp("banddirs"))
    world, cfg, cat = _budgeted_two_rounds(spark, root)
    for r in cat.committed_rounds("frontier_q"):
        d = cat._dir("frontier_q", r)
        spark.read.parquet(d).write.partitionBy("band").parquet(d + ".old")
        shutil.rmtree(d)
        shutil.move(d + ".old", d)
    assert dfq.band_dirs(cat)
    with pytest.raises(ValueError, match="one directory per band"):
        crawl(spark, world.seeds(), cfg, world, Catalog(spark, root))


def test_resume_frontier_mode_mismatch_raises(spark, tmp_path_factory):
    """ADVICE r6: resuming a catalog with the other politeness_budget
    setting must raise (each direction) instead of silently reporting
    the crawl finished with pending work still queued. The merged
    budgeted layout is gone: frontier_mode only accepts 'delta'."""
    world = World(seed=42, n_hosts=3, base_pages=40)
    parity = CrawlConfig(max_depth=3, shuffle_partitions=8)
    budgeted = CrawlConfig(
        max_depth=3, politeness_budget=3, shuffle_partitions=8
    )
    # parity catalog (frontier table), interrupted mid-run
    parity_dir = str(tmp_path_factory.mktemp("pp"))
    crawl(spark, world.seeds(), parity, world, Catalog(spark, parity_dir),
          max_rounds=1)
    with pytest.raises(ValueError, match="resume mode mismatch") as exc:
        crawl(spark, world.seeds(), budgeted, world,
              Catalog(spark, parity_dir))
    # a frontier table may also be a merged-layout budgeted catalog, so
    # the message must not send the user to politeness_budget=None
    assert "cannot be resumed with a budget" in str(exc.value)
    assert "politeness_budget=None" not in str(exc.value)
    # the refused resume left the pending work in place
    assert crawl(
        spark, world.seeds(), parity, world, Catalog(spark, parity_dir)
    ).rounds_run == 2
    # budgeted catalog (frontier_cursor rounds), interrupted mid-run
    delta_dir = str(tmp_path_factory.mktemp("dd"))
    crawl(spark, world.seeds(), budgeted, world, Catalog(spark, delta_dir),
          max_rounds=2)
    with pytest.raises(ValueError, match="resume mode mismatch"):
        crawl(spark, world.seeds(), parity, world, Catalog(spark, delta_dir))
    with pytest.raises(ValueError, match="frontier_mode"):
        CrawlConfig(frontier_mode="merged", politeness_budget=3)
    assert CrawlConfig(
        frontier_mode="delta", politeness_budget=5
    ).politeness_budget == 5


def test_delta_all_disposed_round(spark, tmp_path_factory):
    """A round whose WHOLE candidate slice is disposed (every candidate
    a duplicate insert whose first copy was already fetched) writes an
    empty scheduled table and fetches nothing while queued work remains;
    the seed-42 / 4-host / budget-3 world has one at round 10. Such a
    round must not end the crawl: it stops only when the loop-top
    backlog is drained, and must match parity mode's seen/product
    sets. (The round once also lost the disposed-count observation,
    which AQE's empty-relation propagation pruned from the write plan;
    the driver no longer observes that count.)"""
    world = World(seed=42, n_hosts=4, base_pages=40)
    res_d, _ = _crawl(
        spark, str(tmp_path_factory.mktemp("ad")), world,
        max_depth=3, politeness_budget=3,
    )
    res_p, _ = _crawl(
        spark, str(tmp_path_factory.mktemp("ap")), world, max_depth=3
    )
    assert _snap(res_d) == _snap(res_p)
    assert res_d.rounds_run > res_p.rounds_run
