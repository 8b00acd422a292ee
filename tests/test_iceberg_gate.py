"""IcebergCatalog feature gate: the real writeTo code path exists with
the same interface as the parquet Catalog, shares its state logic, and
refuses cleanly when the Iceberg runtime is not configured (this sandbox
has no jar)."""

from __future__ import annotations

import inspect

import pytest

from webcrawlerfull_spark.sources.catalog import (
    Catalog,
    IcebergCatalog,
    iceberg_available,
)


def test_gate_refuses_without_runtime(spark):
    assert not iceberg_available(spark, "local")
    with pytest.raises(RuntimeError, match="iceberg"):
        IcebergCatalog(spark)


def test_interface_parity():
    """Every public Catalog method the driver uses exists on
    IcebergCatalog with the same signature — the constructor swap is
    real, not aspirational."""
    driver_surface = [
        "write_round", "has_round", "read_round", "committed_rounds",
        "read_all", "read_all_with_round", "read_bloom", "compact",
        "compact_latest",
        "max_committed_round", "drop_rounds_after", "drop_table", "destroy",
    ]
    for name in driver_surface:
        a = inspect.signature(getattr(Catalog, name))
        b = inspect.signature(getattr(IcebergCatalog, name))
        assert a == b, (name, a, b)
    assert IcebergCatalog.TABLES == Catalog.TABLES


def test_state_logic_is_shared():
    """The read, derived-seen, latest-per-key and compaction rules are
    one implementation: both catalogs resolve them to the same function,
    so the Iceberg path runs the code the parquet tests exercise."""
    shared = [
        "committed_rounds", "read_all", "read_all_with_round",
        "read_latest", "read_bloom", "compact", "compact_latest",
        "max_committed_round", "drop_rounds_after",
    ]
    for name in shared:
        assert getattr(Catalog, name) is getattr(IcebergCatalog, name), name
        assert name not in vars(IcebergCatalog), name


def test_compact_is_staged_single_overwrite(spark, monkeypatch):
    """The jar can't run here, so the crash-safety FLOW of
    IcebergCatalog.compact is pinned by recording every statement it
    issues against a stub session (ADVICE r3: the old flow was
    overwrite-then-DELETE — a crash between the two snapshots left
    pre-up_to rounds double-counted). Required order: stage the merged
    rows in a scratch table, then ONE atomic overwrite of all
    _r <= up_to on the target, then drop the scratch. No DELETE ever;
    no read of the target inside its own overwrite."""
    events: list[tuple] = []

    class StubWriter:
        def __init__(self, tbl):
            self.tbl = tbl

        def create(self):
            events.append(("create", self.tbl))

        def overwrite(self, cond):
            events.append(("overwrite", self.tbl, str(cond)))

        def overwritePartitions(self):
            events.append(("overwritePartitions", self.tbl))

    class StubDF:
        def withColumn(self, *a, **k):
            return self

        def where(self, *a):
            return self

        def drop(self, *a):
            return self

        def writeTo(self, tbl):
            return StubWriter(tbl)

    class StubSpark:
        def sql(self, q):
            events.append(("sql", " ".join(q.split())))
            return StubDF()

        def table(self, tbl):
            events.append(("read", tbl))
            return StubDF()

    cat = object.__new__(IcebergCatalog)
    cat.spark = StubSpark()
    cat.catalog_name = "local"
    cat.namespace = "crawl"
    monkeypatch.setattr(cat, "committed_rounds", lambda table: [0, 1, 2])
    monkeypatch.setattr(
        cat, "read_all", lambda table, up_to_round=None: StubDF()
    )
    monkeypatch.setattr(cat, "_exists", lambda table: True)

    assert cat.compact("products", 2, ["task_id", "domain", "url"]) is True

    scratch = "local.crawl.tmp_compact_products"
    target = "local.crawl.products"
    assert events == [
        ("sql", f"DROP TABLE IF EXISTS {scratch}"),
        ("create", scratch),
        ("read", scratch),
        ("overwrite", target, events[3][2]),
        ("sql", f"DROP TABLE IF EXISTS {scratch}"),
    ]
    # the single-snapshot condition covers EVERY pre-compaction round
    assert "_r" in events[3][2] and "2" in events[3][2]
    # and the target table is never read (self-referencing overwrite)
    assert ("read", target) not in events


def test_compact_latest_is_staged_single_overwrite(spark, monkeypatch):
    """IcebergCatalog.compact_latest (seen_bloom, frontier_cursor) runs
    the same staged flow as compact: the newest row per key, read from
    the round-tagged rows, lands in a scratch table, then ONE atomic
    overwrite of all _r <= up_to replaces the target. No DELETE."""
    events: list[tuple] = []

    class StubWriter:
        def __init__(self, tbl):
            self.tbl = tbl

        def create(self):
            events.append(("create", self.tbl))

        def overwrite(self, cond):
            events.append(("overwrite", self.tbl, str(cond)))

    class StubDF:
        def withColumn(self, *a, **k):
            return self

        def where(self, *a):
            return self

        def drop(self, *a):
            return self

        def writeTo(self, tbl):
            return StubWriter(tbl)

    class StubSpark:
        def sql(self, q):
            events.append(("sql", " ".join(q.split())))
            return StubDF()

        def table(self, tbl):
            events.append(("read", tbl))
            return StubDF()

    cat = object.__new__(IcebergCatalog)
    cat.spark = StubSpark()
    cat.catalog_name = "local"
    cat.namespace = "crawl"
    latest_reads = []
    monkeypatch.setattr(cat, "committed_rounds", lambda table: [0, 1, 2])
    monkeypatch.setattr(
        cat, "read_all", lambda table, up_to_round=None: StubDF()
    )

    def read_all_with_round(table, up_to_round=None):
        latest_reads.append((table, up_to_round))
        return StubDF()

    monkeypatch.setattr(cat, "read_all_with_round", read_all_with_round)
    monkeypatch.setattr(cat, "_exists", lambda table: True)

    assert cat.compact_latest("seen_bloom", 2, ["bucket_id"]) is True

    scratch = "local.crawl.tmp_compact_seen_bloom"
    target = "local.crawl.seen_bloom"
    assert latest_reads == [("seen_bloom", 2)]
    assert events == [
        ("sql", f"DROP TABLE IF EXISTS {scratch}"),
        ("create", scratch),
        ("read", scratch),
        ("overwrite", target, events[3][2]),
        ("sql", f"DROP TABLE IF EXISTS {scratch}"),
    ]
    assert "_r" in events[3][2] and "2" in events[3][2]
    assert not any(e[0] == "sql" and "DELETE" in e[1] for e in events)


def test_submit_flag_wires_iceberg_catalog(spark, tmp_path, monkeypatch):
    """submit_crawl --iceberg-catalog NAME selects the IcebergCatalog
    constructor (namespace = basename of --catalog) and, without the
    runtime jar, surfaces the gate's clear RuntimeError instead of
    silently falling back to parquet."""
    import submit_crawl

    monkeypatch.setattr(
        submit_crawl.sys, "argv",
        ["submit_crawl.py", "--catalog", str(tmp_path / "ns1"),
         "--iceberg-catalog", "wcf", "--world-hosts", "2",
         "--world-pages", "10"],
    )
    with pytest.raises(RuntimeError, match="iceberg"):
        submit_crawl.main()
