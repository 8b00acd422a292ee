"""Incremental cross-round dedup: round k+1 documents classify against
the union of earlier rounds' ``incremental_dedup_delta`` outputs — a
COMPACT state (fingerprints + band set, no text) — without rescanning
prior rounds' text."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawlerfull_spark.operators import textdedup as TD


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _delta(docs, state):
    return TD.incremental_dedup_delta(docs, state, k=16, bands=4)


def _verdicts(delta):
    return {
        int(r["doc_id"]): r["status"]
        for r in delta.where(F.col("kind") == "verdict").collect()
    }


def test_incremental_classification(spark):
    prior = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog every day"),
            (2, "spark shuffles partition data across the cluster nodes"),
        ],
    )
    state = _delta(prior, None)
    # state is text-free — the structural no-rescan property
    assert "text" not in state.columns
    kinds = {r["kind"] for r in state.select("kind").distinct().collect()}
    assert kinds == {"verdict", "fp", "band", "meta"}

    new = _docs(
        spark,
        [
            (10, "the quick brown fox jumps over the lazy dog every day"),  # exact
            (11, "the  QUICK brown fox jumps over the lazy dog every day"),  # ws/case
            (12, "the quick brown fox jumps over the lazy dog every"),       # near
            (13, "a totally unrelated document about gardening and tulips"),
            (14, "a totally unrelated document about gardening and tulips"),  # batch dup
        ],
    )
    got = _verdicts(_delta(new, state))
    assert got[10] == "exact_dup"
    assert got[11] == "exact_dup"     # fingerprint is ws/case-normalized
    assert got[12] == "near_dup"
    assert got[13] == "kept"
    assert got[14] == "exact_dup"     # within-batch keep-first (lower id wins)


def test_incremental_chains_across_rounds(spark):
    """State accumulates kept docs only; a round-3 dup of a round-2 KEPT
    doc is caught, and a dup of a round-2 DROPPED doc is caught via its
    round-1 original. The state is the union of the round deltas, as
    the crawl driver keeps it."""
    r1 = _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta theta")])
    state = _delta(r1, None)

    r2 = _docs(
        spark,
        [
            (20, "alpha beta gamma delta epsilon zeta eta theta"),  # dropped (dup of 1)
            (21, "completely new words in the second round corpus"),
        ],
    )
    d2 = _delta(r2, state)
    assert _verdicts(d2) == {20: "exact_dup", 21: "kept"}
    # only the kept doc's fingerprint joins the state
    assert d2.where(F.col("kind") == "fp").count() == 1
    state = state.unionByName(d2)

    r3 = _docs(
        spark,
        [
            (30, "completely new words in the second round corpus"),  # dup of KEPT 21
            (31, "alpha beta gamma delta epsilon zeta eta theta"),    # dup of DROPPED 20
            (32, "yet another brand new document for round three"),
        ],
    )
    got = _verdicts(_delta(r3, state))
    assert got[30] == "exact_dup"
    assert got[31] == "exact_dup"
    assert got[32] == "kept"


def test_incremental_no_state_round_zero(spark):
    """Round 0: no prior state — only within-batch exact collapse."""
    r0 = _docs(
        spark,
        [
            (1, "one two three four five six seven"),
            (2, "one two three four five six seven"),
            (3, "something else entirely different here"),
        ],
    )
    got = _verdicts(_delta(r0, None))
    assert got == {1: "kept", 2: "exact_dup", 3: "kept"}


def test_delta_plan_reads_signatures_once(spark, tmp_path):
    """The stacked delta is one chain over its signature frame: the
    executed plan runs the signature kernel (one MapInPandas) once and
    caches nothing, so the round's text is scanned once without a
    persist."""
    def docs(rows):
        return spark.createDataFrame(rows, "doc_id string, text string")

    prior = docs([
        ("a", "the quick brown fox jumps over the lazy dog every day"),
        ("b", "spark shuffles partition data across the cluster nodes"),
    ])
    TD.incremental_dedup_delta(
        prior, None, k=16, bands=4, family="fast"
    ).write.parquet(str(tmp_path / "state"))
    state = spark.read.parquet(str(tmp_path / "state"))
    new = docs([
        ("c", "the quick brown fox jumps over the lazy dog every day"),
        ("d", "the quick brown fox jumps over the lazy dog every"),
        ("e", "a totally unrelated document about gardening and tulips"),
        ("f", "a totally unrelated document about gardening and tulips"),
    ])
    sigs = TD.dedup_signatures(new, k=16, bands=4, family="fast", kernel=True)
    delta = TD.incremental_dedup_delta(
        new, state, k=16, bands=4, sigs=sigs, family="fast"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in delta.where(F.col("kind") == "verdict").collect()
    }
    assert got == {"c": "exact_dup", "d": "near_dup", "e": "kept", "f": "exact_dup"}
    # the adaptive plan's final physical plan, without its initial plan
    text = delta._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert text.count("MapInPandas") == 1, text
    assert "InMemoryRelation" not in text and "InMemoryTableScan" not in text
