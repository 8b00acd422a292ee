"""Scale hardening of the near-dup detectors (VERDICT r1 items 4/6):
K=64 MinHash with exact-dup pre-collapse and band-bucket caps; 64-bit
SimHash with banded Hamming-ball pair generation."""

from __future__ import annotations

from pyspark.sql import functions as F

from webcrawlerfull_spark.operators import textdedup as TD


def _skewed_corpus(spark, n_identical=300):
    """Adversarial bucket: a huge exact-dup group (all 300 share every
    band) plus two true near-dups and one outlier."""
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    rows = [(i, boiler) for i in range(n_identical)]
    rows += [
        (10_001, boiler + " tempor"),                 # near-dup of the group
        (10_002, "a completely different document about spark shuffles"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_pre_dedup_kills_quadratic_group(spark):
    corpus = _skewed_corpus(spark)
    pairs = TD.minhash_candidate_pairs(corpus, k=64, bands=16).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    # the 300-dup group collapsed to its min-id representative (0): no
    # quadratic intra-group pairs survive
    assert len(pairs) <= 4, pairs
    assert all(i in (0, 10_001, 10_002) for i in ids)
    # the representative still pairs with the true near-dup
    assert any({r["id_a"], r["id_b"]} == {0, 10_001} for r in pairs)


def test_minhash_bucket_cap_bounds_join(spark):
    corpus = _skewed_corpus(spark, n_identical=50)
    # pre_dedup off + tiny cap: the 50-member buckets are excluded, so
    # the join generates (at most) pairs from small buckets only
    pairs = TD.minhash_candidate_pairs(
        corpus, k=64, bands=16, pre_dedup=False, max_bucket=10
    ).collect()
    assert len(pairs) < 50 * 49 / 2 / 10  # nowhere near quadratic
    # with the cap lifted the group explodes quadratically (shape check
    # at tiny n only — this is exactly what the cap prevents at scale)
    pairs_uncapped = TD.minhash_candidate_pairs(
        corpus, k=64, bands=16, pre_dedup=False, max_bucket=None
    ).count()
    assert pairs_uncapped >= 50 * 49 / 2


def test_minhash_content_free_docs_emit_no_bands(spark):
    """Null/empty/whitespace docs get a NULL signature — without it every
    content-free doc shares one placeholder signature and the band join
    emits pairs of unrelated near-empty documents."""
    rows = [
        (1, ""), (2, None), (3, "   "),
        (4, "real content words here today"), (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    # pre_dedup off + no cap: the old behavior would pair (1,2),(1,3)...
    pairs = TD.minhash_candidate_pairs(
        docs, pre_dedup=False, max_bucket=None
    ).collect()
    assert pairs == []


def test_simhash_pre_dedup_kills_quadratic_group(spark):
    """Same adversarial corpus as the minhash test: the 300-identical-doc
    group must collapse to one representative, not emit 300²/2 pairs."""
    corpus = _skewed_corpus(spark)
    # the 10-token boilerplate sits at Hamming 12 from its one-word-added
    # near-dup (short docs flip many bits per token)
    pairs = TD.simhash_hamming_pairs(corpus, max_distance=14, bands=16).collect()
    ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert len(pairs) <= 4, pairs
    assert all(i in (0, 10_001, 10_002) for i in ids)
    assert any({r["id_a"], r["id_b"]} == {0, 10_001} for r in pairs)


def test_simhash_bucket_cap_bounds_join(spark):
    corpus = _skewed_corpus(spark, n_identical=50)
    capped = TD.simhash_hamming_pairs(
        corpus, max_distance=6, bands=8, pre_dedup=False, max_bucket=10
    ).count()
    uncapped = TD.simhash_hamming_pairs(
        corpus, max_distance=6, bands=8, pre_dedup=False, max_bucket=None
    ).count()
    assert uncapped >= 50 * 49 / 2     # identical docs share every band
    assert capped < 50 * 49 / 2 / 10   # over-cap buckets excluded


def test_cosine_pairs_degenerate_bucket_cap(spark):
    """300 zero vectors all sign identically (one degenerate LSH bucket);
    the cap excludes that bucket while the true near-dup pair, living in
    a small bucket, is still found."""
    from webcrawlerfull_spark.operators import similarity as SIM

    base = [1.0, 0.5, 0.25, 2.0, 0.1, 0.3, 0.7, 1.5]  # sig 000110 != 000000
    rows = [(i, [0.0] * 8) for i in range(300)]
    rows += [(10_001, base), (10_002, [base[0] + 0.001] + base[1:])]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    capped = SIM.cosine_near_dup_pairs(
        emb, dims=8, threshold=0.9, planes=6, max_bucket=50
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in capped}
    assert (10_001, 10_002) in got
    assert all(a >= 10_000 and b >= 10_000 for a, b in got)
    # shape check at tiny n: without the cap the degenerate bucket alone
    # forces ~300²/2 cosine evaluations (threshold -1 surfaces them all)
    uncapped_all = SIM.cosine_near_dup_pairs(
        emb, dims=8, threshold=-1.0, planes=6, max_bucket=None
    ).count()
    capped_all = SIM.cosine_near_dup_pairs(
        emb, dims=8, threshold=-1.0, planes=6, max_bucket=50
    ).count()
    assert uncapped_all >= 300 * 299 / 2
    assert capped_all <= 10


def test_planes_for_scaling():
    from webcrawlerfull_spark.operators.similarity import planes_for

    assert planes_for(1_000, 1024) == 4          # floor
    assert planes_for(1_000_000, 1024) == 10
    assert planes_for(10 ** 9, 1024) == 20


def test_connected_components(spark):
    """Star contraction on chains, stars, a pair, a cycle and a
    singleton: every node is labeled with its component's min id."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),        # chain -> component 1
            (10, 11), (10, 12), (10, 13),  # star  -> component 10
            (20, 21),                      # pair  -> component 20
            (30, 31), (32, 31), (32, 33), (30, 33),  # 4-cycle -> 30
        ],
        ["id_a", "id_b"],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 13, 20, 21, 30, 31, 32, 33, 99]],
        ["node"],
    )
    got = {
        r["node"]: r["component"]
        for r in TD.connected_components_star(pairs, nodes=nodes).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30,
        99: 99,  # singleton keeps itself
    }


def test_connected_components_long_chain_converges(spark):
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in TD.connected_components_star(pairs).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_star_components_chain_log_rounds(spark):
    """Adversarial chain of 257 nodes: min-label propagation needs
    O(diameter)=256 label hops; star contraction must finish in
    O(log n) rounds (the r3 VERDICT ask). Bound: 2*ceil(log2 n) + 2."""
    import math

    n = 256  # edges; 257 nodes, diameter 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    stats: dict = {}
    got = {
        r["node"]: r["component"]
        for r in TD.connected_components_star(pairs, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}
    bound = 2 * math.ceil(math.log2(n + 1)) + 2
    assert stats["rounds"] <= bound, stats


def test_simhash64_near_dup_distance(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
        (2, "the quick brown fox jumps over the lazy dog and runs away"),
        (3, "completely different text about spark engines and shuffles here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in TD.simhash64_df(docs).collect()}
    assert all(len(s) == 16 for s in sigs.values())

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    assert ham(sigs[1], sigs[2]) < ham(sigs[1], sigs[3])


def test_simhash_hamming_pairs_banded(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs away fast "
        "while the sun sets over the quiet green hills of the old valley"
    )
    rows = [(1, base), (2, base + " tonight"), (3, "unrelated words entirely")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = TD.simhash_hamming_pairs(docs, max_distance=6, bands=8).collect()
    keys = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in keys
    assert (1, 3) not in keys and (2, 3) not in keys
    # engine hamming agrees with the python reference on the pair
    sigs = {r["doc_id"]: r["simhash"] for r in TD.simhash64_df(docs).collect()}
    eng = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert eng[(1, 2)] == bin(int(sigs[1], 16) ^ int(sigs[2], 16)).count("1")
