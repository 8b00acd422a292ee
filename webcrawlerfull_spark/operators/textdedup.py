"""Deduplication operators for the training-data pipeline.

- exact dedup: keep the lowest id per normalized-text fingerprint
  (functions.textstats.fingerprint)
- MinHash + LSH near-dup: shingle → K minhashes → band-bucket →
  bucket self-join. Hashing is md5-hex-min (md5 agrees bit-for-bit
  between Spark and DuckDB, and min over fixed-width lowercase hex ==
  min over the hash values), so the DuckDB oracle can mirror the whole
  pipeline exactly.
- SimHash: per-token md5 nibbles vote on 64 signature bits, kept as a
  hex string (cross-engine reproducible: md5 + integer arithmetic only).
- n-gram Jaccard verify: exact similarity on LSH candidate pairs only —
  the candidate set is LSH-bounded so the quadratic step never sees the
  full corpus (the scale-correct shape).
- incremental dedup: one round's docs classified against the compact
  fingerprint + band state of earlier rounds' kept docs
  (``incremental_dedup_delta``), the crawl's per-round doc dedup.
- connected components: near-dup clusters by large-star/small-star
  contraction (``connected_components_star``).

Everything is native explode/groupBy/join — no Python. At 100 TB the
heavy op is the band-bucket shuffle, which is K/r small fixed-width
strings per doc, not the documents themselves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcrawlerfull_spark.functions.textstats import fingerprint, tokens

DEFAULT_K = 64       # minhash functions (production width; r1 used 12)
DEFAULT_BANDS = 16   # LSH bands (rows per band = K / BANDS)
HEXD = "0123456789abcdef"


def shingles(text_col, n: int = 3):
    """n-token shingles over whitespace tokens (native array exprs).

    Built by zipping the token array with its own shifted slices — NOT
    by indexing with ``element_at`` inside a ``transform`` lambda. A
    lambda body re-evaluates captured non-bound expressions once per
    ELEMENT, so the indexing form re-ran the whole-text regex split per
    shingle: quadratic in document length (measured ~1.3 s/doc on 15 KB
    pages vs ~50 ms for this form, identical output)."""
    toks = tokens(F.lower(text_col))
    win = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, win)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, win),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= n, acc).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def minhash_signature(text_col, k: int = DEFAULT_K):
    """Array of K minhashes (md5-hex-min per salt) in ONE aggregate pass:
    per shingle, build the K salted hashes and fold with elementwise
    least(). K separate array_min(transform(...)) passes each materialize
    a full intermediate array — at K=64 that allocation dominated the
    stage (~30x slower than this fold). 'g' sorts above every hex char,
    so it is +inf for lowercase-hex min.

    Content-free documents (null/empty/whitespace text) get a NULL
    signature: they have no shingle evidence, and a shared placeholder
    signature would band every empty doc together and emit candidate
    pairs of unrelated near-empty documents (lsh_bands drops NULL
    signatures)."""
    sh = shingles(text_col)
    inf = F.array_repeat(F.lit("g"), k)
    folded = F.aggregate(
        sh,
        inf,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.md5(F.concat(s, F.lit(f"|{j}"))) for j in range(k)]),
            lambda a, b: F.least(a, b),
        ),
    )
    has_content = F.coalesce(F.trim(text_col) != "", F.lit(False))
    return F.when(has_content, folded)


# universal-hash modulus for the fast MinHash family: the Mersenne prime
# 2^31 - 1. Operands stay < 2^31, so a*h + b < 2^62 — never overflows a
# signed 64-bit long (Spark 4 runs ANSI mode: silent wraparound is not
# an option, arithmetic must provably fit).
_UH_PRIME = (1 << 31) - 1


def _uh_params(k: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) universal-hash coefficients — md5-derived
    like plane_weight in similarity.py, so the family is reproducible on
    any engine with no stored model."""
    import hashlib

    a, b = [], []
    for j in range(k):
        ha = hashlib.md5(f"mh-a-{j}".encode()).hexdigest()
        hb = hashlib.md5(f"mh-b-{j}".encode()).hexdigest()
        a.append(int(ha[:15], 16) % (_UH_PRIME - 1) + 1)   # 1 .. p-1
        b.append(int(hb[:15], 16) % _UH_PRIME)             # 0 .. p-1
    return a, b


def minhash_signature_fast(text_col, k: int = DEFAULT_K):
    """Array of K minhashes (longs) via ONE crc32 (zlib-compatible) per
    shingle + K universal-hash derivations h_j = (a_j*h + b_j) mod p —
    pure long arithmetic, no per-shingle string hashing or hex
    allocation.

    WHY THIS EXISTS: the md5 family above costs ~119 ms/doc-core on
    15 KB pages (k=64 ⇒ ~150k md5-of-concat evaluations per doc) —
    measured 375 s for 101k docs at 32 cores, which made the crawl's
    doc-dedup stage 40× the price of the round it ran in (BENCH §8).
    This family computes the same MinHash structure ~20-40× cheaper.
    It is a DIFFERENT hash family: band hashes are not comparable
    across families, so persisted dedup state carries a family marker
    (incremental_dedup_delta kind='meta') and the crawl driver refuses
    to resume across a family change. The md5 family stays the default
    for the DuckDB-oracled operators (the oracle replicates md5 in
    SQL).

    The base hash is crc32 (not xxhash64) DELIBERATELY: Spark's crc32
    and Python's zlib.crc32 are the same polynomial bit-for-bit, so the
    Arrow-batched numpy kernel below (dedup_signatures kernel=True —
    the crawl hot path) produces byte-identical band hashes to this
    expression form; xxhash64 has no stable Python twin. This
    expression form itself is NOT the hot path: higher-order
    aggregate/zip_with folds evaluate interpreted (no whole-stage
    codegen), measured ~260 s per 200k 15 KB docs at 32 cores
    regardless of hash function — the kernel does the same math in
    numpy at ~1/15 the cost (BENCH §8)."""
    sh = shingles(text_col)
    a, b = _uh_params(k)
    p = F.lit(_UH_PRIME).cast("long")
    # base hash once per shingle; the fold re-reads the array element,
    # not the crc32, when deriving the K streams
    hs = F.transform(
        sh, lambda s: F.pmod(F.crc32(F.encode(s, "UTF-8")), p)
    )
    inf = F.array_repeat(p, k)  # p > any value mod p
    folded = F.aggregate(
        hs,
        inf,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (F.lit(a[j]).cast("long") * h + F.lit(b[j])) % p
                    for j in range(k)
                ]
            ),
            lambda x, y: F.least(x, y),
        ),
    )
    has_content = F.coalesce(F.trim(text_col) != "", F.lit(False))
    return F.when(has_content, folded)


# Java-regex \\s and String.trim are ASCII-only; Python re's \\s is
# unicode-aware. The kernel replicates the JVM semantics exactly so its
# fingerprints/band hashes match the expression forms byte-for-byte.
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def _signatures_kernel(
    docs: DataFrame, id_col: str, text_col: str, k: int, bands: int
) -> DataFrame:
    """Arrow-batched numpy implementation of dedup_signatures for the
    'fast' family — the crawl's doc-dedup hot path.

    WHY PYTHON HERE (the third sanctioned kernel, after the HTML parse
    mapInArrow and the numpy bloom kernel): the signature math is
    shingles × K fold work that Spark can only express as higher-order
    aggregate/zip_with lambdas, which evaluate INTERPRETED (outside
    whole-stage codegen) — measured 262 s for a 200k-doc round at 32
    cores, dominating the crawl. Here the same math is one zlib.crc32
    per shingle (identical to the JVM's crc32) plus a vectorized
    (n_shingles × K) universal-hash min in numpy. Byte-equality with
    the expression form is pytest-pinned."""
    import hashlib
    import re
    import zlib

    import numpy as np
    import pandas as pd

    a_l, b_l = _uh_params(k)
    r = k // bands
    ws_re = re.compile(_JAVA_WS)

    def gen(batches):
        A = np.array(a_l, dtype=np.uint64)
        B = np.array(b_l, dtype=np.uint64)
        P = np.uint64(_UH_PRIME)
        for pdf in batches:
            ids, fps, bandss = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                t = text if isinstance(text, str) else ""
                ids.append(did)
                fps.append(
                    hashlib.md5(ws_re.sub(" ", t).lower().encode()).hexdigest()
                )
                # Spark's trim() strips SPACES only (0x20) — mirror it
                # exactly, both for the has_content gate and the token
                # split (a leading tab yields an empty first token in
                # both engines; split keeps trailing empties like
                # Spark's limit=-1). ASCII-lowercase corpus assumed for
                # str.lower() == Spark lower() (synthetic worlds are).
                if t.strip(" ") == "":
                    bandss.append([])   # content-free: no band evidence
                    continue
                toks = ws_re.split(t.lower().strip(" "))
                if len(toks) >= 3:
                    sh = [
                        " ".join(toks[i : i + 3])
                        for i in range(len(toks) - 2)
                    ]
                else:
                    sh = [" ".join(toks)]
                hs = (
                    np.fromiter(
                        (zlib.crc32(s.encode()) for s in sh),
                        dtype=np.uint64,
                        count=len(sh),
                    )
                    % P
                )
                mins = ((hs[:, None] * A[None, :] + B[None, :]) % P).min(axis=0)
                bandss.append(
                    [
                        hashlib.md5(
                            "|".join(
                                str(int(mins[bb * r + i])) for i in range(r)
                            ).encode()
                        ).hexdigest()
                        for bb in range(bands)
                    ]
                )
            yield pd.DataFrame(
                {id_col: ids, "_fp": fps, "_bands": bandss}
            )

    return docs.select(id_col, text_col).mapInPandas(
        gen, schema=f"{id_col} string, _fp string, _bands array<string>"
    )


def lsh_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band_id, band_hash) — docs sharing any (band_id, band_hash)
    are near-dup candidates. Content-free docs (NULL signature) emit no
    bands. The signature is projected ONCE and the band hashes derive
    from the projected column, so the K-hash fold runs once per doc, not
    once per band."""
    r = k // bands
    with_sig = docs.select(
        F.col(id_col), minhash_signature(F.col(text_col), k).alias("_sig")
    ).where(F.col("_sig").isNotNull())
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.element_at(F.col("_sig"), b * r + i + 1) for i in range(r)]
            )
        )
        for b in range(bands)
    ]
    wide = with_sig.select(
        F.col(id_col),
        *[c.alias(f"_b{b}") for b, c in enumerate(band_cols)],
    )
    stacked = wide.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"_b{b}").alias("band_hash"))
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    )
    return stacked.select(id_col, "band.band_id", "band.band_hash")


def minhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    pre_dedup: bool = True,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band.

    Skew hardening (the two ways a band self-join goes quadratic):
    - ``pre_dedup``: exact duplicates share EVERY band, so a dup group of
      size g alone contributes g²/2 pairs per band. Dedup by normalized-
      text fingerprint first and band only the min-id representative —
      exact dups are the fingerprint's job, not the LSH join.
    - ``max_bucket``: a degenerate band value (empty docs, boilerplate)
      can collect millions of members; buckets over the cap are EXCLUDED
      from pair generation (callers route oversized buckets to an exact
      verify/sampling path). The cap bounds any task's join work at
      max_bucket² per bucket regardless of corpus skew."""
    if pre_dedup:
        fps = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
        reps = fps.groupBy("_fp").agg(F.min(id_col).alias(id_col))
        docs = docs.join(reps.select(id_col), id_col, "left_semi")
    b = lsh_bands(docs, id_col, text_col, k, bands)
    if max_bucket is not None:
        sizes = b.groupBy("band_id", "band_hash").agg(F.count("*").alias("_n"))
        b = (
            b.join(sizes, ["band_id", "band_hash"])
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    left = b.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    right = b.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    return (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def dedup_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    family: str = "md5",
    kernel: bool = False,
) -> DataFrame:
    """(id, _fp, _bands) — ONE scan of the text yielding everything the
    incremental dedup path needs: the exact-dedup fingerprint plus the
    LSH band-hash array (empty for content-free docs, whose NULL MinHash
    signature carries no shingle evidence; empty for bands=0 exact-only
    mode). The per-doc record is fixed-width (~16 B + 32 B × bands);
    ``incremental_dedup_delta`` reads it once and never the text.

    ``family`` picks the MinHash hash family: 'md5' (oracle-replicable,
    expensive — K md5s per shingle) or 'fast' (crc32 + universal
    hashing, ~20-40× cheaper; see minhash_signature_fast). Band hashes
    stay md5-hex strings either way (16 per doc — cheap), so the state
    schema is family-independent; the VALUES differ, hence the family
    marker on persisted state."""
    empty = F.array().cast("array<string>")
    if bands <= 0:
        return docs.select(
            F.col(id_col),
            fingerprint(F.col(text_col)).alias("_fp"),
            empty.alias("_bands"),
        )
    if family not in ("md5", "fast"):
        raise ValueError(f"unknown MinHash family {family!r}")
    if kernel:
        if family != "fast":
            raise ValueError("the numpy kernel implements the 'fast' family")
        return _signatures_kernel(docs, id_col, text_col, k, bands)
    sig_fn = minhash_signature if family == "md5" else minhash_signature_fast
    r = k // bands
    with_sig = docs.select(
        F.col(id_col),
        fingerprint(F.col(text_col)).alias("_fp"),
        sig_fn(F.col(text_col), k).alias("_sig"),
    )
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.element_at(F.col("_sig"), b * r + i + 1).cast("string")
                    for i in range(r)
                ],
            )
        )
        for b in range(bands)
    ]
    return with_sig.select(
        F.col(id_col),
        "_fp",
        F.when(F.col("_sig").isNotNull(), F.array(*band_cols))
        .otherwise(empty)
        .alias("_bands"),
    )


def _label_against_state(
    sigs: DataFrame,
    state_fps: DataFrame | None,
    state_bands: DataFrame | None,
    id_col: str,
) -> DataFrame:
    """The incremental-dedup verdict over a ``dedup_signatures`` frame,
    one row per doc with a fingerprint: (id, ``_fp``, ``_exact`` (fp in
    state, or a lower-id doc in this batch shares it — keep-first),
    ``_near`` (≥1 band shared with the state), ``_blist`` (the doc's
    (band_id, band_hash) structs; empty for exact dups)).

    One linear chain that reads ``sigs`` once: a window for the
    keep-first representative, a left join on the state fingerprints,
    the non-exact docs' bands exploded into slim rows (never the whole
    array) and left-joined to the state bands, then one group per doc.
    Hash-key joins only; text is never touched."""
    labeled = sigs.where(F.col("_fp").isNotNull()).withColumn(
        "_rep", F.min(id_col).over(Window.partitionBy("_fp"))
    )
    exact = F.col(id_col) != F.col("_rep")
    if state_fps is not None:
        labeled = labeled.join(
            state_fps.select(F.col("fp").alias("_fp"), F.lit(True).alias("_in")),
            "_fp",
            "left",
        )
        exact = exact | F.col("_in").isNotNull()
    slim = labeled.withColumn("_exact", exact).select(
        id_col,
        "_fp",
        "_exact",
        F.posexplode_outer(F.when(~F.col("_exact"), F.col("_bands"))).alias(
            "band_id", "band_hash"
        ),
    )
    near = F.lit(False)
    if state_bands is not None:
        slim = slim.join(
            state_bands.select("band_id", "band_hash", F.lit(True).alias("_hit")),
            ["band_id", "band_hash"],
            "left",
        )
        near = F.max(F.col("_hit").isNotNull())
    return slim.groupBy(id_col, "_fp", "_exact").agg(
        near.alias("_near"),
        F.collect_list(
            F.when(
                F.col("band_hash").isNotNull(), F.struct("band_id", "band_hash")
            )
        ).alias("_blist"),
    )


def split_dedup_state(state: DataFrame | None) -> tuple[DataFrame | None, DataFrame | None]:
    """Unstack an ``incremental_dedup_delta`` table (any number of round
    deltas unioned) into the (state_fps, state_bands) pair
    ``_label_against_state`` consumes."""
    if state is None:
        return None, None
    return (
        state.where(F.col("kind") == "fp").select("fp"),
        state.where(F.col("kind") == "band").select("band_id", "band_hash"),
    )


def dedup_scheme(k: int, bands: int, family: str) -> str:
    """The persisted-state compatibility marker: band-hash values depend
    on (family, k, bands), so state written under one tuple must never
    be probed under another (silent near-dup misses). bands=0 has no
    band rows and a family-independent fingerprint."""
    if bands <= 0:
        return "dedup:exact-only:v1"
    return f"dedup:minhash-{family}:k={k}:b={bands}:v1"


def check_dedup_scheme(state: DataFrame, k: int, bands: int, family: str) -> None:
    """Raise unless persisted dedup state was written under this run's
    scheme. Band hashes are only comparable within one (family, k,
    bands) tuple — probing state written under another silently misses
    every near-dup (the bloom HASH_SCHEME hazard). Unlike bloom state,
    band state CANNOT be rebuilt (the source text may be gone), so a
    mismatch is a hard error, not a rebuild."""
    expect = dedup_scheme(k, bands, family)
    found = {
        r["status"]
        for r in state.where(F.col("kind") == "meta")
        .select("status")
        .distinct()
        .collect()
    } or {"<unstamped legacy state>"}
    if found != {expect}:
        raise ValueError(
            "persisted doc_dedup_state was written under scheme(s) "
            f"{sorted(found)} but this run uses {expect!r}; resume with "
            "the original dedup_family/dedup_k/dedup_bands or start a "
            "fresh catalog. (State that predates the scheme marker is "
            "intentionally unresumable: its family/k/bands cannot be "
            "validated, and probing it under the wrong scheme would "
            "silently miss every near-duplicate.)"
        )


def incremental_dedup_delta(
    docs: DataFrame,
    state: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    sigs: DataFrame | None = None,
    family: str = "md5",
) -> DataFrame:
    """One round's dedup output as a SINGLE stacked frame — the crawl
    driver's per-round doc-dedup write (one job, like the bloom delta):

    - ``kind='verdict'`` rows: (doc_id, status) for every input doc,
      status ∈ {exact_dup, near_dup, kept} vs the accumulated state:
      ``exact_dup`` = fingerprint already in the state, or a lower-id
      doc IN THIS BATCH shares it (within-batch keep-first);
      ``near_dup`` = not an exact dup, but shares ≥1 MinHash-LSH band
      with the state (within-batch near-dups are the batch-mode
      ``minhash_candidate_pairs``'s job — the contract is new-vs-prior);
      ``kept`` = neither. ``doc_id`` is the id cast to string (the
      stacked frame's common type); cast it back to a numeric id type.
    - ``kind='fp'`` / ``kind='band'`` rows: the KEPT docs' fingerprints
      and LSH band hashes — the next round's state delta
    - one ``kind='meta'`` row: the dedup_scheme marker (family/k/bands)
      the crawl driver validates before probing persisted state

    Sentinels ('' / -1) fill the unused columns so the frame is
    NULL-free (stacking convention). Round deltas union into the full
    state (pass None for round 0); ``split_dedup_state`` unstacks it.
    The state carries NO text: ~16 bytes (fp) + ``bands`` band hashes
    per kept doc, so round k+1 dedups against it without rescanning
    any prior round's text — the MinHash analogue of the bloom
    seen-state.

    Every row derives from ONE read of the ``dedup_signatures`` frame
    (``_label_against_state``): each doc emits its verdict row, plus its
    fp row and band rows if kept, from one explode; the fp and band rows
    are deduped, then the meta row is unioned. Scale shape: hash-key
    joins only, prior text never rescanned; the state rows per round are
    O(kept docs × bands), fixed-width."""
    state_fps, state_bands = split_dedup_state(state)
    if sigs is None:
        sigs = dedup_signatures(docs, id_col, text_col, k, bands, family)
    labeled = _label_against_state(
        sigs, state_fps, state_bands if bands > 0 else None, id_col
    )
    near = F.col("_near")
    s_str, s_int = F.lit(""), F.lit(-1).cast("int")

    def row(kind, doc_id=s_str, status=s_str, fp=s_str, band_id=s_int,
            band_hash=s_str):
        return F.struct(
            F.lit(kind).alias("kind"),
            doc_id.alias("doc_id"),
            status.alias("status"),
            fp.alias("fp"),
            band_id.alias("band_id"),
            band_hash.alias("band_hash"),
        )

    verdict = row(
        "verdict",
        # string, as the sentinel rows' '': a numeric id would not stack
        doc_id=F.col(id_col).cast("string"),
        status=F.when(F.col("_exact"), F.lit("exact_dup"))
        .when(near, F.lit("near_dup"))
        .otherwise(F.lit("kept")),
    )
    kept_rows = F.concat(
        F.array(verdict, row("fp", fp=F.col("_fp"))),
        F.transform(
            "_blist",
            lambda b: row("band", band_id=b["band_id"], band_hash=b["band_hash"]),
        ),
    )
    rows = F.when(~F.col("_exact") & ~near, kept_rows).otherwise(
        F.array(verdict)
    )
    # one meta row per delta: the hash-scheme marker the crawl driver
    # validates on resume (the bloom HASH_SCHEME pattern — probing band
    # hashes written by a different family/k/bands silently misses
    # every near-dup)
    meta_row = docs.sparkSession.createDataFrame(
        [("meta", "", dedup_scheme(k, bands, family), "", -1, "")],
        "kind string, doc_id string, status string, fp string, "
        "band_id int, band_hash string",
    )
    return (
        labeled.select(F.explode(rows).alias("_row"))
        .select("_row.*")
        .distinct()
        .unionByName(meta_row)
    )


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 — public algorithm): converges in O(log n) rounds
    INDEPENDENT of graph diameter, vs min-label propagation's
    O(diameter). Returns (node, component) with component = min node id
    in the cluster — the final step of a dedup pipeline (a near-dup
    CLUSTER keeps one representative, not one survivor per pairwise
    edge).

    Per round over the undirected edge set E:
    - large-star: for each node u, connect every strictly-LARGER
      neighbor to m = min(Γ(u) ∪ {u})
    - small-star: direct edges large→small; for each u, connect every
      neighbor and u itself to m = min(N(u))
    Both keep the component's min reachable while halving star depth;
    fixpoint = the edge set stops changing (checked with one count +
    hash-sum aggregate per round, not a full diff join). A round is two
    shuffles — on an adversarial chain this is ~2·log2(n) shuffles
    total where propagation needs n.

    ``stats`` (optional dict) gets ``rounds`` filled in — the chain-
    graph convergence test asserts the log bound."""
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )

    def _checksum(edges: DataFrame):
        # decimal sum: summing raw 64-bit hashes overflows long under
        # ANSI mode; decimal(38,0) is overflow-free to ~10^18 edges and
        # order-independent
        row = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def _large_star(edges: DataFrame) -> DataFrame:
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("_m")
        )
        return (
            sym.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        d = edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).distinct()
        m = d.groupBy("src").agg(F.min("dst").alias("_m"))
        j = d.join(m, "src")
        out = j.select(
            F.col("dst").alias("src"), F.col("_m").alias("dst")
        ).unionByName(j.select(F.col("src"), F.col("_m").alias("dst")))
        return out.where(F.col("src") != F.col("dst")).distinct()

    prev = _checksum(e)
    rounds = 0
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        rounds += 1
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edges are stars (node -> component min); add the centers
    # and any isolated nodes
    labels = e.select(F.col("src").alias(node_col), F.col("dst").alias("component"))
    centers = e.select(F.col("dst").alias(node_col), F.col("dst").alias("component"))
    labels = labels.unionByName(centers).distinct()
    if nodes is not None:
        isolated = nodes.select(F.col(node_col)).join(
            labels.select(node_col), node_col, "left_anti"
        )
        labels = labels.unionByName(
            isolated.select(
                F.col(node_col), F.col(node_col).alias("component")
            )
        )
    return labels


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only (verify stage)."""
    sets = docs.select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), n)).alias("sh")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = candidate_pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.withColumn(
            "jaccard", F.round(inter / F.greatest(union, F.lit(1)), 4)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_votes(text_col, bits: int = 64):
    """Per-bit vote sums for a ``bits``-wide simhash: each token's md5
    (computed ONCE per token, then reused for all bits) votes ±1 on bit b
    according to hex nibble b//4's bit b%4. One pass over the token array
    (aggregate + zip_with); returns array<int> of length ``bits``."""
    toks = tokens(F.lower(text_col))
    hashes = F.transform(toks, lambda t: F.md5(t))
    hexd = F.lit(HEXD)

    def bitvote(h, b: int):
        nib, bit = divmod(b, 4)
        nibble = F.instr(hexd, F.substring(h, nib + 1, 1)) - 1
        return F.when(
            (F.floor(nibble / F.lit(2 ** bit)) % 2) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, F.array(*[bitvote(h, b) for b in range(bits)]), lambda a, v: a + v
        ),
    )


def simhash_hex_from_votes(votes_col, bits: int = 64):
    """Hex-string signature from a materialized votes column: nibble n
    encodes bits 4n..4n+3 (bit 4n+j has weight 2^j). String form keeps
    the full 64 bits portable across engines (no signed-long games)."""
    hexchars = F.array(*[F.lit(c) for c in HEXD])
    chars = []
    for n in range(bits // 4):
        val = F.lit(0)
        for j in range(4):
            val = val + F.when(
                F.element_at(votes_col, 4 * n + j + 1) > 0, F.lit(2 ** j)
            ).otherwise(F.lit(0))
        chars.append(F.element_at(hexchars, val + 1))
    return F.concat(*chars)


def simhash64_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) with a 64-bit hex-string signature. Two-step select
    so the vote aggregate is evaluated once, not once per nibble."""
    with_votes = docs.select(
        F.col(id_col), simhash_votes(F.col(text_col)).alias("_votes")
    )
    return with_votes.select(
        id_col, simhash_hex_from_votes(F.col("_votes")).alias("simhash")
    )


def _nib(sig_col, n: int):
    return F.instr(F.lit(HEXD), F.substring(sig_col, n + 1, 1)) - 1


def simhash_hamming(sig_a, sig_b, bits: int = 64):
    """Exact Hamming distance between two hex-string signatures."""
    d = F.lit(0)
    for n in range(bits // 4):
        d = d + F.bit_count(_nib(sig_a, n).bitwiseXOR(_nib(sig_b, n)))
    return d


def simhash_hamming_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int = 3,
    bands: int = 4,
    pre_dedup: bool = True,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by 64-bit simhash within a Hamming ball: candidate
    generation is BANDED (pigeonhole: distance ≤ bands-1 guarantees at
    least one of ``bands`` equal 16-bit slices — the classic
    permute-and-block shape, so the self-join is on band equality, never
    all-pairs), then exact Hamming verify on candidates only.

    Skew hardening — the same two quadratic failure modes
    ``minhash_candidate_pairs`` guards against apply here, and WORSE: an
    exact-dup group shares ALL ``bands`` band values, so g identical
    boilerplate docs alone emit g²/2 candidate pairs per band:
    - ``pre_dedup``: collapse exact duplicates to their min-id
      representative first (exact dups are the fingerprint's job)
    - ``max_bucket``: band values whose bucket exceeds the cap are
      excluded from pair generation, bounding any task's join work at
      max_bucket² regardless of corpus skew (degenerate case: every
      empty doc simhashes to all-zero and shares every band)."""
    assert max_distance < bands, "pigeonhole needs max_distance < bands"
    if pre_dedup:
        fps = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("_fp"))
        reps = fps.groupBy("_fp").agg(F.min(id_col).alias(id_col))
        docs = docs.join(reps.select(id_col), id_col, "left_semi")
    sigs = simhash64_df(docs, id_col, text_col)
    width = (64 // bands) // 4  # hex chars per band
    stacked = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.substring("simhash", b * width + 1, width).alias(
                            "band_val"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_id", "band.band_val")
    if max_bucket is not None:
        sizes = stacked.groupBy("band_id", "band_val").agg(
            F.count("*").alias("_n")
        )
        stacked = (
            stacked.join(sizes, ["band_id", "band_val"])
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    left = stacked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"),
        "band_id", "band_val",
    )
    right = stacked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"),
        "band_id", "band_val",
    )
    cands = (
        left.join(right, ["band_id", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", simhash_hamming(F.col("sig_a"), F.col("sig_b"))
        )
        .where(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )
