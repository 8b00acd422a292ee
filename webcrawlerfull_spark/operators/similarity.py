"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: the exactness baseline. Dot products via
  ``zip_with`` + ``aggregate`` higher-order functions — JVM-side, no UDF.
- LSH-bucketed ANN: random-hyperplane signature (hash-derived ±1
  weights, so the planes are reproducible everywhere with no stored
  model), bucket by signature, exact cosine only within the query's
  bucket. The scale path: the full-corpus scan becomes one bucket scan;
  at 100 TB bucket the corpus ONCE, then every query reads only the
  dirs that hold its probe buckets.

Persisted LSH index layout (``write_lsh_index``)::

    <path>/sig_prefix=<first prefix_bits signature bits>/part-*.parquet
    <path>/_ann_meta.json   {planes, dims, id_col, vec_col,
                             prefix_bits, schema}

``prefix_bits = min(planes, planes_for(n))``: at the designed sizing
(planes <= planes_for(n)) each dir is one bucket; an over-planed small
corpus shares a dir between 2^(planes - prefix_bits) buckets instead of
writing one ~10-row file per bucket. ``sig`` stays a data column and the
probe keeps the exact ``sig IN probes`` filter, so results do not depend
on the layout. A probe maps its signatures to their distinct prefixes,
finds the dirs that exist with one Hadoop-FS glob and reads only those,
with ``basePath`` and the stored schema: no listing of the whole index
and no footer-inference job (Spark still lists the dirs it is given in
parallel, as a job, above 32 of them). The IVF index is read the same
way. An index whose meta has no ``prefix_bits`` (the earlier layout:
one ``sig=`` dir per whole signature) is read through the same code.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from webcrawlerfull_spark.sources import fsutil


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_sim(a, b):
    return _dot(a, b) / (
        F.greatest(_norm(a), F.lit(1e-12)) * F.greatest(_norm(b), F.lit(1e-12))
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force exact top-k by cosine similarity to a literal query."""
    q = _query_array(query_vec)
    sim = cosine_sim(F.col(vec_col), q)
    return (
        embeddings.select(F.col(id_col), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _query_array(query_vec: list[float]):
    """Literal array<double> column for a query vector via ONE parsed
    SQL expression (repr() round-trips doubles exactly; verified) — the
    per-component ``F.lit`` form cost one py4j round trip per dim."""
    return F.expr(
        "array(" + ",".join(f"{float(x)!r}D" for x in query_vec) + ")"
    )


def plane_weight(plane: int, dim: int) -> int:
    """Deterministic ±1 hyperplane weight from md5 — reproducible on any
    engine (no stored model)."""
    h = hashlib.md5(f"{plane},{dim}".encode()).hexdigest()
    return 1 if h[0] in "01234567" else -1


def lsh_signature(vec_col, dims: int, planes: int = 8):
    """Bit-string signature: sign of <w_p, x> per hyperplane.

    Shape (r7): the ±1 weight matrix is ONE constant-folded SQL literal
    and the projections run as ``transform``/``zip_with``/``aggregate``
    over it — ~15 py4j calls and a ~20-node tree. The former per-term
    chained form (planes × dims ``element_at`` additions) cost 3-5 s of
    driver-side Column construction per call at 8×64 and handed Catalyst
    a 512-node expression tree. Bit-identical output: multiplying by
    exactly ±1.0 IS the IEEE-754 sign flip, and the addition order (d
    ascending, left fold) is unchanged."""
    w_rows = ",".join(
        "array("
        + ",".join(
            "1.0D" if plane_weight(p, d) > 0 else "-1.0D"
            for d in range(dims)
        )
        + ")"
        for p in range(planes)
    )
    weights = F.expr(f"array({w_rows})")
    projs = F.transform(
        weights,
        lambda w: F.aggregate(
            F.zip_with(vec_col, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return F.concat_ws(
        "",
        F.transform(
            projs, lambda p: F.when(p > 0, F.lit("1")).otherwise(F.lit("0"))
        ),
    )


def query_signature(query_vec: list[float], dims: int, planes: int = 8) -> str:
    """The query vector's bucket signature (driver-side, no Spark)."""
    return "".join(
        "1"
        if sum(plane_weight(p, d) * float(query_vec[d]) for d in range(dims)) > 0
        else "0"
        for p in range(planes)
    )


def probe_signatures(q_sig: str, multi_probe: int = 1) -> list[str]:
    """Multi-probe bucket set: the exact signature plus every signature
    within Hamming distance ``multi_probe`` (flip 1..m bits). A vector
    near a hyperplane lands on either side with ~equal probability, so
    probing the 1-flip neighbors bounds the recall loss of single-bucket
    LSH at the cost of planes+1 (m=1) bucket reads instead of 1."""
    sigs = {q_sig}
    frontier = {q_sig}
    for _ in range(multi_probe):
        nxt = set()
        for s in frontier:
            for i in range(len(s)):
                flipped = s[:i] + ("0" if s[i] == "1" else "1") + s[i + 1 :]
                if flipped not in sigs:
                    nxt.add(flipped)
        sigs |= nxt
        frontier = nxt
    return sorted(sigs)


# the persisted LSH index's partition column: the first prefix_bits
# signature bits (see write_lsh_index)
PREFIX_COL = "sig_prefix"


def lsh_index(
    embeddings: DataFrame,
    dims: int,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sig, id, embedding) — the ANN index rows: signatures computed
    ONCE over the corpus, not per query."""
    return embeddings.select(
        lsh_signature(F.col(vec_col), dims, planes).alias("sig"),
        F.col(id_col),
        F.col(vec_col),
    )


def write_lsh_index(
    embeddings: DataFrame,
    path: str,
    dims: int,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the index PARTITIONED BY signature prefix: a query then
    reads only the dirs of its probe buckets (at 100 TB each query scans
    ~(probes/2^planes) of the corpus instead of all of it).

    One corpus count sizes both the default ``planes`` and the dir
    layout: the index is partitioned on ``sig_prefix``, the first
    ``prefix_bits = min(planes, planes_for(n))`` signature bits. At the
    designed sizing that is one dir per bucket; with more planes than
    the corpus fills (8 planes over 2k vectors: ~200 non-empty buckets
    of ~10 rows) buckets share 2^prefix_bits dirs, because each parquet
    file costs ~10 ms of writer and commit time however few rows it
    holds.

    ``planes``, ``prefix_bits`` and the index schema are recorded in
    ``_ann_meta.json`` inside the index dir (underscore-prefixed:
    parquet readers ignore it), so queries cannot silently probe with a
    mismatched signature scheme and read without inferring the schema.
    Default planes = ``planes_for(corpus count)``; pass explicitly to
    override."""
    import json

    fit = planes_for(embeddings.count())
    planes = fit if planes is None else planes
    prefix_bits = min(planes, fit)
    # repartition by prefix BEFORE the partitioned write: otherwise
    # every input task writes a file into up to 2^prefix_bits dirs
    # (tasks × dirs small files — a filesystem DoS at scale); after the
    # shuffle each dir is one task's contiguous write, so the index is
    # one file per dir and the probe read opens exactly the probed
    # dirs' files. The partition COUNT is pinned explicitly (r7): a
    # keyed repartition with no count is AQE-coalescible, and on a small
    # corpus AQE folded every dir into ONE task that created the files
    # sequentially (~15-40 ms of parquet writer open/close/rename each).
    n_write = max(
        1,
        min(
            2 ** prefix_bits,
            embeddings.sparkSession.sparkContext.defaultParallelism,
        ),
    )
    idx = lsh_index(embeddings, dims, planes, id_col, vec_col).withColumn(
        PREFIX_COL, F.substring("sig", 1, prefix_bits)
    )
    idx.repartition(n_write, F.col(PREFIX_COL)).write.mode(
        "overwrite"
    ).partitionBy(PREFIX_COL).parquet(path)
    meta = {
        "planes": planes,
        "dims": dims,
        "id_col": id_col,
        "vec_col": vec_col,
        "prefix_bits": prefix_bits,
        "schema": idx.schema.jsonValue(),
        "guidance": "planes ~= log2(n / target_bucket); see planes_for()",
    }
    # via the JVM Hadoop FS, NOT open(): the index path may be hdfs://
    # or s3a:// on a real cluster and the sidecar must land beside the
    # parquet there, or the probe-side meta guard silently vanishes
    fsutil.write_text(
        _meta_path(path), json.dumps(meta), spark=embeddings.sparkSession
    )


def _meta_path(index_path: str) -> str:
    return index_path.rstrip("/") + "/_ann_meta.json"


def _read_partitions(
    spark, index_path: str, col: str, values: list[str], schema: dict | None
) -> DataFrame:
    """The rows of the index dirs ``<col>=<v>`` for ``v`` in ``values``
    that exist, found with one Hadoop-FS glob and read with ``basePath``
    and the stored ``schema`` (JSON form): Spark lists only these dirs
    (in parallel, as a job, above 32 of them) and infers nothing. No
    matching dir gives an empty frame with the schema. An index written
    without a stored schema gets one from the footers of one of its
    dirs, with the partition column as a string."""
    root = index_path.rstrip("/")
    dirs = (
        fsutil.glob(f"{root}/{col}={{{','.join(values)}}}", spark)
        if values
        else []
    )
    if schema is None:
        sample = dirs[0] if dirs else fsutil.first_child(root, spark)
        if sample is None:
            raise ValueError(f"index at {index_path} holds no partition dirs")
        data = spark.read.parquet(sample).schema
        struct = data if col in data.names else data.add(col, "string")
    else:
        struct = StructType.fromJson(schema)
    if not dirs:
        return spark.createDataFrame([], struct)
    return spark.read.schema(struct).option("basePath", root).parquet(*dirs)


def _lsh_layout(spark, index_path: str, meta: dict) -> tuple[str, int]:
    """(partition column, signature bits per dir) of an LSH index. An
    index whose meta has no ``prefix_bits`` was written before the
    prefix layout (one ``sig=`` dir per whole signature) or lost its
    meta: its layout is read off a partition dir name."""
    if "prefix_bits" in meta:
        return PREFIX_COL, meta["prefix_bits"]
    child = fsutil.first_child(index_path, spark)
    if child is None:
        raise ValueError(f"index at {index_path} holds no partition dirs")
    col, value = child.rsplit("/", 1)[1].split("=", 1)
    return col, len(value)


def read_index_meta(path: str, spark=None) -> dict | None:
    """Index metadata sidecar, read through the Hadoop FS (any scheme
    the cluster knows); ``spark`` defaults to the active session."""
    import json

    raw = fsutil.read_text(_meta_path(path), spark=spark)
    return None if raw is None else json.loads(raw)


def lsh_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    dims: int | None = None,
    k: int = 10,
    planes: int | None = None,
    multi_probe: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> DataFrame:
    """ANN over the persisted index: the multi-probe signatures map to
    their distinct ``prefix_bits`` prefixes, one Hadoop-FS glob finds
    which of those dirs exist, and only they are read (``basePath`` and
    the stored schema: no listing of the whole index, no inference job);
    the exact ``sig IN probes`` filter and in-bucket cosine top-k then
    give the same rows as the one-shot ``lsh_topk``. A probe set that
    matches no dir gives an empty frame. ``planes`` /
    ``dims`` / column names default from the index's metadata; passing
    a conflicting ``planes`` explicitly raises (probing with the wrong
    signature scheme would silently return garbage).

    ``multi_probe`` defaults to ``auto_multi_probe(planes)``: Hamming-1
    probing reads 1+planes of the 2^planes buckets — a SHRINKING
    fraction as ``planes_for()`` scales the plane count with the corpus
    — so the probe radius must grow with the plane count to hold recall
    (sweep evidence: BENCH/ann_sweep_r5.json, BENCH/BASELINE.md)."""
    meta = read_index_meta(index_path, spark) or {}

    def _resolve(name: str, given, required: bool = False):
        stored = meta.get(name)
        if given is None:
            if stored is None and required:
                raise ValueError(
                    f"index at {index_path} has no _ann_meta.json (legacy "
                    f"index) and '{name}' was not passed — pass {name}= "
                    "explicitly (it must match the value the index was "
                    "built with)"
                )
            return stored
        if stored is not None and given != stored:
            raise ValueError(
                f"index at {index_path} was built with {name}={stored!r}, "
                f"queried with {name}={given!r} — probing with a "
                "mismatched signature scheme would silently return garbage"
            )
        return given

    # planes gets the same required-treatment as dims: a silent default
    # on a legacy meta-less index is exactly the wrong-signature-scheme
    # garbage this guard exists to prevent
    planes = _resolve("planes", planes, required=True)
    dims = _resolve("dims", dims, required=True)
    id_col = _resolve("id_col", id_col) or "vec_id"
    vec_col = _resolve("vec_col", vec_col) or "embedding"
    if multi_probe is None:
        multi_probe = auto_multi_probe(planes)
    probes = probe_signatures(query_signature(query_vec, dims, planes), multi_probe)
    col, bits = _lsh_layout(spark, index_path, meta)
    prefixes = sorted({p[:bits] for p in probes})
    idx = _read_partitions(spark, index_path, col, prefixes, meta.get("schema"))
    return cosine_topk(
        idx.where(F.col("sig").isin(probes)), query_vec, k, id_col, vec_col
    )


def planes_for(n: int, target_bucket: int = 1024) -> int:
    """Corpus-scaled plane count: 2^planes buckets sized so the expected
    bucket holds ~``target_bucket`` vectors (planes ≈ log2(n/target)).
    At n=10^9 / target 1024 → 20 planes; a fixed 8 planes (256 buckets)
    is only right up to ~10^5-10^6 vectors."""
    import math

    return max(4, math.ceil(math.log2(max(2, n) / target_bucket)))


def auto_multi_probe(planes: int) -> int:
    """Probe radius scaled with the plane count: ``max(1, round(planes/8))``.
    Hamming-m probing reads sum_{i<=m} C(planes, i) of 2^planes buckets;
    at fixed m that fraction shrinks as ``planes_for()`` grows planes
    with the corpus, and so does recall. The rule is derived from the
    (planes × multi_probe) → recall sweep (BENCH/ann_sweep_r5.json,
    table in BENCH/BASELINE.md): one extra flip per 8 planes holds
    recall@10 roughly flat across plane counts while the scanned
    fraction stays ≲1% of the corpus."""
    return max(1, round(planes / 8))


def _auto_planes(embeddings: DataFrame, planes: int | None) -> int:
    """Default path for the LSH entry points (``write_lsh_index`` makes
    the same count itself, to size its dirs too): when the caller does
    not pass ``planes``, size it from a fast corpus count (one count
    job — metadata-only on a parquet-backed frame) via ``planes_for``. A
    10^9-vector caller relying on defaults then gets ~2^20 buckets, not
    the 256 a fixed demo default would silently give."""
    if planes is not None:
        return planes
    return planes_for(embeddings.count())


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    dims: int,
    threshold: float = 0.9,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (never
    all-pairs): candidates share a hyperplane signature — near-identical
    vectors almost surely do — then exact cosine filters at ``threshold``.
    The self-join is on the signature, so work is Σ bucket² not n².

    Skew hardening: ``planes`` must GROW with the corpus — the default
    (None) derives it as ``planes_for(count)`` — or Σ bucket²
    degenerates to ~n²/2^planes, and a degenerate bucket — zero/
    near-zero vectors all signing identically — pins one task
    regardless of planes. ``max_bucket`` excludes over-cap signatures
    from pair generation (same contract as
    ``textdedup.minhash_candidate_pairs``: callers route oversized
    buckets to a sampling/exact path), bounding any task at
    max_bucket² cosine evaluations."""
    planes = _auto_planes(embeddings, planes)
    sigs = lsh_index(embeddings, dims, planes, id_col, vec_col)
    if max_bucket is not None:
        sizes = sigs.groupBy("sig").agg(F.count("*").alias("_n"))
        sigs = sigs.join(sizes, "sig").where(F.col("_n") <= max_bucket).drop("_n")
    a = sigs.select(
        "sig", F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")
    )
    b = sigs.select(
        "sig", F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")
    )
    pairs = a.join(b, "sig").where(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine_sim(F.col("_va"), F.col("_vb")), 4)
    return (
        pairs.withColumn("cosine", cos)
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact per-query top-k for a BATCH of query vectors in ONE pass:
    broadcast the (small) query table against the corpus and take the
    per-query window top-k. One corpus scan amortized over all queries —
    the right exact baseline when scoring q queries, vs q separate
    ``cosine_topk`` scans. Returns (q_id, vec_id, cosine, rank)."""
    from pyspark.sql import Window

    joined = embeddings.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        F.round(cosine_sim(F.col(vec_col), F.col(q_vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dims: int,
    k: int = 10,
    planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multi_probe: int = 0,
) -> DataFrame:
    """Index-free ANN (one-shot): exact cosine within the query's
    multi-probe bucket set. For repeated queries build the persisted
    index (write_lsh_index + lsh_topk_indexed) instead — this form
    recomputes signatures per call. Default planes scale with the
    corpus (``planes_for(count)``)."""
    planes = _auto_planes(embeddings, planes)
    probes = probe_signatures(query_signature(query_vec, dims, planes), multi_probe)
    bucketed = embeddings.withColumn("sig", lsh_signature(F.col(vec_col), dims, planes))
    candidates = bucketed.where(F.col("sig").isin(probes))
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the learned-partitioning scale path
# ---------------------------------------------------------------------------
# The LSH index above partitions by DATA-INDEPENDENT random hyperplanes;
# the IVF index partitions by LEARNED cluster structure (k-means coarse
# quantizer, the classic IVF-flat layout): train nlist centroids, assign
# every vector to its nearest centroid (JVM-side, MLlib transform),
# write one partition per inverted list, and probe only the nprobe lists
# whose centroids are nearest the query. On clustered real-world
# embeddings IVF reads fewer rows at equal recall because list
# boundaries follow the data. Same on-disk contract as the LSH index:
# probes read only their lists' dirs, validate against the meta, and
# re-rank with exact cosine within the probed lists.


def nlist_for(n: int) -> int:
    """Classic IVF sizing: nlist ≈ sqrt(n) (expected list size ≈ nlist),
    floored at 4 so tiny demo corpora still exercise pruning."""
    return max(4, int(round(max(2, n) ** 0.5)))


def auto_nprobe(nlist: int) -> int:
    """Default probe width: ~sqrt(nlist), floored at 2 so a boundary
    query (nearest centroid ambiguous) always sees a second list —
    mirrors auto_multi_probe's radius-grows-with-index-size shape."""
    return max(2, int(round(nlist**0.5)))


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    dims: int,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 20,
) -> None:
    """Persist the IVF-flat index: k-means (cosine) coarse quantizer,
    vectors partitioned by nearest-centroid ``list_id``. Layout:

    - ``<path>/list_id=<i>/`` — the inverted lists (a probe reads only
      its lists' dirs, one contiguous file set per list via the same
      repartition-before-partitionBy as ``write_lsh_index``)
    - ``<path>/_ivf_centroids.parquet`` — the nlist×dims centroid table
      (underscore-prefixed: ignored by readers of the main index)
    - ``<path>/_ann_meta.json`` — {kind, nlist, dims, cols, schema}:
      probes validate against it exactly like the LSH index (a
      mismatched quantizer would silently return garbage) and read the
      lists with its schema
    """
    import json
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # cosine space: zero-norm vectors have no direction (MLlib's cosine
    # KMeans rejects them outright) — exclude them from the index, as
    # every cosine consumer here already treats them as similarity 0
    embeddings = embeddings.where(_norm(F.col(vec_col)) > 0)
    if nlist is None:
        nlist = nlist_for(embeddings.count())
    feats = embeddings.withColumn(
        "_features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    model = KMeans(
        k=nlist,
        seed=seed,
        maxIter=max_iter,
        distanceMeasure="cosine",
        featuresCol="_features",
        predictionCol="_list_id",
    ).fit(feats)
    assigned = model.transform(feats).select(
        F.col("_list_id").alias("list_id"), F.col(id_col), F.col(vec_col)
    )
    # explicit partition count for the same reason as write_lsh_index:
    # AQE otherwise folds a small index into one task that creates all
    # nlist partition files sequentially
    n_write = max(
        1, min(nlist, embeddings.sparkSession.sparkContext.defaultParallelism)
    )
    assigned.repartition(n_write, F.col("list_id")).write.mode(
        "overwrite"
    ).partitionBy("list_id").parquet(path)
    centroids = model.clusterCenters()
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "list_id int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "_ivf_centroids.parquet")
    )
    fsutil.write_text(
        _meta_path(path),
        json.dumps(
            {
                "kind": "ivf",
                "nlist": int(nlist),
                "dims": int(dims),
                "id_col": id_col,
                "vec_col": vec_col,
                "seed": seed,
                "schema": assigned.schema.jsonValue(),
            }
        ),
        spark=spark,
    )


def ivf_probe_lists(
    spark, index_path: str, query_vec: list[float], nprobe: int
) -> list[int]:
    """The nprobe list_ids whose centroids are cosine-nearest the query
    (centroid table is nlist rows — read once, ranked driver-side)."""
    import os

    rows = spark.read.parquet(
        os.path.join(index_path, "_ivf_centroids.parquet")
    ).collect()
    qn = sum(x * x for x in query_vec) ** 0.5 or 1e-12

    def cos(c):
        cn = sum(x * x for x in c) ** 0.5 or 1e-12
        return sum(a * b for a, b in zip(query_vec, c)) / (qn * cn)

    ranked = sorted(rows, key=lambda r: -cos(r["centroid"]))
    return [r["list_id"] for r in ranked[:nprobe]]


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    dims: int | None = None,
    k: int = 10,
    nprobe: int | None = None,
) -> DataFrame:
    """ANN over the persisted IVF index: rank centroids driver-side,
    read only the dirs of the nprobe nearest inverted lists (one glob,
    the stored schema — as ``lsh_topk_indexed``), exact in-list cosine
    top-k. ``nprobe`` defaults to ``auto_nprobe(nlist)``.
    Meta is REQUIRED (the index writer always records it): probing an
    index with a mismatched quantizer or dims silently returns garbage,
    so both validate."""
    meta = read_index_meta(index_path, spark)
    if meta is None or meta.get("kind") != "ivf":
        raise ValueError(
            f"index at {index_path} has no IVF _ann_meta.json — not an "
            "ivf index (write with write_ivf_index)"
        )
    if dims is not None and dims != meta["dims"]:
        raise ValueError(
            f"index at {index_path} was built with dims={meta['dims']}, "
            f"queried with dims={dims}"
        )
    if len(query_vec) != meta["dims"]:
        raise ValueError(
            f"query vector has {len(query_vec)} dims, index has "
            f"{meta['dims']}"
        )
    if nprobe is None:
        nprobe = auto_nprobe(meta["nlist"])
    lists = ivf_probe_lists(spark, index_path, query_vec, nprobe)
    idx = _read_partitions(
        spark, index_path, "list_id", [str(i) for i in lists], meta.get("schema")
    )
    return cosine_topk(idx, query_vec, k, meta["id_col"], meta["vec_col"])
