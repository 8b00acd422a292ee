"""IVF-flat ANN index (learned coarse quantizer, inverted lists): the
data-dependent sibling of the LSH index — same on-disk contract
(probes read only their lists' dirs, meta-validated), list boundaries
follow the cluster structure instead of random hyperplanes."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import numpy as np
import pytest
from pyspark.sql import functions as F

from webcrawlerfull_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(5)
    dims, n_clusters, per = 32, 12, 400
    centers = rng.normal(size=(n_clusters, dims))
    rows = []
    for c in range(n_clusters):
        pts = centers[c] + 0.05 * rng.normal(size=(per, dims))
        for j, p in enumerate(pts):
            rows.append((c * per + j, [float(x) for x in p]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    emb.count()
    queries = [
        [float(x) for x in centers[c] + 0.02 * rng.normal(size=dims)]
        for c in (0, 3, 7, 11)
    ]
    return emb, queries, dims, len(rows)


def test_ivf_recall_and_pruning(spark, tmp_path, clustered):
    emb, queries, dims, n = clustered
    path = str(tmp_path / "ivf")
    SIM.write_ivf_index(emb, path, dims=dims)

    nlist = SIM.read_index_meta(path)["nlist"]
    assert nlist == SIM.nlist_for(n)
    nprobe = SIM.auto_nprobe(nlist)

    scanned_total = 0
    for qv in queries:
        exact = [r["vec_id"] for r in SIM.cosine_topk(emb, qv, k=10).collect()]
        approx_df = SIM.ivf_topk_indexed(spark, path, qv, k=10)
        approx = [r["vec_id"] for r in approx_df.collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.9, (recall, exact, approx)
        # the probe's FileScan covers only its nprobe lists' dirs (the
        # scale property: it never lists or reads the other lists)
        lists = SIM.ivf_probe_lists(spark, path, qv, nprobe)
        scanned = {
            os.path.basename(os.path.dirname(urlparse(f).path))
            for f in approx_df.inputFiles()
        }
        assert scanned == {f"list_id={i}" for i in lists}
        pruned = spark.read.parquet(path).where(F.col("list_id").isin(lists))
        scanned_total += pruned.count()
    # probed lists cover a strict fraction of the corpus (the scale
    # property: a query never rescans the whole index)
    assert scanned_total / len(queries) < 0.8 * n


def test_ivf_meta_guards(spark, tmp_path, clustered):
    emb, queries, dims, _ = clustered
    path = str(tmp_path / "ivfm")
    SIM.write_ivf_index(emb, path, dims=dims, nlist=8)
    with pytest.raises(ValueError, match="dims"):
        SIM.ivf_topk_indexed(spark, path, queries[0], dims=dims + 1)
    with pytest.raises(ValueError, match="dims"):
        SIM.ivf_topk_indexed(spark, path, queries[0][:-1])
    # an LSH index is not probeable as IVF
    lsh_path = str(tmp_path / "lsh")
    SIM.write_lsh_index(emb, lsh_path, dims=dims, planes=6)
    with pytest.raises(ValueError, match="ivf"):
        SIM.ivf_topk_indexed(spark, lsh_path, queries[0])


def test_ivf_deterministic_and_zero_norm(spark, tmp_path, clustered):
    emb, queries, dims, n = clustered
    withzero = emb.union(
        spark.createDataFrame(
            [(999_999, [0.0] * dims)], "vec_id long, embedding array<double>"
        )
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    SIM.write_ivf_index(withzero, p1, dims=dims, nlist=8)
    SIM.write_ivf_index(withzero, p2, dims=dims, nlist=8)
    # zero-norm row is excluded (cosine-undefined), everything else kept
    assert spark.read.parquet(p1).count() == n
    # same seed -> identical assignment (deterministic rebuild)
    a1 = {(r["vec_id"], r["list_id"]) for r in spark.read.parquet(p1).select("vec_id", "list_id").collect()}
    a2 = {(r["vec_id"], r["list_id"]) for r in spark.read.parquet(p2).select("vec_id", "list_id").collect()}
    assert a1 == a2
    got = [r["vec_id"] for r in SIM.ivf_topk_indexed(spark, p1, queries[0], k=5).collect()]
    assert len(got) == 5
