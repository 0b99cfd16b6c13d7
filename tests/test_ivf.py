"""IVF (inverted-file) ANN: spherical-k-means coarse quantizer, map-side
cell assignment, nprobe cell scan — the 'IVF variant as the scale path'."""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import ops  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_centroids_shape_and_norm(spark, emb):
    C = ops.train_ivf_centroids(emb, "embedding", n_centroids=16, iters=5)
    assert C.shape[0] == 16
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)


def test_index_covers_corpus_and_cells_bounded(spark, emb):
    C = ops.train_ivf_centroids(emb, "embedding", n_centroids=16, iters=5)
    idx = ops.build_ivf_index(emb, "vec_id", "embedding", C)
    rows = idx.collect()
    assert len(rows) == emb.count()
    cells = {r["cell"] for r in rows}
    assert cells <= set(range(16))
    assert len(cells) > 1  # quantizer actually partitions the space
    # every stored vector is unit-norm
    assert abs(float(np.linalg.norm(rows[0]["vec"])) - 1.0) < 1e-9


def test_ivf_full_probe_is_exact(spark, emb):
    """nprobe == n_centroids scans everything -> identical to brute force."""
    q = [float(x) for x in emb.where("vec_id = 0").select("embedding").first()[0]]
    brute = [r["id"] for r in
             ops.cosine_topk(emb, "vec_id", "embedding", q, 10).collect()]
    C = ops.train_ivf_centroids(emb, "embedding", n_centroids=16, iters=5)
    idx = ops.build_ivf_index(emb, "vec_id", "embedding", C)
    got = [r["id"] for r in ops.ivf_query(idx, C, q, 10, nprobe=16).collect()]
    assert got == brute


def test_ivf_partial_probe_recall(spark, emb):
    """nprobe = 1/2 of cells must keep top-10 recall >= 0.8 on the
    near-uniform testdata embeddings (the hardest case for ANN)."""
    C = ops.train_ivf_centroids(emb, "embedding", n_centroids=16, iters=5)
    idx = ops.build_ivf_index(emb, "vec_id", "embedding", C).persist()
    idx.count()
    recalls = []
    for qid in (0, 1, 2, 3, 4):
        q = [float(x) for x in
             emb.where(f"vec_id = {qid}").select("embedding").first()[0]]
        brute = {r["id"] for r in
                 ops.cosine_topk(emb, "vec_id", "embedding", q, 10).collect()}
        got = {r["id"] for r in ops.ivf_query(idx, C, q, 10, nprobe=8).collect()}
        recalls.append(len(got & brute) / 10)
    idx.unpersist()
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ann_topk_ivf_one_shot(spark, emb):
    q = [float(x) for x in emb.where("vec_id = 0").select("embedding").first()[0]]
    rows = ops.ann_topk_ivf(emb, "vec_id", "embedding", q, k=5,
                            n_centroids=8, nprobe=8).collect()
    assert len(rows) == 5
    assert rows[0]["id"] == 0  # the query vector itself is its own 1-NN
    assert rows[0]["cosine"] == pytest.approx(1.0)


def test_written_ivf_index_probe_with_partition_pruning(spark, emb, tmp_path):
    """The at-scale serving shape: write_ivf_index partitions by cell, and a
    probe over the READ-BACK table plans the cell filter as partition
    pruning (PartitionFilters on the scan, only nprobe cells' files read)
    while returning the same rows as the in-memory index."""
    from gx_spark.plancheck import formatted_plan

    path = str(tmp_path / "ivf")
    C = ops.write_ivf_index(emb, "vec_id", "embedding", path,
                            n_centroids=16, iters=5)
    index, C2 = ops.read_ivf_index(spark, path)
    assert np.allclose(C, C2)
    # written files are hive-partitioned by cell
    cells_on_disk = {d for d in os.listdir(f"{path}/index") if d.startswith("cell=")}
    assert len(cells_on_disk) > 1
    q = [float(x) for x in emb.where("vec_id = 0").select("embedding").first()[0]]
    probe = ops.ivf_query(index, C2, q, 10, nprobe=4)
    plan = formatted_plan(probe)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), f"no partition pruning in plan:\n{plan}"
    # and the probe's answer matches the in-memory index's
    mem_idx = ops.build_ivf_index(emb, "vec_id", "embedding", C)
    want = [(r["id"], round(r["cosine"], 9))
            for r in ops.ivf_query(mem_idx, C, q, 10, nprobe=4).collect()]
    got = [(r["id"], round(r["cosine"], 9)) for r in probe.collect()]
    assert got == want


def test_ivf_and_cosine_ops_survive_null_vectors(spark, emb):
    """A null embedding must not fail the job (ADVICE r2): cosine_topk
    excludes it, build_ivf_index drops it, build_ann_index buckets it as
    -1 (never probed)."""
    from pyspark.sql import functions as F

    dirty = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 50 == 7, F.lit(None)).otherwise(F.col("embedding")),
    )
    n_null = dirty.filter(F.col("embedding").isNull()).count()
    assert n_null > 0
    q = [float(x) for x in emb.where("vec_id = 0").select("embedding").first()[0]]
    top = ops.cosine_topk(dirty, "vec_id", "embedding", q, 10).collect()
    assert len(top) == 10 and all(r["cosine"] is not None for r in top)
    C = ops.train_ivf_centroids(dirty, "embedding", n_centroids=8, iters=3)
    idx = ops.build_ivf_index(dirty, "vec_id", "embedding", C)
    assert idx.count() == emb.count() - n_null
    ann_idx = ops.build_ann_index(dirty, "vec_id", "embedding", n_tables=2)
    got = ops.ann_query(ann_idx, q, k=5, n_tables=2).collect()
    assert len(got) == 5
    pairs = ops.cosine_near_dup_pairs(dirty.limit(200), "vec_id", "embedding",
                                      threshold=0.99, mode="exact")
    pairs.count()  # completes without raising


def test_ragged_vector_in_training_sample(spark):
    """The quantizer trains on the sample's most common vector length; a
    wrong-length vector is skipped there and dropped from the index.  A
    tie between two lengths goes to the larger one, in either row order."""
    tie = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
           (3, [1.0, 0.0]), (4, [0.0, 1.0])]
    for rows in ([(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
                  (3, [1.0, 0.0])], tie, tie[::-1]):
        df = spark.createDataFrame(rows, "id long, v array<double>")
        C = ops.train_ivf_centroids(df, "v", n_centroids=2, iters=3)
        assert C.shape == (2, 4), rows
        got = ops.ann_topk_ivf(df, "id", "v", [1.0, 0.0, 0.0, 0.0], k=3,
                               n_centroids=2, nprobe=2).collect()
        assert [r["id"] for r in got] == [1, 2], rows
