"""Row-order and partition invariance: an op over a table is a relation, so
the same rows must give the same answer whatever their order and however
they are partitioned.

The vector ops are checked on one seeded ragged table whose first row has
the minority vector length, against the same rows permuted and
repartitioned.  Every op must pick the vector length by the documented
length rule (given query / centroids / codebooks, else the table's modal
length), never from whichever row happens to come first.  The one fill
those ops share, `_unit_rows`, is checked against the per-row loop each op
used to carry."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import ops  # noqa: E402

DIM = 8
SCHEMA = "id long, v array<double>"


def _vec(x) -> list[float]:
    return [float(v) for v in x]


def _ragged_rows() -> list[tuple]:
    """36 length-8 vectors, 12 of them with a near-duplicate twin; three
    length-4 vectors, the first row among them (rows 0 and 1 are a
    near-duplicate pair of the minority length); two null vectors."""
    rng = np.random.default_rng(20)
    short = rng.standard_normal(4)
    rows = [(0, _vec(short)), (1, _vec(short + 0.01)),
            (2, _vec(rng.standard_normal(4))), (3, None), (4, None)]
    for v in rng.standard_normal((36, DIM)):
        rows.append((len(rows), _vec(v)))
        if len(rows) % 4 == 0:
            rows.append((len(rows), _vec(v + 0.05 * rng.standard_normal(DIM))))
    return rows


def test_unit_rows_matches_the_row_loop():
    import pandas as pd

    rng = np.random.default_rng(1)
    vecs = pd.Series([rng.standard_normal(3), None, np.ones(2), np.zeros(3),
                      np.array([1.0, np.nan, 0.0]), 3.0 * np.ones(3)],
                     dtype=object)
    M, valid = ops._unit_rows(vecs, 3)
    ref = np.zeros((len(vecs), 3))
    ref_valid = np.zeros(len(vecs), dtype=bool)
    for i, v in enumerate(vecs):
        if v is not None and np.asarray(v).shape == (3,):
            ref[i] = v
            ref_valid[i] = True
    ref /= np.maximum(np.linalg.norm(ref, axis=1, keepdims=True), 1e-12)
    assert valid.tolist() == ref_valid.tolist()
    np.testing.assert_array_equal(M, ref)


@pytest.fixture(scope="module")
def tables(spark):
    rows = _ragged_rows()
    first = spark.createDataFrame(rows, SCHEMA)
    order = np.random.default_rng(3).permutation(len(rows))
    shuffled = spark.createDataFrame([rows[i] for i in order],
                                     SCHEMA).repartition(3)
    return first, shuffled


@pytest.fixture(scope="module")
def centroids():
    C = np.random.default_rng(5).standard_normal((4, DIM))
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def _both(tables, fn):
    return [fn(df) for df in tables]


@pytest.mark.parametrize("mode", ["exact", "lsh"])
def test_cosine_near_dup_pairs(tables, mode):
    a, b = _both(tables, lambda df: sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in ops.cosine_near_dup_pairs(df, "id", "v", threshold=0.9,
                                           mode=mode).collect()))
    assert len(a) >= 8  # the planted length-8 twins
    assert a == b


def test_build_ann_index(tables):
    a, b = _both(tables, lambda df: {
        r["id"]: tuple(r[f"b{t}"] for t in range(4))
        for r in ops.build_ann_index(df, "id", "v", n_tables=4).collect()})
    assert a == b
    # the minority length and the nulls are invalid, every other row valid
    assert {i for i, bk in a.items() if bk[0] < 0} == {0, 1, 2, 3, 4}


def test_cosine_topk(tables):
    q = _vec(np.random.default_rng(9).standard_normal(DIM))
    a, b = _both(tables, lambda df: [
        (r["id"], round(r["cosine"], 9))
        for r in ops.cosine_topk(df, "id", "v", q, k=10).collect()])
    assert len(a) == 10 and a == b


def test_semdedup(tables, centroids):
    a, b = _both(tables, lambda df: sorted(
        tuple(r) for r in ops.semdedup(df, "id", "v", threshold=0.9,
                                       centroids=centroids).collect()))
    assert a == b


def test_build_ivf_index(tables, centroids):
    a, b = _both(tables, lambda df: {
        r["id"]: r["cell"]
        for r in ops.build_ivf_index(df, "id", "v", centroids).collect()})
    assert len(a) == len(_ragged_rows()) - 5 and a == b


def test_pq_encode(tables):
    B = ops.train_pq_codebooks(tables[0], "v", m=2, k=4, iters=3)
    a, b = _both(tables, lambda df: {
        r["id"]: tuple(r["code"])
        for r in ops.pq_encode(df, "id", "v", B).collect()})
    assert len(a) == len(_ragged_rows()) - 5 and a == b


def test_modal_length_tie_goes_to_the_larger_length(spark):
    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]),
            (3, [1.0, 0.0, 0.0, 0.0]), (4, [1.0, 0.0, 0.0, 0.0])]
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(order, SCHEMA)
        valid = {r["id"] for r in ops.build_ann_index(
            df, "id", "v", n_tables=2).collect() if r["b0"] >= 0}
        assert valid == {3, 4}, order
