"""SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means clustering +
within-cluster cosine pruning, keeping per duplicate group the example
FARTHEST from its centroid.  Pins the ranking rule (c_sim DESC, id ASC),
the removal predicate (a later-ranked duplicate exists), null-vector
passthrough, and the deterministic trained-centroids path."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import ops  # noqa: E402
from tests.conftest import spark  # noqa: F401,E402

AXES = np.array([[1.0, 0, 0, 0], [0, 1.0, 0, 0]])


def _run(spark, rows, threshold=0.9, centroids=AXES, **kw):
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = ops.semdedup(df, "id", "v", threshold=threshold,
                       centroids=centroids, **kw)
    return {r["id"]: (r["cluster"], r["c_sim"], r["removed"])
            for r in out.collect()}


def test_closer_to_centroid_member_is_removed(spark):
    # a1 sits ON the centroid, a2 is a near-dup slightly off it, a3 is in
    # the same cluster but not a duplicate; b1 lives in the other cluster
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.141, 0.0, 0.0]),
        (3, [0.7, 0.0, 0.7141, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
    ]
    got = _run(spark, rows)
    assert got[1][0] == 0 and got[1][2] is True      # kept rank-1, dup later
    assert got[2][0] == 0 and got[2][2] is False     # farthest dup survives
    assert got[3][0] == 0 and got[3][2] is False     # cos(1,3)=0.7 < 0.9
    assert got[4][0] == 1 and got[4][2] is False
    assert got[4][1] == pytest.approx(1.0, abs=1e-6)


def test_chain_of_duplicates_keeps_exactly_one(spark):
    # three mutually-similar vectors: everyone with a later-ranked dup is
    # removed, so only the farthest-from-centroid member survives
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.995, 0.0999, 0.0, 0.0]),
        (3, [0.98, 0.199, 0.0, 0.0]),
    ]
    got = _run(spark, rows)
    removed = {i for i, (_, _, r) in got.items() if r}
    assert removed == {1, 2}


def test_identical_vectors_tiebreak_on_id(spark):
    # equal c_sim -> rank by id ASC, so the HIGHEST id is ranked last and
    # survives
    rows = [(7, [1.0, 0.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0, 0.0]),
            (5, [1.0, 0.0, 0.0, 0.0])]
    got = _run(spark, rows)
    assert {i for i, (_, _, r) in got.items() if r} == {3, 5}
    assert got[7][2] is False


def test_null_and_ragged_vectors_pass_through(spark):
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, None), (3, [1.0, 0.0])]
    got = _run(spark, rows)
    assert got[2] == (None, None, False)
    assert got[3] == (None, None, False)
    assert got[1] == (0, 1.0, False)


def test_cross_cluster_duplicates_are_not_compared(spark):
    # two near-identical vectors straddling the argmax boundary land in
    # different clusters -> SemDeDup never compares them (paper semantics)
    rows = [(1, [1.0, 0.9, 0.0, 0.0]), (2, [0.9, 1.0, 0.0, 0.0])]
    got = _run(spark, rows)
    assert got[1][0] == 0 and got[2][0] == 1
    assert not got[1][2] and not got[2][2]


def test_trained_centroids_path_is_deterministic(spark):
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(4)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    a = ops.semdedup(df, "id", "v", n_clusters=4, threshold=0.8,
                     sample_cap=100, seed=11)
    b = ops.semdedup(df, "id", "v", n_clusters=4, threshold=0.8,
                     sample_cap=100, seed=11)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    assert len(ra) == 40


def test_trained_centroids_skip_a_ragged_vector(spark):
    # the sample's minority vector length stays out of k-means training
    # (it passes through untagged) instead of failing the stack
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = {r["id"]: (r["cluster"], r["removed"])
           for r in ops.semdedup(df, "id", "v", n_clusters=2,
                                 threshold=0.9).collect()}
    assert got[3] == (None, False)
    assert None not in (got[1][0], got[2][0]) and got[1][0] != got[2][0]
    assert not got[1][1] and not got[2][1]
