"""Model-based randomized interaction test for the Iceberg-lite table:
a seeded random sequence of operations (append, positional delete,
equality delete, compaction, manifest rewrite, spec evolution) runs
against both the real table and a trivial in-memory model; after EVERY
step the table's read() must equal the model, and at the end the
net-changes changelog must equal the model's multiset diff vs the
starting state.  Single-feature tests pin each operator alone — this
pins their interactions (delete-after-compact, rewrite-after-evolve,
changelog-across-everything) under orderings no hand-written test
enumerates."""

from __future__ import annotations

import os
import random
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark.iceberg import IcebergLiteTable  # noqa: E402
from tests.conftest import spark  # noqa: F401,E402


def _read_counter(spark, t):
    return Counter((r["k"], r["v"]) for r in t.read(spark).collect())


def _run_sequence(spark, tmp_path, seed: int, n_ops: int = 8):
    rng = random.Random(seed)
    df0 = spark.createDataFrame([(0, 0)], "k long, v long")
    t = IcebergLiteTable.create(
        str(tmp_path / f"t{seed}"), df0.schema,
        partition_by=["bucket(4, k)"] if seed % 2 else None)
    model: Counter = Counter()
    next_k = 0
    start_snapshot = None
    start_model: Counter = Counter()
    ops_run = []
    for step in range(n_ops):
        op = rng.choice(
            ["append", "append", "pos_delete", "eq_delete",
             "compact", "rewrite_manifests", "evolve"])
        if step == n_ops // 2:
            # mid-sequence changelog anchor
            start_snapshot = t.current_snapshot_id()
            start_model = Counter(model)
        if op == "append":
            rows = [(next_k + i, (next_k + i) * 10)
                    for i in range(rng.randint(1, 4))]
            next_k += len(rows)
            t.append(spark.createDataFrame(rows, "k long, v long")
                     .coalesce(rng.randint(1, 2)))
            model.update(rows)
        elif op == "pos_delete":
            cut = rng.randint(0, max(next_k - 1, 0))
            snap = t.delete(spark, f"k = {cut}")
            # a delete commits exactly when a visible row matches
            assert (snap is None) == all(kv[0] != cut for kv in model), (
                f"seed={seed} step={step} cut={cut} history={ops_run}")
            model = Counter({kv: n for kv, n in model.items()
                             if kv[0] != cut})
        elif op == "eq_delete":
            cuts = [kv[0] for kv in model if rng.random() < 0.3][:3]
            if cuts:
                keys = spark.createDataFrame([(c,) for c in cuts], "k long")
                t.equality_delete(spark, keys, ["k"])
                model = Counter({kv: n for kv, n in model.items()
                                 if kv[0] not in cuts})
        elif op == "compact":
            t.rewrite_data_files(spark, target_files=1)
        elif op == "rewrite_manifests":
            t.rewrite_manifests()
        elif op == "evolve":
            t.update_partition_spec(
                rng.choice([["truncate(2, v)"], ["bucket(2, k)"], ["k"]]))
        ops_run.append(op)
        got = _read_counter(spark, t)
        assert got == model, (
            f"seed={seed} step={step} op={op} history={ops_run}: "
            f"table={sorted(got.items())} model={sorted(model.items())}")
    # net changelog from the mid-sequence anchor == model multiset diff
    if start_snapshot is not None:
        net = t.changes(spark, from_snapshot_id=start_snapshot, net=True)
        got_ins = Counter((r["k"], r["v"]) for r in net.collect()
                          if r["_change_type"] == "insert")
        got_del = Counter((r["k"], r["v"]) for r in net.collect()
                          if r["_change_type"] == "delete")
        want_ins = model - start_model
        want_del = start_model - model
        assert got_ins == want_ins, (
            f"seed={seed} history={ops_run}: net inserts "
            f"{sorted(got_ins.items())} != {sorted(want_ins.items())}")
        assert got_del == want_del, (
            f"seed={seed} history={ops_run}: net deletes "
            f"{sorted(got_del.items())} != {sorted(want_del.items())}")


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_op_sequences_match_model(spark, tmp_path, seed):
    _run_sequence(spark, tmp_path, seed)
