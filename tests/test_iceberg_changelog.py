"""Iceberg-lite round 5: changelog (CDC) reads — `changes()` mirrors the
published semantics of Iceberg's `create_changelog_view` / `table_changes`
(https://iceberg.apache.org/docs/latest/spark-procedures/#create_changelog_view):
per-commit insert/delete rows with commit provenance, 'replace'
(compaction) snapshots skipped, and a net-changes mode that collapses
insert+delete of the same row value inside the range."""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from gx_spark.iceberg import IcebergLiteTable  # noqa: E402
from tests.conftest import spark  # noqa: F401,E402


@pytest.fixture()
def table(spark, tmp_path):
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    t = IcebergLiteTable.create(str(tmp_path / "t"), base.schema)
    t.append(base.coalesce(2))
    return t


def _events(df):
    return sorted(
        (r["_change_ordinal"], r["_change_type"], r["k"], r["v"])
        for r in df.collect())


def test_appends_emit_inserts_in_commit_order(spark, table):
    s0 = table.current_snapshot_id()
    table.append(spark.createDataFrame([(20, 200)], "k long, v long"))
    s1 = table.current_snapshot_id()
    table.append(spark.createDataFrame([(21, 210)], "k long, v long"))
    ch = table.changes(spark, from_snapshot_id=s0)
    assert _events(ch) == [(0, "insert", 20, 200), (1, "insert", 21, 210)]
    # provenance: each row carries the snapshot that committed it
    by_snap = {r["k"]: r["_commit_snapshot_id"] for r in ch.collect()}
    assert by_snap[20] == s1
    assert by_snap[21] == table.current_snapshot_id()


def test_full_history_starts_at_creation(spark, table):
    ch = table.changes(spark)
    ev = _events(ch)
    assert len(ev) == 10
    assert all(t == "insert" and o == 0 for o, t, _, _ in ev)


def test_position_delete_emits_deleted_rows(spark, table):
    s0 = table.current_snapshot_id()
    table.delete(spark, "k >= 7")
    ev = _events(table.changes(spark, from_snapshot_id=s0))
    assert ev == [(0, "delete", 7, 70), (0, "delete", 8, 80),
                  (0, "delete", 9, 90)]


def test_position_delete_of_already_dead_row_emits_nothing(spark, table):
    # kill k=7 twice: delete() matches only rows visible at the current
    # snapshot, so the second delete names no pair for k=7, and the
    # changelog, which reads parent-visible rows only, must not re-emit it
    table.delete(spark, "k = 7")
    s1 = table.current_snapshot_id()
    table.delete(spark, "k >= 7")
    ev = _events(table.changes(spark, from_snapshot_id=s1))
    assert ev == [(0, "delete", 8, 80), (0, "delete", 9, 90)]


def test_equality_delete_emits_matching_parent_rows(spark, table):
    s0 = table.current_snapshot_id()
    keys = spark.createDataFrame([(2,), (4,), (99,)], "k long")
    table.equality_delete(spark, keys, ["k"])
    ev = _events(table.changes(spark, from_snapshot_id=s0))
    # k=99 matches nothing; deleted rows carry their full column tuple
    assert ev == [(0, "delete", 2, 20), (0, "delete", 4, 40)]


def test_merge_emits_deletes_and_inserts_same_ordinal(spark, table):
    s0 = table.current_snapshot_id()
    src = spark.createDataFrame([(3, 300), (42, 420)], "k long, v long")
    table.merge_into(spark, src, ["k"])
    ev = _events(table.changes(spark, from_snapshot_id=s0))
    assert ev == [(0, "delete", 3, 30),
                  (0, "insert", 3, 300), (0, "insert", 42, 420)]
    sids = {r["_commit_snapshot_id"]
            for r in table.changes(spark, from_snapshot_id=s0).collect()}
    assert sids == {table.current_snapshot_id()}


def test_compaction_is_silent(spark, table):
    s0 = table.current_snapshot_id()
    table.delete(spark, "k = 0")
    table.rewrite_data_files(spark, target_files=1)
    assert table.snapshots()[-1]["summary"]["operation"] == "replace"
    ev = _events(table.changes(spark, from_snapshot_id=s0))
    assert ev == [(0, "delete", 0, 0)]
    # and an append after compaction keeps counting ordinals past the
    # skipped replace snapshot
    table.append(spark.createDataFrame([(50, 500)], "k long, v long"))
    ev = _events(table.changes(spark, from_snapshot_id=s0))
    assert ev == [(0, "delete", 0, 0), (1, "insert", 50, 500)]


def test_net_mode_collapses_insert_then_delete(spark, table):
    s0 = table.current_snapshot_id()
    table.append(spark.createDataFrame([(30, 333)], "k long, v long"))
    table.delete(spark, "k = 30 or k = 5")
    net = table.changes(spark, from_snapshot_id=s0, net=True)
    assert set(net.columns) == {"k", "v", "_change_type"}
    rows = sorted((r["_change_type"], r["k"], r["v"]) for r in net.collect())
    # (30, 333) was born and died inside the range -> gone; only the
    # pre-existing row's death survives netting
    assert rows == [("delete", 5, 50)]


def test_range_endpoints_and_errors(spark, table):
    s0 = table.current_snapshot_id()
    table.append(spark.createDataFrame([(60, 600)], "k long, v long"))
    s1 = table.current_snapshot_id()
    table.append(spark.createDataFrame([(61, 610)], "k long, v long"))
    # to= bounds the head; from= is exclusive
    ev = _events(table.changes(spark, from_snapshot_id=s0,
                               to_snapshot_id=s1))
    assert ev == [(0, "insert", 60, 600)]
    # empty range
    assert table.changes(
        spark, from_snapshot_id=s1, to_snapshot_id=s1).count() == 0
    with pytest.raises(ValueError, match="not an ancestor"):
        table.changes(spark, from_snapshot_id=12345)


def test_schema_evolution_emits_current_schema(spark, table):
    s0 = table.current_snapshot_id()
    table.add_column("w", "string")
    table.append(spark.createDataFrame([(70, 700, "x")],
                                       "k long, v long, w string"))
    table.delete(spark, "k = 1")
    ch = table.changes(spark, from_snapshot_id=s0)
    rows = {(r["_change_type"], r["k"]): r["w"] for r in ch.collect()}
    # old-era deleted row null-fills the new column; new row carries it
    assert rows[("delete", 1)] is None
    assert rows[("insert", 70)] == "x"


def test_branch_ref_changelog_reviews_staged_work(spark, table):
    # the WAP reviewer's view: stage two commits on an audit branch, read
    # them as CDC events anchored at main's head — main itself shows none
    main_head = table.current_snapshot_id()
    table.append(spark.createDataFrame([(40, 400)], "k long, v long"),
                 branch="audit")
    table.append(spark.createDataFrame([(41, 410)], "k long, v long"),
                 branch="audit")
    staged = _events(table.changes(spark, from_snapshot_id=main_head,
                                   ref="audit"))
    assert staged == [(0, "insert", 40, 400), (1, "insert", 41, 410)]
    assert table.changes(spark, from_snapshot_id=main_head).count() == 0
    with pytest.raises(ValueError, match="ref= excludes"):
        table.changes(spark, to_snapshot_id=main_head, ref="audit")
