"""Iceberg-lite: Avro OCF codec roundtrips + table create/append/time-travel/
incremental/partition-pruned reads, all with no Iceberg jar."""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark.avro_ocf import decode_value, encode_value, read_ocf, write_ocf  # noqa: E402
from gx_spark.iceberg import IcebergLiteTable  # noqa: E402
from tests.conftest import spark  # noqa: F401,E402


# ---------------------------------------------------------------------------
# Avro codec
# ---------------------------------------------------------------------------

NESTED_SCHEMA = {
    "type": "record",
    "name": "outer",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": ["null", "long"], "default": None},
        {"name": "f", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "raw", "type": "bytes"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {
            "name": "inner",
            "type": {
                "type": "record",
                "name": "inner_r",
                "fields": [
                    {"name": "a", "type": "int"},
                    {"name": "b", "type": ["null", "string"], "default": None},
                ],
            },
        },
    ],
}

RECORDS = [
    {"s": "hello", "n": 42, "f": 3.5, "flag": True, "raw": b"\x00\xff",
     "tags": ["x", "y"], "attrs": {"k": 7}, "inner": {"a": 1, "b": "z"}},
    {"s": "", "n": None, "f": -1e9, "flag": False, "raw": b"",
     "tags": [], "attrs": {}, "inner": {"a": -5, "b": None}},
    {"s": "unicode é中", "n": -(2**62), "f": 0.0, "flag": True,
     "raw": bytes(range(16)), "tags": ["a"] * 5, "attrs": {"a": 1, "b": 2},
     "inner": {"a": 2**31 - 1, "b": "end"}},
]


def test_avro_value_roundtrip():
    for rec in RECORDS:
        buf = bytearray()
        encode_value(rec, NESTED_SCHEMA, buf)
        import io

        out = decode_value(io.BytesIO(bytes(buf)), NESTED_SCHEMA)
        assert out == rec


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_file_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"t_{codec}.avro")
    write_ocf(p, NESTED_SCHEMA, RECORDS, codec=codec, block_records=2)
    schema, recs = read_ocf(p)
    assert schema["name"] == "outer"
    assert recs == RECORDS


def test_ocf_empty_and_corrupt(tmp_path):
    p = str(tmp_path / "empty.avro")
    write_ocf(p, NESTED_SCHEMA, [])
    _, recs = read_ocf(p)
    assert recs == []
    with open(p, "r+b") as f:
        f.write(b"XXXX")
    with pytest.raises(ValueError):
        read_ocf(p)


def test_zigzag_edge_values(tmp_path):
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "v", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, 2**31, -(2**31), 2**62, -(2**62)]
    p = str(tmp_path / "z.avro")
    write_ocf(p, schema, [{"v": v} for v in vals])
    _, recs = read_ocf(p)
    assert [r["v"] for r in recs] == vals


# ---------------------------------------------------------------------------
# Iceberg-lite table
# ---------------------------------------------------------------------------

def _clips_df(spark, start, n, shard_mod=4):
    rows = [(f"clip_{i:05d}", i % shard_mod, float(i))
            for i in range(start, start + n)]
    return spark.createDataFrame(rows, "clip_id string, shard int, score double")


def test_create_append_read_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 40)
    t = IcebergLiteTable.create(loc, df.schema, partition_by=["shard"])
    s1 = t.append(df)
    assert IcebergLiteTable.exists(loc)
    back = t.read(spark)
    assert back.columns == ["clip_id", "shard", "score"]
    assert sorted(r.clip_id for r in back.collect()) == sorted(
        f"clip_{i:05d}" for i in range(40))
    # metadata is spec-shaped v2
    meta = IcebergLiteTable(loc).metadata
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == s1
    assert meta["partition-specs"][0]["fields"][0]["transform"] == "identity"


def test_time_travel_and_incremental(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create(loc, _clips_df(spark, 0, 1).schema,
                                partition_by=["shard"])
    s1 = t.append(_clips_df(spark, 0, 20))
    s2 = t.append(_clips_df(spark, 20, 12))
    assert s1 != s2
    assert [s["snapshot-id"] for s in t.snapshots()] == [s1, s2]
    assert t.read(spark).count() == 32
    assert t.read(spark, snapshot_id=s1).count() == 20
    # as-of time travel uses commit timestamps
    ts1 = t.snapshots()[0]["timestamp-ms"]
    assert t.read(spark, as_of_ms=ts1).count() == 20
    # incremental: only the rows added after s1
    inc = t.read(spark, added_after_snapshot_id=s1)
    assert sorted(r.clip_id for r in inc.collect()) == sorted(
        f"clip_{i:05d}" for i in range(20, 32))
    # snapshot ids are deterministic given the location+sequence
    t2 = IcebergLiteTable(loc)
    assert t2.current_snapshot_id() == s2


def test_partition_pruning_plans_fewer_files(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 64, shard_mod=4)
    t = IcebergLiteTable.create(loc, df.schema, partition_by=["shard"])
    t.append(df.repartition(4, "shard"))
    all_files = t.plan_files()
    pruned = t.plan_files(partition_filter={"shard": 2})
    assert 0 < len(pruned) < len(all_files)
    assert all(f.partition == {"shard": 2} for f in pruned)
    # the Spark scan sees ONLY the pruned files
    pdf = t.read(spark, partition_filter={"shard": 2})
    assert set(pdf.inputFiles()) == {"file://" + f.file_path if not
                                     f.file_path.startswith("file:") else
                                     f.file_path for f in pruned} or \
        len(pdf.inputFiles()) == len(pruned)
    rows = pdf.collect()
    assert len(rows) == 16 and all(r.shard == 2 for r in rows)
    # file-level stats come from parquet footers, not a data scan
    assert sum(f.record_count for f in all_files) == 64


def test_unpartitioned_table(spark, tmp_path):
    loc = str(tmp_path / "flat")
    df = _clips_df(spark, 0, 10)
    t = IcebergLiteTable.create(loc, df.schema)
    t.append(df.coalesce(1))
    assert t.read(spark).count() == 10
    assert t.plan_files()[0].partition == {}


def test_append_schema_and_manifest_shape(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 8)
    t = IcebergLiteTable.create(loc, df.schema, partition_by=["shard"])
    sid = t.append(df)
    snap = t.snapshots()[-1]
    schema, manifests = read_ocf(snap["manifest-list"])
    assert {f["name"] for f in schema["fields"]} >= {
        "manifest_path", "added_snapshot_id", "sequence_number"}
    _, entries = read_ocf(manifests[0]["manifest_path"])
    e = entries[0]
    assert e["status"] == 1 and e["snapshot_id"] == sid
    d = e["data_file"]
    assert d["file_format"] == "PARQUET" and d["record_count"] > 0
    assert "shard" in d["partition"]
    assert os.path.getsize(d["file_path"]) == d["file_size_in_bytes"]


# ---------------------------------------------------------------------------
# add_files / create_from_parquet (metadata-only import — migration path)
# ---------------------------------------------------------------------------

def test_add_files_metadata_only_import(spark, tmp_path):
    # source: plain Spark-written parquet, OUTSIDE the table location
    src = str(tmp_path / "src.parquet")
    _clips_df(spark, 0, 30).coalesce(3).write.parquet(src)
    src_files = {
        os.path.join(r, f) for r, _, fs in os.walk(src)
        for f in fs if f.endswith(".parquet")
    }
    mtimes = {p: os.path.getmtime(p) for p in src_files}

    loc = str(tmp_path / "imported")
    t = IcebergLiteTable.create_from_parquet(loc, src)
    # schema derived from the footer, no data rewritten (same files, same mtimes)
    assert [f["name"] for f in t.schema_fields] == ["clip_id", "shard", "score"]
    planned = {f.file_path for f in t.plan_files()}
    assert planned == src_files
    assert {p: os.path.getmtime(p) for p in src_files} == mtimes
    assert not os.path.exists(os.path.join(loc, "data")) or not any(
        fn.endswith(".parquet") for _, _, fs in os.walk(os.path.join(loc, "data"))
        for fn in fs)
    # snapshot summary records the migration operation + counts
    snap = t.snapshots()[-1]
    assert snap["summary"]["operation"] == "add-files"
    assert snap["summary"]["added-records"] == "30"
    # reads plan through the manifest and see every row
    back = t.read(spark)
    assert back.columns == ["clip_id", "shard", "score"]
    assert sorted(r.clip_id for r in back.collect()) == sorted(
        f"clip_{i:05d}" for i in range(30))
    # idempotent re-entry: same table handle, no second snapshot
    t2 = IcebergLiteTable.create_from_parquet(loc, src)
    assert len(t2.snapshots()) == 1


def test_add_files_then_append_coexist(spark, tmp_path):
    src = str(tmp_path / "src.parquet")
    _clips_df(spark, 0, 10).coalesce(1).write.parquet(src)
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create_from_parquet(loc, src)
    s1 = t.current_snapshot_id()
    # a normal append AFTER the import: internal + external files coexist
    t.append(_clips_df(spark, 10, 5).coalesce(1))
    assert t.read(spark).count() == 15
    # time travel back to the import snapshot
    assert t.read(spark, snapshot_id=s1).count() == 10
    # incremental read sees only the appended rows
    inc = t.read(spark, added_after_snapshot_id=s1)
    assert sorted(r.clip_id for r in inc.collect()) == [
        f"clip_{i:05d}" for i in range(10, 15)]


# ---------------------------------------------------------------------------
# positional row-level deletes (Iceberg v2 delete files)
# ---------------------------------------------------------------------------

def test_positional_delete_roundtrip(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 40)
    t = IcebergLiteTable.create(loc, df.schema, partition_by=["shard"])
    s_data = t.append(df)
    s_del = t.delete(spark, "score >= 30")
    assert s_del is not None and s_del != s_data
    # current read excludes deleted rows; no data file was rewritten
    back = t.read(spark)
    assert back.count() == 30
    assert back.agg({"score": "max"}).collect()[0][0] == 29.0
    assert {f.file_path for f in t.plan_files()} == {
        f.file_path for f in t.plan_files(snapshot_id=s_data)}
    # time travel BEFORE the delete still sees all 40 rows
    assert t.read(spark, snapshot_id=s_data).count() == 40
    # snapshot summary records the v2 delete commit
    snap = t.snapshots()[-1]
    assert snap["summary"]["operation"] == "delete"
    assert snap["summary"]["added-position-deletes"] == "10"
    # delete manifest is content=1 in the manifest list
    _, manifests = read_ocf(snap["manifest-list"])
    assert sorted(m["content"] for m in manifests) == [0, 1]
    # delete files live in parquet with the spec's (file_path, pos) shape
    dels = t.plan_delete_files()
    assert dels and all(d.file_path.endswith(".parquet") for d in dels)
    # plan shape: deletes apply as a broadcast anti-join — the data side
    # never shuffles (the at-scale contract)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"BroadcastHashJoin \[.*\], LeftAnti, BuildRight",
                     plan), plan
    assert "BroadcastNestedLoop" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_delete_summaries_name_the_delete_kind(spark, tmp_path):
    t = IcebergLiteTable.create(str(tmp_path / "tbl"),
                                _clips_df(spark, 0, 10).schema)
    t.append(_clips_df(spark, 0, 10).coalesce(1))
    t.equality_delete(spark, spark.createDataFrame(
        [("clip_00002",), ("clip_00005",)], "clip_id string"))
    summary = t.snapshots()[-1]["summary"]
    assert summary["added-equality-deletes"] == "2"
    assert "added-position-deletes" not in summary
    # merge_into's delete group is an equality delete too
    t.merge_into(spark, _clips_df(spark, 8, 4), on=["clip_id"])
    summary = t.snapshots()[-1]["summary"]
    assert summary["added-equality-deletes"] == "4"
    assert "added-position-deletes" not in summary


def test_repeated_delete_commits_nothing(spark, tmp_path):
    t = IcebergLiteTable.create(str(tmp_path / "tbl"),
                                _clips_df(spark, 0, 10).schema)
    t.append(_clips_df(spark, 0, 10).coalesce(1))
    assert t.delete(spark, "score < 3") is not None
    n_snaps = len(t.snapshots())
    # every row the condition matches is already deleted
    assert t.delete(spark, "score < 3") is None
    assert len(t.snapshots()) == n_snaps
    assert t.read(spark).count() == 7


def test_delete_of_equality_deleted_row_commits_nothing(spark, tmp_path):
    t = IcebergLiteTable.create(str(tmp_path / "tbl"),
                                _clips_df(spark, 0, 10).schema)
    t.append(_clips_df(spark, 0, 10).coalesce(1))
    t.equality_delete(spark, spark.createDataFrame(
        [("clip_00005",)], "clip_id string"))
    n_snaps = len(t.snapshots())
    assert t.delete(spark, "clip_id = 'clip_00005'") is None
    assert len(t.snapshots()) == n_snaps
    assert t.read(spark).count() == 9


def test_delete_then_append_and_more_deletes(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 20)
    t = IcebergLiteTable.create(loc, df.schema, partition_by=["shard"])
    t.append(df)
    s1 = t.delete(spark, "clip_id = 'clip_00003'")
    # rows appended AFTER a delete are unaffected by it
    t.append(_clips_df(spark, 20, 10))
    assert t.read(spark).count() == 29
    # a second delete hits both old and new files
    s2 = t.delete(spark, "shard = 1")
    remaining = t.read(spark)
    assert remaining.filter("shard = 1").count() == 0
    # 30 total - 1 (clip_00003, shard 3) - ceil: shard==1 rows among 0..29
    n_shard1 = sum(1 for i in range(30) if i % 4 == 1)
    assert remaining.count() == 30 - 1 - n_shard1
    # snapshot chain: time travel to s1 sees the single-row delete only
    assert t.read(spark, snapshot_id=s1).count() == 19
    assert s2 != s1
    # no-match delete commits nothing
    assert t.delete(spark, "score < 0") is None
    assert t.snapshots()[-1]["snapshot-id"] == s2


def test_delete_on_imported_files(spark, tmp_path):
    # deletes compose with add_files: positions keyed on the imported files
    src = str(tmp_path / "src.parquet")
    _clips_df(spark, 0, 12).coalesce(2).write.parquet(src)
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create_from_parquet(loc, src)
    t.delete(spark, "score >= 10")
    assert sorted(r.clip_id for r in t.read(spark).collect()) == [
        f"clip_{i:05d}" for i in range(10)]


# ---------------------------------------------------------------------------
# schema evolution (add / rename / drop column)
# ---------------------------------------------------------------------------

def test_schema_evolution_add_rename_drop(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create(loc, _clips_df(spark, 0, 6).schema,
                                partition_by=["shard"])
    t.append(_clips_df(spark, 0, 6))

    # add: old files null-fill, new appends carry the column
    t.add_column("lang", "string")
    assert [f["name"] for f in t.schema_fields] == [
        "clip_id", "shard", "score", "lang"]
    new = spark.createDataFrame(
        [(f"clip_{i:05d}", i % 4, float(i), "en") for i in range(6, 9)],
        "clip_id string, shard int, score double, lang string")
    t.append(new)
    back = t.read(spark)
    assert back.columns == ["clip_id", "shard", "score", "lang"]
    got = {r.clip_id: r.lang for r in back.collect()}
    assert got["clip_00001"] is None and got["clip_00007"] == "en"

    # rename: field id stable, old-era files aliased at read
    t.rename_column("score", "quality")
    sf = [f for f in t.schema_fields if f["name"] == "quality"][0]
    assert sf["gx-previous-names"] == ["score"] and sf["id"] == 3
    back = t.read(spark)
    assert "quality" in back.columns and "score" not in back.columns
    assert back.filter("quality = 2.0").count() == 1

    # metadata-only: no new snapshots from evolution
    assert len(t.snapshots()) == 2

    # drop: projection-only; partition columns protected
    t.drop_column("lang")
    assert t.read(spark).columns == ["clip_id", "shard", "quality"]
    with pytest.raises(ValueError):
        t.drop_column("shard")
    with pytest.raises(ValueError):
        t.add_column("quality", "double")
    # schema history preserved (one entry per evolution)
    assert len(t.metadata["schemas"]) == 4


def test_schema_evolution_composes_with_deletes(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create(loc, _clips_df(spark, 0, 10).schema)
    t.append(_clips_df(spark, 0, 10).coalesce(1))
    t.rename_column("score", "quality")
    # delete predicate uses the NEW name against old-era files
    t.delete(spark, "quality >= 8")
    assert t.read(spark).count() == 8


# ---------------------------------------------------------------------------
# compaction (rewrite_data_files — replace snapshot)
# ---------------------------------------------------------------------------

def test_rewrite_data_files_compacts_and_folds_deletes(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create(loc, _clips_df(spark, 0, 40).schema)
    # many small files + a delete
    for i in range(0, 40, 10):
        t.append(_clips_df(spark, i, 10).coalesce(2))
    s_pre = t.current_snapshot_id()
    t.delete(spark, "score >= 35")
    assert len(t.plan_files()) == 8
    before = sorted(r.clip_id for r in t.read(spark).collect())

    s_rw = t.rewrite_data_files(spark, target_files=2)
    # fewer files, delete files no longer consulted, identical data
    assert len(t.plan_files()) == 2
    assert t.plan_delete_files() == []
    assert sorted(r.clip_id for r in t.read(spark).collect()) == before
    assert t.read(spark).count() == 35
    snap = t.snapshots()[-1]
    assert snap["snapshot-id"] == s_rw
    assert snap["summary"]["operation"] == "replace"
    # time travel to pre-compaction snapshots still works (old files kept)
    assert t.read(spark, snapshot_id=s_pre).count() == 40
    # appends continue normally on top of the replace snapshot
    t.append(_clips_df(spark, 40, 5).coalesce(1))
    assert t.read(spark).count() == 40


def test_rewrite_partitioned_table(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 32)
    t = IcebergLiteTable.create(loc, df.schema, partition_by=["shard"])
    t.append(df.repartition(8))
    t.rewrite_data_files(spark, target_files=1)
    # one file per partition dir; partition pruning still metadata-only
    assert len(t.plan_files()) == 4
    pruned = t.plan_files(partition_filter={"shard": 3})
    assert len(pruned) == 1
    assert t.read(spark, partition_filter={"shard": 3}).count() == 8


# ---------------------------------------------------------------------------
# equality deletes (Iceberg v2 content=2 delete files)
# ---------------------------------------------------------------------------

def test_equality_delete_sequence_scoping(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create(loc, _clips_df(spark, 0, 10).schema)
    t.append(_clips_df(spark, 0, 10).coalesce(1))
    keys = spark.createDataFrame([("clip_00002",), ("clip_00005",)],
                                 "clip_id string")
    s_del = t.equality_delete(spark, keys)
    assert s_del is not None
    got = sorted(r.clip_id for r in t.read(spark).collect())
    assert "clip_00002" not in got and "clip_00005" not in got
    assert len(got) == 8
    # STRICT sequence scoping: re-inserting a deleted key AFTER the delete
    # survives (the delete only applies to strictly older files)
    t.append(spark.createDataFrame([("clip_00002", 2, 2.0)],
                                   "clip_id string, shard int, score double")
             .coalesce(1))
    got2 = sorted(r.clip_id for r in t.read(spark).collect())
    assert got2.count("clip_00002") == 1 and len(got2) == 9
    # the delete entry carries the column's field id (survives renames)
    d = [x for x in t.plan_delete_files() if x.content == 2][0]
    assert d.equality_ids == [1]
    # rename the key column: the old delete still applies via the field id
    t.rename_column("clip_id", "clip")
    got3 = sorted(r.clip for r in t.read(spark).collect())
    assert got3.count("clip_00002") == 1 and "clip_00005" not in got3


def test_delete_commits_write_multiple_files(spark, tmp_path):
    """A delete matching rows across many data files writes MULTIPLE delete
    files in one commit (hash partitioned by source data-file group /
    key tuple), not a single-task repartition(1) funnel — and the read
    result is identical to the logical delete."""
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 80)
    t = IcebergLiteTable.create(loc, df.schema, partition_by=["shard"])
    t.append(df.repartition(4, "shard"))
    assert len(t.plan_files()) >= 4  # enough source files to fan out
    s_del = t.delete(spark, "score >= 20")
    assert s_del is not None
    pos_files = [d for d in t.plan_delete_files() if d.content != 2]
    assert len(pos_files) > 1, "positional delete commit should fan out"
    # every delete file is internally sorted by (file_path, pos)
    import pyarrow.parquet as papq
    for d in pos_files:
        tbl = papq.read_table(d.file_path)
        pairs = list(zip(tbl.column("file_path").to_pylist(),
                         tbl.column("pos").to_pylist()))
        assert pairs == sorted(pairs)
    got = sorted(r.clip_id for r in t.read(spark).collect())
    assert got == [f"clip_{i:05d}" for i in range(20)]
    # equality delete with a wide key set also fans out, and the reader
    # folds one commit's files into a single anti-join
    keys = spark.createDataFrame([(f"clip_{i:05d}",) for i in range(0, 16)],
                                 "clip_id string")
    s_eq = t.equality_delete(spark, keys)
    assert s_eq is not None
    eq_files = [d for d in t.plan_delete_files() if d.content == 2]
    assert len(eq_files) > 1, "equality delete commit should fan out"
    back = t.read(spark)
    assert sorted(r.clip_id for r in back.collect()) == [
        f"clip_{i:05d}" for i in range(16, 20)]
    plan = back._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("LeftAnti") == 2  # one per commit, not per file


def test_equality_and_position_deletes_compose(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create(loc, _clips_df(spark, 0, 12).schema)
    t.append(_clips_df(spark, 0, 12).coalesce(1))
    t.delete(spark, "score >= 10")                       # positional: 10, 11
    t.equality_delete(
        spark, spark.createDataFrame([(0,), (1,)], "shard int"))  # shard 0/1
    got = sorted(r.clip_id for r in t.read(spark).collect())
    expect = [f"clip_{i:05d}" for i in range(10) if i % 4 in (2, 3)]
    assert got == expect
    # multi-column equality keys, null-safe matching
    t2 = IcebergLiteTable.create(str(tmp_path / "t2"),
                                 _clips_df(spark, 0, 6).schema)
    t2.append(_clips_df(spark, 0, 6).coalesce(1))
    t2.equality_delete(spark, spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "shard int, score double"))
    assert t2.read(spark).count() == 4
    # compaction folds equality deletes and drops the delete manifests
    t2.rewrite_data_files(spark, target_files=1)
    assert t2.plan_delete_files() == []
    assert t2.read(spark).count() == 4


# ---------------------------------------------------------------------------
# manifest column bounds (data skipping on value predicates)
# ---------------------------------------------------------------------------

def test_value_filter_prunes_files_by_manifest_bounds(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    df = _clips_df(spark, 0, 400)
    t = IcebergLiteTable.create(loc, df.schema)
    # range-partitioned write -> files with disjoint score ranges
    t.append(df.repartitionByRange(8, "score"))
    all_files = t.plan_files()
    assert len(all_files) == 8
    assert all(f.bounds and "score" in f.bounds for f in all_files)
    pruned = t.plan_files(value_filter={"score": (100, 149)})
    assert 0 < len(pruned) < len(all_files)
    # every kept file's range genuinely overlaps [100, 149]
    for f in pruned:
        lo, hi = f.bounds["score"]
        assert hi >= 100 and lo <= 149
    # read() with the same filter: exact BETWEEN rows, from pruned files only
    got = t.read(spark, value_filter={"score": (100, 149)})
    assert got.count() == 50
    assert len(set(got.inputFiles())) == len(pruned)
    # open-ended + string bounds
    assert t.plan_files(value_filter={"score": (350, None)})
    hi_ids = t.read(spark, value_filter={"clip_id": ("clip_00390", None)})
    assert hi_ids.count() == 10


def test_value_filter_keeps_files_without_bounds(spark, tmp_path):
    # add_files-imported files keep bounds too; a column absent from the
    # bounds map never prunes
    src = str(tmp_path / "src.parquet")
    _clips_df(spark, 0, 20).coalesce(2).write.parquet(src)
    t = IcebergLiteTable.create_from_parquet(str(tmp_path / "tbl"), src)
    files = t.plan_files(value_filter={"nonexistent_col": (0, 1)})
    assert len(files) == len(t.plan_files())


# ---------------------------------------------------------------------------
# snapshot expiry (expire_snapshots maintenance)
# ---------------------------------------------------------------------------

def test_expire_snapshots_reclaims_precompaction_garbage(spark, tmp_path):
    loc = str(tmp_path / "tbl")
    t = IcebergLiteTable.create(loc, _clips_df(spark, 0, 30).schema)
    for i in range(0, 30, 10):
        t.append(_clips_df(spark, i, 10).coalesce(2))
    t.delete(spark, "score >= 25")
    t.rewrite_data_files(spark, target_files=1)
    pre_files = {f.file_path for f in t.plan_files()}
    n_disk_before = sum(len([f for f in fs if f.endswith(".parquet")])
                        for _, _, fs in os.walk(os.path.join(loc, "data")))
    assert n_disk_before > len(pre_files)  # old-era files still on disk

    stats = t.expire_snapshots(keep_last=1)
    assert stats["expired_snapshots"] == 4
    assert stats["deleted_data_files"] > 0
    # current snapshot unaffected, identical data
    assert t.refresh().read(spark).count() == 25
    assert {f.file_path for f in t.plan_files()} == pre_files
    # disk now holds exactly the planned files
    n_disk_after = sum(len([f for f in fs if f.endswith(".parquet")])
                       for _, _, fs in os.walk(os.path.join(loc, "data")))
    assert n_disk_after == len(pre_files)
    # expired snapshots are gone from metadata; time travel now errors
    assert len(t.snapshots()) == 1
    with pytest.raises(Exception):
        t.read(spark, snapshot_id=123456789)


def test_expire_never_touches_imported_files(spark, tmp_path):
    src = str(tmp_path / "src.parquet")
    _clips_df(spark, 0, 10).coalesce(1).write.parquet(src)
    t = IcebergLiteTable.create_from_parquet(str(tmp_path / "tbl"), src)
    t.append(_clips_df(spark, 10, 5).coalesce(1))
    t.rewrite_data_files(spark, target_files=1)  # imports now unreferenced
    t.expire_snapshots(keep_last=1)
    # external source files untouched even though no snapshot references them
    assert any(fn.endswith(".parquet") for fn in os.listdir(src))
    assert t.refresh().read(spark).count() == 15


def test_append_sort_by_tightens_bounds(spark, tmp_path):
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    df = _clips_df(spark, 0, 400)
    t1 = IcebergLiteTable.create(str(tmp_path / "sorted"), df.schema)
    t1.append(df.repartition(4), sort_by=["score"])
    t2 = IcebergLiteTable.create(str(tmp_path / "unsorted"), df.schema)
    t2.append(df.repartition(4))
    # sorted write -> value_filter prunes; unsorted -> every file overlaps
    assert len(t1.plan_files(value_filter={"score": (100, 149)})) < len(
        t1.plan_files())
    assert len(t2.plan_files(value_filter={"score": (100, 149)})) == len(
        t2.plan_files())
    assert t1.read(spark, value_filter={"score": (100, 149)}).count() == 50


def test_append_operation_id_is_idempotent(spark, tmp_path):
    """Replaying an append with the same operation_id (foreachBatch retry/
    restart) is a NO-OP returning the original snapshot — exactly-once
    landing under at-least-once callers."""
    from gx_spark.iceberg import IcebergLiteTable

    df = spark.range(10).withColumnRenamed("id", "v")
    loc = str(tmp_path / "idem")
    t = IcebergLiteTable.create(loc, df.schema)
    s1 = t.append(df, operation_id="stream-x-b0")
    n1 = IcebergLiteTable(loc).read(spark).count()
    s2 = IcebergLiteTable(loc).append(df, operation_id="stream-x-b0")
    assert s2 == s1
    assert IcebergLiteTable(loc).read(spark).count() == n1 == 10
    # a different operation id is a genuine new snapshot
    s3 = IcebergLiteTable(loc).append(df, operation_id="stream-x-b1")
    assert s3 != s1
    assert IcebergLiteTable(loc).read(spark).count() == 20
