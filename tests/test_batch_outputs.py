"""Golden digests for what the incremental runners write, and the
per-batch faults of their sinks.

Each run validates a small table through one runner:

- CheckpointRunner over two partitions, with a transform and one extra
  output;
- validate_stream over two file micro-batches, with a transform and an
  extra output;
- stream_to_iceberg with gate="rows", quarantine and a results_dir;
- stream_to_iceberg with gate="batch" and a results_dir;
- detect_cross_batch_duplicates over three file micro-batches.

Per run, one digest covers the relative directories that hold parquet
files, and one digest per table covers its `schema.simpleString()` and its
rows, sorted, with the random `run_id` column removed.  The Iceberg runs
also pin the rows that landed in the table.

`python tests/test_batch_outputs.py` prints fresh digests (regenerate only
after an intended output change)."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from gx_spark import EngineOptions, ExpectationSuite  # noqa: E402
from gx_spark.table_provider import PartitionRef, TableProvider  # noqa: E402

from tests.test_streaming_state import _write_batches  # noqa: E402

SCHEMA = "k int, p int, v double"
OPTS = EngineOptions(unexpected_index_column_names=("k",))


def _rows(lo: int, n: int, bad: tuple = ()) -> list[tuple]:
    return [(k, k % 2, -1.0 if k in bad else float(k)) for k in range(lo, lo + n)]


def _suite() -> ExpectationSuite:
    return (ExpectationSuite("outputs")
            .add("expect_column_values_to_be_between", column="v", min_value=0)
            .add("expect_column_mean_to_be_between", column="v",
                 min_value=-100, max_value=100))


def _doubled(df):
    return df.withColumn("v2", F.col("v") * 2)


def _extras() -> dict:
    return {"_extra": lambda d: d.select("k", "v2")}


class _TwoParts(TableProvider):
    """A fixed table with a fixed snapshot id, split on p."""

    def __init__(self, df):
        self.df = df

    def load(self, spark):
        return self.df

    def snapshot_id(self) -> str:
        return "s1"

    def partitions(self, spark):
        return [PartitionRef(0, "p = 0"), PartitionRef(1, "p = 1")]


def _file_stream(spark, src, batches, schema=SCHEMA):
    """`batches` appended one parquet file each, read back at one file
    per micro-batch."""
    _write_batches(spark, src, batches, schema)
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))


def _md5(obj) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True, default=str)
                       .encode()).hexdigest()


def _table_digest(df) -> str:
    df = df.drop("run_id")
    return _md5({"schema": df.schema.simpleString(),
                 "rows": sorted(repr(tuple(r)) for r in df.collect())})


def _outputs(spark, root) -> dict:
    dirs = sorted(os.path.relpath(d, root) for d, _, files in os.walk(root)
                  if any(f.endswith(".parquet") for f in files))
    out = {"dirs": _md5(dirs)}
    for table in sorted({d.split(os.sep)[0] for d in dirs}):
        path = os.path.join(root, table)
        out[table] = _table_digest(
            spark.read.option("basePath", path).parquet(path))
    return out


def _landed(spark, loc) -> str:
    from gx_spark.iceberg import IcebergLiteTable

    return _table_digest(IcebergLiteTable(loc).read(spark))


def run_checkpoint(spark, tmp):
    from gx_spark.checkpoint import CheckpointRunner

    df = spark.createDataFrame(_rows(0, 12, bad=(3, 8)), SCHEMA)
    out = os.path.join(tmp, "out")
    CheckpointRunner(spark, _suite(), _TwoParts(df), out, OPTS,
                     transform=_doubled,
                     extra_outputs=_extras()).run(run_id="r1")
    return _outputs(spark, out)


def run_validate_stream(spark, tmp):
    from gx_spark.streaming import validate_stream

    out = os.path.join(tmp, "out")
    stream = _file_stream(spark, os.path.join(tmp, "src"),
                          [_rows(0, 6, bad=(2,)), _rows(6, 6)])
    validate_stream(stream, _suite(), out, OPTS,
                    checkpoint_location=os.path.join(tmp, "chk"),
                    transform=_doubled,
                    extra_outputs=_extras()).awaitTermination(180)
    return _outputs(spark, out)


def run_rows_gate(spark, tmp):
    from gx_spark.streaming import stream_to_iceberg

    out, loc = os.path.join(tmp, "out"), os.path.join(tmp, "landed")
    stream = _file_stream(spark, os.path.join(tmp, "src"),
                          [_rows(0, 6, bad=(1, 4)), _rows(6, 6, bad=(9,))])
    stream_to_iceberg(stream, loc, _suite(), OPTS, results_dir=out,
                      quarantine=True,
                      checkpoint_location=os.path.join(tmp, "chk"),
                      ).awaitTermination(180)
    return {**_outputs(spark, out), "landed": _landed(spark, loc)}


def run_batch_gate(spark, tmp):
    from gx_spark.streaming import stream_to_iceberg

    out, loc = os.path.join(tmp, "out"), os.path.join(tmp, "landed")
    stream = _file_stream(spark, os.path.join(tmp, "src"),
                          [_rows(0, 6), _rows(6, 6, bad=(7,))])
    stream_to_iceberg(stream, loc, _suite(), OPTS, results_dir=out,
                      checkpoint_location=os.path.join(tmp, "chk"),
                      gate="batch").awaitTermination(180)
    return {**_outputs(spark, out), "landed": _landed(spark, loc)}


def run_cross_batch_dups(spark, tmp):
    from gx_spark.streaming import detect_cross_batch_duplicates

    out = os.path.join(tmp, "out")
    stream = _file_stream(
        spark, os.path.join(tmp, "src"),
        [[("a", 1), ("a", 2), ("b", 3)], [("c", 4)], [("a", 5), ("c", 6)]],
        "clip_id string, v long")
    detect_cross_batch_duplicates(
        stream, ["clip_id"], out,
        checkpoint_location=os.path.join(tmp, "chk")).awaitTermination(180)
    return _outputs(spark, out)


RUNS = {
    "checkpoint": run_checkpoint,
    "validate_stream": run_validate_stream,
    "rows_gate": run_rows_gate,
    "batch_gate": run_batch_gate,
    "cross_batch_dups": run_cross_batch_dups,
}

GOLDEN = {
    'checkpoint': {'dirs': 'c805daee97cff148da75efecfb7d3dff', '_extra': '1a68d4c7ea9f06927d4cac3963c6440b', '_validation_results': '5a3bd774dbb8eeebb9c91b3ba533ae87', '_violations': '866059e80975312fbbf72bf5f3fb2efe'},
    'validate_stream': {'dirs': '6ba10d9131a80b2a78594f93157ef967', '_extra': '01be3de1376f07ac2a18c73069224290', '_validation_results': '6ccadd26322858f6f33808dcb9a12200', '_violations': 'e1b1f53d5b16bc742acbd57d67ee5639'},
    'rows_gate': {'dirs': '4cf25b2b2d36227af1c479cacde109b2', '_quarantine': 'f6f45aacbe1d46eacb5a2de858abb55e', '_validation_results': '7ee6bb187d3bdf15ab068f97e21f0932', '_violations': 'f1ef1483c2ac78ecb99cc5265c623459', 'landed': '4cd472120f7a4e35d3eed99402c2333a'},
    'batch_gate': {'dirs': 'fca2f2bd85982c9c63162b1a9cc4f398', '_validation_results': 'c77e238feba700701d6b7954a42e419f', '_violations': '7dd28445b00d447074f0473f3151cc56', 'landed': 'f787eb2ddc2b6b7309be3365dad15ce1'},
    'cross_batch_dups': {'dirs': '7bf0c6899fd6c8cf35b4bb61c13f752e', '_dup_violations': '570f599fc2ded8b104b0e96372a5c054'},
}


@pytest.mark.parametrize("name", list(RUNS))
def test_batch_outputs_digest(spark, tmp_path, name):
    assert RUNS[name](spark, str(tmp_path)) == GOLDEN[name]


def test_dup_violations_replay_overwrites_its_batch(spark, tmp_path):
    """A micro-batch replayed after its commit was lost rewrites its own
    _dup_violations slice instead of appending a second copy."""
    from gx_spark.streaming import detect_cross_batch_duplicates

    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))
    batches = [[("a", 1), ("a", 2), ("b", 3)], [("c", 4)], [("a", 5), ("c", 6)]]

    def run(batches):
        stream = _file_stream(spark, src, batches, "clip_id string, v long")
        detect_cross_batch_duplicates(
            stream, ["clip_id"], out, checkpoint_location=chk
        ).awaitTermination(180)
        dup = spark.read.parquet(os.path.join(out, "_dup_violations"))
        return sorted(tuple(r) for r in dup.collect())

    first = run(batches)
    assert len(first) == 3
    for name in ("2", ".2.crc"):
        if os.path.exists(os.path.join(chk, "commits", name)):
            os.remove(os.path.join(chk, "commits", name))
    assert run([]) == first


def test_batch_gate_stamps_the_stream_identity(spark, tmp_path):
    """The batch gate's results and violations carry the stream's run id
    `<run>-b<batch_id>` and partition_id = batch_id, as the rows gate's."""
    from gx_spark.streaming import stream_to_iceberg

    out = str(tmp_path / "out")
    stream = _file_stream(spark, str(tmp_path / "src"),
                          [_rows(0, 3), _rows(3, 3, bad=(4,))])
    stream_to_iceberg(stream, str(tmp_path / "landed"), _suite(), OPTS,
                      results_dir=out,
                      checkpoint_location=str(tmp_path / "chk"),
                      gate="batch").awaitTermination(180)
    results = spark.read.parquet(os.path.join(out, "_validation_results"))
    ids = {r.batch_id: (r.run_id, r.partition_id) for r in
           results.select("batch_id", "run_id", "partition_id").distinct()
           .collect()}
    assert sorted(ids) == [0, 1]
    assert len({run.rsplit("-b", 1)[0] for run, _ in ids.values()}) == 1
    for batch_id, (run, partition_id) in ids.items():
        assert run.endswith(f"-b{batch_id}") and partition_id == batch_id
    viol = spark.read.parquet(os.path.join(out, "_violations"))
    assert {tuple(r) for r in viol.select("batch_id", "run_id").distinct()
            .collect()} == {(1, ids[1][0])}


def test_quarantine_broadcasts_only_under_the_key_cap(
        spark, tmp_path, monkeypatch):
    """The rows gate hints a broadcast of a micro-batch's bad keys only
    while they number at most _KEY_SET_CAP; above it the plain join is
    left to AQE, and the landed and quarantined rows are the same."""
    from gx_spark import streaming

    write_slice, hinted = streaming.write_slice, []

    def spy(df, results_dir, table, sub):
        if table == "_quarantine":
            plan = df._jdf.queryExecution().analyzed().toString()
            hinted.append("ResolvedHint (strategy=broadcast)" in plan)
        write_slice(df, results_dir, table, sub)

    monkeypatch.setattr(streaming, "write_slice", spy)

    def run(name):
        out, loc = str(tmp_path / name / "out"), str(tmp_path / name / "landed")
        stream = _file_stream(spark, str(tmp_path / name / "src"),
                              [_rows(0, 6, bad=(1, 4)), _rows(6, 6, bad=(9,))])
        streaming.stream_to_iceberg(
            stream, loc, _suite(), OPTS, results_dir=out, quarantine=True,
            checkpoint_location=str(tmp_path / name / "chk"),
        ).awaitTermination(180)
        return _outputs(spark, out), _landed(spark, loc)

    default = run("default")
    assert hinted == [True, True]
    # batch 0 has two bad keys, batch 1 one: only batch 1 is under the cap
    monkeypatch.setattr(streaming, "_KEY_SET_CAP", 1)
    hinted.clear()
    assert run("capped") == default
    assert hinted == [False, True]


def test_batch_gate_releases_every_micro_batch(spark, tmp_path):
    """With no results_dir to write, the batch gate still unpersists each
    micro-batch's audit violations."""
    from gx_spark.streaming import stream_to_iceberg

    cached = spark.sparkContext._jsc.sc().getPersistentRDDs
    before = cached().size()
    stream = _file_stream(spark, str(tmp_path / "src"),
                          [_rows(3 * i, 3) for i in range(4)])
    stream_to_iceberg(stream, str(tmp_path / "landed"), _suite(), OPTS,
                      checkpoint_location=str(tmp_path / "chk"),
                      gate="batch").awaitTermination(180)
    assert cached().size() == before


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    print("GOLDEN = {")
    for name, fn in RUNS.items():
        tmp = tempfile.mkdtemp(prefix="gx_outputs_")
        try:
            print(f"    {name!r}: {fn(spark, tmp)!r},")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print("}")
    spark.stop()
