"""The benchmark workloads.

Each workload makes its inputs and their oracle from the seed alone, without
Spark (`generate`), loads them into a session (`load`), and then exposes one
operation (`op`, timed), an untimed reset before it (`before`) and its output
check (`check`, untimed), plus a reference pass over the same tables in plain
PySpark (`scan`, timed on its own, checked by `scan_check`):

  audio_suite  an audio_clips table (tools/gen_audio.py rows) validated by the
               full `suites.audio_suite()`; per-expectation unexpected counts
               checked against the generator's per-row violation sidecar.
               The decode-bound path through the Python UDF and Arrow.
  wap_gate     small audio micro-batches through `validate_and_publish` into
               an Iceberg-lite table; each operation gates a clean batch
               (published by fast-forward) and then a dirty one (rejected,
               tag kept), on a table recreated before every operation.
"""

from __future__ import annotations

import collections
import os
import shutil
from types import SimpleNamespace

SIZES = {
    # (rows per timed operation, rows of the small first operation, warm-up
    # operations) at the measured scale and at the self-test scale
    "audio_suite": {"full": (2_000, 60, 2), "tiny": (60, 30, 1)},
    "wap_gate": {"full": (200, 40, 1), "tiny": (40, 20, 1)},
}

# clips per codec for the traced run's decode microbenchmark
MICRO_CLIPS_PER_CODEC = {"full": 40, "tiny": 4}
MICRO_TABLE_CLIPS = {"full": 800, "tiny": 40}


def make_workload(name: str, seed: int, size: str, work_dir: str):
    try:
        cls = WORKLOADS[name]
    except KeyError:
        raise SystemExit(f"unknown workload {name!r}; one of {sorted(WORKLOADS)}")
    return cls(seed, size, work_dir)


# -- audio rows from the repository's generator --------------------------------

def _clip_base(seed: int) -> int:
    # disjoint clip-id ranges per seed; ids stay within clip_\d{10}
    return 1_000_000 + (seed % 9_000) * 1_000_000


def audio_rows(seed: int, n: int, start: int = 0, clean: bool = False):
    """n consecutive generator rows from the seed's clip range, with each
    row's own sidecar entries.  A duplicate-id row is kept only when the row
    it duplicates is in the table under its own id, so the sidecar stays an
    exact per-row oracle.  clean=True keeps only rows with no violation of
    the audio suite."""
    from tools.gen_audio import gen_row, violation_class

    rows, entries = [], []
    i = _clip_base(seed) + start
    kept_prev = False
    while len(rows) < n:
        cls = violation_class(f"clip_{i:010d}")
        prev_cls = violation_class(f"clip_{i - 1:010d}")
        keep = not (clean and cls is not None)
        if cls == 1 and not (kept_prev and prev_cls not in (1, 3)):
            keep = False
        if keep:
            row, sidecar = gen_row(i, 16)
            rows.append(row)
            entries.append([t for _, t, _ in sidecar
                            if t != "expect_column_values_to_exist_in_table"])
        kept_prev = keep
        i += 1
    return rows, entries


def expected_audio_counts(rows, entries) -> dict[str, int]:
    """Per-expectation unexpected counts the audio suite must report.  The
    sidecar names one row per duplicated id; the engine flags every row of a
    duplicated id, so uniqueness is counted from the ids themselves."""
    counts: collections.Counter = collections.Counter()
    for e in entries:
        counts.update(t for t in e if t != "expect_column_values_to_be_unique")
    ids = collections.Counter(r["clip_id"] for r in rows)
    counts["expect_column_values_to_be_unique"] = sum(
        c for c in ids.values() if c > 1)
    return dict(counts)


def write_audio_parquet(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tools.gen_audio import _arrow_schema

    pq.write_table(pa.Table.from_pylist(rows, schema=_arrow_schema()), path,
                   row_group_size=256)


def micro_clips(seed: int, per_codec: int):
    """{codec: payloads}, per_codec clean payloads of each codec the engine
    decodes, from the seed's clip range."""
    from gx_spark.audio import ref_codec
    from gx_spark.suites import AUDIO_CODECS
    from tools.gen_audio import gen_row, violation_class

    have = {c: [] for c in AUDIO_CODECS}
    i = _clip_base(seed) + 500_000
    while any(len(v) < per_codec for v in have.values()):
        cid = f"clip_{i:010d}"
        codec = ref_codec(cid)
        if (codec in have and len(have[codec]) < per_codec
                and violation_class(cid) is None):
            have[codec].append(gen_row(i, 16)[0]["bytes"])
        i += 1
    return have


def scan_oracle(rows) -> tuple[int, int, int]:
    """What `scan_audio` must return for a table of these rows."""
    return (sum(len(r["bytes"] or b"") for r in rows),
            len({r["clip_id"] for r in rows}),
            sum(r["transcript"] is None for r in rows))


_PAYLOAD_LEN = None


def scan_audio(df) -> tuple[int, int, int]:
    """The reference pass: plain PySpark, no gx_spark code.  One job sends
    the payload column through a pandas UDF (the Arrow boundary and the
    Python workers, as the audio expectations do); one aggregates in the JVM
    with a shuffle (distinct ids, null transcripts).  Returns the payload
    bytes, the distinct ids and the null transcripts."""
    global _PAYLOAD_LEN
    import pandas as pd
    from pyspark.sql import functions as F

    if _PAYLOAD_LEN is None:
        def payload_len(s):
            return s.map(lambda b: 0 if b is None else len(b))

        payload_len.__annotations__ = {"s": pd.Series, "return": pd.Series}
        _PAYLOAD_LEN = F.pandas_udf(payload_len, "long")
    n_bytes = df.select(F.sum(_PAYLOAD_LEN("bytes"))).first()[0]
    ids, nulls = df.agg(
        F.countDistinct("clip_id"),
        F.count(F.when(F.col("transcript").isNull(), 1))).first()
    return n_bytes, ids, nulls


def check_audio_bundle(bundle, n_rows: int, want: dict[str, int]) -> bool:
    for r in bundle.suite_result.results:
        if r.exception_info.get("raised_exception"):
            return False
        t = r.expectation_config.expectation_type
        if t == "expect_table_row_count_to_be_between":
            if r.result.get("observed_value") != n_rows:
                return False
        elif r.result.get("unexpected_count") != want.get(t, 0):
            return False
    return True


class _Workload:
    """`generate` writes one operation's input files and returns them with
    their oracle (`rows`: rows validated per operation); `load` opens them in
    the session; `op` runs one timed operation on them and `check` verifies
    the operation's output."""

    name = ""
    binary_table = False

    def __init__(self, seed: int, size: str, work_dir: str) -> None:
        self.seed = seed
        self.size = size
        self.work_dir = work_dir
        self.rows_per_op, self.warm_rows, self.warm_ops = SIZES[self.name][size]

    def generate_inputs(self) -> None:
        self.warm = self.generate(self.warm_rows, "warm")
        self.main = self.generate(self.rows_per_op, "main")

    def load_inputs(self, spark) -> None:
        for inp in (self.warm, self.main):
            self.load(spark, inp)

    def before(self, spark, inp: SimpleNamespace) -> None:
        """Untimed, before every operation."""

    def scan_check(self, inp: SimpleNamespace, out) -> bool:
        return out == inp.scan_want

    def micro_payloads(self):
        return {"clips": micro_clips(self.seed, MICRO_CLIPS_PER_CODEC[self.size]),
                "table_rows": audio_rows(self.seed, MICRO_TABLE_CLIPS[self.size],
                                         start=700_000)[0],
                "work_dir": self.work_dir}


# -- audio_suite --------------------------------------------------------------

class _AudioWorkload(_Workload):
    binary_table = True

    def __init__(self, *a) -> None:
        super().__init__(*a)
        from gx_spark import EngineOptions
        from gx_spark.suites import audio_suite

        self.suite = audio_suite()
        self.options = EngineOptions(unexpected_index_column_names=("clip_id",))


class AudioSuite(_AudioWorkload):
    name = "audio_suite"

    def generate(self, n: int, tag: str) -> SimpleNamespace:
        rows, entries = audio_rows(self.seed, n,
                                   start=0 if tag == "main" else 900_000)
        path = os.path.join(self.work_dir, f"audio_clips_{tag}.parquet")
        write_audio_parquet(rows, path)
        return SimpleNamespace(rows=n, path=path,
                               want=expected_audio_counts(rows, entries),
                               scan_want=scan_oracle(rows))

    def load(self, spark, inp: SimpleNamespace) -> None:
        inp.df = spark.read.parquet(inp.path)

    def op(self, spark, inp: SimpleNamespace):
        import gx_spark

        bundle = gx_spark.validate(spark, inp.df, self.suite, self.options)
        bundle.unpersist()
        return bundle

    def scan(self, spark, inp: SimpleNamespace):
        return scan_audio(inp.df)

    def check(self, inp: SimpleNamespace, bundle) -> bool:
        return check_audio_bundle(bundle, inp.rows, inp.want)


# -- wap_gate -----------------------------------------------------------------

class WapGate(_AudioWorkload):
    """One operation is one gate cycle: a clean batch, which publishes, then
    a dirty one, which is rejected.  Both outcomes in every operation keep
    the operations alike, so their median is not a mix of two kinds.  The
    table is recreated, empty, before every operation, so no operation reads
    metadata that earlier ones left behind."""

    name = "wap_gate"

    def generate(self, b: int, tag: str) -> SimpleNamespace:
        base = 0 if tag == "main" else 900_000
        batches = []  # [path, expected counts], clean then dirty
        scan_want = []
        for clean in (True, False):
            start = base + (5 * b if clean else 0)
            rows, entries = audio_rows(self.seed, b, start=start, clean=clean)
            want = expected_audio_counts(rows, entries)
            while not clean and sum(want.values()) == 0:
                start += b
                rows, entries = audio_rows(self.seed, b, start=start)
                want = expected_audio_counts(rows, entries)
            path = os.path.join(self.work_dir, f"batch_{tag}_{int(clean)}.parquet")
            write_audio_parquet(rows, path)
            batches.append([path, want])
            scan_want.append(scan_oracle(rows))
        return SimpleNamespace(rows=2 * b, batch_rows=b, batches=batches, n=0,
                               tag=tag, table=None, scan_want=scan_want)

    def load(self, spark, inp: SimpleNamespace) -> None:
        for batch in inp.batches:
            batch[0] = spark.read.parquet(batch[0])
        inp.schema = inp.batches[0][0].schema

    def before(self, spark, inp: SimpleNamespace) -> None:
        from gx_spark.iceberg import IcebergLiteTable

        if inp.table is not None:
            shutil.rmtree(inp.table.location)
        inp.table = IcebergLiteTable.create(
            os.path.join(self.work_dir, f"gate_{inp.tag}_{inp.n}"), inp.schema)

    def op(self, spark, inp: SimpleNamespace):
        import gx_spark

        inp.n += 1
        out = []
        for df, want in inp.batches:
            res = gx_spark.validate_and_publish(spark, inp.table, df,
                                                self.suite, self.options)
            res.bundle.unpersist()
            out.append((res, want))
        return out

    def scan(self, spark, inp: SimpleNamespace):
        return [scan_audio(df) for df, _ in inp.batches]

    def check(self, inp: SimpleNamespace, out) -> bool:
        """The clean batch published, the dirty one was rejected with its tag
        kept, and main moved to the clean stage and nowhere else."""
        (ok_res, ok_want), (bad_res, bad_want) = out
        table = inp.table.refresh()
        main = table.current_snapshot_id()
        refs = table.refs
        if not (ok_res.published and not bad_res.published) or "audit" in refs:
            return False
        if not (check_audio_bundle(ok_res.bundle, inp.batch_rows, ok_want)
                and check_audio_bundle(bad_res.bundle, inp.batch_rows, bad_want)):
            return False
        return (main == ok_res.snapshot_id
                and refs.get(bad_res.rejected_tag, {}).get("snapshot-id")
                == bad_res.snapshot_id)


WORKLOADS = {w.name: w for w in (AudioSuite, WapGate)}
