"""Per-layer trace for the benchmark's traced run (`--trace 1`).

Everything is measured from outside the program:

* wall spans: the benchmark wraps public entry points of each module for the
  duration of a traced operation —
    executor  `ValidationRun.validate`
    planner   `MetricContext.resolve`
    counts    `executor.violation_counts_df` (the violation-count job that
              fills the violations cache; its span runs until the lists
              derivation starts)
    violations `executor.derive_unexpected_lists`
    iceberg   `IcebergLiteTable.append` / `.read` / `.fast_forward` /
              `.create_tag` / `.drop_ref`
  Self times are a span minus the spans nested in it.
* Spark counters: every span runs under its own job group
  (`sc.setJobGroup`); after the operation the jobs of each group are read
  from `statusTracker()` and their stages from the JVM status store
  (`lastStageAttempt`): stages and tasks that ran, source rows read, shuffle
  bytes written, task run / CPU / GC time.
* the tracer's own cost, `trace.overhead_ms`: the time each traced
  operation spends in the tracer's Py4J calls (`setJobGroup`) and in reading
  the counters afterwards.
* microbenchmarks, outside the timed loop: `audio.decode_payload` clips/s per
  codec on one core, and an identity `mapInPandas` Arrow round trip.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import os
import statistics
import time

PHASES = ("op", "executor", "planner", "counts", "violations", "iceberg")

#: every per-layer metric, in BENCHMARK.json order, with its unit
PER_LAYER = [
    ("executor.validate_ms", "ms"),
    ("executor.self_ms", "ms"),
    ("executor.counts_ms", "ms"),
    ("planner.resolve_ms", "ms"),
    ("planner.jobs", "count"),
    ("violations.lists_ms", "ms"),
    ("violations.jobs", "count"),
    ("iceberg.append_ms", "ms"),
    ("iceberg.read_ms", "ms"),
    ("iceberg.commit_ms", "ms"),
    ("wap.self_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.scan_rows", "rows"),
    ("spark.scans_per_op", "scans"),
    ("spark.shuffle_bytes", "bytes"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.python_wait_s", "s"),
    ("audio.decode_clips_per_s.pcm_s16le", "clips/s"),
    ("audio.decode_clips_per_s.flac", "clips/s"),
    ("audio.decode_clips_per_s.opus", "clips/s"),
    ("audio.decode_clips_per_s.pcm_mulaw", "clips/s"),
    ("audio.decode_clips_per_s.pcm_alaw", "clips/s"),
    ("spark.arrow_roundtrip_rows_per_s", "rows/s"),
    ("trace.overhead_ms", "ms"),
]


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._saved: list[tuple[object, str, object]] = []
        self._op = None        # index of the traced operation in flight
        self._stack: list[str] = []
        self._spans: dict[str, float] = {}
        self._counts_t0 = None
        self._own_s = 0.0      # the tracer's own time in the operation
        self.samples: list[dict[str, float]] = []

    # -- job groups and spans -------------------------------------------------

    def _group(self, phase: str) -> str:
        return f"perfbench.{self._op}.{phase}"

    def _set_group(self, group: str, phase: str) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup(group, phase)
        self._own_s += time.perf_counter() - t0

    def _enter(self, phase: str) -> None:
        self._stack.append(phase)
        self._set_group(self._group(phase), phase)

    def _leave(self) -> None:
        self._stack.pop()
        self._set_group(self._group(self._stack[-1]), self._stack[-1])

    def _add(self, span: str, seconds: float) -> None:
        self._spans[span] = self._spans.get(span, 0.0) + seconds * 1e3

    def _close_counts(self) -> None:
        if self._counts_t0 is not None:
            self._add("executor.counts", time.perf_counter() - self._counts_t0)
            self._counts_t0 = None
            self._leave()

    def _timed(self, fn, span: str, phase: str, closes_counts: bool = False):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self._op is None:
                return fn(*a, **kw)
            if closes_counts:
                self._close_counts()
            self._enter(phase)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self._add(span, time.perf_counter() - t0)
                if span == "executor.validate":
                    self._close_counts()
                self._leave()
        return wrapper

    def _counts_start(self, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if self._op is not None and self._counts_t0 is None:
                self._enter("counts")
                self._counts_t0 = time.perf_counter()
            return fn(*a, **kw)
        return wrapper

    def _patch(self, owner, name: str, new) -> None:
        self._saved.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, new)

    def install(self) -> None:
        from gx_spark import executor
        from gx_spark.iceberg import IcebergLiteTable
        from gx_spark.planner import MetricContext

        self._patch(executor.ValidationRun, "validate", self._timed(
            executor.ValidationRun.validate, "executor.validate", "executor"))
        self._patch(MetricContext, "resolve", self._timed(
            MetricContext.resolve, "planner.resolve", "planner"))
        self._patch(executor, "violation_counts_df",
                    self._counts_start(executor.violation_counts_df))
        self._patch(executor, "derive_unexpected_lists", self._timed(
            executor.derive_unexpected_lists, "violations.lists", "violations",
            closes_counts=True))
        for name, span in (("append", "iceberg.append"), ("read", "iceberg.read"),
                           ("fast_forward", "iceberg.commit"),
                           ("create_tag", "iceberg.commit"),
                           ("drop_ref", "iceberg.commit")):
            self._patch(IcebergLiteTable, name, self._timed(
                IcebergLiteTable.__dict__[name], span, "iceberg"))

    def uninstall(self) -> None:
        while self._saved:
            owner, name, old = self._saved.pop()
            setattr(owner, name, old)

    @contextlib.contextmanager
    def operation(self, i: int):
        self._op, self._stack, self._spans, self._own_s = i, [], {}, 0.0
        self._enter("op")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._close_counts()
            self._set_group("perfbench.idle", "idle")
            wall_ms = (time.perf_counter() - t0) * 1e3
            try:
                t_sample = time.perf_counter()
                sample = self._sample(wall_ms)
                self._own_s += time.perf_counter() - t_sample
                sample["trace.overhead_ms"] = self._own_s * 1e3
                self.samples.append(sample)
            finally:
                self._op = None

    # -- Spark counters -------------------------------------------------------

    def _stage_totals(self, job_ids) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        seen, out = set(), collections.Counter()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — never submitted (skipped)
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["scan_rows"] += sd.inputRecords()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
        return out

    def _sample(self, wall_ms: float) -> dict[str, float]:
        # the status store is fed by an asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        jobs = {p: list(tracker.getJobIdsForGroup(self._group(p))) for p in PHASES}
        all_jobs = [j for p in PHASES for j in jobs[p]]
        st = self._stage_totals(all_jobs)
        sp = collections.defaultdict(float, self._spans)
        validate = sp["executor.validate"]
        iceberg = sp["iceberg.append"] + sp["iceberg.read"] + sp["iceberg.commit"]
        wap = "iceberg.append" in self._spans
        return {
            "wall_ms": wall_ms,
            "executor.validate_ms": validate,
            "executor.self_ms": validate - sp["planner.resolve"]
            - sp["executor.counts"] - sp["violations.lists"],
            "executor.counts_ms": sp["executor.counts"],
            "planner.resolve_ms": sp["planner.resolve"],
            "planner.jobs": len(jobs["planner"]),
            "violations.lists_ms": sp["violations.lists"],
            "violations.jobs": len(jobs["violations"]),
            "iceberg.append_ms": sp["iceberg.append"],
            "iceberg.read_ms": sp["iceberg.read"],
            "iceberg.commit_ms": sp["iceberg.commit"],
            "wap.self_ms": wall_ms - iceberg - validate if wap else 0.0,
            "spark.jobs": len(all_jobs),
            "spark.stages": st["stages"],
            "spark.tasks": st["tasks"],
            "spark.scan_rows": st["scan_rows"],
            "spark.shuffle_bytes": st["shuffle_bytes"],
            "spark.task_run_s": st["task_run_s"],
            "spark.task_cpu_s": st["task_cpu_s"],
            "spark.gc_s": st["gc_s"],
            "spark.python_wait_s": st["task_run_s"] - st["task_cpu_s"],
        }

    def metrics(self, rows_per_op: int) -> dict:
        """Median over the traced operations of every span and counter."""
        units = dict(PER_LAYER)
        out = {}
        for key in self.samples[0]:
            if key in units:
                out[key] = (statistics.median(s[key] for s in self.samples),
                            units[key])
        out["spark.scans_per_op"] = (out["spark.scan_rows"][0] / rows_per_op,
                                     units["spark.scans_per_op"])
        return out

    # -- microbenchmarks --------------------------------------------------------

    def microbenchmarks(self, payloads: dict, seconds: float = 0.3) -> dict:
        units = dict(PER_LAYER)
        out = {}
        for codec, blobs in payloads["clips"].items():
            key = f"audio.decode_clips_per_s.{codec}"
            out[key] = (_decode_rate(codec, blobs, seconds), units[key])
        out["spark.arrow_roundtrip_rows_per_s"] = (
            self._arrow_roundtrip(payloads["table_rows"], payloads["work_dir"]),
            units["spark.arrow_roundtrip_rows_per_s"])
        return out

    def _arrow_roundtrip(self, rows, work_dir: str, reps: int = 5) -> float:
        """Identity mapInPandas over an audio table's columns: rows/s of the
        JVM -> Arrow -> Python -> Arrow -> JVM boundary, median of reps."""
        from pyspark.sql import functions as F
        from workloads import write_audio_parquet

        path = os.path.join(work_dir, "arrow_roundtrip.parquet")
        write_audio_parquet(rows, path)
        df = self.spark.read.parquet(path)
        out = df.mapInPandas(lambda batches: batches, df.schema).agg(
            F.sum(F.length("bytes")), F.count(F.lit(1)))
        walls = []
        for _ in range(reps + 1):  # the first pass forks the workers
            self.sc._jvm.System.gc()
            t0 = time.perf_counter()
            row = out.collect()[0]
            walls.append(time.perf_counter() - t0)
            if row[1] != len(rows):
                raise RuntimeError(f"round trip returned {row[1]} of {len(rows)} rows")
        return len(rows) / statistics.median(walls[1:])


def _decode_rate(codec: str, blobs: list[bytes], seconds: float) -> float:
    """Clips/s of one core decoding `blobs` in a loop for ~`seconds`.  Opus
    payloads are container-validated, not decoded (gx_spark.audio), so the
    opus rate is that of the parse the engine runs for them."""
    if codec == "opus":
        from gx_spark.oggopus import ogg_opus_parse as fn
    else:
        from gx_spark.audio import decode_payload

        fn = functools.partial(decode_payload, codec=codec)

    for b in blobs:  # warm caches and imports; every payload must decode
        fn(b)
    n, t0 = 0, time.perf_counter()
    while True:
        for b in blobs:
            fn(b)
        n += len(blobs)
        dt = time.perf_counter() - t0
        if dt >= seconds:
            return n / dt
