"""Resumable per-partition validation runs (north rule BASELINE.json:6).

The reference's Checkpoint (ref: checkpoint/checkpoint.py#Checkpoint.run)
orchestrates validate→store-result→actions per batch; ours is the scaled
equivalent: a per-partition loop with a durable manifest so a killed
spark-submit job restarts only unvalidated partitions.

Manifest: append-only JSONL log at <results_dir>/_checkpoint_manifest.json,
one line per (snapshot_id, partition_id) status change (last line wins;
fsync per mark; torn tail lines ignored on load) — O(1) I/O per partition
instead of a full-document rewrite, so a 10k-partition run writes O(P)
manifest bytes.  Legacy whole-dict JSON manifests are migrated in place.

Every incremental runner (this one and the streaming sinks) takes one
per-batch step, `validated_batch`.  Each output overwrites one hive-style
slice per batch (`write_slice`): <results_dir>/<table>/snapshot_id=S/
partition_id=P here, <table>/batch_id=N for a stream, so a re-run batch
replaces its own slice; readers recover the lineage columns from the path.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .actions import fire_actions
from .executor import ValidationBundle, ValidationRun
from .model import EngineOptions, ExpectationSuite
from .table_provider import PartitionRef, TableProvider


def write_slice(df: DataFrame, results_dir: str, table: str, sub: str) -> None:
    """Overwrite <results_dir>/<table>/<sub>.  The columns that a `k=v`
    segment of `sub` names are dropped first: the reader gets them back
    from the path."""
    named = [seg.split("=", 1)[0] for seg in sub.split("/") if "=" in seg]
    df.drop(*named).write.mode("overwrite").parquet(
        os.path.join(results_dir, table, sub))


def write_bundle(spark: SparkSession, bundle: ValidationBundle,
                 results_dir: str, sub: str) -> None:
    """Write a bundle's `_validation_results` and `_violations` slices."""
    write_slice(bundle.results_df(spark), results_dir, "_validation_results", sub)
    vt = bundle.violations_table()
    if vt is not None:
        write_slice(vt, results_dir, "_violations", sub)


@contextmanager
def validated_batch(run: ValidationRun, df: DataFrame, results_dir: str | None,
                    sub: str, *, run_id: str, partition_id: int,
                    snapshot_id: str | None = None, transform=None,
                    extra_outputs: dict | None = None):
    """The per-batch step of every incremental runner: apply `transform`,
    validate, write the bundle and each extra output under `sub` (when
    `results_dir` is set), yield the bundle, and release the cached
    violations and transformed frame on the way out.

    With a transform and extra outputs, the transformed batch is persisted
    once across the suite and every extra write, so an expensive transform
    (audio decode) runs once per batch."""
    persisted = bundle = None
    try:
        if transform is not None:
            df = transform(df)
            if extra_outputs:
                df = persisted = df.persist()
        bundle = run.validate(df, run_id=run_id, partition_id=partition_id,
                              snapshot_id=snapshot_id)
        if results_dir:
            write_bundle(run.spark, bundle, results_dir, sub)
            for name, fn in (extra_outputs or {}).items():
                write_slice(fn(df), results_dir, name, sub)
        yield bundle
    finally:
        if bundle is not None:
            bundle.unpersist()
        if persisted is not None:
            persisted.unpersist()


class CheckpointManifest:
    """Durable (snapshot, partition) status ledger.

    Persistence is an append-only JSONL LOG (one line per status change,
    last line per key wins), not a full-document rewrite: marking a
    partition is O(1) I/O, so a P-partition run writes O(P) total manifest
    bytes instead of the O(P^2) a rewrite-the-JSON-each-mark scheme costs.
    A torn final line (killed mid-append) is ignored on load — the
    partition simply re-runs, which the per-partition overwrite writes
    make idempotent.  Legacy whole-dict JSON manifests load transparently
    and are migrated to the log on the next mark."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.entries: dict[str, dict[str, Any]] = {}
        self._migrated = True
        if os.path.exists(path):
            with open(path) as f:
                content = f.read()
            lines = [ln for ln in content.splitlines() if ln.strip()]
            if len(lines) == 1 or content.lstrip().startswith("{\n"):
                # legacy whole-dict format (pretty-printed multi-line JSON,
                # or a single line that parses to a dict-of-dicts)
                try:
                    obj = json.loads(content)
                    if obj and all(isinstance(v, dict) and "status" in v
                                   for v in obj.values()):
                        self.entries = obj
                        self._migrated = False
                except json.JSONDecodeError:
                    pass
            if self._migrated:  # JSONL log: one entry per line, last wins
                self.entries = {}
                for line in lines:
                    try:
                        e = json.loads(line)
                    except json.JSONDecodeError:
                        continue  # torn tail line from a kill
                    if (not isinstance(e, dict) or "snapshot_id" not in e
                            or "partition_id" not in e):
                        # valid JSON that isn't a manifest entry (legacy
                        # '{}' manifest, stray scalar): skip like a torn
                        # line instead of crashing the whole resume
                        continue
                    self.entries[self.key(e["snapshot_id"],
                                          e["partition_id"])] = e

    @staticmethod
    def key(snapshot_id: str, partition_id: int) -> str:
        return f"{snapshot_id}:{partition_id}"

    def is_done(self, snapshot_id: str, partition_id: int) -> bool:
        e = self.entries.get(self.key(snapshot_id, partition_id))
        return bool(e and e.get("status") == "done")

    def mark(self, snapshot_id: str, partition_id: int, status: str,
             run_id: str, metrics_rows: int = 0) -> None:
        import time

        entry = {
            "run_id": run_id,
            "snapshot_id": snapshot_id,
            "partition_id": partition_id,
            "status": status,
            "metrics_rows": metrics_rows,
            "updated_ts": int(time.time()),
        }
        self.entries[self.key(snapshot_id, partition_id)] = entry
        if not self._migrated:
            # rewrite the legacy dict file as a log once, then append
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                for e in self.entries.values():
                    f.write(json.dumps(e) + "\n")
            os.replace(tmp, self.path)
            self._migrated = True
            return
        with open(self.path, "a") as f:
            f.write(json.dumps(entry) + "\n")
            f.flush()
            os.fsync(f.fileno())


@dataclass
class CheckpointResult:
    run_id: str
    snapshot_id: str
    validated_partitions: list[int]
    skipped_partitions: list[int]
    all_success: bool


class CheckpointRunner:
    def __init__(
        self,
        spark: SparkSession,
        suite: ExpectationSuite,
        provider: TableProvider,
        results_dir: str,
        options: EngineOptions | None = None,
        tables: dict[str, DataFrame] | None = None,
        transform=None,
        extra_outputs: dict | None = None,
        actions: list | None = None,
    ) -> None:
        """`transform` (DataFrame -> DataFrame, optional) is applied to each
        partition BEFORE validation — pass validate_and_extract_audio to
        validate flag columns with plain expectations; `extra_outputs`
        ({table_name: DataFrame -> DataFrame}) writes additional per-
        partition tables (e.g. curation features) from the SAME transformed
        DataFrame under the same exactly-once overwrite + manifest
        discipline.  With both set, the partition is persisted across the
        suite and every extra write, so an expensive transform (audio
        decode) runs once per partition per run — the resumable form of
        the one-decode validate+curate pass.  `actions` (optional list of
        gx_spark.actions callables) fire after each validated partition
        and at run end — notification is best-effort and never fails or
        re-runs a partition."""
        self.spark = spark
        self.suite = suite
        self.provider = provider
        self.results_dir = results_dir
        self.options = options or EngineOptions(
            unexpected_index_column_names=("clip_id",)
        )
        self.tables = tables or {}
        self.transform = transform
        self.extra_outputs = extra_outputs or {}
        self.actions = list(actions or [])
        os.makedirs(results_dir, exist_ok=True)
        self.manifest = CheckpointManifest(
            os.path.join(results_dir, "_checkpoint_manifest.json")
        )

    def run(self, run_id: str | None = None, max_partitions: int | None = None) -> CheckpointResult:
        """Validate every not-yet-done partition of the current snapshot.

        `max_partitions` bounds the number validated in this invocation —
        used by tests to simulate a killed job; a subsequent run() resumes
        exactly where the previous one stopped."""
        run_id = run_id or uuid.uuid4().hex[:12]
        snapshot = self.provider.snapshot_id()
        df = self.provider.load(self.spark)
        parts = self.provider.partitions(self.spark)
        run = ValidationRun(self.spark, self.suite, self.options, self.tables)
        n_rows = len(self.suite.expectations)
        validated, skipped = [], []
        all_success = True
        for p in parts:
            if self.manifest.is_done(snapshot, p.partition_id):
                skipped.append(p.partition_id)
                continue
            if max_partitions is not None and len(validated) >= max_partitions:
                break
            self.manifest.mark(snapshot, p.partition_id, "pending", run_id)
            # Exactly-once on resume: each (snapshot, partition) overwrites
            # its own slice, so a job killed after the write but before
            # manifest.mark('done') re-runs the partition idempotently.
            # The partition predicate pushes down into the scan.
            sub = f"snapshot_id={snapshot}/partition_id={p.partition_id}"
            with validated_batch(run, df.filter(p.predicate), self.results_dir,
                                 sub, run_id=run_id,
                                 partition_id=p.partition_id,
                                 snapshot_id=snapshot,
                                 transform=self.transform,
                                 extra_outputs=self.extra_outputs) as bundle:
                all_success = all_success and bundle.success
            self.manifest.mark(snapshot, p.partition_id, "done", run_id, n_rows)
            validated.append(p.partition_id)
            if self.actions:
                fire_actions(self.actions, {
                    "event": "partition_validated",
                    "run_id": run_id, "snapshot_id": snapshot,
                    "partition_id": p.partition_id,
                    "suite_name": self.suite.name,
                    "success": bundle.success,
                    "n_expectations": n_rows,
                })
        if self.actions:
            fire_actions(self.actions, {
                "event": "run_end", "run_id": run_id,
                "snapshot_id": snapshot, "suite_name": self.suite.name,
                "success": all_success,
                "validated_partitions": list(validated),
                "skipped_partitions": list(skipped),
            })
        return CheckpointResult(run_id, snapshot, validated, skipped, all_success)

    def results(self) -> DataFrame:
        return self.extra("_validation_results")

    def publish(self, iceberg_location: str, now_ms: int | None = None) -> int:
        """Append the accumulated validation-results rows to an Iceberg-lite
        `_validation_results` table (gx_spark/iceberg.py), one snapshot per
        publish — the results store itself gets snapshot lineage, per the
        north rule ("metrics rows appended to a _validation_results table").
        Call once at run end (idempotency across publishes is the caller's:
        re-publishing the same run appends a new snapshot).  Returns the
        results table's new snapshot id."""
        from .iceberg import IcebergLiteTable

        df = self.results().withColumn(
            "snapshot_id", F.col("snapshot_id").cast("string"))
        if IcebergLiteTable.exists(iceberg_location):
            t = IcebergLiteTable(iceberg_location)
        else:
            t = IcebergLiteTable.create(iceberg_location, df.schema,
                                        partition_by=["snapshot_id"])
        return t.append(df, now_ms=now_ms)

    def extra(self, name: str) -> DataFrame:
        """Read back an output table across all partitions (lineage dirs
        recovered as snapshot_id/partition_id columns)."""
        root = os.path.join(self.results_dir, name)
        return self.spark.read.option("basePath", root).parquet(root)

    def violations(self) -> DataFrame:
        return self.extra("_violations")
