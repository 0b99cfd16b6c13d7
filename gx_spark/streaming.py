"""Structured Streaming adapter (optional extension — the reference has no
streaming support whatsoever, SURVEY.md §2.10; this wraps per-batch
validation in foreachBatch, the one idiomatic bridge).

Each micro-batch is validated as a normal batch through the checkpoint
runner's per-batch step (`checkpoint.validated_batch`); results and
violations land in the same `_validation_results` / `_violations` parquet
tables, one overwritten `batch_id=N` slice per micro-batch, so a replayed
batch replaces its own slice.  Use watermarking / windowing upstream of
the validated stream as usual — the engine only sees the materialized
micro-batch DataFrame.

Semantics caveat (inherent to per-batch validation, not this adapter):
GLOBAL expectations — uniqueness, compound uniqueness, row_count vs other
table — are evaluated within each micro-batch.  A duplicate key pair split
across two micro-batches is invisible to `validate_stream`; use
`detect_cross_batch_duplicates` (keyed `applyInPandasWithState` — state
survives across micro-batches and restarts via the stream checkpoint) when
cross-batch uniqueness matters, or run a periodic batch validation over the
landed table.  Per-row (map) and per-batch aggregate expectations are
unaffected.

`validate_stream_windowed` adds event-time semantics: per-window aggregate
expectations over `F.window(ts, dur)` with a watermark, so late rows inside
the allowed delay still land in their window and rows later than the
watermark are dropped by Spark's state eviction — the idiomatic
late-data contract (append mode emits each window's verdict exactly once,
after the watermark passes its end).
"""

from __future__ import annotations

import dataclasses
import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .actions import fire_actions
from .checkpoint import validated_batch, write_bundle, write_slice
from .executor import ValidationRun
from .expectations.base import _KEY_SET_CAP
from .model import EngineOptions, ExpectationSuite


def _start(writer, checkpoint_location: str | None,
           trigger_available_now: bool):
    """Start a streaming query, checkpointed when a location is given;
    available-now drains what is there and stops."""
    if checkpoint_location:
        writer = writer.option("checkpointLocation", checkpoint_location)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def validate_stream(
    stream_df: DataFrame,
    suite: ExpectationSuite,
    results_dir: str,
    options: EngineOptions | None = None,
    checkpoint_location: str | None = None,
    trigger_available_now: bool = True,
    transform=None,
    extra_outputs: dict | None = None,
    actions: list | None = None,
):
    """Attach suite validation to a streaming DataFrame via foreachBatch.

    Returns the StreamingQuery.  With trigger_available_now=True the query
    drains what is available and stops — the batch-incremental mode that
    matches the engine's per-partition checkpoint semantics.

    `transform`/`extra_outputs` mirror CheckpointRunner's: the micro-batch
    is transformed before validation (e.g. validate_and_extract_audio so
    the suite checks flag columns) and each extra table gets its own
    per-batch slice from the SAME transformed DataFrame — persisted across
    the suite and the writes, so an expensive transform (audio decode)
    runs once per micro-batch.  `actions` (gx_spark.actions callables)
    fire after each validated micro-batch (event="batch_validated"),
    best-effort — a replayed batch may re-notify, which matches GE's
    at-least-once action semantics."""
    os.makedirs(results_dir, exist_ok=True)
    run_id = uuid.uuid4().hex[:12]
    run = ValidationRun(stream_df.sparkSession, suite, options or EngineOptions())

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Exactly-once under foreachBatch's at-least-once replay: a
        # retried or restarted batch overwrites its own batch_id=N slice
        # instead of appending duplicates.
        with validated_batch(run, batch_df, results_dir, f"batch_id={batch_id}",
                             run_id=f"{run_id}-b{batch_id}",
                             partition_id=int(batch_id), transform=transform,
                             extra_outputs=extra_outputs) as bundle:
            if actions:
                fire_actions(actions, {
                    "event": "batch_validated", "run_id": run_id,
                    "batch_id": int(batch_id), "suite_name": suite.name,
                    "success": bundle.success,
                })

    return _start(stream_df.writeStream.foreachBatch(process_batch),
                  checkpoint_location, trigger_available_now)


def detect_cross_batch_duplicates(
    stream_df: DataFrame,
    key_cols: list[str],
    results_dir: str,
    checkpoint_location: str | None = None,
    trigger_available_now: bool = True,
):
    """Cross-batch uniqueness via keyed streaming state
    (`applyInPandasWithState`): for each key, a long counter of rows seen
    over the WHOLE stream lives in the state store (checkpointed, so it
    survives restarts).  Any arrival that lifts a key's total above 1 emits
    a violation row `(key..., seen_count, new_in_batch)` — this closes the
    duplicate-split-across-micro-batches blind spot documented on
    `validate_stream`.

    Scale: state is one long per DISTINCT key, hash-partitioned by key —
    the same layout a batch two-stage groupBy uniqueness check shuffles,
    but maintained incrementally.  Output mode is `update` (violations
    re-emit with their growing count).  Each micro-batch's violations
    overwrite `<results_dir>/_dup_violations/batch_id=N`, so a replayed
    batch replaces its slice; readers get `batch_id` back from the path."""
    import pandas as pd

    os.makedirs(results_dir, exist_ok=True)
    key_fields = [stream_df.schema[c] for c in key_cols]
    out_schema = StructType(
        list(key_fields)
        + [StructField("seen_count", LongType()), StructField("new_in_batch", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def track(key, pdf_iter, state):
        new = 0
        for pdf in pdf_iter:
            new += len(pdf)
        prev = state.get[0] if state.exists else 0
        total = prev + new
        state.update((total,))
        if total > 1:
            yield pd.DataFrame(
                [tuple(key) + (total, new)],
                columns=[f.name for f in out_schema.fields],
            )

    dups = stream_df.groupBy(*key_cols).applyInPandasWithState(
        track, out_schema, state_schema, "update", "NoTimeout"
    )
    # a replayed batch overwrites its own batch_id=N slice
    writer = dups.writeStream.outputMode("update").foreachBatch(
        lambda bdf, bid: None if bdf.isEmpty() else
        write_slice(bdf, results_dir, "_dup_violations", f"batch_id={bid}"))
    return _start(writer, checkpoint_location, trigger_available_now)


#: windowed-aggregate expectation types supported by validate_stream_windowed
_WINDOWED_TYPES = (
    "expect_table_row_count_to_be_between",
    "expect_column_mean_to_be_between",
    "expect_column_min_to_be_between",
    "expect_column_max_to_be_between",
    "expect_column_values_to_not_be_null",
    "expect_column_distinct_count_to_be_between",  # approx_count_distinct
)


def validate_stream_windowed(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str,
    suite: ExpectationSuite,
    results_dir: str,
    watermark_delay: str = "10 minutes",
    checkpoint_location: str | None = None,
    trigger_available_now: bool = True,
):
    """Per-event-time-window aggregate validation with a watermark.

    The suite is restricted to aggregate expectation types with an
    incremental (partial+final) Spark aggregate (`_WINDOWED_TYPES`) —
    exactly the metrics Structured Streaming can fold into windowed state
    without holding rows.  Each finalized window emits one verdict row per
    expectation: `(window_start, window_end, expectation_index,
    expectation_type, column, observed, success)`, appended to
    `<results_dir>/_window_results`.

    Late-data contract (measured, tests/test_streaming_state.py): a window
    is evicted+emitted at the end of the first micro-batch whose watermark
    (max event time seen in PRIOR batches − `watermark_delay`) passes
    `window.end`; late rows arriving in a LATER batch are dropped
    (`numRowsDroppedByWatermark`), while late rows arriving while the
    window state is still live are merged — Spark's watermark guarantees
    state cleanup, it is not a strict input filter.  Append output mode ⇒
    each window's verdict is emitted exactly once.  Windows still open
    when an available-now run drains stay in the (checkpointed) state store
    and emit on a later run once the watermark passes them — feed a final
    high-timestamp batch (or keep the stream running) to flush."""
    os.makedirs(results_dir, exist_ok=True)
    out_dir = os.path.join(results_dir, "_window_results")

    aggs: list = [F.count(F.lit(1)).alias("__wrc")]
    finalizers: list = []  # (index, type, column, observed_col_expr, success_expr)

    def between_ok(col, lo, hi):
        ok = F.lit(True)
        if lo is not None:
            ok = ok & (col >= F.lit(lo))
        if hi is not None:
            ok = ok & (col <= F.lit(hi))
        return ok & col.isNotNull()

    for i, cfg in enumerate(suite.expectations):
        t, kw = cfg.expectation_type, cfg.kwargs
        if t not in _WINDOWED_TYPES:
            raise ValueError(
                f"{t} has no incremental windowed aggregate form; supported: "
                f"{_WINDOWED_TYPES}"
            )
        lo, hi = kw.get("min_value"), kw.get("max_value")
        col = kw.get("column")
        a = f"__w{i}"
        if t == "expect_table_row_count_to_be_between":
            finalizers.append((i, t, None, F.col("__wrc").cast("double"),
                               between_ok(F.col("__wrc"), lo, hi)))
            continue
        if t == "expect_column_mean_to_be_between":
            aggs.append(F.mean(col).alias(a))
        elif t == "expect_column_min_to_be_between":
            aggs.append(F.min(col).cast("double").alias(a))
        elif t == "expect_column_max_to_be_between":
            aggs.append(F.max(col).cast("double").alias(a))
        elif t == "expect_column_distinct_count_to_be_between":
            aggs.append(F.approx_count_distinct(col).cast("double").alias(a))
        elif t == "expect_column_values_to_not_be_null":
            aggs.append(
                (F.count(col) / F.count(F.lit(1))).alias(a)
            )
            mostly = float(kw.get("mostly", 1.0))
            finalizers.append((i, t, col, F.col(a),
                               F.col(a) >= F.lit(mostly)))
            continue
        finalizers.append((i, t, col, F.col(a), between_ok(F.col(a), lo, hi)))

    windowed = (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration))
        .agg(*aggs)
    )
    verdicts = windowed.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("expectation_index"),
                    F.lit(t).alias("expectation_type"),
                    F.lit(c).cast("string").alias("column"),
                    obs.cast("double").alias("observed"),
                    ok.alias("success"),
                )
                for (i, t, c, obs, ok) in finalizers
            ])
        ).alias("v"),
    ).select("window_start", "window_end", "v.*")

    writer = verdicts.writeStream.outputMode("append").format("parquet").option(
        "path", out_dir
    )
    return _start(writer,
                  checkpoint_location or os.path.join(results_dir, "_window_ckpt"),
                  trigger_available_now)


def stream_to_iceberg(
    stream_df: DataFrame,
    table_location: str,
    suite: ExpectationSuite | None = None,
    options: EngineOptions | None = None,
    results_dir: str | None = None,
    quarantine: bool = False,
    checkpoint_location: str | None = None,
    trigger_available_now: bool = True,
    gate: str = "rows",
):
    """Validated streaming ingestion into an Iceberg-lite table: each
    micro-batch is (optionally) validated, then appended as ONE Iceberg
    snapshot — so downstream readers get snapshot-isolation per batch,
    incremental reads (`added_after_snapshot_id`) consume exactly the new
    micro-batches, and a checkpointed validation run can trail the stream.

    quarantine=True (requires a suite and unexpected_index_column_names):
    rows named by any map-expectation violation are split out of the
    append and written to `<results_dir>/_quarantine` instead — the
    landed table then satisfies the per-row expectations by construction.
    Aggregate violations never quarantine rows.  The table is created
    from the first batch's schema if absent.

    gate: 'rows' (default — land the batch, quarantine optionally
    pruning violating rows) or 'batch' (write-audit-publish
    all-or-nothing: each micro-batch stages on an audit branch, the
    suite audits exactly the staged rows, and main either fast-forwards
    to include the WHOLE batch or never sees it — the rejected stage
    survives under a `rejected-<snapshot-id>` tag for reprocessing).
    The WAP path keeps exactly-once landing under foreachBatch's
    at-least-once replay via the same operation-id contract, including
    crash recovery between stage and publish."""
    from functools import reduce

    from .iceberg import IcebergLiteTable

    if gate not in ("rows", "batch"):
        raise ValueError(f"gate={gate!r} (use 'rows' or 'batch')")
    if gate == "batch":
        if suite is None:
            raise ValueError("gate='batch' requires a suite")
        if quarantine:
            raise ValueError("gate='batch' is all-or-nothing — "
                             "quarantine applies to gate='rows'")
    if quarantine and suite is None:
        raise ValueError("quarantine requires a suite")
    spark = stream_df.sparkSession
    opts = options or EngineOptions()
    if quarantine and not opts.unexpected_index_column_names:
        raise ValueError("quarantine requires unexpected_index_column_names")
    run_id = uuid.uuid4().hex[:12]
    # Stream identity for append idempotency (Delta txn-appId style): a
    # nonce file INSIDE the checkpoint directory, so its lifetime is tied
    # to the batch-id counter's.  Restart from the same checkpoint → same
    # nonce → replayed batch_ids dedup as intended; checkpoint wiped to
    # reprocess (batch ids restart at 0) → fresh nonce → the new batches
    # are NOT mistaken for replays of the old ones.  A bare
    # md5(checkpoint_location) key would silently drop those.  Non-local
    # checkpoint URIs (hdfs:/s3:) fall back to hashing the path — there
    # the checkpoint store is durable and wiping it is a documented
    # reset-both operation.  Without any checkpoint there are no restart
    # semantics and the per-start run_id suffices for in-run retries.
    import hashlib

    if checkpoint_location:
        local = checkpoint_location.removeprefix("file:")
        if "://" not in local:
            os.makedirs(local, exist_ok=True)
            nonce_path = os.path.join(local, "_gx_stream_id")
            try:
                with open(nonce_path, encoding="utf-8") as fh:
                    stream_key = fh.read().strip()
            except FileNotFoundError:
                stream_key = uuid.uuid4().hex[:12]
                tmp = nonce_path + ".tmp"
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write(stream_key)
                os.replace(tmp, nonce_path)
        else:
            stream_key = hashlib.md5(
                checkpoint_location.encode()).hexdigest()[:12]
    else:
        stream_key = run_id
    if results_dir:
        os.makedirs(results_dir, exist_ok=True)
    run = ValidationRun(spark, suite, opts) if suite is not None else None

    def land(t, good: DataFrame, batch_id: int) -> None:
        if not good.isEmpty():
            # operation-id makes the Iceberg append a no-op on replay —
            # exactly-once landing under at-least-once foreachBatch
            t.append(good, operation_id=f"stream-{stream_key}-b{batch_id}")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if IcebergLiteTable.exists(table_location):
            t = IcebergLiteTable(table_location).refresh()
        else:
            t = IcebergLiteTable.create(table_location, batch_df.schema)
        sub = f"batch_id={batch_id}"
        if gate == "batch":
            from .wap import validate_and_publish

            r = validate_and_publish(
                spark, t, batch_df, suite, opts,
                audit_branch=f"audit-{stream_key}-b{batch_id}",
                operation_id=f"stream-{stream_key}-b{batch_id}")
            if r.bundle is not None:
                # the audit bundle carries the stream's identity, as the
                # rows gate's bundles do
                bundle = dataclasses.replace(
                    r.bundle, run_id=f"{run_id}-b{batch_id}",
                    partition_id=int(batch_id))
                try:
                    if results_dir:
                        write_bundle(spark, bundle, results_dir, sub)
                finally:
                    bundle.unpersist()
            return
        if suite is None:
            return land(t, batch_df, batch_id)
        # a replayed batch overwrites its own slices (see validate_stream)
        with validated_batch(run, batch_df, results_dir, sub,
                             run_id=f"{run_id}-b{batch_id}",
                             partition_id=int(batch_id)) as bundle:
            good = batch_df
            vt = bundle.violations_table()
            if quarantine and vt is not None:
                keys = list(opts.unexpected_index_column_names)
                bad = vt.select(
                    *[F.col(c).alias(f"_bad_{c}") for c in keys]).distinct()
                # broadcast the bad keys only under the cap the violations
                # pass uses for its key sets; past it AQE picks the join
                if bad.limit(_KEY_SET_CAP + 1).count() <= _KEY_SET_CAP:
                    bad = F.broadcast(bad)
                # eqNullSafe: a violating row whose key column is NULL
                # (e.g. a not_be_null violation on the key itself) must
                # still be quarantined and excluded from the landed table —
                # plain equality evaluates null and silently lands it
                cond = reduce(
                    lambda a, b: a & b,
                    [batch_df[c].cast("string").eqNullSafe(F.col(f"_bad_{c}"))
                     for c in keys])
                write_slice(batch_df.join(bad, cond, "left_semi"),
                            results_dir or table_location, "_quarantine", sub)
                good = batch_df.join(bad, cond, "left_anti")
            land(t, good, batch_id)

    return _start(stream_df.writeStream.foreachBatch(process_batch),
                  checkpoint_location, trigger_available_now)
