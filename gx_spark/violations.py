"""Fused violations pass: one map-only job emits violation rows for ALL map
expectations of a suite.

The reference fetches unexpected rows with one filter job per expectation
(ref: expectations/metrics/map_metric_provider.py#_spark_map_condition_rows);
we instead build, per row, an array of per-expectation violation structs,
drop the nulls, and `explode` — a single narrow (shuffle-free) pass that
Catalyst runs inside one WholeStageCodegen span.  At 10^12-row scale this
DataFrame is written to a `_violations` table rather than collected
(SURVEY.md §2.6, BASELINE.json north rule).

Row schema: (index_json, expectation_index, expectation_type, column,
observed_json).  Values are JSON-encoded via `to_json(struct(v))` so that a
single string column can carry any source type losslessly; `{}` means the
observed value was NULL (to_json omits null fields).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .planner import MetricBag, ViolationSpec

VIOLATION_COLS = [
    "row_ord",
    "index_json",
    "expectation_index",
    "expectation_type",
    "column",
    "observed_json",
]


def json_value(col: Column) -> Column:
    """JSON-encode an arbitrary-typed value into one string column."""
    return F.to_json(F.struct(col.alias("v")))


def decode_json_value(s: str | None) -> Any:
    if s is None:
        return None
    return json.loads(s).get("v")


def build_violations_df(
    df: DataFrame,
    specs: list[ViolationSpec],
    bag: MetricBag,
    index_cols: tuple[str, ...],
) -> DataFrame | None:
    """One pass: array of conditional structs → filter non-null → explode."""
    if not specs:
        return None
    structs = [
        F.when(
            spec.condition(bag),
            F.struct(
                F.lit(spec.exp_index).alias("expectation_index"),
                F.lit(spec.exp_type).alias("expectation_type"),
                F.lit(spec.column).alias("column"),
                json_value(spec.observed(bag)).alias("observed_json"),
            ),
        )
        for spec in specs
    ]
    arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
    idx = (
        F.to_json(F.struct(*[F.col(c) for c in index_cols]))
        if index_cols
        else F.lit(None).cast("string")
    )
    out = (
        # row_ord fixes a deterministic row order (scan order) so the
        # partial lists are first-N-in-row-order, stable across runs —
        # matching the reference's filter-head semantics
        df.select(
            F.monotonically_increasing_id().alias("row_ord"),
            idx.alias("index_json"),
            F.explode(arr).alias("v"),
        ).select("row_ord", "index_json", "v.*")
    )
    return out


def violation_counts_df(viol_df: DataFrame) -> DataFrame:
    """Job A of the lists derivation: exact per-expectation violation counts
    (map-side partial agg, tiny result).  Exposed separately so the executor
    can run it as the FIRST action on the persisted violations DF and read
    the Observation denominators synchronously from this job's own
    QueryExecution (see executor._read_observed_metrics)."""
    return viol_df.groupBy("expectation_index").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def derive_unexpected_lists(
    viol_df: DataFrame,
    result_format: str,
    partial_limit: int,
    counts: dict[int, int] | None = None,
) -> dict[int, dict[str, Any]]:
    """Per-expectation unexpected value+index lists from the (persisted)
    violations DataFrame — instead of the reference's per-expectation filter
    jobs (ref: map_metric_provider.py#_spark_map_condition_rows).

    Memory-bounded: BASIC/SUMMARY never buffer more than `partial_limit` rows
    per (expectation, partition) in any aggregation state.  Two bounded
    shuffles: a per-(expectation, input-partition) row_number cap, then a
    global per-expectation cap; collect_list only ever sees <= partial_limit
    rows per expectation.  Deterministic: rows are taken in row_ord (scan)
    order.  COMPLETE keeps full lists by definition (GE semantics) — use
    the violations table itself at scale."""
    if result_format == "BOOLEAN_ONLY":
        return {}
    from pyspark.sql import Window

    complete = result_format == "COMPLETE"
    if counts is None:
        # job A: exact per-expectation counts (skipped when the executor
        # already ran violation_counts_df as the cache-materializing action)
        counts = {
            r["expectation_index"]: int(r["cnt"])
            for r in violation_counts_df(viol_df).collect()
        }
    # job B: the bounded first-N lists
    if complete:
        capped = viol_df
    else:
        w_part = Window.partitionBy(
            "expectation_index", F.spark_partition_id()
        ).orderBy("row_ord")
        w_glob = Window.partitionBy("expectation_index").orderBy("row_ord")
        capped = (
            viol_df.withColumn("__rn", F.row_number().over(w_part))
            .filter(F.col("__rn") <= partial_limit)
            .withColumn("__rn2", F.row_number().over(w_glob))
            .filter(F.col("__rn2") <= partial_limit)
        )
    rows = (
        capped.groupBy("expectation_index")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("row_ord", "observed_json", "index_json"))
            ).alias("items")
        )
        .collect()
    )
    out: dict[int, dict[str, Any]] = {}
    for r in rows:
        values = [decode_json_value(it["observed_json"]) for it in r["items"]]
        indexes = [decode_json_value_index(it["index_json"]) for it in r["items"]]
        entry: dict[str, Any] = {
            # exact per-expectation violation-row count: lets expensive map
            # conditions (audio decode) skip the stage-1 conditional sum and
            # be evaluated ONCE, in this pass (see base.count_via_violations)
            "unexpected_count": counts.get(r["expectation_index"], 0),
            "partial_unexpected_list": values[:partial_limit],
            "partial_unexpected_index_list": [i for i in indexes[:partial_limit] if i is not None],
        }
        if complete:
            entry["unexpected_list"] = values
            entry["unexpected_index_list"] = [i for i in indexes if i is not None]
        if result_format in ("SUMMARY", "COMPLETE"):
            vcounts: dict[Any, int] = {}
            for v in values:
                k = json.dumps(v, sort_keys=True, default=str)
                vcounts[k] = vcounts.get(k, 0) + 1
            entry["partial_unexpected_counts"] = [
                {"value": json.loads(k), "count": c}
                for k, c in sorted(vcounts.items(), key=lambda kv: (-kv[1], kv[0]))
            ][:partial_limit]
        out[r["expectation_index"]] = entry
    # expectations with zero surviving rows in job B but nonzero count
    for idx2, cnt in counts.items():
        if idx2 not in out:
            out[idx2] = {
                "unexpected_count": cnt,
                "partial_unexpected_list": [],
                "partial_unexpected_index_list": [],
            }
    return out


def decode_json_value_index(s: str | None) -> Any:
    """Index json is a struct of the index columns: single col → scalar,
    multiple → dict."""
    if s is None:
        return None
    d = json.loads(s)
    if len(d) == 1:
        return next(iter(d.values()))
    return d or None
