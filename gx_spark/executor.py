"""ValidationRun: bind batch + suite → plan → execute → EVRs + violations.

The reference's Validator resolves a runtime metric graph with one engine
round-trip per graph level (ref: validator/validator.py,
metrics_calculator.py); ours is fully planned up front and executes as:

  job 1   — ONE fused `df.agg(...)` with every bundleable metric of the
            whole suite (all domains folded in; no `bytes` column touched)
  job 1b  — optional fused stage-2 agg (z-scores)
  jobs 2* — data metrics that need their own shape (groupBy value_counts,
            duplicate detection, anti-joins) — only if the suite asks
  job 3   — ONE map-only violations pass for every map expectation at once
  job 4   — ONE small aggregation over the violations output for the
            partial/complete unexpected lists

vs the reference's V2 path of 2–3 jobs per expectation (SURVEY.md §3.3).
"""

from __future__ import annotations

import traceback
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import (
    EngineOptions,
    ExpectationConfiguration,
    ExpectationSuite,
    ExpectationValidationResult,
    SuiteValidationResult,
)
from .planner import MetricBag, MetricContext
from .registry import get_expectation
from .violations import (
    build_violations_df,
    derive_unexpected_lists,
    violation_counts_df,
)

# import for registration side effects
from .expectations import (  # noqa: F401
    audio_exp,
    column_agg,
    column_map,
    drift_exp,
    image_exp,
    multicolumn,
    pii,
    referential,
    stat_tests,
    table,
)

_RF_ORDER = {"BOOLEAN_ONLY": 0, "BASIC": 1, "SUMMARY": 2, "COMPLETE": 3}


def _read_observed_metrics(action_df: DataFrame, obs_name: str, keys: list[str]) -> dict[str, Any] | None:
    """Read CollectMetrics values synchronously from a COMPLETED action's own
    QueryExecution, bypassing `Observation.get`.

    Observation's listener path is racy in a per-partition loop: the
    QueryExecutionListener bus is async, and when the first action's event is
    delayed or dropped, a LATER action over the now-cached violations DF —
    whose CollectMetricsExec ran zero tasks — wins the first-write-once race
    and pins an EMPTY metrics row (seen intermittently in the checkpoint
    resume path as toPyRow ArrayIndexOutOfBounds on a 0-field row).  Reading
    `queryExecution().observedMetrics()` on the exact DataFrame whose action
    just returned is deterministic: tasks are complete and the accumulator is
    merged before the action returns, and the traversal descends through
    InMemoryTableScan into the cache-materialization plan.

    Returns None if the row is absent or malformed (caller falls back to a
    decode-free direct aggregation)."""
    try:
        qe = action_df._jdf.queryExecution()
        opt = qe.observedMetrics().get(obs_name)
        if opt.isEmpty():
            return None
        jrow = opt.get()
        if jrow.length() != len(keys):
            return None
        try:
            # the same JVM row → Python row conversion Observation.get uses
            from pyspark.serializers import CPickleSerializer

            jvm = action_df.sparkSession._jvm
            utils = getattr(jvm, "org.apache.spark.sql.api.python.PythonSQLUtils")
            row = CPickleSerializer().loads(utils.toPyRow(jrow))
            d = row.asDict(recursive=False)
            return {k: d[k] for k in keys}
        except Exception:
            # schemaless GenericRow: positional extraction (metric order ==
            # expr order, which CollectMetrics preserves)
            return {k: jrow.apply(i) for i, k in enumerate(keys)}
    except Exception:
        return None


def _denominator_agg(ctx: MetricContext) -> dict[str, Any]:
    """Fallback for the observe denominators: ONE fused agg over the RAW
    batch (no derived columns — the observe builders reference only source
    columns, so Catalyst never plans the decode UDF here; the scan reads just
    the referenced columns' pages).  Used when the violations pass could not
    supply the metrics (poison-expression degraded path, or a malformed
    observed-metrics row)."""
    keys = list(ctx._observe.keys())
    exprs = [b().alias(k) for k, b in ctx._observe.items()]
    try:
        row = ctx.df.agg(*exprs).collect()[0]
    except Exception:
        # an observe builder referenced a derived column after all
        row = ctx.base_df().agg(*exprs).collect()[0]
    return {k: row[k] for k in keys}


def _violation_filter_query(spec, bag: MetricBag, src: DataFrame) -> str | None:
    """Render a ViolationSpec's condition Column as the GE-parity
    `unexpected_index_query` string (Spark engine form:
    `df.filter(F.expr(<condition sql>))`, ref: expectation.py#
    _format_map_output's unexpected_index_query key).  The SQL is produced by
    Catalyst's own Expression.sql(), so it round-trips through F.expr on the
    same (flagged) batch frame.  Conditions that embed Python UDF calls
    (audio/image flag structs) still render — the UDF name appears in the SQL
    and the string documents the filter rather than being re-runnable, which
    matches the reference's behavior for spark-native conditions.  Returns
    None when no SQL can be produced (the key is then omitted).

    Spark 4's Column wraps a ColumnNode with no direct .sql(); the condition
    is analyzed through a (never-executed) select on the batch frame and the
    SQL read off the resolved Alias child — driver-side only, no job."""
    try:
        sel = src.select(spec.condition(bag).alias("__gx_cond"))
        expr = sel._jdf.queryExecution().analyzed().expressions().apply(0)
        sql = expr.child().sql()
        return f"df.filter(F.expr({sql!r}))"
    except Exception:
        return None


def _exception_evr(cfg: ExpectationConfiguration, exc: BaseException) -> ExpectationValidationResult:
    return ExpectationValidationResult(
        success=False,
        expectation_config=cfg,
        result={},
        exception_info={
            "raised_exception": True,
            "exception_message": f"{type(exc).__name__}: {exc}",
            "exception_traceback": traceback.format_exc(),
        },
    )


@dataclass
class ValidationBundle:
    """Suite result + the violations DataFrame (un-collected — at scale this
    is written to the `_violations` table, never brought to the driver)."""

    suite_result: SuiteValidationResult
    violations: DataFrame | None
    run_id: str
    partition_id: int | None = None
    snapshot_id: str | None = None
    _persisted: bool = False
    index_columns: tuple = ()

    @property
    def success(self) -> bool:
        return self.suite_result.success

    def unpersist(self) -> None:
        """Release the cached violations DataFrame (no-op if not persisted).
        Call after the last action over `violations`/`violations_table()`."""
        if self._persisted and self.violations is not None:
            self.violations.unpersist()
            self._persisted = False

    def results_df(self, spark: SparkSession) -> DataFrame:
        """Flattened EVRs as the `_validation_results` schema (FIXTURES.md §4)."""
        import json

        rows = []
        for i, r in enumerate(self.suite_result.results):
            res = r.result
            rows.append(
                {
                    "run_id": self.run_id,
                    "snapshot_id": self.snapshot_id,
                    "partition_id": self.partition_id,
                    "suite_name": self.suite_result.suite_name,
                    "expectation_index": i,
                    "expectation_type": r.expectation_config.expectation_type,
                    "column": str(
                        r.expectation_config.kwargs.get("column")
                        or r.expectation_config.kwargs.get("column_list")
                        or r.expectation_config.kwargs.get("column_A")
                        or ""
                    ),
                    "success": r.success,
                    "element_count": res.get("element_count"),
                    "missing_count": res.get("missing_count"),
                    "unexpected_count": res.get("unexpected_count"),
                    "unexpected_percent": res.get("unexpected_percent"),
                    "observed_value": json.dumps(res.get("observed_value"), default=str)
                    if "observed_value" in res
                    else None,
                    "details": json.dumps(res.get("details"), default=str)
                    if "details" in res
                    else None,
                    "exception_raised": bool(r.exception_info.get("raised_exception")),
                    "exception_message": r.exception_info.get("exception_message"),
                }
            )
        schema = (
            "run_id string, snapshot_id string, partition_id int, suite_name string, "
            "expectation_index int, expectation_type string, column string, "
            "success boolean, element_count long, missing_count long, "
            "unexpected_count long, unexpected_percent double, observed_value string, "
            "details string, exception_raised boolean, exception_message string"
        )
        return spark.createDataFrame(rows, schema)

    def violations_table(self) -> DataFrame | None:
        """`_violations` rows (index column(s), failed expectation, observed
        value) per the north rule.  Each configured
        unexpected_index_column_name becomes a column extracted from
        index_json; with no configured index columns the audio-default
        clip_id is extracted for north-rule schema compatibility."""
        if self.violations is None:
            return None
        idx_cols = list(self.index_columns) or ["clip_id"]
        return self.violations.select(
            *[F.get_json_object("index_json", f"$.{c}").alias(c) for c in idx_cols],
            "expectation_type",
            "column",
            F.col("observed_json").alias("observed_value"),
        ).withColumn("run_id", F.lit(self.run_id))


class ValidationRun:
    def __init__(
        self,
        spark: SparkSession,
        suite: ExpectationSuite,
        options: EngineOptions | None = None,
        tables: dict[str, DataFrame] | None = None,
    ) -> None:
        self.spark = spark
        self.suite = suite
        self.options = options or EngineOptions()
        self.tables = tables or {}

    def compile(
        self, df: DataFrame,
    ) -> tuple[MetricContext, list[tuple[ExpectationConfiguration, Any]], str]:
        """Plan every expectation of the suite against ``df``: the metric
        context, one (config, finalizer or planning exception) pair per
        expectation, and the widest result_format any of them asks for.
        validate() and plancheck.compile_suite both plan through here, so
        a plan-shape test sees the plan validate() builds."""
        from .row_conditions import normalize_row_condition

        ctx = MetricContext(df, self.options, self.tables)
        finalizers: list[tuple[ExpectationConfiguration, Any]] = []
        max_rf = "BOOLEAN_ONLY"
        for i, cfg in enumerate(self.suite.expectations):
            try:
                handler = get_expectation(cfg.expectation_type)
                # GE mini-DSL row_conditions translate to Spark SQL up front
                nk = normalize_row_condition(cfg.kwargs)
                plan_cfg = cfg if nk is cfg.kwargs else ExpectationConfiguration(
                    cfg.expectation_type, nk, cfg.meta
                )
                fin = handler.plan(ctx, plan_cfg, i)
                finalizers.append((cfg, fin))
                rf = cfg.kwargs.get("result_format", self.options.result_format)
                if isinstance(rf, dict):
                    rf = rf.get("result_format", self.options.result_format)
                if _RF_ORDER.get(rf, 1) > _RF_ORDER[max_rf]:
                    max_rf = rf
            except Exception as exc:  # planning error → exception EVR
                finalizers.append((cfg, exc))
        return ctx, finalizers, max_rf

    def validate(
        self,
        df: DataFrame,
        run_id: str | None = None,
        partition_id: int | None = None,
        snapshot_id: str | None = None,
    ) -> ValidationBundle:
        run_id = run_id or uuid.uuid4().hex[:12]
        ctx, finalizers, max_rf = self.compile(df)
        bag = MetricBag()
        ctx.resolve(bag)

        violations = None
        persisted = False
        if ctx.violations and self.options.collect_violations:
            src = ctx.flagged_df(bag)
            obs_name = None
            if ctx._observe:
                # denominator metrics ride the violations scan for free.
                # String-named observe = a bare CollectMetrics node with NO
                # session listener (an Observation object would register one
                # per validate() call — a leak in a per-partition loop);
                # values are read from the action's QueryExecution instead.
                obs_name = f"gx_obs_{uuid.uuid4().hex[:12]}"
                src = src.observe(
                    obs_name,
                    *[b().alias(k) for k, b in ctx._observe.items()],
                )
            violations = build_violations_df(
                src, ctx.violations, bag,
                self.options.unexpected_index_column_names,
            )
            if self.options.persist_violations:
                # one materialization for ALL downstream actions (lists job,
                # counts, _violations write): the expensive map expressions
                # (pandas-UDF audio decode) run exactly once per run
                violations = violations.persist()
                persisted = True
            obs_vals: dict[str, Any] | None = None
            try:
                # first action on the (persisted) violations DF: the counts
                # job materializes the cache AND carries the observe metrics,
                # read synchronously from ITS QueryExecution below
                counts_df = violation_counts_df(violations)
                counts = {
                    r["expectation_index"]: int(r["cnt"])
                    for r in counts_df.collect()
                }
                if obs_name is not None:
                    obs_vals = _read_observed_metrics(
                        counts_df, obs_name, list(ctx._observe.keys())
                    )
                lists = derive_unexpected_lists(
                    violations, max_rf, self.options.partial_unexpected_count,
                    counts=counts,
                )
            except Exception:
                # a poison map condition (e.g. invalid regex) failed the fused
                # pass — degrade to per-spec isolation so every healthy
                # expectation still gets its lists (catch_exceptions contract)
                if persisted:
                    violations.unpersist()
                violations, lists, persisted = self._violations_fallback(
                    ctx, src, bag, max_rf
                )
            if max_rf == "COMPLETE":
                # COMPLETE tier carries unexpected_index_query for EVERY map
                # expectation (zero-violation ones included — the query is a
                # property of the expectation, not of the rows it caught)
                for spec in ctx.violations:
                    q = _violation_filter_query(spec, bag, src)
                    if q is not None:
                        lists.setdefault(
                            spec.exp_index,
                            {
                                "unexpected_count": 0,
                                "partial_unexpected_list": [],
                                "partial_unexpected_index_list": [],
                            },
                        )["unexpected_index_query"] = q
            for idx, entry in lists.items():
                bag.put(f"viol:{idx}", entry)
            if ctx._observe:
                for k, v in (obs_vals or _denominator_agg(ctx)).items():
                    bag.put(k, v)
            ctx.release_aux()

        results: list[ExpectationValidationResult] = []
        for i, (cfg, fin) in enumerate(finalizers):
            if isinstance(fin, BaseException):
                if cfg.kwargs.get("catch_exceptions", True) is False:
                    raise fin
                results.append(_exception_evr(cfg, fin))
                continue
            verr = bag.get(f"viol_err:{i}")
            try:
                if isinstance(verr, BaseException):
                    raise verr
                evr = fin(bag)
                evr.expectation_config = cfg  # report the ORIGINAL config
                results.append(evr)
            except Exception as exc:
                if cfg.kwargs.get("catch_exceptions", True) is False:
                    raise
                results.append(_exception_evr(cfg, exc))

        suite_result = SuiteValidationResult.from_results(
            results, self.suite.name, run_id
        )
        return ValidationBundle(
            suite_result=suite_result,
            violations=violations,
            run_id=run_id,
            partition_id=partition_id,
            snapshot_id=snapshot_id,
            _persisted=persisted,
            index_columns=tuple(self.options.unexpected_index_column_names),
        )

    def _violations_fallback(self, ctx, src, bag, max_rf):
        """Degraded path after a fused-violations failure: evaluate each
        ViolationSpec in isolation, collect lists for the healthy ones, and
        record the poison specs' errors as `viol_err:<index>` bag entries so
        their owning expectations finalize as exception EVRs."""
        good = []
        lists: dict[int, Any] = {}
        for spec in ctx.violations:
            try:
                vdf = build_violations_df(
                    src, [spec], bag, self.options.unexpected_index_column_names
                )
                lists.update(
                    derive_unexpected_lists(
                        vdf, max_rf, self.options.partial_unexpected_count
                    )
                )
                good.append(spec)
            except Exception as exc:
                bag.put(f"viol_err:{spec.exp_index}", exc)
        if not good:
            return None, lists, False
        violations = build_violations_df(
            src, good, bag, self.options.unexpected_index_column_names
        )
        persisted = False
        if self.options.persist_violations:
            violations = violations.persist()
            persisted = True
        return violations, lists, persisted


def validate(
    spark: SparkSession,
    df: DataFrame,
    suite: ExpectationSuite,
    options: EngineOptions | None = None,
    tables: dict[str, DataFrame] | None = None,
) -> ValidationBundle:
    """One-shot convenience API."""
    return ValidationRun(spark, suite, options, tables).validate(df)
