"""Expectation base classes.

Mirrors the reference's class hierarchy (ref: great_expectations/expectations/
expectation.py#{ColumnMapExpectation,ColumnAggregateExpectation,
BatchExpectation}) but compiled: `plan()` contributes deduplicated metrics to
the shared MetricContext and returns a finalizer closure — there is no
runtime metric graph; the "graph" is resolved at plan-build (SURVEY.md §7).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..model import ExpectationConfiguration, ExpectationValidationResult
from ..planner import MetricBag, MetricContext, ViolationSpec
from ..result_format import between_success, build_map_result, mostly_success

Finalizer = Callable[[MetricBag], ExpectationValidationResult]

# kwargs that parameterize the run, not the metric identity
_NON_VALUE_KWARGS = frozenset(
    {"mostly", "result_format", "row_condition", "condition_parser",
     "catch_exceptions", "meta", "unexpected_index_column_names"}
)


def value_kwargs(cfg: ExpectationConfiguration) -> dict[str, Any]:
    return {k: v for k, v in cfg.kwargs.items() if k not in _NON_VALUE_KWARGS}


def result_format_of(cfg: ExpectationConfiguration, options) -> str:
    rf = cfg.kwargs.get("result_format", options.result_format)
    if isinstance(rf, dict):  # GE also accepts {"result_format": "SUMMARY", ...}
        rf = rf.get("result_format", options.result_format)
    return rf


class MissingColumnError(Exception):
    pass


def viol_lists(bag: MetricBag, index: int) -> dict[str, Any]:
    """Unexpected-value/index lists for build_map_result (the per-expectation
    violation count travels in the same bag entry but is not a list kwarg)."""
    d = dict(bag.get(f"viol:{index}") or {})
    d.pop("unexpected_count", None)
    return d


def require_columns(ctx: MetricContext, *cols: str) -> None:
    missing = [c for c in cols if c not in ctx.columns]
    if missing:
        raise MissingColumnError(f"column(s) not found in batch: {missing}")


def _shared_udf_column(ctx: MetricContext, name: str, cols, build,
                       params: Any = None, what: str = "") -> None:
    """Register derived column ``name`` = ``build()(*cols)`` once per run,
    so every expectation reading it shares one UDF evaluation (one
    decode).  A request without params is served by whatever column is
    registered.  One with params must agree with the params registered
    before it (``ValueError: conflicting <what> in one suite``), and
    replaces a column registered without params — plan() runs for every
    expectation before execution, so the richest request wins."""
    require_columns(ctx, *cols)
    if name in ctx.derived and params is None:
        return
    have = ctx.derived_params.get(name)
    if have is not None:
        if have != params:
            raise ValueError(
                f"conflicting {what} in one suite: {have} vs {params}")
        return
    ctx.derived[name] = build()(*[F.col(c) for c in cols])
    ctx.derived_params[name] = params


class ColumnMapExpectation:
    """Per-row predicate over one column.  Subclasses define the condition
    under which a (non-null) value is UNEXPECTED."""

    metric_name: str = "column_values.generic"
    denominator: str = "nonnull"  # "all" only for not_be_null
    # True for conditions whose evaluation is expensive (audio decode): the
    # unexpected_count is then derived from the fused violations pass instead
    # of a stage-1 conditional sum, so the expensive expression (and the
    # binary column's Arrow transfer to Python) is evaluated exactly ONCE.
    count_via_violations: bool = False

    def unexpected_condition(self, cfg: ExpectationConfiguration, ctx: MetricContext) -> Column:
        raise NotImplementedError

    def observed_expr(self, cfg: ExpectationConfiguration) -> Column:
        return F.col(cfg.kwargs["column"])

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        rf = result_format_of(cfg, ctx.options)
        from_violations = (
            self.count_via_violations
            and ctx.options.collect_violations
            and rf != "BOOLEAN_ONLY"
        )
        if from_violations:
            # denominators free-ride the violations-pass scan as Observation
            # metrics — the stage-1 agg never touches this (binary) column
            ec_cond = None if dom is None else dom
            ec_ref = ctx.observe_metric(
                "table.row_count", dk, None,
                lambda: F.count(F.lit(1)) if ec_cond is None
                else F.coalesce(F.sum(F.when(ec_cond, 1).otherwise(0)), F.lit(0)),
            )
            nn_cond = ctx.guard(dom, F.col(column).isNotNull())
            nn_ref = ctx.observe_metric(
                "column_values.nonnull.count", dk, column,
                lambda: F.coalesce(F.sum(F.when(nn_cond, 1).otherwise(0)), F.lit(0)),
            )
        else:
            ec_ref = ctx.element_count(dk, dom)
            nn_ref = ctx.nonnull_count(column, dk, dom)
        base = self.unexpected_condition(cfg, ctx)
        if self.denominator == "nonnull":
            cond = ctx.guard(dom, F.col(column).isNotNull() & base)
        else:
            cond = ctx.guard(dom, base)
        uc_ref = None
        if not from_violations:
            uc_ref = ctx.unexpected_count(
                self.metric_name, column, dk, value_kwargs(cfg), cond
            )
        if rf != "BOOLEAN_ONLY":
            ctx.add_violation(
                ViolationSpec(index, cfg.expectation_type, column,
                              lambda bag, c=cond: c,
                              lambda bag, o=self.observed_expr(cfg): o)
            )
        mostly = cfg.kwargs.get("mostly")

        def finalize(bag: MetricBag) -> ExpectationValidationResult:
            element_count = int(bag[ec_ref])
            nonnull_count = int(bag[nn_ref])
            if uc_ref is not None:
                unexpected_count = int(bag[uc_ref])
            else:
                unexpected_count = int(
                    (bag.get(f"viol:{index}") or {}).get("unexpected_count", 0)
                )
            denom = element_count if self.denominator == "all" else nonnull_count
            success = mostly_success(denom, unexpected_count, mostly)
            lists = viol_lists(bag, index)
            result = build_map_result(
                element_count=element_count,
                nonnull_count=nonnull_count,
                unexpected_count=unexpected_count,
                result_format=rf,
                denominator=self.denominator,
                **lists,
            )
            return ExpectationValidationResult(success=success, expectation_config=cfg, result=result)

        return finalize


class _SharedColumnMap(ColumnMapExpectation):
    """A map expectation whose condition reads a shared derived column
    (the decode-backed audio / image / video checks).  plan() targets the
    column named by the ``target`` kwarg (with its default) and registers
    the shared column with ``shared(ctx, cfg)``; the unexpected count
    comes from the violations pass, so the decode runs once per run."""

    count_via_violations = True
    target = ("bytes_column", "bytes")
    shared: Callable[[MetricContext, ExpectationConfiguration], None]

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        cfg.kwargs.setdefault("column", cfg.kwargs.get(*self.target))
        self.shared(ctx, cfg)
        return super().plan(ctx, cfg, index)


class ColumnAggregateExpectation:
    """observed_value from the fused aggregate bundle, bounds-checked.

    Subclasses register their metric via `observed_metric`; the default
    success semantics are the shared *_to_be_between bounds check."""

    def observed_metric(self, ctx: MetricContext, cfg: ExpectationConfiguration,
                        dk: str, dom: Column | None):
        raise NotImplementedError

    def validate(self, observed: Any, cfg: ExpectationConfiguration) -> tuple[bool, dict[str, Any]]:
        k = cfg.kwargs
        return (
            between_success(
                observed,
                k.get("min_value"),
                k.get("max_value"),
                bool(k.get("strict_min", False)),
                bool(k.get("strict_max", False)),
            ),
            {},
        )

    def observed_to_python(self, observed: Any) -> Any:
        return observed

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        if "column" in cfg.kwargs:
            require_columns(ctx, cfg.kwargs["column"])
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ref = self.observed_metric(ctx, cfg, dk, dom)
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag: MetricBag) -> ExpectationValidationResult:
            observed = self.observed_to_python(bag[ref])
            success, details = self.validate(observed, cfg)
            result: dict[str, Any] = {} if rf == "BOOLEAN_ONLY" else {"observed_value": observed}
            if details and rf != "BOOLEAN_ONLY":
                result["details"] = details
            return ExpectationValidationResult(success=success, expectation_config=cfg, result=result)

        return finalize


def domain_col(dom: Column | None, column: str) -> Column:
    """Column projected through its row_condition domain: rows outside the
    domain become NULL, which every Spark aggregate ignores — this is what
    lets aggregates over different domains share one fused df.agg pass."""
    c = F.col(column)
    return c if dom is None else F.when(dom, c)
