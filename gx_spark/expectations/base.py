"""Expectation base classes.

Mirrors the reference's class hierarchy (ref: great_expectations/expectations/
expectation.py#{ColumnMapExpectation,ColumnAggregateExpectation,
BatchExpectation}) but compiled: `plan()` contributes deduplicated metrics to
the shared MetricContext and returns a finalizer closure — there is no
runtime metric graph; the "graph" is resolved at plan-build (SURVEY.md §7).

Every map expectation (column map, z-score, unique, monotonic, column
pair / multicolumn, compound unique, exist_in_table) finalizes through
one `map_finalizer`: element, non-null and unexpected counts, then the
tiered result and the `mostly` check.  Every aggregate-style result is
one `agg_result`.  The uniqueness and referential checks share one
key-set probe: `duplicate_keys` is the data metric that finds the
duplicated key groups (`groupBy(keys).count() > 1`, one agg for the
row and group counts, the key set capped at `_KEY_SET_CAP`), and
`flag_key_set` broadcast-probes a metric's key set against the
violations scan as a membership flag and registers the violation spec.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..model import ExpectationConfiguration, ExpectationValidationResult
from ..planner import MetricBag, MetricContext, MetricRef, ViolationSpec
from ..result_format import between_success, build_map_result, mostly_success

Finalizer = Callable[[MetricBag], ExpectationValidationResult]

# max keys in a key set broadcast to the violations pass
_KEY_SET_CAP = 100_000

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


def map_finalizer(
    cfg: ExpectationConfiguration, rf: str, index: int,
    ec_ref: MetricRef, nn_ref: MetricRef,
    unexpected: Callable[[MetricBag], int],
    denominator: str = "nonnull",
    lists: Callable[[MetricBag], dict[str, Any]] | None = None,
) -> Finalizer:
    """The finalizer of every map expectation: read the element, non-null
    and unexpected counts (in that order, so the first failed metric is
    the one raised), build the tiered result with the unexpected lists
    (the violations pass's, unless ``lists`` gives the expectation's
    own), and apply ``mostly`` over the ``denominator`` count."""
    mostly = cfg.kwargs.get("mostly")

    def finalize(bag: MetricBag) -> ExpectationValidationResult:
        element_count = int(bag[ec_ref])
        nonnull_count = int(bag[nn_ref])
        unexpected_count = int(unexpected(bag))
        denom = element_count if denominator == "all" else nonnull_count
        result = build_map_result(
            element_count=element_count,
            nonnull_count=nonnull_count,
            unexpected_count=unexpected_count,
            result_format=rf,
            denominator=denominator,
            **(viol_lists(bag, index) if lists is None else lists(bag)),
        )
        return ExpectationValidationResult(
            success=mostly_success(denom, unexpected_count, mostly),
            expectation_config=cfg, result=result)

    return finalize


def agg_result(cfg: ExpectationConfiguration, success: Any, observed: Any,
               rf: str, details: dict[str, Any] | None = None,
               ) -> ExpectationValidationResult:
    """An aggregate-style result: ``observed_value`` (and ``details``, when
    given) unless the format is BOOLEAN_ONLY."""
    result: dict[str, Any] = {}
    if rf != "BOOLEAN_ONLY":
        result["observed_value"] = observed
        if details:
            result["details"] = details
    return ExpectationValidationResult(success=bool(success), expectation_config=cfg, result=result)


def duplicate_keys(ctx: MetricContext, keys: list[str], dom: Column | None,
                   kept: Column, want_rows: bool) -> Callable[[Any], dict[str, Any]]:
    """The duplicate-key data metric of the uniqueness checks: over the
    domain rows passing ``kept``, the key groups seen more than once.
    Catalyst's partial (map-side) aggregation collapses hot keys per
    partition before the shuffle.  Returns fn(df) -> {"unexpected_count":
    rows in duplicated groups, "key_df": the duplicated keys, capped at
    _KEY_SET_CAP, or None when there are none or no rows are wanted}.
    With ``want_rows`` the groups are persisted, so the violations-pass
    probe reads the cache instead of re-running the groupBy."""
    def metric(df) -> dict[str, Any]:
        d = df
        if dom is not None:
            d = d.filter(dom)
        dups = d.filter(kept).groupBy(*keys).count().filter(F.col("count") > 1)
        if want_rows:
            dups = ctx.aux_persist(dups)
        row = dups.agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("uc"),
            F.count(F.lit(1)).alias("ngroups"),
        ).collect()[0]
        return {"unexpected_count": int(row["uc"]),
                "key_df": dups.select(*keys).limit(_KEY_SET_CAP)
                if want_rows and row["ngroups"] else None}

    return metric


def flag_key_set(ctx: MetricContext, cfg: ExpectationConfiguration, index: int,
                 flag: str, keys: list[str], ref: MetricRef,
                 condition: Callable[[Column], Column], observed: Column) -> None:
    """Recover a key-set check's violation rows: the ``key_df`` of data
    metric ``ref`` is broadcast-joined against the violations scan as
    membership flag ``flag`` (null-safe on every key column), and
    ``condition(flag column)`` is the spec's row condition."""
    hit = ctx.membership_flag(flag, keys, lambda bag: bag[ref]["key_df"])
    ctx.add_violation(
        ViolationSpec(index, cfg.expectation_type, ",".join(keys),
                      lambda bag, c=condition(hit): c,
                      lambda bag: observed)
    )


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

        def unexpected(bag: MetricBag) -> int:
            if uc_ref is None:
                return (bag.get(f"viol:{index}") or {}).get("unexpected_count", 0)
            return bag[uc_ref]

        return map_finalizer(cfg, rf, index, ec_ref, nn_ref, unexpected,
                             self.denominator)


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
            return agg_result(cfg, success, observed, rf, details)

        return finalize


def domain_col(dom: Column | None, column: str) -> Column:
    """Column projected through its row_condition domain: rows outside the
    domain become NULL, which every Spark aggregate ignores — this is what
    lets aggregates over different domains share one fused df.agg pass."""
    c = F.col(column)
    return c if dom is None else F.when(dom, c)
