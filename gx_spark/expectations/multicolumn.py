"""Column-pair and multicolumn map expectations (ref: great_expectations/
expectations/metrics/{column_pair_map_metrics,multicolumn_map_metrics}/*).

`ignore_row_if` semantics (ref: sparkdf_execution_engine.py#get_domain_records)
are folded into the condition expression — no separate filter pass.  The
denominator for mostly arithmetic is the count of NON-ignored rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..model import ExpectationConfiguration
from ..planner import MetricContext, ViolationSpec
from ..registry import register_expectation
from .base import (
    Finalizer,
    duplicate_keys,
    flag_key_set,
    map_finalizer,
    require_columns,
    result_format_of,
    value_kwargs,
)


def ignored_expr(cols: list[str], ignore_row_if: str) -> Column:
    """True where the row is EXCLUDED from the domain."""
    nulls = [F.col(c).isNull() for c in cols]
    if ignore_row_if == "never" or ignore_row_if == "neither":
        return F.lit(False)
    if ignore_row_if in ("both_values_are_missing", "all_values_are_missing"):
        out = nulls[0]
        for n in nulls[1:]:
            out = out & n
        return out
    if ignore_row_if in ("either_value_is_missing", "any_value_is_missing"):
        out = nulls[0]
        for n in nulls[1:]:
            out = out | n
        return out
    raise ValueError(f"unknown ignore_row_if: {ignore_row_if!r}")


class MultiColMapExpectation:
    """Shared machinery: subclasses give (columns, default ignore_row_if,
    predicate-ok Column)."""

    metric_name = "multicolumn.generic"
    default_ignore = "all_values_are_missing"

    def columns_of(self, cfg: ExpectationConfiguration) -> list[str]:
        raise NotImplementedError

    def ok_condition(self, cfg: ExpectationConfiguration) -> Column:
        raise NotImplementedError

    def observed_expr(self, cfg: ExpectationConfiguration) -> Column:
        cols = self.columns_of(cfg)
        return F.to_json(F.struct(*[F.col(c) for c in cols]))

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        cols = self.columns_of(cfg)
        require_columns(ctx, *cols)
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ignore = cfg.kwargs.get("ignore_row_if", self.default_ignore)
        ign = ignored_expr(cols, ignore)
        ec_ref = ctx.element_count(dk, dom)
        # denominator = non-ignored rows in domain
        nn_cond = ctx.guard(dom, ~ign)
        nn_ref = ctx.agg(
            f"{self.metric_name}.filtered_count", dk, [cols, ignore],
            lambda: F.coalesce(F.sum(F.when(nn_cond, 1).otherwise(0)), F.lit(0)),
        )
        cond = ctx.guard(dom, ~ign & ~F.coalesce(self.ok_condition(cfg), F.lit(False)))
        uc_ref = ctx.unexpected_count(self.metric_name, cols, dk, value_kwargs(cfg), cond)
        rf = result_format_of(cfg, ctx.options)
        if rf != "BOOLEAN_ONLY":
            ctx.add_violation(
                ViolationSpec(index, cfg.expectation_type, ",".join(cols),
                              lambda bag, c=cond: c,
                              lambda bag, o=self.observed_expr(cfg): o)
            )
        return map_finalizer(cfg, rf, index, ec_ref, nn_ref,
                             lambda bag: bag[uc_ref])


@register_expectation("expect_column_pair_values_to_be_equal")
class PairEqual(MultiColMapExpectation):
    metric_name = "column_pair_values.equal"
    default_ignore = "both_values_are_missing"

    def columns_of(self, cfg):
        return [cfg.kwargs["column_A"], cfg.kwargs["column_B"]]

    def ok_condition(self, cfg):
        return F.col(cfg.kwargs["column_A"]).eqNullSafe(F.col(cfg.kwargs["column_B"]))


@register_expectation("expect_column_pair_values_a_to_be_greater_than_b")
class PairAGreaterThanB(MultiColMapExpectation):
    metric_name = "column_pair_values.a_greater_than_b"
    default_ignore = "either_value_is_missing"

    def columns_of(self, cfg):
        return [cfg.kwargs["column_A"], cfg.kwargs["column_B"]]

    def ok_condition(self, cfg):
        if cfg.kwargs.get("parse_strings_as_datetimes"):
            from .column_map import _dt_col

            a, b = _dt_col(cfg.kwargs["column_A"]), _dt_col(cfg.kwargs["column_B"])
        else:
            a, b = F.col(cfg.kwargs["column_A"]), F.col(cfg.kwargs["column_B"])
        return (a >= b) if cfg.kwargs.get("or_equal") else (a > b)


@register_expectation("expect_column_pair_values_to_be_in_set")
class PairInSet(MultiColMapExpectation):
    metric_name = "column_pair_values.in_set"
    default_ignore = "both_values_are_missing"

    def columns_of(self, cfg):
        return [cfg.kwargs["column_A"], cfg.kwargs["column_B"]]

    def ok_condition(self, cfg):
        a, b = F.col(cfg.kwargs["column_A"]), F.col(cfg.kwargs["column_B"])
        pairs = [tuple(p) for p in cfg.kwargs["value_pairs_set"]]
        out = F.lit(False)
        for pa, pb in pairs:
            out = out | (a.eqNullSafe(F.lit(pa)) & b.eqNullSafe(F.lit(pb)))
        return out


@register_expectation("expect_multicolumn_sum_to_equal")
class MulticolumnSumEqual(MultiColMapExpectation):
    metric_name = "multicolumn_sum.equal"
    default_ignore = "any_value_is_missing"

    def columns_of(self, cfg):
        return list(cfg.kwargs["column_list"])

    def ok_condition(self, cfg):
        cols = [F.col(c) for c in self.columns_of(cfg)]
        total = cols[0]
        for c in cols[1:]:
            total = total + c
        return total == F.lit(cfg.kwargs["sum_total"])


@register_expectation("expect_select_column_values_to_be_unique_within_record")
class UniqueWithinRecord(MultiColMapExpectation):
    metric_name = "select_column_values.unique.within_record"
    default_ignore = "any_value_is_missing"

    def columns_of(self, cfg):
        return list(cfg.kwargs["column_list"])

    def ok_condition(self, cfg):
        arr = F.array(*[F.col(c) for c in self.columns_of(cfg)])
        return F.size(F.array_distinct(arr)) == F.size(arr)


class _CompoundUniqueBase:
    """Cross-row tuple uniqueness via two-stage groupBy (partial aggregation
    = map-side combine handles skewed keys; ref upstream uses a window over
    partitionBy(cols) — single-stage, skew-prone).  Violation rows recovered
    by broadcast-joining the (small, persisted, capped) duplicated-tuple set
    back against the violations scan — a null-safe map-side hash probe
    (SURVEY.md §7 'Uniqueness at skew')."""

    metric_name = "compound_columns.unique"

    def columns_of(self, cfg):
        return list(cfg.kwargs["column_list"])

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        cols = self.columns_of(cfg)
        require_columns(ctx, *cols)
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ignore = cfg.kwargs.get("ignore_row_if", "all_values_are_missing")
        ign = ignored_expr(cols, ignore)
        ec_ref = ctx.element_count(dk, dom)
        nn_cond = ctx.guard(dom, ~ign)
        nn_ref = ctx.agg(
            f"{self.metric_name}.filtered_count", dk, [cols, ignore],
            lambda: F.coalesce(F.sum(F.when(nn_cond, 1).otherwise(0)), F.lit(0)),
        )
        rf = result_format_of(cfg, ctx.options)
        want_rows = rf != "BOOLEAN_ONLY" and ctx.options.collect_violations
        dup_ref = ctx.data(self.metric_name, dk, cols,
                           duplicate_keys(ctx, cols, dom, ~ign, want_rows))
        if want_rows:
            flag_key_set(ctx, cfg, index, f"__cdup_{index}", cols, dup_ref,
                         lambda hit: ctx.guard(dom, ~ign & hit),
                         F.to_json(F.struct(*[F.col(c) for c in cols])))
        return map_finalizer(cfg, rf, index, ec_ref, nn_ref,
                             lambda bag: bag[dup_ref]["unexpected_count"])


@register_expectation("expect_compound_columns_to_be_unique")
class CompoundUnique(_CompoundUniqueBase):
    metric_name = "compound_columns.unique"


@register_expectation("expect_multicolumn_values_to_be_unique")
class MulticolumnUnique(_CompoundUniqueBase):
    # legacy alias (ref: expect_multicolumn_values_to_be_unique)
    metric_name = "multicolumn_values.unique"
