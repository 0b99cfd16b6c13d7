"""Table-level expectations (ref: great_expectations/expectations/core/
expect_table_* + metrics/table_metrics/*).  Column/schema expectations are
metadata-only — `df.schema` / `df.columns`, no Spark job."""

from __future__ import annotations

from ..registry import register_expectation
from ..result_format import between_success
from .base import agg_result, result_format_of


@register_expectation("expect_table_row_count_to_be_between")
class RowCountBetween:
    """Table row count within [min_value, max_value] (strict variants,
    open-ended bounds; row_condition narrows the counted domain)."""

    def plan(self, ctx, cfg, index):
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ref = ctx.element_count(dk, dom)
        rf = result_format_of(cfg, ctx.options)
        k = cfg.kwargs

        def finalize(bag):
            n = int(bag[ref])
            ok = between_success(n, k.get("min_value"), k.get("max_value"),
                                 bool(k.get("strict_min", False)), bool(k.get("strict_max", False)))
            return agg_result(cfg, ok, n, rf)

        return finalize


@register_expectation("expect_table_row_count_to_equal")
class RowCountEqual:
    """Table row count equals `value` exactly (row_condition narrows the
    counted domain)."""

    def plan(self, ctx, cfg, index):
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ref = ctx.element_count(dk, dom)
        rf = result_format_of(cfg, ctx.options)
        value = int(cfg.kwargs["value"])

        def finalize(bag):
            n = int(bag[ref])
            return agg_result(cfg, n == value, n, rf)

        return finalize


@register_expectation("expect_table_row_count_to_equal_other_table")
class RowCountEqualOtherTable:
    """Upstream is SqlAlchemy-only (SURVEY.md §2.3); we support it via the
    run-level `tables` registry — two counts, no join."""

    def plan(self, ctx, cfg, index):
        other_name = cfg.kwargs["other_table_name"]
        other_df = ctx.tables[other_name]
        ref = ctx.element_count(*ctx.domain(cfg.kwargs.get("row_condition")))
        other_ref = ctx.data("table.row_count.other", "", other_name, lambda df: other_df.count())
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag):
            n, m = int(bag[ref]), int(bag[other_ref])
            return agg_result(cfg, n == m, {"self": n, "other": m}, rf)

        return finalize


@register_expectation("expect_column_to_exist")
class ColumnExists:
    """Schema-only check: the column is present (optionally at
    `column_index`).  No job — resolved from df.columns at plan time."""

    def plan(self, ctx, cfg, index):
        column = cfg.kwargs["column"]
        cols = list(ctx.df.columns)
        success = column in ctx.columns
        if success and cfg.kwargs.get("column_index") is not None:
            success = cols.index(column) == int(cfg.kwargs["column_index"])
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag):
            return agg_result(cfg, success, column if success else None, rf)

        return finalize


@register_expectation("expect_table_columns_to_match_ordered_list")
class ColumnsMatchOrderedList:
    """Schema-only check: df.columns equals `column_list` exactly,
    order included."""

    def plan(self, ctx, cfg, index):
        expected = list(cfg.kwargs["column_list"])
        actual = list(ctx.df.columns)
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag):
            return agg_result(cfg, actual == expected, actual, rf)

        return finalize


@register_expectation("expect_table_columns_to_match_set")
class ColumnsMatchSet:
    """Schema-only check: df.columns equals (or, with exact_match=False,
    is a superset of) `column_set`, order-insensitive."""

    def plan(self, ctx, cfg, index):
        expected = set(cfg.kwargs["column_set"])
        exact = bool(cfg.kwargs.get("exact_match", True))
        actual = set(ctx.df.columns)
        success = actual == expected if exact else actual >= expected
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag):
            return agg_result(cfg, success, sorted(actual), rf)

        return finalize


@register_expectation("expect_table_column_count_to_be_between")
class ColumnCountBetween:
    """Schema-only check: len(df.columns) within [min_value, max_value]
    (either bound open-ended)."""

    def plan(self, ctx, cfg, index):
        n = len(ctx.df.columns)
        k = cfg.kwargs
        rf = result_format_of(cfg, ctx.options)
        ok = between_success(n, k.get("min_value"), k.get("max_value"))

        def finalize(bag):
            return agg_result(cfg, ok, n, rf)

        return finalize


@register_expectation("expect_table_column_count_to_equal")
class ColumnCountEqual:
    """Schema-only check: len(df.columns) == value."""

    def plan(self, ctx, cfg, index):
        n = len(ctx.df.columns)
        rf = result_format_of(cfg, ctx.options)
        ok = n == int(cfg.kwargs["value"])

        def finalize(bag):
            return agg_result(cfg, ok, n, rf)

        return finalize
