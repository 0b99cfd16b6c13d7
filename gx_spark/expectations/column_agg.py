"""Column-aggregate expectations: observed values from the fused bundle.

Every metric here is a single expression inside the ONE `df.agg(...)` pass
(ref: great_expectations/expectations/metrics/column_aggregate_metrics/*;
bundling ref: sparkdf_execution_engine.py#resolve_metric_bundle).  Dual-mode
(SURVEY.md §7 "exact-vs-approx parity"):

  exact  — fixture-parity values (count_distinct, F.percentile, F.median)
  sketch — mergeable sketch aggregates for 10^12-row scale (hll_sketch_agg,
           percentile_approx/KLL); merged per-partition by Catalyst's
           partial+final aggregation, i.e. treeAggregate physics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..model import ExpectationConfiguration
from ..planner import MetricContext
from ..registry import register_expectation
from ..result_format import between_success
from .base import (
    ColumnAggregateExpectation,
    agg_result,
    domain_col,
    require_columns,
    result_format_of,
)


class _SimpleAgg(ColumnAggregateExpectation):
    metric = "column.generic"

    def agg_expr(self, dc: Column, cfg: ExpectationConfiguration, ctx: MetricContext) -> Column:
        raise NotImplementedError

    def observed_metric(self, ctx, cfg, dk, dom):
        column = cfg.kwargs["column"]
        dc = domain_col(dom, column)
        return ctx.agg(self.metric, dk, column, lambda: self.agg_expr(dc, cfg, ctx))


@register_expectation("expect_column_mean_to_be_between")
class MeanBetween(_SimpleAgg):
    metric = "column.mean"

    examples = [{
        "data": {"v": [2.0, 4.0, 6.0]},
        "schema": "v double",
        "tests": [
            {"title": "mean observed exactly",
             "in": {"column": "v", "min_value": 3, "max_value": 5},
             "out": {"success": True, "observed_value": 4.0}},
            {"title": "out-of-band mean fails",
             "in": {"column": "v", "min_value": 5, "max_value": 9},
             "out": {"success": False, "observed_value": 4.0}},
        ],
    }]

    def agg_expr(self, dc, cfg, ctx):
        return F.avg(dc)


@register_expectation("expect_column_median_to_be_between")
class MedianBetween(_SimpleAgg):
    metric = "column.median"

    def agg_expr(self, dc, cfg, ctx):
        if ctx.options.mode == "sketch":
            return F.percentile_approx(dc, 0.5, ctx.options.quantile_accuracy)
        return F.median(dc)


@register_expectation("expect_column_stdev_to_be_between")
class StdevBetween(_SimpleAgg):
    # sample stddev, ddof=1 — matches the reference/pandas (SURVEY.md §2.4)
    metric = "column.standard_deviation"

    def agg_expr(self, dc, cfg, ctx):
        return F.stddev_samp(dc)


@register_expectation("expect_column_min_to_be_between")
class MinBetween(_SimpleAgg):
    metric = "column.min"

    def agg_expr(self, dc, cfg, ctx):
        return F.min(dc)


@register_expectation("expect_column_max_to_be_between")
class MaxBetween(_SimpleAgg):
    metric = "column.max"

    def agg_expr(self, dc, cfg, ctx):
        return F.max(dc)


@register_expectation("expect_column_sum_to_be_between")
class SumBetween(_SimpleAgg):
    metric = "column.sum"

    def agg_expr(self, dc, cfg, ctx):
        return F.sum(dc)


@register_expectation("expect_column_unique_value_count_to_be_between")
class UniqueValueCount(_SimpleAgg):
    metric = "column.distinct_values.count"

    def agg_expr(self, dc, cfg, ctx):
        if ctx.options.mode == "sketch":
            return F.hll_sketch_estimate(F.hll_sketch_agg(dc, ctx.options.hll_lgk))
        return F.count_distinct(dc)

    def observed_to_python(self, observed):
        return int(observed) if observed is not None else None


@register_expectation("expect_column_proportion_of_unique_values_to_be_between")
class UniqueProportion(ColumnAggregateExpectation):
    """distinct_count / nonnull_count — both terms live in the same bundle."""

    def observed_metric(self, ctx, cfg, dk, dom):
        column = cfg.kwargs["column"]
        dc = domain_col(dom, column)
        if ctx.options.mode == "sketch":
            distinct_ref = ctx.agg(
                "column.distinct_values.count.sketch", dk, column,
                lambda: F.hll_sketch_estimate(F.hll_sketch_agg(dc, ctx.options.hll_lgk)),
            )
        else:
            distinct_ref = ctx.agg(
                "column.distinct_values.count", dk, column, lambda: F.count_distinct(dc)
            )
        nn_ref = ctx.nonnull_count(column, dk, dom)
        self._refs = (distinct_ref, nn_ref)
        return distinct_ref

    def plan(self, ctx, cfg, index):
        require_columns(ctx, cfg.kwargs["column"])
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        self.observed_metric(ctx, cfg, dk, dom)
        distinct_ref, nn_ref = self._refs
        rf = result_format_of(cfg, ctx.options)
        k = cfg.kwargs

        def finalize(bag):
            nn = int(bag[nn_ref])
            observed = (float(bag[distinct_ref]) / nn) if nn else None
            success = between_success(
                observed, k.get("min_value"), k.get("max_value"),
                bool(k.get("strict_min", False)), bool(k.get("strict_max", False)),
            )
            return agg_result(cfg, success, observed, rf)

        return finalize


@register_expectation("expect_column_quantile_values_to_be_between")
class QuantileValues(ColumnAggregateExpectation):
    """kwargs: quantile_ranges={"quantiles":[...], "value_ranges":[[lo,hi],…]}.

    exact mode: F.percentile (linear interpolation — PERCENTILE_CONT
    semantics, matching the DuckDB oracle); sketch mode: percentile_approx
    (GK/KLL sketch, mergeable per-partition; ref Spark impl used
    DataFrame.approxQuantile, the same sketch outside the bundle)."""

    def plan(self, ctx, cfg, index):
        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        qr = cfg.kwargs["quantile_ranges"]
        quantiles = [float(q) for q in qr["quantiles"]]
        ranges = qr.get("value_ranges")
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        dc = domain_col(dom, column)
        mode = ctx.options.mode
        acc = ctx.options.quantile_accuracy

        def builder() -> Column:
            arr = F.array(*[F.lit(q) for q in quantiles])
            if mode == "sketch":
                return F.percentile_approx(dc, arr, acc)
            return F.percentile(dc, arr)

        ref = ctx.agg("column.quantile_values", dk, [column, quantiles, mode], builder)
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag):
            values = bag[ref]
            values = [float(v) if v is not None else None for v in (values or [])]
            success = True
            if ranges is not None:
                for v, (lo, hi) in zip(values, ranges):
                    success = success and between_success(v, lo, hi)
            return agg_result(cfg, success, {"quantiles": quantiles, "values": values}, rf)

        return finalize


class _DistinctSetBase(ColumnAggregateExpectation):
    """Distinct-value set expectations.  Exact mode keeps collect_set inside
    the fused bundle (ObjectHashAggregate — no extra scan); the driver-side
    set op is on the (small) distinct set only (SURVEY.md §2.7).

    Sketch mode never materializes the distinct set (collect_set state is
    unbounded on a high-cardinality column): the subset/superset checks
    reduce to TWO bounded aggregates in the same fused pass —
    out_of_set_count = sum(value not in set) and in_set_distinct =
    count_distinct(value if in set) (state bounded by |value_set|) — which
    make the verdicts EXACT while the observed_value becomes a summary
    instead of the full list."""

    def plan(self, ctx, cfg, index):
        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        dc = domain_col(dom, column)
        rf = result_format_of(cfg, ctx.options)
        vset = cfg.kwargs.get("value_set")
        vlist = sorted(set(vset), key=str) if vset else []

        if ctx.options.mode == "sketch":
            in_set = F.col(column).isin(vlist) if vlist else F.lit(False)
            out_cond = ctx.guard(dom, F.col(column).isNotNull() & ~in_set)
            out_ref = ctx.agg(
                "column.distinct_values.out_of_set_count", dk, [column, vlist],
                lambda: F.coalesce(F.sum(F.when(out_cond, 1).otherwise(0)), F.lit(0)),
            )
            in_dc = F.when(ctx.guard(dom, F.col(column).isNotNull() & in_set), F.col(column))
            in_ref = ctx.agg(
                "column.distinct_values.in_set_distinct", dk, [column, vlist],
                lambda: F.count_distinct(in_dc),
            )

            def finalize(bag):
                out_count = int(bag[out_ref])
                in_distinct = int(bag[in_ref])
                success = self.check_counts(out_count, in_distinct, len(vlist))
                observed = {
                    "out_of_set_count": out_count,
                    "in_set_distinct_count": in_distinct,
                    "value_set_size": len(vlist),
                }
                return agg_result(cfg, success, observed, rf)

            return finalize

        ref = ctx.agg("column.distinct_values", dk, column, lambda: F.collect_set(dc))

        def finalize(bag):
            observed = sorted(bag[ref], key=lambda x: (str(type(x)), x))
            success = self.check(set(observed), set(vset) if vset is not None else set())
            return agg_result(cfg, success, observed, rf)

        return finalize

    def check(self, observed: set, expected: set) -> bool:
        raise NotImplementedError

    def check_counts(self, out_count: int, in_distinct: int, set_size: int) -> bool:
        raise NotImplementedError


@register_expectation("expect_column_distinct_values_to_be_in_set")
class DistinctInSet(_DistinctSetBase):
    def check(self, observed, expected):
        return observed <= expected

    def check_counts(self, out_count, in_distinct, set_size):
        return out_count == 0


@register_expectation("expect_column_distinct_values_to_contain_set")
class DistinctContainSet(_DistinctSetBase):
    def check(self, observed, expected):
        return observed >= expected

    def check_counts(self, out_count, in_distinct, set_size):
        return in_distinct == set_size


@register_expectation("expect_column_distinct_values_to_equal_set")
class DistinctEqualSet(_DistinctSetBase):
    def check(self, observed, expected):
        return observed == expected

    def check_counts(self, out_count, in_distinct, set_size):
        return out_count == 0 and in_distinct == set_size


@register_expectation("expect_column_most_common_value_to_be_in_set")
class MostCommonInSet(ColumnAggregateExpectation):
    """observed_value = list of modal values (ties kept, ref:
    column_most_common_value.py); success = all modes ∈ value_set (GE's
    ties_okay semantics: any mode in set when ties_okay=True).

    Sketch mode: count-min-sketch + heavy-hitter candidate probing
    (SURVEY.md §2.4) — one fused CMS aggregation plus a single-pass freqItems
    candidate scan, instead of the exact groupBy over every distinct value.
    CMS counts are eps*n-bounded overestimates, so the sketch-mode mode list
    can include near-ties; falls back to the exact groupBy when no candidate
    clears the freqItems support threshold."""

    def plan(self, ctx, cfg, index):
        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        vset = set(cfg.kwargs["value_set"])
        ties_okay = bool(cfg.kwargs.get("ties_okay", False))
        opts = ctx.options

        def exact_modes(d):
            counts = d.groupBy(column).count()
            rows = counts.orderBy(F.desc("count")).limit(1000).collect()
            if not rows:
                return []
            top = rows[0]["count"]
            return sorted((r[column] for r in rows if r["count"] == top), key=str)

        def metric(df):
            d = df
            if dom is not None:
                d = d.filter(dom)
            d = d.filter(F.col(column).isNotNull())
            if opts.mode == "sketch":
                from ..sketches import cms_value_counts

                counts, _n = cms_value_counts(
                    d, column, candidates=None,
                    eps=opts.cms_eps, confidence=opts.cms_confidence,
                    seed=opts.cms_seed,
                )
                if counts:
                    top = max(counts.values())
                    return sorted((v for v, c in counts.items() if c == top), key=str)
                # no heavy hitter above support — degrade to exact
            return exact_modes(d)

        ref = ctx.data(
            "column.most_common_value", dk, [column, opts.mode], metric
        )
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag):
            modes = bag[ref]
            if ties_okay:
                success = any(m in vset for m in modes)
            else:
                success = all(m in vset for m in modes) and bool(modes)
            return agg_result(cfg, success, modes, rf)

        return finalize


_SPARK_TYPE_ALIASES = {
    "ByteType": {"ByteType", "byte", "tinyint"},
    "ShortType": {"ShortType", "short", "smallint"},
    "IntegerType": {"IntegerType", "int", "integer"},
    "LongType": {"LongType", "bigint", "long"},
    "DoubleType": {"DoubleType", "double"},
    "FloatType": {"FloatType", "float", "real"},
    "StringType": {"StringType", "string"},
    "BooleanType": {"BooleanType", "boolean", "bool"},
    "TimestampType": {"TimestampType", "timestamp"},
    "DateType": {"DateType", "date"},
    "BinaryType": {"BinaryType", "binary"},
    "DecimalType": {"DecimalType", "decimal", "dec", "numeric"},
}


def _type_matches(actual_type_name: str, expected: str) -> bool:
    # parameterized DDL forms ('decimal(10,2)') match on the base name
    base = expected.split("(", 1)[0].strip() if "(" in expected else expected
    aliases = _SPARK_TYPE_ALIASES.get(base)
    if aliases is None:
        # expected given as a DDL alias ('bigint') rather than the
        # DataType class name — resolve through the same table
        aliases = next(
            (s for s in _SPARK_TYPE_ALIASES.values()
             if base.lower() in s),
            {expected})
    return actual_type_name in aliases or actual_type_name == expected


class _TypeCheckBase:
    """Schema-resolved on Spark — a metadata check, no job (ref: the Spark
    path of expect_column_values_to_be_of_type resolves dtype, not per-row)."""

    def expected_types(self, cfg) -> list[str]:
        raise NotImplementedError

    def plan(self, ctx, cfg, index):
        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        actual = type(ctx.schema[column].dataType).__name__
        expected = self.expected_types(cfg)
        success = any(_type_matches(actual, e) for e in expected)
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag):
            return agg_result(cfg, success, actual, rf)

        return finalize


@register_expectation("expect_column_values_to_be_of_type")
class BeOfType(_TypeCheckBase):
    def expected_types(self, cfg):
        return [cfg.kwargs["type_"]]


@register_expectation("expect_column_values_to_be_in_type_list")
class BeInTypeList(_TypeCheckBase):
    def expected_types(self, cfg):
        return list(cfg.kwargs["type_list"])
