"""Referential-integrity expectation (north rule BASELINE.json:14; upstream
only reachable via value_set indirection / evaluation-parameter URNs,
SURVEY.md §2.3).

`expect_column_values_to_exist_in_table(column, other_table_name,
other_column)` — every FK value must exist in the dimension table.

Physics: `fact LEFT ANTI JOIN broadcast(dim.distinct)` — the dim side is
explicitly broadcast (dimension tables are small); Catalyst/AQE handles the
skewed-fact case.  When the dimension is itself too large to broadcast,
pass `dim_strategy="salted"`: the orphan-key set is computed by
`skew.salted_anti_keys` (distinct-first to collapse fact-side skew, then a
key-salted left_anti join per the north rule's "key-salted groupBy" —
gx_spark/skew.py), and the violation count comes from joining the missing
set back against the fact scan.  In sketch mode a theta-sketch difference estimate
(`theta_sketch_agg` on both sides) short-circuits the anti-join — but ONLY
when both sketches are in their exact (sub-nominal-entries) regime: above
saturation theta estimates are sampling-approximate, and a difference
*estimate* of 0 could silently pass a handful of real orphans among 10^9
keys.  Violation rows are recovered via a broadcast join of the (small,
capped) missing-FK set against the violations scan — map-side, no literal
lists in the plan.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from ..model import ExpectationConfiguration, ExpectationValidationResult
from ..planner import MetricBag, MetricContext
from ..skew import salted_anti_keys, salted_join
from ..registry import register_expectation
from .base import (
    _KEY_SET_CAP,
    Finalizer,
    agg_result,
    flag_key_set,
    map_finalizer,
    require_columns,
    result_format_of,
)


@register_expectation("expect_column_values_to_exist_in_table")
class ExistInTable:
    """Referential integrity: every (non-null) value of `column` exists in
    `other_table_name`.`other_column` — broadcast left_anti with a theta
    prefilter, or a salted-dim shuffle join via dim_strategy (skew.py)."""

    metric_name = "column_values.exist_in_table"

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        other_name = cfg.kwargs["other_table_name"]
        other_column = cfg.kwargs.get("other_column", column)
        other_df = ctx.tables[other_name]
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ec_ref = ctx.element_count(dk, dom)
        nn_ref = ctx.nonnull_count(column, dk, dom)
        strategy = cfg.kwargs.get("dim_strategy", "broadcast")
        salt_buckets = int(cfg.kwargs.get("salt_buckets", 16))
        use_theta = ctx.options.mode == "sketch" and hasattr(F, "theta_sketch_agg")
        theta_lgk = 12  # nominal entries 2^12: sketch exact below this count
        rf = result_format_of(cfg, ctx.options)
        want_rows = rf != "BOOLEAN_ONLY" and ctx.options.collect_violations

        def metric(df) -> dict[str, Any]:
            d = df
            if dom is not None:
                d = d.filter(dom)
            d = d.filter(F.col(column).isNotNull())
            if strategy == "salted":
                # large-dim path: no broadcast anywhere in the hot plan
                missing_all = salted_anti_keys(
                    d, column, other_df, other_column, buckets=salt_buckets
                )
                missing = ctx.aux_persist(missing_all.limit(_KEY_SET_CAP))
                n_missing = missing.count()
                if n_missing == 0:
                    return {"unexpected_count": 0, "key_df": None}
                if n_missing < _KEY_SET_CAP:
                    uc = d.join(F.broadcast(missing), on=column, how="left_semi").count()
                else:
                    uc = salted_join(
                        d.select(column), missing_all, on=column,
                        how="left_semi", buckets=salt_buckets,
                    ).count()
                return {"unexpected_count": uc,
                        "key_df": missing if want_rows else None}
            dim = other_df.select(F.col(other_column).alias(column)).distinct()
            if use_theta:
                # cheap prefilter: estimated |fact_keys \ dim_keys|, plus both
                # sides' distinct estimates to detect sketch saturation
                row = d.agg(F.theta_sketch_agg(column, F.lit(theta_lgk)).alias("s")).collect()[0]
                fact_sk = row["s"]
                dim_sk = other_df.agg(
                    F.theta_sketch_agg(other_column, F.lit(theta_lgk)).alias("s")
                ).collect()[0]["s"]
                est_row = (
                    d.sparkSession.range(1)
                    .select(
                        F.theta_sketch_estimate(
                            F.theta_difference(F.lit(fact_sk), F.lit(dim_sk))
                        ).alias("diff"),
                        F.theta_sketch_estimate(F.lit(fact_sk)).alias("nf"),
                        F.theta_sketch_estimate(F.lit(dim_sk)).alias("nd"),
                    )
                    .collect()[0]
                )
                # 0.9 margin: estimates near nominal entries carry variance,
                # stay strictly inside the provably-exact band
                k_exact = 0.9 * (1 << theta_lgk)
                exact_regime = est_row["nf"] < k_exact and est_row["nd"] < k_exact
                # short-circuit ONLY when the 0-difference is provably exact;
                # a saturated sketch's estimate can miss real orphans
                if not est_row["diff"] and exact_regime:
                    return {"unexpected_count": 0, "key_df": None}
            orphans = d.join(F.broadcast(dim), on=column, how="left_anti")
            uc = orphans.count()
            if uc == 0 or not want_rows:
                return {"unexpected_count": uc, "key_df": None}
            missing = ctx.aux_persist(
                orphans.select(column).distinct().limit(_KEY_SET_CAP)
            )
            missing.count()  # materializes the persisted key set
            return {"unexpected_count": uc, "key_df": missing}

        m_ref = ctx.data(self.metric_name, dk, [column, other_name, other_column], metric)
        if want_rows:
            flag_key_set(ctx, cfg, index, f"__orph_{index}", [column], m_ref,
                         lambda hit: ctx.guard(dom, hit), F.col(column))
        return map_finalizer(cfg, rf, index, ec_ref, nn_ref,
                             lambda bag: bag[m_ref]["unexpected_count"])


@register_expectation("expect_query_to_return_no_rows")
class QueryReturnsNoRows:
    """QueryExpectation (ref: expectations/expectation.py#QueryExpectation):
    user SQL over the batch (registered as temp view `batch`); any returned
    row is a violation."""

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        query = cfg.kwargs["query"]

        def metric(df) -> dict[str, Any]:
            df.createOrReplaceTempView("batch")
            out = df.sparkSession.sql(query)
            rows = out.limit(21).collect()
            n = out.count() if len(rows) > 20 else len(rows)
            return {"unexpected_count": n,
                    "sample": [r.asDict() for r in rows[:20]]}

        m_ref = ctx.data("query.rows", "", query, metric)
        rf = result_format_of(cfg, ctx.options)

        def finalize(bag: MetricBag) -> ExpectationValidationResult:
            m = bag[m_ref]
            return agg_result(cfg, m["unexpected_count"] == 0, m["unexpected_count"],
                              rf, {"sample_rows": m["sample"]})

        return finalize
