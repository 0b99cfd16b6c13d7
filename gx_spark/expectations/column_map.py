"""Column-map expectations: per-row predicates compiled to Spark Columns.

Each class defines the condition under which a non-null value is UNEXPECTED
(ref: great_expectations/expectations/metrics/column_map_metrics/*).  All
conditions are pure `pyspark.sql.Column` expressions — JVM-side, inside
WholeStageCodegen; no Python UDFs in the hot path.  Where the reference used
row-at-a-time Python UDFs on Spark (strftime/dateutil/json parseable), we
substitute native `try_to_timestamp` / `try_parse_json` (SURVEY.md §2.5).
"""

from __future__ import annotations

from typing import Any

import pandas as pd  # noqa: F401  (pandas-UDF type hints resolve here)
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..model import ExpectationConfiguration
from ..planner import MetricBag, MetricContext, ViolationSpec
from ..registry import register_expectation
from .base import (
    ColumnMapExpectation,
    Finalizer,
    duplicate_keys,
    flag_key_set,
    map_finalizer,
    require_columns,
    result_format_of,
)


@register_expectation("expect_column_values_to_not_be_null")
class NotBeNull(ColumnMapExpectation):
    # the ONE map expectation whose denominator is ALL rows
    # (ref: map_metric_provider.py — filter_column_isnull disabled for nonnull)
    metric_name = "column_values.nonnull"
    denominator = "all"

    examples = [{
        "data": {"a": [1, 2, None, 4]},
        "schema": "a int",
        "tests": [
            {"title": "fails on a null",
             "in": {"column": "a"},
             "out": {"success": False, "unexpected_count": 1}},
            {"title": "mostly tolerates it",
             "in": {"column": "a", "mostly": 0.7},
             "out": {"success": True, "unexpected_count": 1}},
        ],
    }]

    def unexpected_condition(self, cfg, ctx) -> Column:
        return F.col(cfg.kwargs["column"]).isNull()


@register_expectation("expect_column_values_to_be_null")
class BeNull(ColumnMapExpectation):
    metric_name = "column_values.null"
    denominator = "all"

    def unexpected_condition(self, cfg, ctx) -> Column:
        return F.col(cfg.kwargs["column"]).isNotNull()


def _parse_dt(value):
    """Driver-side datetime coercion for parse_strings_as_datetimes kwarg
    values (ref upstream runs dateutil.parser over the value literals)."""
    import datetime as _dt

    if isinstance(value, (_dt.datetime, _dt.date)):
        return value if isinstance(value, _dt.datetime) else _dt.datetime(
            value.year, value.month, value.day
        )
    s = str(value)
    try:
        return _dt.datetime.fromisoformat(s)
    except ValueError:
        pass
    for fmt in ("%m/%d/%Y", "%m/%d/%Y %H:%M:%S", "%Y%m%d", "%m-%d-%Y"):
        try:
            return _dt.datetime.strptime(s, fmt)
        except ValueError:
            continue
    raise ValueError(f"cannot parse {value!r} as a datetime")


def _dt_col(column: str) -> Column:
    c = F.col(column)
    return F.coalesce(c.try_cast("timestamp"), c.try_cast("date").cast("timestamp"))


@register_expectation("expect_column_values_to_be_in_set")
class BeInSet(ColumnMapExpectation):
    metric_name = "column_values.in_set"

    examples = [{
        "data": {"c": ["A", "B", "C", None]},
        "schema": "c string",
        "tests": [
            {"title": "subset passes (nulls excluded from denominator)",
             "in": {"column": "c", "value_set": ["A", "B", "C"]},
             "out": {"success": True, "unexpected_count": 0}},
            {"title": "missing member fails",
             "in": {"column": "c", "value_set": ["A", "B"]},
             "out": {"success": False, "unexpected_count": 1}},
        ],
    }]

    def unexpected_condition(self, cfg, ctx) -> Column:
        vs = list(cfg.kwargs["value_set"])
        if not vs:  # empty set: everything is unexpected (GE semantics)
            return F.lit(True)
        if cfg.kwargs.get("parse_strings_as_datetimes"):
            pc = _dt_col(cfg.kwargs["column"])
            # unparseable value → unexpected (cannot be in a datetime set)
            return pc.isNull() | ~pc.isin([_parse_dt(v) for v in vs])
        return ~F.col(cfg.kwargs["column"]).isin(vs)


@register_expectation("expect_column_values_to_not_be_in_set")
class NotBeInSet(ColumnMapExpectation):
    metric_name = "column_values.not_in_set"

    def unexpected_condition(self, cfg, ctx) -> Column:
        vs = list(cfg.kwargs["value_set"])
        if not vs:
            return F.lit(False)
        if cfg.kwargs.get("parse_strings_as_datetimes"):
            pc = _dt_col(cfg.kwargs["column"])
            return F.coalesce(pc.isin([_parse_dt(v) for v in vs]), F.lit(False))
        return F.col(cfg.kwargs["column"]).isin(vs)


@register_expectation("expect_column_values_to_be_between")
class BeBetween(ColumnMapExpectation):
    metric_name = "column_values.between"

    examples = [{
        "data": {"x": [1.0, 5.0, 10.0]},
        "schema": "x double",
        "tests": [
            {"title": "closed bounds include endpoints",
             "in": {"column": "x", "min_value": 1, "max_value": 10},
             "out": {"success": True, "unexpected_count": 0}},
            {"title": "strict_min excludes the endpoint",
             "in": {"column": "x", "min_value": 1, "max_value": 10,
                    "strict_min": True},
             "out": {"success": False, "unexpected_count": 1}},
        ],
    }]

    def unexpected_condition(self, cfg, ctx) -> Column:
        k = cfg.kwargs
        if k.get("parse_strings_as_datetimes"):
            c = _dt_col(k["column"])
            lit = lambda v: F.lit(_parse_dt(v))  # noqa: E731
        else:
            c = F.col(k["column"])
            lit = F.lit
        ok = F.lit(True)
        if k.get("min_value") is not None:
            lo = lit(k["min_value"])
            ok = ok & (c > lo if k.get("strict_min") else c >= lo)
        if k.get("max_value") is not None:
            hi = lit(k["max_value"])
            ok = ok & (c < hi if k.get("strict_max") else c <= hi)
        if k.get("parse_strings_as_datetimes"):
            return c.isNull() | ~ok  # unparseable → unexpected
        return ~ok


@register_expectation("expect_column_values_to_match_regex")
class MatchRegex(ColumnMapExpectation):
    metric_name = "column_values.match_regex"

    def unexpected_condition(self, cfg, ctx) -> Column:
        return ~F.col(cfg.kwargs["column"]).rlike(cfg.kwargs["regex"])


@register_expectation("expect_column_values_to_not_match_regex")
class NotMatchRegex(ColumnMapExpectation):
    metric_name = "column_values.not_match_regex"

    def unexpected_condition(self, cfg, ctx) -> Column:
        return F.col(cfg.kwargs["column"]).rlike(cfg.kwargs["regex"])


def _fold_regex(column: str, patterns: list[str], match_on: str) -> Column:
    """OR/AND-fold of rlike columns (matched = passes)."""
    cols = [F.col(column).rlike(p) for p in patterns]
    out = cols[0]
    for c in cols[1:]:
        out = (out | c) if match_on == "any" else (out & c)
    return out


@register_expectation("expect_column_values_to_match_regex_list")
class MatchRegexList(ColumnMapExpectation):
    metric_name = "column_values.match_regex_list"

    def unexpected_condition(self, cfg, ctx) -> Column:
        return ~_fold_regex(
            cfg.kwargs["column"], list(cfg.kwargs["regex_list"]),
            cfg.kwargs.get("match_on", "any"),
        )


@register_expectation("expect_column_values_to_not_match_regex_list")
class NotMatchRegexList(ColumnMapExpectation):
    metric_name = "column_values.not_match_regex_list"

    def unexpected_condition(self, cfg, ctx) -> Column:
        # unexpected if it matches ANY of the list (GE semantics)
        return _fold_regex(cfg.kwargs["column"], list(cfg.kwargs["regex_list"]), "any")


@register_expectation("expect_column_values_to_match_like_pattern")
class MatchLike(ColumnMapExpectation):
    # SqlAlchemy-only upstream; native on Spark for us (SURVEY.md §2.5)
    metric_name = "column_values.match_like_pattern"

    def unexpected_condition(self, cfg, ctx) -> Column:
        return ~F.col(cfg.kwargs["column"]).like(cfg.kwargs["like_pattern"])


@register_expectation("expect_column_values_to_not_match_like_pattern")
class NotMatchLike(ColumnMapExpectation):
    metric_name = "column_values.not_match_like_pattern"

    def unexpected_condition(self, cfg, ctx) -> Column:
        return F.col(cfg.kwargs["column"]).like(cfg.kwargs["like_pattern"])


@register_expectation("expect_column_values_to_match_like_pattern_list")
class MatchLikeList(ColumnMapExpectation):
    metric_name = "column_values.match_like_pattern_list"

    def unexpected_condition(self, cfg, ctx) -> Column:
        c = F.col(cfg.kwargs["column"])
        match_on = cfg.kwargs.get("match_on", "any")
        cols = [c.like(p) for p in cfg.kwargs["like_pattern_list"]]
        out = cols[0]
        for cc in cols[1:]:
            out = (out | cc) if match_on == "any" else (out & cc)
        return ~out


@register_expectation("expect_column_values_to_not_match_like_pattern_list")
class NotMatchLikeList(ColumnMapExpectation):
    metric_name = "column_values.not_match_like_pattern_list"

    def unexpected_condition(self, cfg, ctx) -> Column:
        c = F.col(cfg.kwargs["column"])
        cols = [c.like(p) for p in cfg.kwargs["like_pattern_list"]]
        out = cols[0]
        for cc in cols[1:]:
            out = out | cc
        return out


@register_expectation("expect_column_value_lengths_to_be_between")
class LengthsBetween(ColumnMapExpectation):
    metric_name = "column_values.value_length.between"

    def unexpected_condition(self, cfg, ctx) -> Column:
        k = cfg.kwargs
        ln = F.length(F.col(k["column"]))
        ok = F.lit(True)
        if k.get("min_value") is not None:
            ok = ok & (ln > k["min_value"] if k.get("strict_min") else ln >= k["min_value"])
        if k.get("max_value") is not None:
            ok = ok & (ln < k["max_value"] if k.get("strict_max") else ln <= k["max_value"])
        return ~ok


@register_expectation("expect_column_value_lengths_to_equal")
class LengthsEqual(ColumnMapExpectation):
    metric_name = "column_values.value_length.equals"

    def unexpected_condition(self, cfg, ctx) -> Column:
        return F.length(F.col(cfg.kwargs["column"])) != F.lit(cfg.kwargs["value"])


# strftime directive → Spark datetime pattern (subset the fixtures exercise;
# ref upstream used a per-row Python strptime UDF — we stay native).
# Single-letter Spark patterns (M, d, H…) accept 1-2 digits, matching
# CPython strptime's lenient zero-padding; %M (minute) must be replaced
# before %m (month) is irrelevant — directives are distinct 2-char tokens.
_STRFTIME_MAP = [
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "M"), ("%d", "d"),
    ("%H", "H"), ("%I", "h"), ("%M", "m"), ("%S", "s"),
    ("%f", "SSSSSS"), ("%j", "D"), ("%p", "a"),
    ("%b", "MMM"), ("%B", "MMMM"), ("%a", "EEE"), ("%A", "EEEE"),
]


def strftime_to_spark(fmt: str) -> str:
    out = fmt
    for k, v in _STRFTIME_MAP:
        out = out.replace(k, v)
    if "%" in out:
        raise ValueError(f"unsupported strftime directive in {fmt!r}")
    return out


@register_expectation("expect_column_values_to_match_strftime_format")
class MatchStrftime(ColumnMapExpectation):
    metric_name = "column_values.match_strftime_format"

    def unexpected_condition(self, cfg, ctx) -> Column:
        fmt = strftime_to_spark(cfg.kwargs["strftime_format"])
        return F.try_to_timestamp(F.col(cfg.kwargs["column"]), F.lit(fmt)).isNull()


_DATEUTIL_FORMATS = [
    "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd",
    "M/d/yyyy", "M/d/yyyy HH:mm:ss", "MM-dd-yyyy", "yyyyMMdd",
    "MMM d yyyy", "MMMM d, yyyy", "d MMM yyyy",
]


@register_expectation("expect_column_values_to_be_dateutil_parseable")
class DateutilParseable(ColumnMapExpectation):
    metric_name = "column_values.dateutil_parseable"

    def unexpected_condition(self, cfg, ctx) -> Column:
        c = F.col(cfg.kwargs["column"])
        attempts = [c.try_cast("timestamp"), c.try_cast("date").cast("timestamp")]
        attempts += [F.try_to_timestamp(c, F.lit(f)) for f in _DATEUTIL_FORMATS]
        return F.coalesce(*attempts).isNull()


@register_expectation("expect_column_values_to_be_json_parseable")
class JsonParseable(ColumnMapExpectation):
    metric_name = "column_values.json_parseable"

    def unexpected_condition(self, cfg, ctx) -> Column:
        c = F.col(cfg.kwargs["column"])
        if hasattr(F, "try_parse_json"):  # Spark 4 VARIANT path
            return F.try_parse_json(c).isNull()
        # fallback: object/array check via from_json (pre-4.0)
        return F.from_json(c, "map<string,string>").isNull()


@register_expectation("expect_column_value_z_scores_to_be_less_than")
class ZScoresLessThan(ColumnMapExpectation):
    """Two-stage: mean/stddev from the stage-1 bundle feed a stage-2 fused
    aggregate (ref: column_map_metrics/column_value_z_scores.py has the same
    aggregate dependency, resolved over two engine round-trips)."""

    metric_name = "column_values.z_score"

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        from .base import domain_col  # local import to avoid cycle noise

        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        threshold = float(cfg.kwargs["threshold"])
        double_sided = bool(cfg.kwargs.get("double_sided", True))
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ec_ref = ctx.element_count(dk, dom)
        nn_ref = ctx.nonnull_count(column, dk, dom)
        dc = domain_col(dom, column)
        mean_ref = ctx.agg("column.mean", dk, column, lambda: F.avg(dc))
        std_ref = ctx.agg("column.standard_deviation", dk, column, lambda: F.stddev_samp(dc))

        def zcond(bag: MetricBag) -> Column:
            mu = float(bag[mean_ref])
            sd = float(bag[std_ref]) or float("nan")
            z = (F.col(column) - F.lit(mu)) / F.lit(sd)
            bad = (F.abs(z) >= threshold) if double_sided else (z >= threshold)
            return ctx.guard(dom, F.col(column).isNotNull() & bad)

        uc_ref = ctx.agg2(
            "column_values.z_score.unexpected_count", dk,
            [column, threshold, double_sided],
            lambda bag: F.coalesce(F.sum(F.when(zcond(bag), 1).otherwise(0)), F.lit(0)),
        )
        rf = result_format_of(cfg, ctx.options)
        if rf != "BOOLEAN_ONLY":
            ctx.add_violation(
                ViolationSpec(index, cfg.expectation_type, column, zcond,
                              lambda bag: F.col(column))
            )
        return map_finalizer(cfg, rf, index, ec_ref, nn_ref,
                             lambda bag: bag[uc_ref])


@register_expectation("expect_column_values_to_be_unique")
class BeUnique(ColumnMapExpectation):
    """Duplicate detection via two-stage groupBy (NOT the reference's global
    window, ref: column_map_metrics/column_values_unique.py — a known skew
    hazard): `groupBy(col).count().filter(>1)`.  Catalyst's partial (map-side)
    aggregation collapses hot keys per partition before the shuffle, which is
    exactly the salting the north rule asks for.  Violation rows are recovered
    by broadcast-joining the (small, persisted, capped) duplicated-key set
    back against the violations scan — a map-side hash probe that keeps the
    plan small and codegen-friendly at any key count."""

    metric_name = "column_values.unique"

    def plan(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ec_ref = ctx.element_count(dk, dom)
        nn_ref = ctx.nonnull_count(column, dk, dom)
        rf = result_format_of(cfg, ctx.options)
        want_rows = rf != "BOOLEAN_ONLY" and ctx.options.collect_violations
        dup_ref = ctx.data(
            "column_values.unique.dups", dk, column,
            duplicate_keys(ctx, [column], dom, F.col(column).isNotNull(), want_rows))
        if want_rows:
            flag_key_set(ctx, cfg, index, f"__dup_{index}", [column], dup_ref,
                         lambda hit: ctx.guard(dom, hit), F.col(column))
        return map_finalizer(cfg, rf, index, ec_ref, nn_ref,
                             lambda bag: bag[dup_ref]["unexpected_count"])


class _Monotonic:
    """Shared impl for increasing/decreasing.

    Batch order is ill-defined on a distributed table (SURVEY.md §2.5): we
    require an explicit `order_by` kwarg at scale; without one we fall back to
    the file/partition order via monotonically_increasing_id (matches the
    reference's single-file batches).  Optional `partition_by` gives
    partition-local monotonicity via a keyed window.

    The GLOBAL check (no partition_by) is NOT a global `Window.orderBy` —
    that serializes the table through one task.  It is the token_shards
    two-phase shape instead (ops.py token_shards): range-bucket rows on
    the order column (numeric → approxQuantile boundaries + one hash
    exchange; else repartitionByRange), run the lag window per bucket
    (sort state = one bucket, spillable), and stitch bucket boundaries
    with a tiny per-bucket min_by/max_by aggregate (n_buckets rows on the
    driver).  Adjacent-pair semantics are identical: a cross-boundary
    inversion flags the first row of the later bucket, exactly the row
    the global lag would have flagged.  Ties in the order column are
    nondeterministic within a bucket, as they are for a global window;
    range bucketing keeps equal keys in one bucket so ties never span a
    boundary.
    """

    direction_increasing = True

    def plan_monotonic(self, ctx: MetricContext, cfg: ExpectationConfiguration, index: int) -> Finalizer:
        from pyspark.sql import Window

        column = cfg.kwargs["column"]
        require_columns(ctx, column)
        strictly = bool(cfg.kwargs.get("strictly", False))
        order_by = cfg.kwargs.get("order_by")
        partition_by = cfg.kwargs.get("partition_by")
        dk, dom = ctx.domain(cfg.kwargs.get("row_condition"))
        ec_ref = ctx.element_count(dk, dom)
        nn_ref = ctx.nonnull_count(column, dk, dom)
        inc = self.direction_increasing

        def _bad_vs_prev(prev):
            if inc:
                return (F.col(column) <= prev) if strictly else (F.col(column) < prev)
            return (F.col(column) >= prev) if strictly else (F.col(column) > prev)

        def metric(df) -> dict[str, Any]:
            d = df
            if dom is not None:
                d = d.filter(dom)
            d = d.filter(F.col(column).isNotNull())
            if order_by is None:
                d = d.withColumn("__ord", F.monotonically_increasing_id())
                ocol = "__ord"
            else:
                ocol = order_by

            if partition_by:
                w = Window.partitionBy(*partition_by).orderBy(ocol)
                badrows = d.withColumn("__bad", _bad_vs_prev(
                    F.lag(F.col(column)).over(w))).filter(
                    F.col("__bad").isNotNull() & F.col("__bad"))
                uc = badrows.count()
                sample = [r[column]
                          for r in badrows.select(column).limit(20).collect()]
                return {"unexpected_count": uc, "sample": sample}

            # global order: range-bucket, per-bucket lag, boundary stitch
            n_buckets = 32
            otype = d.schema[ocol].dataType.typeName() if ocol in d.columns \
                else "long"
            numeric = otype in ("byte", "short", "integer", "long",
                                "float", "double", "decimal")
            if numeric and n_buckets > 1:
                qs = [i / n_buckets for i in range(1, n_buckets)]
                bounds = sorted(set(d.stat.approxQuantile(ocol, qs, 0.001)))
                bucket = F.lit(0)
                for j, bnd in enumerate(bounds):
                    bucket = F.when(F.col(ocol) > F.lit(bnd),
                                    F.lit(j + 1)).otherwise(bucket)
                ranged = d.withColumn("__pid", bucket).repartition(
                    max(1, len(bounds) + 1), "__pid")
            else:
                ranged = (d.repartitionByRange(n_buckets, F.col(ocol))
                          .withColumn("__pid", F.spark_partition_id()))
            w = Window.partitionBy("__pid").orderBy(ocol)
            badrows = ranged.withColumn("__bad", _bad_vs_prev(
                F.lag(F.col(column)).over(w))).filter(
                F.col("__bad").isNotNull() & F.col("__bad"))
            uc = badrows.count()
            sample = [r[column]
                      for r in badrows.select(column).limit(20).collect()]
            # boundary pairs: (last value of bucket i, first value of i+1)
            edges = ranged.groupBy("__pid").agg(
                F.min_by(F.col(column), F.col(ocol)).alias("__first"),
                F.max_by(F.col(column), F.col(ocol)).alias("__last"),
            ).collect()
            edges.sort(key=lambda r: r["__pid"])
            for lo, hi in zip(edges, edges[1:]):
                a, b = lo["__last"], hi["__first"]
                bad = (a >= b if strictly else a > b) if inc else \
                      (a <= b if strictly else a < b)
                if bad:
                    uc += 1
                    if len(sample) < 20:
                        sample.append(b)
            return {"unexpected_count": uc, "sample": sample}

        m_ref = ctx.data(
            f"column_values.{'increasing' if inc else 'decreasing'}", dk,
            [column, strictly, order_by, partition_by], metric,
        )
        return map_finalizer(
            cfg, result_format_of(cfg, ctx.options), index, ec_ref, nn_ref,
            lambda bag: bag[m_ref]["unexpected_count"],
            lists=lambda bag: {"partial_unexpected_list": bag[m_ref]["sample"]})


@register_expectation("expect_column_values_to_be_increasing")
class BeIncreasing(_Monotonic):
    direction_increasing = True

    def plan(self, ctx, cfg, index):
        return self.plan_monotonic(ctx, cfg, index)


@register_expectation("expect_column_values_to_be_decreasing")
class BeDecreasing(_Monotonic):
    direction_increasing = False

    def plan(self, ctx, cfg, index):
        return self.plan_monotonic(ctx, cfg, index)


# ---------------------------------------------------------------------------
# JSON-schema matching (ref upstream: per-row Python UDF running jsonschema;
# ours: Arrow-batched pandas UDF — the jsonschema lib if present, else a
# self-contained subset validator: type / properties / required / items /
# enum / minimum / maximum)
# ---------------------------------------------------------------------------


def _mini_validate(obj: Any, schema: dict) -> bool:
    t = schema.get("type")
    if t is not None:
        type_map = {
            "object": dict, "array": list, "string": str,
            "number": (int, float), "integer": int, "boolean": bool,
        }
        if t == "null":
            if obj is not None:
                return False
        elif t in type_map:
            if not isinstance(obj, type_map[t]) or (
                t in ("number", "integer") and isinstance(obj, bool)
            ):
                return False
    if "enum" in schema and obj not in schema["enum"]:
        return False
    if isinstance(obj, (int, float)) and not isinstance(obj, bool):
        if "minimum" in schema and obj < schema["minimum"]:
            return False
        if "maximum" in schema and obj > schema["maximum"]:
            return False
    if isinstance(obj, dict):
        for req in schema.get("required", []):
            if req not in obj:
                return False
        for k, sub in schema.get("properties", {}).items():
            if k in obj and not _mini_validate(obj[k], sub):
                return False
    if isinstance(obj, list) and "items" in schema:
        if not all(_mini_validate(x, schema["items"]) for x in obj):
            return False
    return True


def _json_schema_ok(s: str | None, schema: dict) -> bool | None:
    import json as _json

    if s is None:
        return None
    try:
        obj = _json.loads(s)
    except (ValueError, TypeError):
        return False
    try:
        import jsonschema  # type: ignore

        try:
            jsonschema.validate(obj, schema)
            return True
        except jsonschema.ValidationError:
            return False
    except ImportError:
        return _mini_validate(obj, schema)


@register_expectation("expect_column_values_to_match_json_schema")
class MatchJsonSchema(ColumnMapExpectation):
    metric_name = "column_values.match_json_schema"

    def unexpected_condition(self, cfg, ctx) -> Column:
        from ..row_udf import pandas_udf

        schema = cfg.kwargs["json_schema"]

        @pandas_udf("boolean")
        def ok(s: pd.Series) -> pd.Series:
            return s.map(lambda v: _json_schema_ok(v, schema))

        return ~F.coalesce(ok(F.col(cfg.kwargs["column"])), F.lit(False))
