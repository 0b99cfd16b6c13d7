"""Suite planner: deduplicated metric plan → fused physical plan.

Re-creates the reference's two optimizer mechanisms (SURVEY.md §4.1–4.2) at
plan-build time, in Spark-native form:

1. **Metric deduplication** (ref: validator/validation_graph.py +
   core/id_dict.py#IDDict.to_id): every metric is keyed by a canonical id of
   (metric_name, domain, value kwargs); expectations sharing a metric get the
   same plan node.

2. **Aggregate bundling** (ref: sparkdf_execution_engine.py
   #resolve_metric_bundle): ALL bundleable aggregates of the whole suite —
   across every row_condition domain — are fused into ONE `df.agg(...)`.
   Row-condition domains are folded into each aggregate as
   `F.xxx(F.when(domain, col))` so a suite with many domains still costs a
   single scan.  Catalyst executes this as one partial (per-partition) +
   final (merge) HashAggregate pair — the DataFrame-level equivalent of a
   `treeAggregate` sketch merge.

Stages:
  stage1   — fused aggregate pass (one Spark job, no `bytes` column)
  stage2   — aggregates depending on stage1 values (z-scores), fused likewise
  data     — metrics that need their own shape (groupBy value_counts,
             duplicate detection, table joins); each its own job
  violations — one map-only pass building violation rows for ALL map
             expectations at once (violations.py)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .model import EngineOptions, metric_id


@dataclass(frozen=True)
class MetricRef:
    key: str


class MetricResolutionError(Exception):
    """A metric failed to resolve at runtime (degraded per-metric pass);
    reading it from the bag re-raises so the owning expectation finalizes as
    an exception EVR while the rest of the suite completes."""


class MetricBag:
    """Resolved metric values keyed by metric id."""

    def __init__(self) -> None:
        self._values: dict[str, Any] = {}
        self._errors: dict[str, BaseException] = {}

    def put(self, key: str, value: Any) -> None:
        self._values[key] = value

    def put_error(self, key: str, exc: BaseException) -> None:
        self._errors[key] = exc

    def __getitem__(self, ref: "MetricRef | str") -> Any:
        key = ref.key if isinstance(ref, MetricRef) else ref
        if key in self._errors:
            e = self._errors[key]
            raise MetricResolutionError(f"{type(e).__name__}: {e}") from e
        return self._values[key]

    def get(self, ref: "MetricRef | str", default: Any = None) -> Any:
        key = ref.key if isinstance(ref, MetricRef) else ref
        return self._values.get(key, default)


@dataclass
class ViolationSpec:
    """One map-expectation's contribution to the fused violations pass."""

    exp_index: int
    exp_type: str
    column: str
    # () -> Column (boolean: row is unexpected, already includes domain+null
    # guards).  Deferred so stage1/stage2-dependent conditions (z-score) can
    # close over resolved metric values.
    condition: Callable[[MetricBag], Column]
    # value expression for the observed (offending) value
    observed: Callable[[MetricBag], Column]


class MetricContext:
    """Collects deduplicated metric requests while planning a suite."""

    def __init__(
        self,
        df: DataFrame,
        options: EngineOptions,
        tables: dict[str, DataFrame] | None = None,
    ) -> None:
        self.df = df
        self.options = options
        self.tables = tables or {}
        self.schema = df.schema
        self.columns = set(df.columns)
        # stage1: key -> Column builder
        self._stage1: dict[str, Callable[[], Column]] = {}
        # observe: aggregates computed as Observation metrics ON the fused
        # violations pass (free-riding its scan).  Used for denominators of
        # expensive map conditions (audio) so the stage-1 agg never reads
        # the binary column at all.
        self._observe: dict[str, Callable[[], Column]] = {}
        # stage2: key -> builder taking resolved stage1 bag
        self._stage2: dict[str, Callable[[MetricBag], Column]] = {}
        # data metrics: key -> fn(df) -> value
        self._data: dict[str, Callable[[DataFrame], Any]] = {}
        self.violations: list[ViolationSpec] = []
        # membership-flag joins: violation recovery for group-derived keys
        # (duplicates, missing FKs) joins the SMALL key DataFrame back against
        # the scan as a broadcast left join — a map-side probe that scales,
        # instead of a driver-built isin(<=100k literals) expression that
        # breaks codegen (flag_name, key_cols, fn(bag)->small DF|None)
        self._flag_joins: list[tuple[str, list[str], Callable[["MetricBag"], DataFrame | None]]] = []
        # small helper DataFrames persisted during the run (dup-key sets);
        # released by release_aux() once the violations DF is materialized
        self._aux_persisted: list[DataFrame] = []
        self._domains: dict[str, Column | None] = {}
        # derived columns (e.g. the audio-flags struct from the pandas UDF):
        # added to the projection of BOTH the fused agg pass and the fused
        # violations pass, so expensive per-row work (binary decode) happens
        # exactly once per pass, map-side, and never enters a shuffle.
        self.derived: dict[str, Column] = {}
        # the decode-level params each derived column was built with (the
        # expectations sharing it must agree on them)
        self.derived_params: dict[str, Any] = {}

    # ---- domain handling -------------------------------------------------

    def domain(self, row_condition: str | None) -> tuple[str, Column | None]:
        """Return (domain_key, filter Column|None) for a row_condition SQL
        string.  Catalyst parses the SQL verbatim (condition_parser="spark",
        ref: sparkdf_execution_engine.py#get_domain_records)."""
        key = row_condition or ""
        if key not in self._domains:
            self._domains[key] = F.expr(row_condition) if row_condition else None
        return key, self._domains[key]

    @staticmethod
    def guard(dom: Column | None, cond: Column) -> Column:
        return cond if dom is None else (dom & cond)

    # ---- metric registration (deduplicated) ------------------------------

    def agg(self, name: str, domain_key: str, value_kwargs: Any, builder: Callable[[], Column]) -> MetricRef:
        key = metric_id(name, domain_key, value_kwargs)
        if key not in self._stage1:
            self._stage1[key] = builder
        return MetricRef(key)

    def observe_metric(self, name: str, domain_key: str, value_kwargs: Any, builder: Callable[[], Column]) -> MetricRef:
        key = metric_id("obs", name, domain_key, value_kwargs)
        if key not in self._observe:
            self._observe[key] = builder
        return MetricRef(key)

    def agg2(self, name: str, domain_key: str, value_kwargs: Any, builder: Callable[[MetricBag], Column]) -> MetricRef:
        key = metric_id("s2", name, domain_key, value_kwargs)
        if key not in self._stage2:
            self._stage2[key] = builder
        return MetricRef(key)

    def data(self, name: str, domain_key: str, value_kwargs: Any, fn: Callable[[DataFrame], Any]) -> MetricRef:
        key = metric_id("data", name, domain_key, value_kwargs)
        if key not in self._data:
            self._data[key] = fn
        return MetricRef(key)

    def add_violation(self, spec: ViolationSpec) -> None:
        if self.options.collect_violations:
            self.violations.append(spec)

    def base_df(self) -> DataFrame:
        df = self.df
        for name, col in self.derived.items():
            df = df.withColumn(name, col)
        return df

    def membership_flag(
        self,
        flag_name: str,
        key_cols: list[str],
        fn: Callable[["MetricBag"], DataFrame | None],
    ) -> Column:
        """Register a broadcast membership probe for the violations pass and
        return the boolean flag Column to use in a ViolationSpec condition.
        `fn(bag)` returns the small key DataFrame (columns == key_cols) or
        None/empty for 'no members'."""
        self._flag_joins.append((flag_name, list(key_cols), fn))
        return F.coalesce(F.col(flag_name), F.lit(False))

    def aux_persist(self, df: DataFrame) -> DataFrame:
        out = df.persist()
        self._aux_persisted.append(out)
        return out

    def release_aux(self) -> None:
        for df in self._aux_persisted:
            df.unpersist()
        self._aux_persisted.clear()

    def flagged_df(self, bag: "MetricBag") -> DataFrame:
        """base_df plus the membership-flag columns: each registered key set
        is broadcast and LEFT-joined (null-safe on every key column) — a
        map-side hash probe, no shuffle of the scan side."""
        df = self.base_df()
        for flag_name, key_cols, fn in self._flag_joins:
            try:
                small = fn(bag)
            except Exception:
                # the producing data metric errored — its expectation will
                # finalize as an exception EVR; keep the violations pass alive
                small = None
            if small is None:
                df = df.withColumn(flag_name, F.lit(False))
                continue
            renamed = [f"__k_{flag_name}_{i}" for i in range(len(key_cols))]
            probe = small.toDF(*renamed).withColumn(flag_name, F.lit(True))
            on = None
            for kc, rn in zip(key_cols, renamed):
                clause = df[kc].eqNullSafe(probe[rn])
                on = clause if on is None else (on & clause)
            df = df.join(F.broadcast(probe), on, "left").drop(*renamed)
        return df

    # ---- common shared metrics ------------------------------------------

    def element_count(self, domain_key: str, dom: Column | None) -> MetricRef:
        if dom is None:
            return self.agg("table.row_count", "", None, lambda: F.count(F.lit(1)))
        return self.agg(
            "table.row_count",
            domain_key,
            None,
            lambda: F.coalesce(F.sum(F.when(dom, 1).otherwise(0)), F.lit(0)),
        )

    def nonnull_count(self, column: str, domain_key: str, dom: Column | None) -> MetricRef:
        cond = self.guard(dom, F.col(column).isNotNull())
        return self.agg(
            "column_values.nonnull.count",
            domain_key,
            column,
            lambda: F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)),
        )

    def unexpected_count(
        self,
        metric_name: str,
        column_key: Any,
        domain_key: str,
        value_kwargs: Any,
        cond: Column,
    ) -> MetricRef:
        """Bundleable `sum(when(unexpected, 1))` — the Spark-native form of the
        reference's `_spark_map_condition_unexpected_count_aggregate_fn`."""
        return self.agg(
            f"{metric_name}.unexpected_count",
            domain_key,
            [column_key, value_kwargs],
            lambda: F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)),
        )

    # ---- execution -------------------------------------------------------

    def _fused_agg(self, base: DataFrame, items: dict[str, Callable], bag: MetricBag,
                   takes_bag: bool) -> None:
        """ONE fused df.agg for all metrics of a stage; if the fused job fails
        at runtime (one poison expression, e.g. an invalid regex), degrade to
        per-metric aggs so the poison is isolated to its own expectation as a
        MetricResolutionError instead of aborting the whole suite."""
        def build(b):
            return b(bag) if takes_bag else b()

        exprs = []
        for k, b in items.items():
            try:
                exprs.append((k, build(b).alias(k)))
            except Exception as exc:  # expression-construction failure
                bag.put_error(k, exc)
        if not exprs:
            return
        try:
            row = base.agg(*[e for _, e in exprs]).collect()[0]
            for k, _ in exprs:
                bag.put(k, row[k])
        except Exception:
            for k, e in exprs:
                try:
                    row = base.agg(e).collect()[0]
                    bag.put(k, row[k])
                except Exception as exc:
                    bag.put_error(k, exc)

    def resolve(self, bag: MetricBag) -> None:
        """Run the physical plan: fused stage1 agg, fused stage2 agg, then
        per-metric data jobs.  Failures are isolated per metric (degraded
        per-metric re-run for the fused stages) — the catch_exceptions
        contract: a runtime error becomes an exception EVR for its owning
        expectation(s), never a suite abort."""
        base = self.base_df()
        if self._stage1:
            self._fused_agg(base, self._stage1, bag, takes_bag=False)
        if self._stage2:
            self._fused_agg(base, self._stage2, bag, takes_bag=True)
        for k, fn in self._data.items():
            try:
                bag.put(k, fn(self.df))
            except Exception as exc:
                bag.put_error(k, exc)

    @property
    def has_stage1(self) -> bool:
        return bool(self._stage1)
