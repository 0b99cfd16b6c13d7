"""Plan-shape assertions (SURVEY.md §4: 'the only plan-aware code we write').

Test-time helpers that compile a suite the same way the executor does and
expose the physical plans of the two fused passes, so tests can assert:

- the BinaryType `bytes` column never appears in any Exchange (it is scanned
  and decoded map-side; only tiny partial-agg rows / violation structs move)
- the fused agg pass is ONE partial+final aggregate pair over one scan
- column pruning reaches the parquet scan (ReadSchema carries only the
  columns the suite touches)

Never used in the execution path.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .executor import ValidationRun
from .model import EngineOptions, ExpectationSuite
from .planner import MetricBag, MetricContext
from .violations import build_violations_df


def compile_suite(
    spark: SparkSession,
    df: DataFrame,
    suite: ExpectationSuite,
    options: EngineOptions | None = None,
    tables: dict[str, DataFrame] | None = None,
) -> MetricContext:
    """The suite planned exactly as validate() plans it; a planning error
    raises instead of becoming an exception EVR."""
    ctx, finalizers, _ = ValidationRun(spark, suite, options, tables).compile(df)
    for _cfg, fin in finalizers:
        if isinstance(fin, BaseException):
            raise fin
    return ctx


def stage1_df(ctx: MetricContext) -> DataFrame:
    exprs = [b().alias(k) for k, b in ctx._stage1.items()]
    return ctx.base_df().agg(*exprs)


def violations_df(ctx: MetricContext, resolve: bool = True) -> DataFrame:
    bag = MetricBag()
    if resolve:
        ctx.resolve(bag)
    return build_violations_df(
        ctx.base_df(), ctx.violations, bag, ctx.options.unexpected_index_column_names
    )


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def exchange_sections(plan: str) -> list[str]:
    """Text of each Exchange node's detail block in a formatted plan."""
    sections = re.split(r"\n\(\d+\) ", plan)
    return [s for s in sections if s.startswith("Exchange")]


def read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: (.+)", plan)


def count_nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"\(\d+\) {name}", plan))
