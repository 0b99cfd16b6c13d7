"""Golden digests for the map-expectation layer: every map family's
result and the plan it compiles to.

One suite covers the seven map finalizers (base column map with
row_condition and mostly, z-score, be_unique, be_increasing with
order_by, column pair, multicolumn sum, compound unique, exist_in_table
broadcast and salted) plus a poison regex that finalizes as an
exception result.  It runs at every result_format tier and once with
collect_violations=False.  A second suite runs the aggregate results
(column aggregates, distinct sets in exact and sketch mode, modes, type
and table checks) at BOOLEAN_ONLY and BASIC.  Per run two digests are
pinned:

- results: each EVR's JSON, with the exception reduced to its type
  (message and traceback carry JVM detail);
- plan: the metric keys of the stage-1, stage-2, observation and data
  metrics, each violation spec's (exp_index, exp_type, column) and the
  membership-flag join names, in registration order.

`python tests/test_map_results.py` prints fresh digests (regenerate only
after an intended result or plan change)."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import EngineOptions, ExpectationSuite  # noqa: E402
from gx_spark.executor import ValidationRun  # noqa: E402

SCHEMA = ("id int, a int, s string, x double, m int, p int, q int, "
          "n1 int, n2 int, n3 int, k1 int, k2 string, fk int")


def _rows():
    rows = []
    for i in range(30):
        rows.append((
            i,
            None if i % 9 == 4 else i % 7,
            None if i % 11 == 5 else ("zz%d" % i if i % 6 == 1 else "ab%d" % i),
            500.0 if i == 17 else float(i),
            i - 3 if i in (8, 21) else i,
            i,
            None if i % 10 == 3 else (i + 1 if i % 8 == 2 else i),
            i % 4, 10 - i % 4 - (i % 13 == 6), 0 if i != 25 else None,
            i % 12, "k" if i % 5 else None,
            None if i == 2 else (90 + i % 3 if i % 7 == 0 else i % 10),
        ))
    return rows


def _suite() -> ExpectationSuite:
    return (
        ExpectationSuite("map_results")
        .add("expect_column_values_to_not_be_null", column="a")
        .add("expect_column_values_to_be_in_set", column="a",
             value_set=[0, 1, 2, 3], row_condition="id < 20",
             condition_parser="spark", mostly=0.5)
        .add("expect_column_values_to_be_between", column="x",
             min_value=0, max_value=100, mostly=0.9)
        .add("expect_column_values_to_match_regex", column="s", regex="^ab")
        .add("expect_column_value_z_scores_to_be_less_than", column="x",
             threshold=2)
        .add("expect_column_values_to_be_unique", column="a")
        .add("expect_column_values_to_be_unique", column="k1",
             row_condition="id >= 10", condition_parser="spark", mostly=0.1)
        .add("expect_column_values_to_be_increasing", column="m",
             order_by="id")
        .add("expect_column_pair_values_to_be_equal", column_A="p",
             column_B="q")
        .add("expect_multicolumn_sum_to_equal", column_list=["n1", "n2", "n3"],
             sum_total=10)
        .add("expect_compound_columns_to_be_unique", column_list=["k1", "k2"])
        .add("expect_column_values_to_exist_in_table", column="fk",
             other_table_name="dim", other_column="dk")
        .add("expect_column_values_to_exist_in_table", column="fk",
             other_table_name="dim", other_column="dk",
             dim_strategy="salted", salt_buckets=4)
        .add("expect_column_values_to_match_regex", column="s", regex="(")
    )


def _agg_suite() -> ExpectationSuite:
    return (
        ExpectationSuite("agg_results")
        .add("expect_column_mean_to_be_between", column="x", min_value=0,
             max_value=30)
        .add("expect_column_proportion_of_unique_values_to_be_between",
             column="a", min_value=0.1, max_value=0.5)
        .add("expect_column_quantile_values_to_be_between", column="x",
             quantile_ranges={"quantiles": [0.25, 0.5],
                              "value_ranges": [[0, 10], [10, 20]]})
        .add("expect_column_distinct_values_to_be_in_set", column="a",
             value_set=[0, 1, 2, 3, 4, 5, 6])
        .add("expect_column_distinct_values_to_contain_set", column="k1",
             value_set=[0, 11, 12], row_condition="id < 20",
             condition_parser="spark")
        .add("expect_column_most_common_value_to_be_in_set", column="k1",
             value_set=[0, 1], ties_okay=True)
        .add("expect_column_values_to_be_of_type", column="s",
             type_="StringType")
        .add("expect_table_row_count_to_be_between", min_value=10,
             max_value=20)
    )


def _opts(rf, **kw):
    return EngineOptions(result_format=rf, unexpected_index_column_names=("id",),
                         **kw)


RUNS = {rf: (_suite, _opts(rf))
        for rf in ("BOOLEAN_ONLY", "BASIC", "SUMMARY", "COMPLETE")}
RUNS["COMPLETE_no_violations"] = (
    _suite, _opts("COMPLETE", collect_violations=False))
RUNS["aggregates_BOOLEAN_ONLY"] = (_agg_suite, _opts("BOOLEAN_ONLY"))
RUNS["aggregates_BASIC"] = (_agg_suite, _opts("BASIC"))
RUNS["aggregates_sketch"] = (_agg_suite, _opts("BASIC", mode="sketch"))

GOLDEN = {
    'BOOLEAN_ONLY': {'results': '4f1caf9a0378ab41c4a80c47e141dbb1', 'plan': '87021d01ea18153b58f434dc18d636ab'},
    'BASIC': {'results': '22b045d88c9252bae48d21bd46e3cdc4', 'plan': 'e7d161ca3405b7b446fee990eb70d314'},
    'SUMMARY': {'results': 'bd3ed10484912b84410d8ac8c695b4c6', 'plan': 'e7d161ca3405b7b446fee990eb70d314'},
    'COMPLETE': {'results': '92a8f31ced6769074f0fd5297c03ec09', 'plan': 'e7d161ca3405b7b446fee990eb70d314'},
    'COMPLETE_no_violations': {'results': '1fbd13523925de2881b74c50c7626022', 'plan': '87021d01ea18153b58f434dc18d636ab'},
    'aggregates_BOOLEAN_ONLY': {'results': 'beccdd15abb4c8888db76fa5d60b7c66', 'plan': 'a6dd0ab5b6abc87e6095adb78e3fcf89'},
    'aggregates_BASIC': {'results': 'a5f0f63650d9ec4fba452a7ade40b633', 'plan': 'a6dd0ab5b6abc87e6095adb78e3fcf89'},
    'aggregates_sketch': {'results': 'd993f0954fe29ac445b67c3e07d288f8', 'plan': '77b18d58f95786f295de55c37bbcc306'},
}


def _md5(obj) -> str:
    return hashlib.md5(json.dumps(obj, sort_keys=True, default=str)
                       .encode()).hexdigest()


def _result_json(evr) -> dict:
    d = evr.to_dict()
    info = d["exception_info"]
    msg = info.get("exception_message")
    d["exception_info"] = {
        "raised_exception": info["raised_exception"],
        "exception_type": msg.split(":", 1)[0] if msg else None,
    }
    return d


def _plan(ctx) -> dict:
    return {
        "stage1": list(ctx._stage1),
        "stage2": list(ctx._stage2),
        "observe": list(ctx._observe),
        "data": list(ctx._data),
        "violations": [(v.exp_index, v.exp_type, v.column)
                       for v in ctx.violations],
        "flag_joins": [name for name, _, _ in ctx._flag_joins],
    }


def digests(spark, name: str) -> dict:
    df = spark.createDataFrame(_rows(), SCHEMA)
    dim = spark.createDataFrame([(k,) for k in range(10)], "dk int")
    suite, options = RUNS[name]
    run = ValidationRun(spark, suite(), options, tables={"dim": dim})
    ctx, _, _ = run.compile(df)
    bundle = run.validate(df)
    try:
        results = [_result_json(r) for r in bundle.suite_result.results]
    finally:
        bundle.unpersist()
    return {"results": _md5(results), "plan": _md5(_plan(ctx))}


@pytest.mark.parametrize("name", list(RUNS))
def test_map_results_digest(spark, name):
    assert digests(spark, name) == GOLDEN[name]


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    print("GOLDEN = {")
    for name in RUNS:
        print(f"    {name!r}: {digests(spark, name)!r},")
    print("}")
    spark.stop()
