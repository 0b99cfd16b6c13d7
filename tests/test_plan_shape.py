"""Plan-shape tests (SURVEY.md §5): the physical plans must have the shape
the 100 TB design depends on — binary off every shuffle, one fused aggregate
pair, pruned scans."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from gx_spark import EngineOptions, ExpectationSuite  # noqa: E402
from gx_spark.plancheck import (  # noqa: E402
    compile_suite,
    count_nodes,
    exchange_sections,
    formatted_plan,
    read_schemas,
    stage1_df,
    violations_df,
)
from gx_spark.suites import audio_suite  # noqa: E402


def test_bytes_never_in_exchange_and_single_agg_pair(spark, audio_dir):
    df = spark.read.parquet(f"{audio_dir}/audio_clips.parquet")
    # audio suite minus the data-metric expectation (unique) so the fused agg
    # plan stands alone
    suite = ExpectationSuite(
        "a",
        [e for e in audio_suite().expectations
         if e.expectation_type != "expect_column_values_to_be_unique"],
    )
    ctx = compile_suite(spark, df, suite)
    plan = formatted_plan(stage1_df(ctx))
    exchanges = exchange_sections(plan)
    assert exchanges, "expected the partial->final agg exchange"
    for ex in exchanges:
        assert "bytes" not in ex, f"binary column entered a shuffle:\n{ex}"
    # one partial+final pair over one scan: exactly 2 aggregates, 1 exchange
    n_agg = (count_nodes(plan, "HashAggregate")
             + count_nodes(plan, "ObjectHashAggregate")
             + count_nodes(plan, "SortAggregate"))
    assert n_agg == 2, plan
    assert len(exchanges) == 1, plan
    assert count_nodes(plan, "Scan parquet") == 1, plan


def test_violations_pass_is_map_only(spark, audio_dir):
    df = spark.read.parquet(f"{audio_dir}/audio_clips.parquet")
    suite = ExpectationSuite(
        "a",
        [e for e in audio_suite().expectations
         if e.expectation_type != "expect_column_values_to_be_unique"],
    )
    ctx = compile_suite(
        spark, df, suite, EngineOptions(unexpected_index_column_names=("clip_id",))
    )
    plan = formatted_plan(violations_df(ctx))
    assert "Exchange" not in plan, f"violations pass must not shuffle:\n{plan}"


def test_column_pruning_reaches_scan(spark, tmp_path):
    # a 2-column suite over a 7-column table must scan only those 2 columns
    path = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr(
        "id", "id * 2 as a", "id * 3 as b", "cast(id as string) as c",
        "id * 5 as d", "id * 6 as e", "id * 7 as f"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    suite = (
        ExpectationSuite("prune")
        .add("expect_column_values_to_not_be_null", column="a")
        .add("expect_column_mean_to_be_between", column="b", min_value=0)
    )
    ctx = compile_suite(spark, df, suite)
    plan = formatted_plan(stage1_df(ctx))
    schemas = read_schemas(plan)
    assert schemas, plan
    for s in schemas:
        assert "a" in s and "b" in s
        for col in ("c", "d", "e", "f"):
            assert f"{col}:" not in s, f"unpruned column {col}: {s}"


def test_predicate_pushdown_from_row_condition(spark, tmp_path):
    path = str(tmp_path / "t2.parquet")
    spark.range(1000).selectExpr("id", "id % 7 as grp").write.parquet(path)
    df = spark.read.parquet(path)
    suite = ExpectationSuite("pp").add(
        "expect_column_mean_to_be_between", column="id", min_value=0,
        row_condition="grp = 3",
    )
    ctx = compile_suite(spark, df, suite)
    plan = formatted_plan(stage1_df(ctx))
    # domain folding keeps a single scan (no per-domain scans) feeding one
    # partial+final aggregate pair; the when(grp=3, …) conditionals live
    # inside the aggregate expressions, not a separate filtered subplan
    assert count_nodes(plan, "Scan parquet") == 1
    assert count_nodes(plan, "HashAggregate") == 2
    schemas = read_schemas(plan)
    assert any("grp" in s for s in schemas), schemas


def test_image_suite_plan_shape(spark, tmp_path):
    """The image layer must preserve the audio invariants: the binary column
    never enters an Exchange, the stage-1 agg is one partial/final pair that
    never decodes, and the violations pass is map-only."""
    import sys as _sys

    _sys.path.insert(0, REPO)
    from gx_spark import image as gim

    path = str(tmp_path / "imgs.parquet")
    rows = []
    for i in range(50):
        b = gim.raw_encode(gim.synth_image(f"i{i}", 16, 16))
        rows.append((f"i{i}", bytearray(b), 16, 16, 3, "gxraw"))
    spark.createDataFrame(
        rows,
        "img_id string, bytes binary, width int, height int, channels int, format string",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    suite = (
        ExpectationSuite("img")
        .add("expect_image_metadata_to_be_consistent")
        .add("expect_image_mean_intensity_to_be_between",
             min_value=0.0, max_value=255.0)
        .add("expect_column_values_to_not_be_null", column="img_id")
    )
    ctx = compile_suite(
        spark, df, suite, EngineOptions(unexpected_index_column_names=("img_id",))
    )
    s1 = formatted_plan(stage1_df(ctx))
    for ex in exchange_sections(s1):
        assert "bytes" not in ex, f"binary column entered a shuffle:\n{ex}"
    # the stage-1 agg never runs the decode UDF (Catalyst prunes __image)
    assert "ArrowEvalPython" not in s1 and "image_flags" not in s1, s1
    vplan = formatted_plan(violations_df(ctx))
    assert "Exchange" not in vplan, f"violations pass must not shuffle:\n{vplan}"
    assert "ArrowEvalPython" in vplan or "EvalPython" in vplan  # decode lives here
    # the flags UDF is named after its row function, so the check above
    # that it is absent from stage 1 is not vacuous
    assert "_image_flags_row" in vplan, vplan


def test_audio_suite_over_iceberg_read_keeps_binary_off_shuffles(
        spark, audio_dir, tmp_path):
    """The bench/scaling jobs read the audio table THROUGH Iceberg-lite
    (north rule); the plan invariants must hold on that path too: binary
    off every exchange, one fused partial/final agg pair, one scan."""
    from gx_spark.iceberg import IcebergLiteTable

    t = IcebergLiteTable.create_from_parquet(
        str(tmp_path / "audio_ice"), f"{audio_dir}/audio_clips.parquet")
    df = t.read(spark)
    suite = ExpectationSuite(
        "a",
        [e for e in audio_suite().expectations
         if e.expectation_type != "expect_column_values_to_be_unique"],
    )
    ctx = compile_suite(spark, df, suite)
    plan = formatted_plan(stage1_df(ctx))
    for ex in exchange_sections(plan):
        assert "bytes" not in ex, f"binary column entered a shuffle:\n{ex}"
    n_agg = (count_nodes(plan, "HashAggregate")
             + count_nodes(plan, "ObjectHashAggregate")
             + count_nodes(plan, "SortAggregate"))
    assert n_agg == 2, plan
    assert count_nodes(plan, "Scan parquet") == 1, plan
    # column pruning still reaches the scan: the fused agg reads no bytes
    assert all("bytes" not in rs for rs in read_schemas(plan)), plan


def test_compile_suite_plans_ge_row_condition_like_validate(spark, audio_dir):
    """compile_suite plans through ValidationRun.compile, the loop
    validate() runs: a condition_parser="great_expectations" row_condition
    reaches the plan translated to Spark SQL, filtering the fused agg."""
    df = spark.read.parquet(f"{audio_dir}/audio_clips.parquet")
    suite = ExpectationSuite("a").add(
        "expect_column_values_to_be_between", column="dur_ms",
        min_value=0, max_value=100000, row_condition='col("sr_hz") > 16000',
        condition_parser="great_expectations")
    plan = formatted_plan(stage1_df(compile_suite(spark, df, suite)))
    assert "(sr_hz#" in plan and "> 16000)" in plan, plan
    assert count_nodes(plan, "Scan parquet") == 1, plan


def test_changelog_delete_legs_broadcast_never_sortmerge(spark, tmp_path):
    """changes() recovers equality-deleted rows via a BROADCAST semi-join
    of the (small) key set against the parent read, and positional pairs
    ride a broadcast inner join — neither delete leg may plan a
    SortMergeJoin that would shuffle the parent table."""
    from pyspark.sql import functions as F

    from gx_spark.iceberg import IcebergLiteTable

    base = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    t = IcebergLiteTable.create(str(tmp_path / "cdc"), base.schema)
    t.append(base.repartition(4))
    s0 = t.current_snapshot_id()
    t.equality_delete(
        spark, spark.createDataFrame([(i,) for i in range(50)], "k long"),
        ["k"])
    t.delete(spark, "k >= 990")
    ch = t.changes(spark, from_snapshot_id=s0)
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert ch.count() == 60


def test_delete_sets_broadcast_only_under_the_size_gate(
        spark, tmp_path, monkeypatch):
    """read() and changes() hint a broadcast of a delete set only while
    its files, as the manifests size them, sum below the 64 MiB gate;
    above it the plain join is left to AQE, and the rows are the same."""
    import dataclasses

    from pyspark.sql import functions as F

    from gx_spark.iceberg import IcebergLiteTable

    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    eq = IcebergLiteTable.create(str(tmp_path / "eq"), base.schema)
    eq.append(base.coalesce(1))
    s_eq = eq.current_snapshot_id()
    eq.equality_delete(
        spark, spark.createDataFrame([(1,), (2,)], "k long"), ["k"])
    pos = IcebergLiteTable.create(str(tmp_path / "pos"), base.schema)
    pos.append(base.coalesce(1))
    s_pos = pos.current_snapshot_id()
    pos.delete(spark, "k >= 15")

    def frames():
        return [eq.read(spark), pos.read(spark),
                eq.changes(spark, from_snapshot_id=s_eq),
                pos.changes(spark, from_snapshot_id=s_pos)]

    def hinted(df):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        return "ResolvedHint (strategy=broadcast)" in analyzed

    small = frames()
    assert all(hinted(df) for df in small)
    planned = IcebergLiteTable.plan_delete_files
    monkeypatch.setattr(
        IcebergLiteTable, "plan_delete_files",
        lambda self, *a, **kw: [
            dataclasses.replace(d, file_size_in_bytes=65 << 20)
            for d in planned(self, *a, **kw)])
    large = frames()
    assert not any(hinted(df) for df in large)
    for a, b in zip(small, large):
        assert sorted(a.collect()) == sorted(b.collect())


def test_iceberg_broadcasts_in_one_place():
    """Every delete join in gx_spark/iceberg.py goes through
    _join_delete_set, the one broadcast decision of the module."""
    import ast

    with open(os.path.join(REPO, "gx_spark", "iceberg.py")) as f:
        src = f.read()
    assert src.count("F.broadcast(") == 1
    helper = next(n for n in ast.walk(ast.parse(src))
                  if isinstance(n, ast.FunctionDef)
                  and n.name == "_join_delete_set")
    assert "F.broadcast(" in ast.get_source_segment(src, helper)


def _sources(top: str):
    for d, _, files in os.walk(os.path.join(REPO, top)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                with open(p) as f:
                    yield os.path.relpath(p, REPO), f.read()


def test_python_reaches_workers_through_row_udf_only():
    """gx_spark/row_udf.py is the one module that hands Python to Spark:
    every other module builds its pandas UDFs and mapInPandas passes
    through its guarded entry points, so the package zip is shipped
    before any UDF is wrapped.  Workers import gx_spark from that zip,
    so only the CLI entry point (run.py) edits sys.path, and the old
    per-UDF path wrapper stays gone."""
    import ast
    import re

    direct, path_edits = [], []
    for rel, src in _sources("gx_spark"):
        if "sys.path.insert" in src:
            path_edits.append(rel)
        if rel == os.path.join("gx_spark", "row_udf.py"):
            continue
        for node in ast.walk(ast.parse(src)):
            if (isinstance(node, ast.ImportFrom)
                    and not (node.module or "").endswith("row_udf")
                    and any(a.name == "pandas_udf" for a in node.names)):
                direct.append((rel, node.lineno, "import pandas_udf"))
            elif (isinstance(node, ast.Attribute)
                  and node.attr in ("pandas_udf", "mapInPandas")):
                direct.append((rel, node.lineno, node.attr))
    assert not direct, direct
    assert path_edits == [os.path.join("gx_spark", "run.py")], path_edits
    # split so this file does not match itself
    wrapper = re.compile(r"\b_on_" r"workers\b")
    assert not [rel for top in ("gx_spark", "tools", "tests", "perfbench")
                for rel, src in _sources(top) if wrapper.search(src)]


def test_map_results_built_in_base_only():
    """Every map expectation finalizes through expectations/base.py
    map_finalizer, so the map result builder and the mostly check are
    called there only, and the key-set checks share one cap."""
    import re

    calls = re.compile(r"\b(build_map_result|mostly_success)\(")
    sites = sorted({rel for rel, src in _sources("gx_spark")
                    for line in src.splitlines()
                    if calls.search(line) and not line.lstrip().startswith("def ")})
    assert sites == [os.path.join("gx_spark", "expectations", "base.py")], sites
    # split so this file does not match itself
    caps = re.compile(r"\b_(DUP_VALUE|DUP_KEY|MISSING_VALUE)" r"_CAP\b")
    assert not [rel for top in ("gx_spark", "tools", "tests", "perfbench")
                for rel, src in _sources(top) if caps.search(src)]


def test_vector_ops_share_one_front_end():
    """Every embedding and ANN op in gx_spark/ops.py fills its Arrow batch
    through _unit_rows and normalizes with the one _NORM_FLOOR, and the
    superseded LSH expression builder and empty-violations helper stay
    gone.  The patterns are split so this file does not match itself."""
    import ast

    with open(os.path.join(REPO, "gx_spark", "ops.py")) as f:
        src = f.read()
    assert "a.shape " "== (dim,)" not in src
    assert "1e-" "300" not in src
    fill = "zeros(" "(n, dim)"
    unit_rows = next(n for n in ast.parse(src).body
                     if isinstance(n, ast.FunctionDef)
                     and n.name == "_unit_rows")
    assert src.count(fill) == 1
    assert fill in ast.get_source_segment(src, unit_rows)
    dead = ("embedding_" "lsh_buckets", "empty_" "violations_df")
    sources = [s for top in ("gx_spark", "tests", "tools", "perfbench")
               for _, s in _sources(top)]
    for fn in ("bench.py", "__spark_entry__.py"):
        with open(os.path.join(REPO, fn)) as f:
            sources.append(f.read())
    assert not [d for d in dead for s in sources if d in s]


def test_incremental_runners_share_one_batch_step():
    """The checkpoint runner and the streaming sinks write every output
    through checkpoint.write_slice, flatten a bundle's results only in
    write_bundle, and start every streaming query through one _start."""
    import ast

    def source(name):
        with open(os.path.join(REPO, "gx_spark", name)) as f:
            return f.read()

    def body(src, fn):
        node = next(n for n in ast.walk(ast.parse(src))
                    if isinstance(n, ast.FunctionDef) and n.name == fn)
        return ast.get_source_segment(src, node)

    ckpt, stream = source("checkpoint.py"), source("streaming.py")
    for needle, fn in ((".write.mode(", "write_slice"),
                       ("results_df(", "write_bundle")):
        assert stream.count(needle) == 0, needle
        assert ckpt.count(needle) == 1, needle
        assert needle in body(ckpt, fn), needle
    assert stream.count("availableNow") == 1
    assert "availableNow" in body(stream, "_start")
