"""Verify script (round 5): drive the engine end-to-end over real testdata
parquet + exercise the new Iceberg merge_into / refs / meta_df surface, and
cross-check with DuckDB.  Run: python tools/verify_r5_iceberg.py"""
import os, sys, tempfile, shutil

# this checkout's root, so a copy of the repo checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName("verify_r5").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

SF = "/root/testdata/sf0.001"
import gx_spark
from gx_spark.iceberg import IcebergLiteTable

# --- 1. end-to-end validate() over real parquet -------------------------
orders = spark.read.parquet(f"{SF}/orders.parquet")
from gx_spark.model import ExpectationSuite
suite = ExpectationSuite.from_dict({
    "name": "verify_r5",
    "expectations": [
        {"expectation_type": "expect_column_values_to_not_be_null",
         "kwargs": {"column": "o_custkey"}},
        {"expectation_type": "expect_column_values_to_be_unique",
         "kwargs": {"column": "o_orderkey"}},
        {"expectation_type": "expect_column_mean_to_be_between",
         "kwargs": {"column": "o_totalprice", "min_value": 0,
                    "max_value": 10**7}},
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 1, "max_value": 10**9}},
    ],
})
bundle = gx_spark.validate(spark, orders, suite)
obs_mean = None
for r in bundle.suite_result.results:
    t = r.expectation_config.expectation_type
    print(f"EVR {t}: success={r.success} observed={r.result.get('observed_value')}")
    assert r.success, t
    if t == "expect_column_mean_to_be_between":
        obs_mean = r.result.get("observed_value")

duck_mean = duckdb.sql(
    f"SELECT avg(o_totalprice) FROM read_parquet('{SF}/orders.parquet')"
).fetchone()[0]
assert abs(obs_mean - duck_mean) < 1e-6 * max(1.0, abs(duck_mean)), \
    (obs_mean, duck_mean)
print(f"mean cross-check vs DuckDB OK: {obs_mean} ~= {duck_mean}")

# --- 2. new Iceberg surface: merge_into + refs + meta_df ------------------
tmp = tempfile.mkdtemp(prefix="vr5_ice_")
try:
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_name", "c_acctbal")
    t = IcebergLiteTable.create(tmp, cust.schema, partition_by=None)
    t.append(cust)
    s1 = t.current_snapshot_id()
    t.create_tag("v1")

    # merge source: update half the rows (+1000 acctbal), insert 5 new keys
    upd = cust.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0)
    ins = spark.createDataFrame(
        [(10_000_000 + i, f"new#{i}", 1.5 * i) for i in range(5)],
        "c_custkey long, c_name string, c_acctbal double")
    t.merge_into(spark, upd.unionByName(ins), on=["c_custkey"])

    got = t.read(spark)
    n0 = cust.count()
    assert got.count() == n0 + 5, (got.count(), n0)
    # value check vs DuckDB-computed expectation
    exp = duckdb.sql(f"""
        SELECT sum(CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 1000
                        ELSE c_acctbal END)
        FROM read_parquet('{SF}/customer.parquet')
    """).fetchone()[0] + sum(1.5 * i for i in range(5))
    gotsum = got.agg(F.sum("c_acctbal")).collect()[0][0]
    assert abs(gotsum - exp) < 1e-6 * abs(exp), (gotsum, exp)
    print(f"merge_into sum cross-check OK: {gotsum} ~= {exp}")

    # tag still reads the pre-merge image
    pre = t.read(spark, ref="v1")
    assert pre.count() == n0
    presum = pre.agg(F.sum("c_acctbal")).collect()[0][0]
    ducksum = duckdb.sql(
        f"SELECT sum(c_acctbal) FROM read_parquet('{SF}/customer.parquet')"
    ).fetchone()[0]
    assert abs(presum - ducksum) < 1e-6 * abs(ducksum)
    print(f"tag v1 time-travel read OK: {presum} ~= {ducksum}")

    # metadata tables
    for name in ("snapshots", "history", "manifests", "files",
                 "delete_files", "partitions", "refs"):
        mdf = t.meta_df(spark, name)
        print(f"meta_df[{name}]: {mdf.count()} rows, cols={mdf.columns[:4]}")
    refs = {r["name"] for r in t.meta_df(spark, "refs").collect()}
    assert {"main", "v1"} <= refs, refs
finally:
    shutil.rmtree(tmp, ignore_errors=True)

# --- 3. driver contract: entry() + a queries()/oracle pair ---------------
import __spark_entry__ as E
edf = E.entry(spark)
print(f"entry(): {edf.count()} rows, schema={[f.name for f in edf.schema]}")
qs, osql = E.queries(), E.oracle_sql()
con = duckdb.connect()
for tbl in ("region nation customer supplier part orders lineitem events "
            "documents embeddings").split():
    con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM "
                f"read_parquet('/root/testdata/sf0.01/{tbl}.parquet')")
for q in ("row_count_lineitem", "iceberg_snapshot_reads"):
    sdf = qs[q](spark, "/root/testdata/sf0.01")
    srows = sorted([tuple(r) for r in sdf.collect()])
    orows = sorted([tuple(r) for r in con.execute(osql[q]).fetchall()])
    assert srows == orows, (q, srows, orows)
    print(f"driver pair {q}: OK ({len(srows)} rows match oracle)")

print("VERIFY_R5_OK")
spark.stop()
