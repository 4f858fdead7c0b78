"""``session`` helpers: driver-thread writes and tiny JVM-only frames."""

from __future__ import annotations

import pytest

from openetlagent_spark.session import local_df, run_concurrent_writes


def test_run_concurrent_writes_keeps_job_group(spark):
    sc = spark.sparkContext
    df = spark.range(10)

    def noop_write():
        df.write.format("noop").mode("overwrite").save()

    sc.setJobGroup("g", "concurrent noop writes")
    try:
        run_concurrent_writes([noop_write, noop_write])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("g")) == 2


# every schema the engine's local_df callers pass, with NULLs in each column
LOCAL_DF_CASES = {
    "cid int, cen array<double>": [(0, [0.1, -0.0, 5e-324]), (1, None), (None, [1e308, None])],
    "scale_bits int, n_centroids int": [(20, 16), (None, None)],
    "scale_bits int, n_centroids int, m int, k_codes int": [(20, 16, 8, None)],
    "sub int, code int, cw array<double>": [(0, 3, [1 / 3, -2.5]), (1, None, [])],
    "bucket int, weight double": [(0, 0.1), (2**31 - 1, None), (-(2**31), -1e-310)],
    "sub int, code int, dim_pos int, coord double": [(7, 15, 7, 2.0**-20), (0, 0, 0, None)],
}


@pytest.mark.parametrize("schema", sorted(LOCAL_DF_CASES))
def test_local_df_equals_create_dataframe(spark, schema):
    rows = LOCAL_DF_CASES[schema]
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    assert got.rdd.getNumPartitions() == 1
    # no Python RDD behind the frame, so no Python worker starts
    python_rdd = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    assert "ExistingRDD" in python_rdd._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in got._jdf.queryExecution().executedPlan().toString()


def test_local_df_empty_rows_keep_schema(spark):
    got = local_df(spark, [], "cid int, cen array<double>")
    assert got.collect() == []
    assert got.schema == spark.createDataFrame([], "cid int, cen array<double>").schema


@pytest.mark.parametrize("row", [(2**31, 1.0), (1.5, 1.0)])
def test_local_df_refuses_values_the_schema_cannot_hold(spark, row):
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        local_df(spark, [row], "bucket int, weight double").collect()


def test_local_df_row_width_checked(spark):
    with pytest.raises(ValueError, match="2 values"):
        local_df(spark, [(1,)], "bucket int, weight double")
