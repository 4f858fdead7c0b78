"""``session`` helpers that drive Spark from driver threads."""

from __future__ import annotations

from openetlagent_spark.session import run_concurrent_writes


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
