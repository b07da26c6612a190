from __future__ import annotations

import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from puddin_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="puddin_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


def jobs_in(spark, fn) -> int:
    """Run fn() under a fresh job group and return how many Spark jobs it
    ran (statusTracker count for that group)."""
    sc = spark.sparkContext
    group = f"jobs-in-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
