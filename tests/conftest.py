"""Shared test fixtures: one SparkSession per test run.

Mirrors the engine's production session config (AQE, UTC, Arrow) at
reduced parallelism so the suite stays fast on small fixtures.
"""

from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from mapreduceapp_spark.session import get_spark

    spark = get_spark(
        app_name="mapreduceapp-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def jobs_run(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a fresh job group after
    the listener bus has delivered every job-start event."""
    import uuid

    sc = spark.sparkContext
    group = f"jobgate-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
