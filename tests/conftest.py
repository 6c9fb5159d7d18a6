"""Shared pytest fixtures: one local SparkSession, one generated corpus."""

from __future__ import annotations

import pytest

from cpdd_spark.fixtures import FixtureParams, generate
from cpdd_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="cpdd_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(action)`` runs ``action()`` under a fresh job group and
    returns how many Spark jobs it issued."""
    import uuid

    sc = spark.sparkContext

    def count(action) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def smoke_fixture():
    """100-conversation smoke corpus (FIXTURES.md tier `smoke`)."""
    return generate(FixtureParams(num_convs=100, seed=42))


@pytest.fixture(scope="session")
def turns_df(spark, smoke_fixture):
    return spark.createDataFrame(smoke_fixture.transcripts)


@pytest.fixture(scope="session")
def truth_pdf(smoke_fixture):
    return smoke_fixture.truth
