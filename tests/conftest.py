from __future__ import annotations

import uuid

import pytest

from searchenginer_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def count_jobs(spark, fn):
    """Run ``fn()`` under a job group of its own; return its result and the
    number of Spark jobs it submitted (``statusTracker``)."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def docs_sf0001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
