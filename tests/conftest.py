from __future__ import annotations

import time
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


def persisted_ids(spark) -> set[int]:
    """Ids of the session's persisted RDDs (caches and local checkpoints).
    Leak checks compare these sets, never counts: a count can hide a new
    RDD behind an unrelated one freed at the same time."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def assert_released(spark, before: set[int], timeout_s: float = 5.0) -> None:
    """Assert every persisted RDD outside ``before`` goes away. Polls:
    unpersists that the JVM's cleaner issues land asynchronously."""
    deadline = time.monotonic() + timeout_s
    while (left := persisted_ids(spark) - before) and time.monotonic() < deadline:
        time.sleep(0.25)
    assert not left, f"persisted RDDs left behind: {sorted(left)}"


@pytest.fixture(scope="session")
def docs_sf0001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
