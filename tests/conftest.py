from __future__ import annotations

import time
import uuid

import pytest

from jira_scraper_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(action)``: the Spark jobs ``action()`` starts,
    counted by job group once the listener has seen a marker job
    submitted after it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def count(action) -> int:
        group, marker = f"count-{uuid.uuid4()}", f"marker-{uuid.uuid4()}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        try:
            sc.setLocalProperty("spark.jobGroup.id", group)
            action()
            sc.setLocalProperty("spark.jobGroup.id", marker)
            sc.parallelize([1], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(marker) and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(marker)
        return len(tracker.getJobIdsForGroup(group))

    return count
