from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from ct_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    from ct_clickhouse_spark.testing import duckdb_fixture_connection

    return duckdb_fixture_connection(SF_DIR)


def jobs_fired(spark, group: str, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
