from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from databricks_delta_lake_migration_spark.session import build_session

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tests",
        master="local[*]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


@pytest.fixture(scope="session")
def job_ids(spark):
    """``job_ids(fn)`` runs ``fn`` under a fresh Spark job group set on
    the calling thread and returns the sorted ids of the jobs counted
    in that group."""
    sc = spark.sparkContext

    def run(fn) -> list[int]:
        group = f"test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run
