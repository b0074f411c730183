from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from etl_airflow_spotify_spark.session import get_session

    # Sized like any other session: cores and shuffle partitions from
    # default_parallelism() (SPARK_GRAFT_CPUS), heap from the box.
    s = get_session("pytest")
    yield s
    s.stop()


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(group, fn)`` runs ``fn`` under its own Spark job group
    and returns ``(fn(), number of jobs the group ran)``."""
    sc = spark.sparkContext

    def run(group, fn):
        previous = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", previous)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from etl_airflow_spotify_spark.oracle import connect_oracle

    con = connect_oracle(sf_dir)
    yield con
    con.close()
