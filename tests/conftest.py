"""Shared pytest fixtures — session-scoped local SparkSession.

Mirrors the reference's harness (``tests/conftest.py:7-16`` in
/root/reference) but with the engine's UTC/AQE/Arrow config.
"""

from __future__ import annotations

import os

import pytest

from ihop_reddit_spark.session import get_spark_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_spark_session(
        "ihop_reddit_spark_tests",
        config={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
        master="local[4]",
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), n)``: n is the number of Spark jobs
    submitted while ``fn`` ran (job ids are handed out in order, so the
    scheduler's next id brackets them exactly; tests run one at a time)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def run(fn):
        lo = dag.nextJobId()
        out = fn()
        return out, dag.nextJobId() - lo

    return run
