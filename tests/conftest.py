"""Shared fixtures: one SparkSession per test run, a DuckDB connection
with the testdata views pre-registered (mirroring the driver's oracle
setup), and the sf-dir selection."""

from __future__ import annotations

import os
import sys
import uuid
from contextlib import contextmanager
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dst_spark_k8_lakehouse_spark import get_session
from dst_spark_k8_lakehouse_spark.sources.catalog import TABLES

# Unit tests run at the smallest scale; set SPARK_GRAFT_TEST_SF_DIR to
# re-run the whole oracle suite at a bigger sf.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = get_session(app_name="dst-spark-k8-lakehouse-tests")
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    yield con
    con.close()


@contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs started inside the block (a job
    group around it; the listener bus is drained before the ids are
    read, so no finished job is missed)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc._jsc.clearJobGroup()


@contextmanager
def assert_no_jobs(spark, what: str = "the block"):
    """Fail if ``what`` (the block) starts any Spark job: the lazy-builder
    contract, a builder plans and the caller's action runs."""
    with spark_jobs(spark) as jobs:
        yield
    assert not jobs, f"{what} started Spark jobs {sorted(jobs)}"
