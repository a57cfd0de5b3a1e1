"""Shared fixtures: one session-scoped SparkSession (reference pattern,
tests/conftest.py:9-42 in /root/reference) plus a DuckDB oracle connection
with the testdata tables registered as views (the driver's t2 setup)."""

from __future__ import annotations

import itertools
import os

import duckdb
import pytest

from data_algorithms_with_pyspark_spark.schemas import TABLE_NAMES
from data_algorithms_with_pyspark_spark.session import get_spark

# transformWithState protobuf shim (tests/pbshim/sitecustomize.py): Spark's
# Python WORKERS inherit PYTHONPATH from the driver JVM's environment, so
# the shim dir must be on PYTHONPATH BEFORE the first SparkSession starts
# (this module imports before any session fixture). The shim is a no-op
# wherever a real google.protobuf exists.
_PBSHIM_DIR = os.path.join(os.path.dirname(__file__), "pbshim")
os.environ["PYTHONPATH"] = (
    _PBSHIM_DIR + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)
from tests.pbshim import sitecustomize as pbshim  # noqa: E402  (installs)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield spark
    spark.stop()


_JOB_GROUPS = itertools.count()


def count_jobs(spark, fn) -> int:
    """Spark jobs run while calling ``fn()``, counted through a fresh job
    group and the status tracker."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "count_jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the listener bus: drain it first, or the
    # last jobs may not be recorded yet
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the persisted RDDs. Compare id SETS across a scope, not
    counts: the ContextCleaner frees older RDDs concurrently."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def make_duckdb(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck_smoke():
    con = make_duckdb(SF_SMOKE)
    yield con
    con.close()
