"""Shared fixtures: session-scoped local SparkSession + golden sample data.

Mirrors the reference's test strategy (tests/conftest.py:17-88): small
local session with few shuffle partitions, UI off, plus hand-built
golden fixtures with planted nulls and duplicates.
"""

from __future__ import annotations

import datetime as dt
import itertools
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from rentals_data_pipeline_spark.session import create_spark_session

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = create_spark_session("engine-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def jobs_run(spark):
    """``jobs_run(fn)``: the number of Spark jobs ``fn()`` runs,
    counted under a job group with the status tracker."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(fn) -> int:
        group = f"jobs-run-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


LONG_SCHEMA = T.StructType(
    [
        T.StructField("RegionID", T.IntegerType(), False),
        T.StructField("RegionName", T.StringType(), False),
        T.StructField("StateName", T.StringType(), False),
        T.StructField("month", T.DateType(), False),
        T.StructField("median_rent", T.DoubleType(), True),
    ]
)


def _m(n: int) -> dt.date:
    return dt.date(2024, n, 1)


@pytest.fixture(scope="session")
def sample_long_df(spark):
    """3 regions × 6 months, 2 planted nulls, 1 planted duplicate → 19
    rows (reference golden fixture: tests/conftest.py:52-88)."""
    rows = []
    series = {
        (102001, "New York", "NY"): [None, 3475.0, 3500.0, 3520.0, 3540.0, 3560.0],
        (394913, "San Francisco", "CA"): [3150.0, 3200.0, 3210.0, 3190.0, 3230.0, 3250.0],
        (394514, "Austin", "TX"): [1900.0, 1910.0, None, 1930.0, 1940.0, 1950.0],
    }
    for (rid, name, state), rents in series.items():
        for i, rent in enumerate(rents, start=1):
            rows.append((rid, name, state, _m(i), rent))
    rows.append((394913, "San Francisco", "CA", _m(2), 3200.0))  # planted dup
    return spark.createDataFrame(rows, LONG_SCHEMA)
