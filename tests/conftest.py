from __future__ import annotations

import os
import uuid

import duckdb
import pytest

from proof_of_concept___cdc_w_iceberg_spark.session import get_spark
from proof_of_concept___cdc_w_iceberg_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("poc_cdc_tests")
    yield s


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """``jobs_in_group(fn, group=None)`` runs ``fn`` under a job group (a
    fresh one by default) and returns ``(fn's result, the number of
    Spark jobs launched under the group)``. The group is cleared
    afterwards, also when ``fn`` raises."""
    sc = spark.sparkContext

    def run(fn, group=None):
        group = group or f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
