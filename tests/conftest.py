"""Shared fixtures: one local SparkSession and one DuckDB oracle
connection per test run."""

from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from asritha_metamorphetl_spark.session import create_session

    spark = create_session(
        app_name="metamorph-tests", master="local[4]", shuffle_partitions=8
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the sf0.01 testdata tables registered as
    views, mirroring the driver's oracle setup."""
    import duckdb

    from asritha_metamorphetl_spark.quality.oracle import register_views

    con = register_views(duckdb.connect(), SF_CORRECT)
    yield con
    con.close()
