from __future__ import annotations

import os

import pytest

from bench import duckdb_connect
from tidb_gateway_spark.catalog import TABLES
from tidb_gateway_spark.session import get_spark

SMOKE_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tidb-gateway-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def ddb():
    """DuckDB oracle connection with fixture views registered (mirrors the
    correctness driver's setup)."""
    con = duckdb_connect(SMOKE_SF_DIR, TABLES)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SMOKE_SF_DIR
