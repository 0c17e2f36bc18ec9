from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from bench import duckdb_connect
from tidb_gateway_spark.catalog import TABLES
from tidb_gateway_spark.session import get_spark

SMOKE_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Every test session builds its derived companions (indexes, exports,
# memos) from scratch in its own store, so a changed builder is always
# exercised instead of a companion left in <repo>/.benchdata by an
# earlier run.  Set at import, before any test or Spark session reads it.
DERIVED_DIR = tempfile.mkdtemp(prefix="tgs-derived-")
os.environ["SPARK_GRAFT_DERIVED_DIR"] = DERIVED_DIR


def pytest_sessionfinish(session, exitstatus):
    shutil.rmtree(DERIVED_DIR, ignore_errors=True)


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


@pytest.fixture(scope="session")
def irregular_sf_dir(tmp_path_factory):
    """The smoke fixture with 1–3 spaces between words and edge spaces
    in every document (tests/perturbed_fixtures.py)."""
    from tests.perturbed_fixtures import write_irregular_copy

    return write_irregular_copy(
        SMOKE_SF_DIR, str(tmp_path_factory.mktemp("sf_irregular")))


@pytest.fixture(scope="session")
def blank_sf_dir(tmp_path_factory):
    """The irregular copy with every 50th document blank ('' or all
    spaces)."""
    from tests.perturbed_fixtures import write_blank_copy

    return write_blank_copy(
        SMOKE_SF_DIR, str(tmp_path_factory.mktemp("sf_blank")))
