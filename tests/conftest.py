from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from end_to_end_data_engineering_job_listings_etl_spark.session import get_spark

    s = get_spark(app_name="end_to_end_data_engineering_job_listings_etl_spark-tests", cpus=8)
    yield s


@pytest.fixture
def pins():
    """The pin list an operator that persists or checkpoints frames
    takes (the ``operators.ids`` pin contract); released after the
    test."""
    from end_to_end_data_engineering_job_listings_etl_spark.operators.ids import release_pins

    out = []
    yield out
    release_pins(out)


@pytest.fixture(scope="session")
def duck():
    from tests.oracle_check import duckdb_conn

    return duckdb_conn(SF_DIR)
