from __future__ import annotations

import os

import duckdb
import pytest

from limeqo_spark.io import TABLES
from limeqo_spark.run_experiment import REFERENCE_DATASET_DIR
from limeqo_spark.session import get_spark

SF_DIR = os.environ.get("LIMEQO_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("limeqo_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def reference_dataset() -> str:
    """Directory of the reference's published matrices and masks. It cannot
    be regenerated, so the tests that read it skip where it is absent."""
    if not os.path.isdir(REFERENCE_DATASET_DIR):
        pytest.skip(f"reference dataset absent: no directory {REFERENCE_DATASET_DIR}")
    return REFERENCE_DATASET_DIR
