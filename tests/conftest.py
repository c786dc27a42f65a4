from __future__ import annotations

import sys
from pathlib import Path

import pytest

TESTS = Path(__file__).resolve().parent
sys.path.insert(0, str(TESTS.parent))
sys.path.insert(0, str(TESTS))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from zoom_spark.session import get_spark

    s = get_spark("zoom-spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from oracle_harness import duckdb_con

    return duckdb_con(SF_DIR)
