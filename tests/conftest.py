from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("HTS_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from hive_test_spark.session import get_spark

    s = get_spark("hts-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    from hive_test_spark.oracle import duck_connect

    return duck_connect(SF_DIR)


@pytest.fixture(scope="session")
def registry():
    from hive_test_spark.api import oracle_sql, queries

    return queries(), oracle_sql()


def landed(name: str, sf_dir: str = SF_DIR) -> str:
    """Path of the landed copy ``name`` of ``sf_dir`` (``io.land``);
    fails if that copy is not landed yet."""
    from hive_test_spark.io import land

    def not_landed(path: str) -> None:
        raise AssertionError(f"{name} is not landed at {path}")

    return land(sf_dir, name, not_landed)
