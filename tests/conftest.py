from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from proto_to_avro_ql_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(autouse=True)
def _clear_spark_cache():
    """Every test starts with an empty Spark cache: a relation an
    earlier test's entry cached would otherwise replace the same
    subtree in a later plan. Starts no session of its own."""
    yield
    s = SparkSession.getActiveSession()
    if s is not None:
        s.catalog.clearCache()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
