import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from blockchair_etl_spark.session import get_session

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "8"
    spark = get_session(app_name="blockchair-etl-spark-tests", master=f"local[{cpus}]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    from blockchair_etl_spark.testing import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()
