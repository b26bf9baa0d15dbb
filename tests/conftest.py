from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from nosql_join_stream_spark.session import get_session
    s = get_session("nosql_join_stream_spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def engine(spark, sf_dir):
    from nosql_join_stream_spark.engine import Engine
    return Engine(spark, sf_dir)


@pytest.fixture(scope="session")
def orders_cached(engine):
    # catalog.load_table already pins broadcast-sized tables in memory
    return engine.table("orders")
