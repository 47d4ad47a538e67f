from __future__ import annotations

import os
import shutil

import pytest

from onetl_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SCRATCH = os.path.join(os.path.dirname(__file__), "..", ".scratch")


@pytest.fixture(scope="session")
def spark():
    warehouse = os.path.join(SCRATCH, "warehouse")
    shutil.rmtree(warehouse, ignore_errors=True)
    session = build_session(4, "4g", "onetl_spark-tests", warehouse)
    yield session
    session.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def testdata(spark, sf_dir):
    from onetl_spark.connections.catalog import register_parquet_views

    return register_parquet_views(spark, sf_dir)


@pytest.fixture()
def scratch_dir(tmp_path):
    yield str(tmp_path)


@pytest.fixture(autouse=True)
def _clean_hwm_state():
    from onetl_spark.hwm.store import HWMStoreStackManager, MemoryHWMStore

    # fresh bottom-of-stack memory store per test
    HWMStoreStackManager._local.stack = [MemoryHWMStore()]
    yield
