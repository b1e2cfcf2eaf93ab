from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
# oracle SQL twins that inline data-fitted literals (IVF centroids, the
# author-merge expected VALUES) must be generated from the SAME dataset the
# oracle harness queries — set before driver_queries is ever imported
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF", SF_DIR)

from adsimportpipeline_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def no_broadcast(spark):
    """A context manager that disables broadcast joins
    (``spark.sql.autoBroadcastJoinThreshold=-1``) inside its block; plans
    and actions in the block see the setting."""

    @contextmanager
    def off():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return off
