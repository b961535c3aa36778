from __future__ import annotations

import os

import pytest

from chainalytic_framework_spark.session import build_session
from chainalytic_framework_spark.synth import generate_pages


@pytest.fixture(scope="session")
def spark():
    # The package's 24g default heap lets the one shared test JVM grow
    # past a 16 GB machine's memory (tests cache frames and never
    # unpersist them) until the kernel kills it mid-suite; a bounded
    # heap evicts cached blocks instead.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = build_session(app_name="cfs-tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    """Small deterministic pages table shared across tests."""
    df = generate_pages(spark, 5000).cache()
    df.count()
    return df
