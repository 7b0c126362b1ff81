from __future__ import annotations

import os

import pytest

from ecc_spark.session import get_spark

# The session's 48g default heap cap lets the test JVM's G1 heap (plus the
# CLI and spark-submit JVMs some tests launch, which inherit this) grow
# past the RAM of a small host before it collects; the suite's live data
# needs far less.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ecc_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
