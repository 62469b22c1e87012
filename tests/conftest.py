from __future__ import annotations

import os

import pytest

from humid_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("humid_spark-tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()
