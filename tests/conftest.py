from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from verified_sources_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(params=["local", "hadoop"])
def sink_fs(request, spark):
    """Both sink-commit FS backends: POSIX and Hadoop FileSystem (the
    object-store-shaped path). Sink/table-format tests run on each."""
    from verified_sources_spark.operators.fs import HadoopFS, LocalFS

    return LocalFS() if request.param == "local" else HadoopFS(spark)
