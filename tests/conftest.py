from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from vector_search_optimization_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture()
def tmpdirs():
    """A fresh scratch root for a streaming test's drop zone, sink and
    checkpoint, removed afterwards."""
    root = tempfile.mkdtemp(prefix="stream_")
    yield root
    shutil.rmtree(root, ignore_errors=True)
