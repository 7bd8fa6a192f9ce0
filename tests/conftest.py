import os
import sys

import pytest

# the checkout these tests live in, wherever it is
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# One JVM runs the whole suite, and the engine's default driver heap
# (48g) lets it grow past the RAM of a small host until the kernel
# kills it mid-suite. Cap it at half the host's RAM unless set.
_RAM_GIB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(2, _RAM_GIB // 2)}g")


@pytest.fixture(scope="session")
def spark():
    from osm_data_classification_spark.session import get_spark

    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
