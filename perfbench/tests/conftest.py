import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench import host

    host.size_env(ROOT, str(tmp_path_factory.mktemp("perfbench")))
    from gdal_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench_tests", shuffle_partitions=3)
    yield s
    s.stop()
