import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench.sparkstats import bench_session, stop_session

    s = bench_session(str(tmp_path_factory.mktemp("spark")), 2)
    yield s
    stop_session(s)
