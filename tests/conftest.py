import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from meresco_lucene_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="mls-tests",
        cores=int(os.environ.get("SPARK_TEST_CPUS", "4")),
        shuffle_partitions=4,
        driver_memory="4g",
    )
    yield s


@pytest.fixture(scope="session")
def build_store(tmp_path_factory):
    """``build_store(df, **kwargs)``: an index store built from ``df`` in
    a fresh temp dir (``build_index_store`` options), opened from disk."""
    from meresco_lucene_spark.index.store import build_index_store

    def build(df, **kwargs):
        return build_index_store(df, str(tmp_path_factory.mktemp("store")), **kwargs)

    return build


SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture()
def spark_route(monkeypatch):
    """Send every search() to the Spark route (a driver-route bound no
    query fits)."""
    from meresco_lucene_spark.index import store

    monkeypatch.setattr(store, "DRIVER_QUERY_POSTINGS", -1)


@pytest.fixture()
def each_route(monkeypatch):
    """``for route in each_route(): ...`` runs the loop body once per
    route of search(): "driver" under the module's bound, then "spark"
    with the Spark route forced."""
    from meresco_lucene_spark.index import store

    def routes():
        for name, bound in (("driver", store.DRIVER_QUERY_POSTINGS), ("spark", -1)):
            with monkeypatch.context() as m:
                m.setattr(store, "DRIVER_QUERY_POSTINGS", bound)
                yield name

    return routes
