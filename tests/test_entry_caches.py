"""The driver entries build each fixture (an index store, an ingest state,
an ANN index) once and reuse it. The cache keys on the Spark application,
not on ``id(spark)``: Python reuses an object's id once the object is
gone, so an id key could hand a new session a stopped session's dirs."""

import tempfile
from types import SimpleNamespace

from meresco_lucene_spark import entry_queries, shipping


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_fixture_dirs_are_per_application(monkeypatch, tmp_path):
    monkeypatch.setattr(entry_queries, "_BUILT", {})
    monkeypatch.setattr(shipping, "ensure_shipped", lambda spark: None)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    builds = []

    a, b = _session("app-a"), _session("app-b")
    assert entry_queries._cache_key(a, "sf") == ("app-a", "sf")
    assert entry_queries._cache_key(a, "sf") != entry_queries._cache_key(b, "sf")

    dir_a = entry_queries._built_dir(a, "sf", "store", builds.append)
    dir_b = entry_queries._built_dir(b, "sf", "store", builds.append)
    assert dir_a != dir_b and builds == [dir_a, dir_b]

    # another session object of the same application reuses the dir ...
    assert entry_queries._built_dir(_session("app-a"), "sf", "store", builds.append) == dir_a
    # ... while another fixture name or input dir builds its own
    entry_queries._built_dir(a, "sf", "geo", builds.append)
    entry_queries._built_dir(a, "other_sf", "store", builds.append)
    assert len(builds) == 4
