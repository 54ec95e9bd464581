"""The driver entries build each fixture (an index store, an ingest state,
an ANN index) once and reuse it. The cache keys on the Spark application,
not on ``id(spark)``: Python reuses an object's id once the object is
gone, so an id key could hand a new session a stopped session's dirs.
The fixture dirs are removed when the process exits."""

import os
import subprocess
import sys
import tempfile
import textwrap
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


def test_fixture_dirs_are_removed_at_exit(tmp_path):
    """A process that built an entry fixture leaves no ``mls_*`` dir
    behind once it exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(
        f"""
        import os, sys
        from types import SimpleNamespace
        sys.path.insert(0, {repo!r})
        from meresco_lucene_spark import entry_queries, shipping
        shipping.ensure_shipped = lambda spark: None
        spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
        path = entry_queries._built_dir(
            spark, "sf", "store", lambda p: open(os.path.join(p, "x"), "w").close()
        )
        assert os.path.exists(os.path.join(path, "x"))
        print(path)
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True, text=True, check=True,
    )
    assert os.path.basename(out.stdout.strip()).startswith("mls_store_")
    assert os.path.dirname(out.stdout.strip()) == str(tmp_path)
    assert not [e for e in os.listdir(tmp_path) if e.startswith("mls_")]
