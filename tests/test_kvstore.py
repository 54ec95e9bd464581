"""KV store (S11): dict API parity with the reference's
LuceneKeyValueStore (pylucene/lucenekeyvaluestore.py:42-120) —
set/get/delete with uncommitted visibility, last-write-wins commits,
reopen durability."""

import pytest

from meresco_lucene_spark.kvstore import KeyValueStore


def test_set_get_delete_uncommitted(spark, tmp_path):
    kv = KeyValueStore(spark, str(tmp_path / "kv"))
    kv["a"] = 1  # coerced to str like the reference
    assert kv["a"] == "1"
    assert kv.get("missing") is None
    assert kv.get("missing", "d") == "d"
    del kv["a"]
    with pytest.raises(KeyError):
        kv["a"]


def test_commit_reopen_last_write_wins(spark, tmp_path):
    path = str(tmp_path / "kv")
    kv = KeyValueStore(spark, path)
    kv["k1"] = "v1"
    kv["k2"] = "v2"
    kv.commit()
    kv["k1"] = "v1b"  # update in a later epoch
    del kv["k2"]
    kv.commit()

    fresh = KeyValueStore(spark, path)  # reopen: committed state only
    assert fresh["k1"] == "v1b"
    assert fresh.get("k2") is None
    assert sorted(map(tuple, fresh.items_df().collect())) == [("k1", "v1b")]


def test_items_df_merges_buffer(spark, tmp_path):
    kv = KeyValueStore(spark, str(tmp_path / "kv"))
    kv["x"] = "1"
    kv.commit()
    kv["y"] = "2"
    del kv["x"]
    assert sorted(map(tuple, kv.items_df().collect())) == [("y", "2")]
    kv.close()  # close commits
    fresh = KeyValueStore(spark, str(tmp_path / "kv"))
    assert sorted(map(tuple, fresh.items_df().collect())) == [("y", "2")]


def test_compact_folds_epochs(spark, tmp_path):
    """N commits + compact = 1 epoch with identical visible state; the
    epoch=* listing shrinks so reads touch one epoch."""
    path = str(tmp_path / "kv")
    kv = KeyValueStore(spark, path)
    kv["a"] = "1"
    kv.commit()
    kv["a"] = "2"
    kv["b"] = "3"
    kv.commit()
    del kv["b"]
    kv["c"] = "4"
    kv.commit()
    assert len(kv._epochs()) == 3
    before = sorted(map(tuple, kv.items_df().collect()))
    kv.compact()
    assert len(kv._epochs()) == 1
    assert sorted(map(tuple, kv.items_df().collect())) == before
    fresh = KeyValueStore(spark, path)
    assert fresh["a"] == "2"
    assert fresh.get("b") is None
    assert fresh["c"] == "4"


def test_partial_epoch_invisible(spark, tmp_path):
    """A crashed half-written epoch (no _SUCCESS) must not surface
    partially-applied commits on reopen."""
    import os

    path = str(tmp_path / "kv")
    kv = KeyValueStore(spark, path)
    kv["a"] = "1"
    kv.commit()
    # simulate a crash mid-commit: epoch dir exists without _SUCCESS
    bad = os.path.join(path, "epoch=1")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    fresh = KeyValueStore(spark, path)
    assert fresh._epochs() == [0]
    assert fresh["a"] == "1"


def test_point_reads_reuse_cached_frame(spark, tmp_path):
    kv = KeyValueStore(spark, str(tmp_path / "kv"))
    kv["a"] = "1"
    kv["b"] = "2"
    kv.commit()
    first = kv._committed()
    assert kv._committed() is first  # same persisted frame, no re-scan
    kv["c"] = "3"
    kv.commit()  # epoch set changed -> cache invalidated
    assert kv._committed() is not first
    assert kv["c"] == "3"


def test_oversized_table_serves_filtered_lookups(spark, tmp_path):
    """Past DICT_CACHE_ROWS committed rows the point-lookup dict is not
    collected; each key is read through a filtered lookup instead."""
    path = str(tmp_path / "kv")
    kv = KeyValueStore(spark, path)
    for i in range(10):
        kv[f"k{i}"] = f"v{i}"
    kv.commit()
    del kv["k3"]
    kv["k4"] = "v4b"
    kv.commit()
    kv.DICT_CACHE_ROWS = 4
    assert kv["k0"] == "v0" and kv["k4"] == "v4b" and kv["k9"] == "v9"
    assert kv.get("k3") is None and kv.get("missing") is None
    assert kv._dict_cache is None and kv._dict_oversized
    kv["k0"] = "buffered"  # uncommitted writes still win
    assert kv["k0"] == "buffered"

    small = KeyValueStore(spark, path)
    small.DICT_CACHE_ROWS = 10
    assert small["k9"] == "v9" and small.get("k3") is None
    assert small._dict_cache is not None and not small._dict_oversized
