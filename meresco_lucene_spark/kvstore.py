"""Key-value store (SURVEY §2.1 S11) — the reference's tiny Lucene-backed
dict (pylucene/lucenekeyvaluestore.py:42-120) recast as a parquet-backed
two-column table.

API parity with LuceneKeyValueStore:
  kv[key] = value         (updateDocument: last write wins)
  kv[key] / kv.get(key)   (uncommitted writes visible immediately via the
                           write-through buffer — the reference's
                           _latestModifications dict)
  del kv[key]             (deleteDocuments + DELETED_RECORD marker)
  kv.commit()             (durable epoch; buffered writes flushed)
  kv.close()

Keys and values are coerced to str like the reference. Durability model:
each commit writes one parquet epoch of the buffered mutations; reads of
committed state take the newest epoch's row per key (same pattern as
streaming/ingest.py — an epoch IS a commit). A reopened store sees all
committed epochs. The reference auto-reopens its searcher after 10k
buffered writes; here the buffer simply keeps serving reads until
commit(), with the same observable semantics (uncommitted writes visible
to the writer, lost on crash before commit)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_DELETED = object()


class KeyValueStore:
    # most committed rows the point-lookup dict collects into Python;
    # a larger table serves each lookup through a filtered Spark read
    DICT_CACHE_ROWS = 100_000

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._buffer: dict[str, object] = {}
        # committed-frame cache, invalidated whenever the epoch set
        # changes (commit/compact): point reads (`kv[key]`) hit a
        # persisted frame instead of re-scanning every epoch per lookup.
        self._cache_key: tuple[int, ...] | None = None
        self._cache_df = None
        # point-lookup dict: the committed table is small by design (the
        # reference keeps it in one in-heap Lucene index), so the
        # many-small-gets pattern is served from ONE collect per epoch
        # set instead of one Spark job per key (VERDICT r5 #7). The
        # collect stops at DICT_CACHE_ROWS; past it the table is
        # marked oversized and each lookup filters it instead.
        self._dict_cache: dict[str, str | None] | None = None
        self._dict_oversized = False

    # ------------------------------------------------------------- dict API
    def __setitem__(self, key, value) -> None:
        self._buffer[str(key)] = str(value)

    def __getitem__(self, key):
        key = str(key)
        if key in self._buffer:
            v = self._buffer[key]
            if v is _DELETED:
                raise KeyError(key)
            return v
        v = self._committed_value(key)
        if v is None:
            raise KeyError(key)
        return v

    def _committed_value(self, key: str) -> str | None:
        """The committed value of ``key`` (None: absent or deleted)."""
        if self._dict_cache is None and not self._dict_oversized:
            cap = self.DICT_CACHE_ROWS
            rows = self._committed().limit(cap + 1).collect()
            if len(rows) > cap:
                self._dict_oversized = True
            else:
                self._dict_cache = {r["key"]: r["value"] for r in rows}
        if self._dict_cache is not None:
            return self._dict_cache.get(key)
        rows = (
            self._committed().filter(F.col("key") == key).select("value").collect()
        )
        return rows[0]["value"] if rows else None

    def get(self, key, default=None):
        try:
            return self[key]
        except KeyError:
            return default

    def __delitem__(self, key) -> None:
        self._buffer[str(key)] = _DELETED

    # ----------------------------------------------------------- durability
    def commit(self) -> None:
        """One commit = one durable parquet epoch of the buffered
        mutations. Crash-atomic: the epoch is written to a temp dir
        (invisible to the epoch=* readers) and os.rename'd into place —
        a crash mid-write leaves only the temp dir, never a partial
        epoch; _epochs() additionally skips dirs without _SUCCESS."""
        if not self._buffer:
            return
        epoch = self._next_epoch()
        rows = [
            (k, None if v is _DELETED else v) for k, v in self._buffer.items()
        ]
        df = self.spark.createDataFrame(rows, "key string, value string")
        tmp = os.path.join(self.path, f"_tmp_epoch_{epoch}")
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, os.path.join(self.path, f"epoch={epoch}"))
        self._buffer.clear()
        self._invalidate()

    def compact(self) -> None:
        """Fold all committed epochs into one — the TieredMergePolicy
        analog (reference LuceneSettings.java:157-160). Crash-safe
        ordering: the full committed state (including deletion
        tombstones, which must keep masking the epochs about to be
        removed) is first written as a NEW newest epoch via the atomic
        temp-dir rename, then the older epochs are deleted — a crash
        between the two steps leaves a larger but consistent store.
        After compaction, reads touch exactly one epoch."""
        import shutil

        eps = self._epochs()
        if len(eps) <= 1:
            return
        new_epoch = eps[-1] + 1
        tmp = os.path.join(self.path, f"_tmp_epoch_{new_epoch}")
        # distributed write straight from the committed frame (incl.
        # tombstones) — no driver-side materialization of the key set
        self._committed().write.mode("overwrite").parquet(tmp)
        os.rename(tmp, os.path.join(self.path, f"epoch={new_epoch}"))
        for e in eps:
            shutil.rmtree(os.path.join(self.path, f"epoch={e}"))
        self._invalidate()

    def close(self) -> None:
        self.commit()
        self._invalidate()

    # -------------------------------------------------------------- queries
    def _epochs(self) -> list[int]:
        return sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(self.path)
            if e.startswith("epoch=")
            and os.path.exists(os.path.join(self.path, e, "_SUCCESS"))
        )

    def _next_epoch(self) -> int:
        eps = self._epochs()
        return (eps[-1] + 1) if eps else 0

    def _invalidate(self) -> None:
        if self._cache_df is not None:
            self._cache_df.unpersist()
        self._cache_key = None
        self._cache_df = None
        self._dict_cache = None
        self._dict_oversized = False

    def _committed(self):
        """Newest committed row per key (None value = deleted). The
        result is persisted and reused until the epoch set changes, so
        the reference's many-small-gets pattern doesn't re-scan every
        epoch per lookup."""
        eps = tuple(self._epochs())
        if not eps:
            return self.spark.createDataFrame([], "key string, value string")
        if self._cache_key == eps and self._cache_df is not None:
            return self._cache_df
        self._invalidate()
        df = self.spark.read.option("basePath", self.path).parquet(
            *(os.path.join(self.path, f"epoch={e}") for e in eps)
        )
        w = Window.partitionBy("key").orderBy(F.col("epoch").desc())
        out = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("key", "value")
            .persist()
        )
        self._cache_key = eps
        self._cache_df = out
        return out

    def items_df(self):
        """All live (key, value) pairs as a DataFrame — the capability the
        reference never had (its items()/keys()/values() raise
        NotImplementedError); buffered writes are merged in."""
        committed = self._committed().filter(F.col("value").isNotNull())
        if not self._buffer:
            return committed
        rows = [
            (k, None if v is _DELETED else v) for k, v in self._buffer.items()
        ]
        buf = self.spark.createDataFrame(rows, "key string, value string")
        return (
            committed.join(buf.select("key"), "key", "left_anti")
            .unionByName(buf.filter(F.col("value").isNotNull()))
        )
