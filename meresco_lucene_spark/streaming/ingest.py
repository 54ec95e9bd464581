"""Near-real-time ingest: the reference's commit policy as micro-batches.

The reference has no streaming operators (SURVEY §2.9); its only
temporal behavior is S8 — addDocument/updateDocument buffered until
``commitCount`` docs or ``commitTimeout`` seconds, then an index commit
makes them searchable (Lucene.java:183-214, refresh :899-907).

Structured-Streaming restatement: the update stream flows through
``foreachBatch``; each micro-batch is one "commit" —
  - upsert semantics per doc id (updateDocument = delete-then-add,
    Lucene.java:166-171): batch rows REPLACE same-id rows in the forward
    table (last write in a batch wins, mirroring Lucene's sequential
    writer),
  - the forward table is a parquet dir partitioned by commit epoch; a
    new searchable snapshot (an index store, ``searchable_store``) is
    built on demand from the latest state — the searcher-refresh analog,
  - commitCount maps to ``maxFilesPerTrigger``-style source limits and
    commitTimeout to the trigger interval, both caller-set.

Deletes: a batch row with ``_deleted = true`` removes the doc id
(deleteDocument, Lucene.java:173-176).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass
class IngestSink:
    """Upsert/delete sink over a parquet state dir with epoch snapshots."""

    spark: SparkSession
    state_dir: str
    id_col: str = "doc_id"
    epochs: list[int] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One micro-batch = one commit (reference commit policy S8)."""
        out = os.path.join(self.state_dir, f"epoch={epoch_id}")
        batch_df.withColumn("_epoch", F.lit(epoch_id)).write.mode("overwrite").parquet(
            out
        )
        self.epochs.append(epoch_id)

    def delete_where(self, predicate, epoch_id: int | None = None) -> int:
        """S4 deleteDocuments(query) (Lucene.java:178-181): tombstone
        every current doc matching the predicate (a Column or SQL string)
        as one commit. Returns the number of docs deleted.

        Scale-safe: the matched ids are materialized by the tombstone
        epoch WRITE itself, never collected to the driver — a predicate
        matching a large fraction of a 100 TB corpus must not OOM it.
        The no-lazy-self-read invariant still holds because
        current_state()'s scan is pinned to the EXPLICIT list of epoch
        dirs existing now (_latest_rows passes paths, not the epoch=*
        glob), so the write cannot observe the epoch it is creating, and
        the predicate is evaluated exactly once (one write job, its row
        count riding along as an Observation — no second read of the
        data just written). A no-match predicate never becomes visible,
        even transiently: the write lands in a temp dir that is renamed
        into epoch=N only when the count is nonzero, so a concurrent
        reader (or a crash mid-way) can never observe an empty epoch.
        epoch_id defaults to max(existing)+1; an explicit epoch_id that
        collides with a committed epoch is rejected instead of
        clobbering it."""
        import shutil

        from pyspark.sql import Observation

        existing = self._existing_epochs()
        if epoch_id is None:
            epoch_id = max(existing, default=-1) + 1
        elif epoch_id in existing:
            raise ValueError(
                f"epoch {epoch_id} is already committed in {self.state_dir}"
            )
        # single-writer: any _tmp_epoch_* leftover is a crashed previous
        # attempt (invisible to readers) — garbage-collect them all here
        if os.path.isdir(self.state_dir):
            for e in os.listdir(self.state_dir):
                if e.startswith("_tmp_epoch_"):
                    shutil.rmtree(
                        os.path.join(self.state_dir, e), ignore_errors=True
                    )
        tmp = os.path.join(self.state_dir, f"_tmp_epoch_{epoch_id}")
        obs = Observation()
        (
            self.current_state()
            .filter(predicate)
            .select(self.id_col)
            .withColumn("_deleted", F.lit(True))
            .withColumn("_epoch", F.lit(epoch_id))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(tmp)
        )
        n = int(obs.get["n"])
        if n == 0:
            shutil.rmtree(tmp, ignore_errors=True)
            return 0
        from meresco_lucene_spark.index.committer import COMMITTER

        COMMITTER.publish_dir(tmp, os.path.join(self.state_dir, f"epoch={epoch_id}"))
        self.epochs.append(epoch_id)
        return n

    def _existing_epochs(self) -> list[int]:
        """Committed epochs only: a dir without _SUCCESS is a crashed
        half-written batch and must stay invisible to readers."""
        if not os.path.isdir(self.state_dir):
            return []
        return sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(self.state_dir)
            if e.startswith("epoch=")
            and os.path.exists(os.path.join(self.state_dir, e, "_SUCCESS"))
        )

    def _latest_rows(self) -> DataFrame:
        """Latest row per doc id across committed epochs, KEEPING deletion
        tombstones (compact() needs them to go on masking the epochs it
        is about to fold away)."""
        eps = self._existing_epochs()
        df = (
            self.spark.read.option("basePath", self.state_dir)
            .option("mergeSchema", "true")  # tombstone epochs carry fewer cols
            .parquet(*(os.path.join(self.state_dir, f"epoch={e}") for e in eps))
        )
        order = [F.col("_epoch").desc()]
        if "_seq" in df.columns:  # optional intra-batch sequence
            order.append(F.col("_seq").desc())
        w = Window.partitionBy(self.id_col).orderBy(*order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_epoch")
        )

    def current_state(self) -> DataFrame:
        """Latest row per doc id across all committed epochs, minus
        deletions — the reference's post-refresh index contents."""
        latest = self._latest_rows()
        if "_deleted" in latest.columns:
            latest = latest.filter(
                ~F.coalesce(F.col("_deleted"), F.lit(False))
            ).drop("_deleted")
        return latest

    def compact(self) -> int:
        """Fold all committed epochs into one — the reference's
        TieredMergePolicy merge (LuceneSettings.java:157-160) restated
        over epoch snapshots. Crash-safe ordering: the latest-per-id
        state (tombstones included, so it keeps masking the old epochs
        if we crash mid-way) is committed as a NEW newest epoch, then
        the older epoch dirs are removed. Returns the number of epochs
        folded. After compaction, reads touch exactly one epoch and
        the per-read window shrinks to one row per id."""
        import shutil

        eps = self._existing_epochs()
        if len(eps) <= 1:
            return 0
        new_epoch = max(eps) + 1
        self.process_batch(self._latest_rows(), new_epoch)
        for e in eps:
            shutil.rmtree(os.path.join(self.state_dir, f"epoch={e}"))
        return len(eps)

    def searchable_store(self, out_dir: str, **build_kwargs):
        """Durable searcher refresh: materialize current state as a
        persistent index store (index/store.py) — one commit = one
        queryable ON-DISK snapshot, reopenable in any later session with
        zero re-tokenization (the reference's commit -> refresh contract,
        Lucene.java:899-907 + :920-945)."""
        from meresco_lucene_spark.index.store import build_index_store

        return build_index_store(
            self.current_state(), out_dir, id_col=self.id_col, **build_kwargs
        )


def stream_ingest_incremental(
    stream_df: DataFrame,
    root: str,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    trigger_seconds: float | None = None,
    auto_merge_tier: int | None = None,
    **store_kwargs,
):
    """Wire an input stream DIRECTLY into an IncrementalIndexStore
    (index/incremental.py): each micro-batch is one durable index commit
    that tokenizes ONLY the batch — the 100 TB refresh cost — instead of
    ``searchable_store``'s full-state rebuild. Upserts supersede older
    versions via the store's tombstones; rows with ``_deleted = true``
    become tombstone-only deletes; within-batch duplicates resolve to
    the highest ``_seq`` (else an arbitrary row, as with IngestSink).
    ``auto_merge_tier`` runs the tiered-merge trigger after every commit
    (maybe_merge: fold once more than that many generations exist), the
    steady-state analog of the reference's background merges.

    Replay-idempotent, ATOMICALLY: foreachBatch is at-least-once, so
    after a failure/restart the same epoch_id can be redelivered. The
    epoch id is recorded INSIDE the generation commit itself
    (commit_batch(meta=...) writes it into the gen dir before the
    _COMMITTED marker), so the watermark and the commit it describes
    appear together or not at all — a crash between "commit" and
    "record" cannot re-commit the batch on replay as a duplicate
    generation that double-counts df/cf/n_docs until a merge
    (force_merge carries the watermark into the merged gen). Empty
    batches, which commit no generation, still advance a side-file
    watermark (best-effort: re-processing an empty batch is a no-op).

    Fresh-checkpoint guard: pointing a stream whose checkpoint restarts
    epoch numbering at 0 at an EXISTING store root would silently skip
    every batch up to the recorded watermark (data loss). An incoming
    epoch_id BEHIND the watermark by more than redelivery can explain
    (epoch_id < watermark) therefore raises instead of returning.

    Returns (store, streaming_query); query results come from
    ``store.open()`` after any commit."""
    from meresco_lucene_spark.index.incremental import IncrementalIndexStore

    store = IncrementalIndexStore(stream_df.sparkSession, root, **store_kwargs)
    epoch_path = os.path.join(root, "_last_stream_epoch")

    def _last_epoch() -> int:
        file_val = -1
        if os.path.exists(epoch_path):
            with open(epoch_path) as f:
                file_val = int(f.read().strip())
        return max(file_val, store.last_stream_epoch())

    def _record_epoch(eid: int) -> None:
        from meresco_lucene_spark.index.committer import COMMITTER

        COMMITTER.publish_file(epoch_path, str(eid))

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        last = _last_epoch()
        if epoch_id <= last:
            if epoch_id < last:
                raise RuntimeError(
                    f"incoming stream epoch {epoch_id} is behind the store's "
                    f"recorded watermark {last} by more than one batch: this "
                    f"stream appears to run from a FRESH checkpoint against "
                    f"the existing store root {root!r}. Silently skipping "
                    "would lose every batch up to the watermark — use a new "
                    "store root or restore the original checkpoint."
                )
            return  # at-least-once redelivery of the last committed batch
        cols = batch_df.columns
        if "_seq" in cols:
            w = Window.partitionBy(id_col).orderBy(F.col("_seq").desc())
            batch_df = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_seq")
            )
        else:
            batch_df = batch_df.dropDuplicates([id_col])
        if "_deleted" in cols:
            # frame-path deletes (VERDICT r5): the dead ids flow straight
            # from the batch into commit_batch's tombstone write — never
            # collected to the driver (a CDC batch may delete millions of
            # rows). One small agg job decides emptiness of both halves.
            dead = F.coalesce(F.col("_deleted"), F.lit(False))
            counts = batch_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(dead, 1).otherwise(0)).alias("nd"),
            ).collect()[0]
            n_dead = int(counts["nd"] or 0)
            has_adds = int(counts["n"]) - n_dead > 0
            dels_df = (
                batch_df.filter(dead).select(id_col) if n_dead else None
            )
            adds = batch_df.filter(~dead).drop("_deleted") if has_adds else None
        else:
            dels_df = None
            adds = batch_df if batch_df.limit(1).count() else None
        if adds is not None or dels_df is not None:
            # the epoch id travels INSIDE the commit (atomic with it)
            store.commit_batch(
                adds,
                delete_frame=dels_df,
                id_col=id_col,
                meta={"stream_epoch": int(epoch_id)},
            )
            if auto_merge_tier is not None:
                store.maybe_merge(segments_per_tier=auto_merge_tier)
        # side-file watermark: the only record for EMPTY batches (which
        # commit nothing); for data batches it merely caches what the
        # gen meta already states durably
        _record_epoch(epoch_id)

    writer = stream_df.writeStream.outputMode("append").foreachBatch(_commit)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return store, writer.start()


def stream_ingest(
    stream_df: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    trigger_seconds: float | None = None,
):
    """Wire an input stream into an IngestSink via foreachBatch.

    Returns (sink, streaming_query). Caller drives the query
    (processAllAvailable() for batch-style tests, or let it run)."""
    sink = IngestSink(stream_df.sparkSession, state_dir, id_col)
    writer = stream_df.writeStream.outputMode("append").foreachBatch(
        sink.process_batch
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return sink, writer.start()
