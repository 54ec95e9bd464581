"""Incremental commits for the persistent store: Lucene's segment model
restated over generation directories.

The reference's IndexWriter accumulates addDocument/deleteDocument calls
and each commit makes a new durable segment set searchable
(Lucene.java:920-945, commit policy LuceneSettings.java:58-59); deleted
docs stay in the postings — and in docFreq/norms — until a MERGE
rewrites them away (TieredMergePolicy, LuceneSettings.java:157-160).
This module reproduces that contract Spark-first:

  root/
    _config.json       field typing / similarity config (written once)
    gen-000000/
      store/           a full build_index_store output for THIS batch
      tombstones/      parquet (doc_id) — ids this commit supersedes or
                       deletes in all OLDER generations
      _COMMITTED       atomic commit marker (store + tombstones appear
                       together or not at all)

  * commit_batch(df)  — tokenizes ONLY the batch (at 100 TB you cannot
    re-tokenize the corpus per refresh), builds a generation store,
    tombstones older versions of the batch's ids, commits atomically.
  * MultiGenIndex     — the PersistentIndex reader interface over
    the committed generations: postings/forward rows of superseded docs
    are filtered out (liveDocs), while df/cf/n_docs/avgdl AGGREGATE
    across generations INCLUDING dead docs — exactly Lucene's scoring
    semantics before a merge.
  * force_merge()     — folds all generations into one (stats then
    exclude deleted docs, as after a Lucene merge). The merge re-encodes
    DECODED postings via build_index_store(occurrences=...) — no
    re-tokenization, matching Lucene's copy-don't-reanalyze merges.
  * partial_merge()   — the size-tiered form maybe_merge actually uses:
    folds only the SUFFIX of small delta generations, never re-encoding
    a dominant base generation (at 100 TB, merge cost must track the
    DELTA volume, not the corpus).

Scale shape: a commit's cost is proportional to the BATCH (one small
store build + one tombstone write). A small batch is one Spark job: the
store build's bounded collect, after which the driver encodes and
writes the generation, tombstones included (build_index_store's driver
route); a batch over the bound, or a delete frame whose ids must stay
off the driver, goes through the distributed build and a Spark
tombstone write. A query reads each table in ONE scan over all
generations' files, so its jobs do not grow with the generation count;
liveness is one anti-join per scan against one tombstone broadcast per
query until tombstones grow large, at which point force_merge (the
tiered-merge analog) resets them to zero.
Crash safety: a commit is invisible until its _COMMITTED marker exists
(written last, via atomic rename), so a crash mid-commit leaves older
readers consistent; a crashed gen dir is wiped and renumbered by the
next commit.

FILESYSTEM ASSUMPTION (applies to all three commit protocols in this
repo — the gen-dir ``_COMMITTED`` markers here, IngestSink's
``epoch=N/_SUCCESS`` gating (streaming/ingest.py), and the suggestion
store's ``CURRENT`` pointer swap (suggest.py)): visibility is gated on
an ATOMIC RENAME, which POSIX filesystems and HDFS provide but object
stores (S3 et al.) do not — there, rename is copy+delete and readers
can observe half-commits. Pointing a store root at an object store
needs a real commit-log abstraction (an Iceberg/Delta-style catalog
transaction) in place of the rename; tracked as the Iceberg backlog
item, fine for local/HDFS deployments.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from meresco_lucene_spark.columns import PLAIN_TYPES
from meresco_lucene_spark.index.builder import FieldStats
from meresco_lucene_spark.index.committer import COMMITTER
from meresco_lucene_spark.index import store as index_store
from meresco_lucene_spark.index.store import (
    PersistentIndex,
    build_index_store,
    decode_block_frame,
    open_persistent_index,
    parquet_options,
    parquet_rows,
    publish_parquet,
)
from meresco_lucene_spark.session import in_stage, local_frame, stage

_GEN_PREFIX = "gen-"

# A read over more root paths than this threshold lists its files in a
# Spark job of its own (HadoopFSUtils.parallelListLeafFiles).
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()


def _read_dirs(spark: SparkSession, schema, dirs: list[str]) -> DataFrame:
    """ONE file-source relation over ``dirs``, read with ``schema`` (no
    inference job). The dirs lie under one store root, so they are
    listed on the driver: the threshold is raised to their count for the
    read, instead of a listing job joining every query that crosses it."""
    with _LISTING_LOCK:
        old = spark.conf.get(_LISTING_THRESHOLD)
        if len(dirs) <= int(old):
            return spark.read.schema(schema).parquet(*dirs)
        spark.conf.set(_LISTING_THRESHOLD, str(len(dirs)))
        try:
            return spark.read.schema(schema).parquet(*dirs)
        finally:
            spark.conf.set(_LISTING_THRESHOLD, old)


def _read_tombstones(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Tombstones have the fixed schema ``doc_id long``."""
    return _read_dirs(spark, "doc_id long", dirs)


def _ids(tbl: pa.Table) -> np.ndarray:
    return tbl.column("doc_id").to_numpy().astype(np.int64)


def _read_ids(table_dir: str) -> np.ndarray:
    """The ``doc_id`` column of a parquet dir, read with pyarrow."""
    return _ids(pq.read_table(table_dir, columns=["doc_id"]))


def _live_occurrence_rows(blocks: pa.Table, live) -> pa.Table:
    """(field, term, doc_id, pos, _dl) of every position of the postings
    in ``blocks`` whose doc ids ``live(doc_ids)`` keeps."""
    if blocks.num_rows == 0:
        return _OCC_SCHEMA.empty_table()
    blocks = blocks.combine_chunks()
    doc_l = blocks.column("doc_ids").chunk(0)
    docs = pc.list_flatten(doc_l).to_numpy().astype(np.int64)
    block = pc.list_parent_indices(doc_l).to_numpy()
    dls = pc.list_flatten(blocks.column("dls").chunk(0)).to_numpy()
    per_posting = pc.list_flatten(blocks.column("positions").chunk(0))
    posting = pc.list_parent_indices(per_posting).to_numpy()
    pos = pc.list_flatten(per_posting).to_numpy()
    keep = np.flatnonzero(live(docs)[posting])
    posting = posting[keep]
    rows = pa.array(block[posting])
    return pa.table(
        [
            blocks.column("field").take(rows),
            blocks.column("term").take(rows),
            pa.array(docs[posting], pa.int64()),
            pa.array(pos[keep], pa.int32()),
            pa.array(dls[posting], pa.int32()),
        ],
        schema=_OCC_SCHEMA,
    )


# the merge feed's occurrence rows (before their term hash _h)
_OCC_SCHEMA = pa.schema(
    [("field", pa.string()), ("term", pa.string()), ("doc_id", pa.int64()),
     ("pos", pa.int32()), ("_dl", pa.int32())]
)


def _publish_tombstones(spark: SparkSession, ids: list[np.ndarray], tomb_dir: str) -> None:
    """The union of ``ids`` as ``tomb_dir``'s one file, written by the
    driver (publish_parquet, no Spark job); nothing when it is empty."""
    ids = np.unique(np.concatenate(ids))
    if len(ids):
        publish_parquet(pa.table({"doc_id": ids}), tomb_dir, **parquet_options(spark))


def _gen_name(n: int) -> str:
    return f"{_GEN_PREFIX}{n:06d}"


def _gen_numbers(root: str, committed_only: bool = True) -> list[int]:
    """The generation numbers under ``root``, ascending."""
    return sorted(
        int(e[len(_GEN_PREFIX):])
        for e in os.listdir(root)
        if e.startswith(_GEN_PREFIX)
        and (not committed_only or os.path.exists(_commit_marker(os.path.join(root, e))))
    )


def _commit_marker(gen_dir: str) -> str:
    return os.path.join(gen_dir, "_COMMITTED")


def _meta_path(gen_dir: str) -> str:
    return os.path.join(gen_dir, "_meta.json")


def _write_meta(gen_dir: str, meta: dict) -> None:
    COMMITTER.publish_file(_meta_path(gen_dir), json.dumps(meta))


class IncrementalIndexStore:
    """Writer handle: commit batches / deletes, open readers, merge."""

    def __init__(self, spark: SparkSession, root: str, **build_kwargs):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        cfg_path = os.path.join(root, "_config.json")
        if os.path.exists(cfg_path):
            with open(cfg_path) as f:
                self.build_kwargs = json.load(f)
            if build_kwargs and build_kwargs != self.build_kwargs:
                raise ValueError(
                    "store config differs from the existing _config.json; "
                    "field typing is fixed at store creation"
                )
        else:
            self.build_kwargs = dict(build_kwargs)
            tmp = cfg_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.build_kwargs, f)
            os.replace(tmp, cfg_path)

    # ---------------------------------------------------------- discovery
    def _gens(self, committed_only: bool = True) -> list[int]:
        return _gen_numbers(self.root, committed_only)

    def _next_gen(self) -> int:
        all_gens = self._gens(committed_only=False)
        return (all_gens[-1] + 1) if all_gens else 0

    def _new_gen_dir(self) -> tuple[int, str]:
        """Wipe crashed dirs, then create the next generation's dir."""
        self._clean_crashed()
        gen = self._next_gen()
        gen_dir = os.path.join(self.root, _gen_name(gen))
        os.makedirs(gen_dir)
        return gen, gen_dir

    def _clean_crashed(self) -> None:
        """Wipe generation dirs that lack a _COMMITTED marker (crashed
        mid-commit). Single-writer is assumed, so any unmarked dir is
        dead weight — removing it before numbering keeps the docstring's
        'wiped and renumbered' promise instead of leaking it forever.

        Also garbage-collects generations a committed merge already
        folded (its ``merged_from`` metadata): a crash between a merge's
        _COMMITTED marker and the suffix deletions leaves a transient
        bigger-but-consistent state (the merged gen's tombstones mask
        every folded copy) that heals here on the next write."""
        committed = self._gens()
        dead = set(self._gens(committed_only=False)) - set(committed)
        for g in committed:
            dead.update(self._gen_meta(g).get("merged_from", ()))
        for g in dead:
            shutil.rmtree(os.path.join(self.root, _gen_name(g)), ignore_errors=True)

    # ------------------------------------------------------------ commits
    def commit_batch(
        self,
        df: DataFrame | None,
        delete_ids: list[int] | None = None,
        id_col: str = "doc_id",
        meta: dict | None = None,
        delete_frame: DataFrame | None = None,
    ) -> int:
        """One commit: the batch's docs become searchable, any OLDER
        version of their ids (plus delete_ids) stops matching. Atomic:
        the generation is invisible until _COMMITTED lands. Tombstones
        are written unconditionally for the batch's ids — one write
        instead of an existence-check join against every older
        generation; a tombstone for an id that never existed matches
        nothing. When every id is on the driver (no ``delete_frame``,
        and at most DRIVER_BUILD_ROWS of them) the driver writes the
        tombstones, reading the batch's ids from the forward table the
        build just wrote; otherwise Spark does. (Frame-sourced predicate
        deletes go through ``delete_matching`` — the no-driver-collect
        path.)

        Every Spark job of a commit is tagged ``commit:<stage>``.

        ``meta``: small JSON dict recorded durably INSIDE this commit
        (written before the _COMMITTED marker) — used by the streaming
        ingest to make epoch replay-detection atomic with the commit.

        ``delete_frame``: ids to delete as a one-column DataFrame — the
        frame-path twin of ``delete_ids`` for callers whose delete set
        comes from a distributed computation (streaming CDC): the ids
        flow straight into the tombstone parquet write, never through
        the driver (a CDC batch deleting millions of rows must not
        materialize them driver-side)."""
        gen, gen_dir = self._new_gen_dir()
        tomb_dir = os.path.join(gen_dir, "tombstones")
        # tombstones only matter when an older generation exists
        has_older = bool(self._gens())

        def spark_tombstones():
            tomb_ids = None
            if df is not None:
                tomb_ids = df.select(F.col(id_col).cast("long").alias("doc_id"))
            if delete_ids:
                extra = local_frame(
                    self.spark, [(int(i),) for i in delete_ids], "doc_id long"
                )
                tomb_ids = extra if tomb_ids is None else tomb_ids.unionByName(extra)
            if delete_frame is not None:
                dfr = delete_frame.select(
                    F.col(delete_frame.columns[0]).cast("long").alias("doc_id")
                )
                tomb_ids = dfr if tomb_ids is None else tomb_ids.unionByName(dfr)
            tomb_ids.distinct().write.mode("overwrite").parquet(tomb_dir)

        with stage(self.spark, "commit"):
            # A delete frame's ids stay off the driver: Spark writes the
            # tombstones on a thread, concurrent with the store build
            # (guide §2.6). Ordering stays safe: both exist before the
            # _COMMITTED marker lands.
            tomb_writer = pool = None
            if has_older and delete_frame is not None:
                from concurrent.futures import ThreadPoolExecutor

                pool = ThreadPoolExecutor(max_workers=1)
                tomb_writer = pool.submit(
                    in_stage(self.spark, "tombstones", spark_tombstones)
                )
            built = None
            try:
                if df is not None:
                    # lineage=False: generation stores are wiped on crash,
                    # never shard-resumed, so they record no lineage
                    built = build_index_store(
                        df, os.path.join(gen_dir, "store"), id_col=id_col,
                        lineage=False, **self.build_kwargs,
                    )
            finally:
                if tomb_writer is not None:
                    tomb_writer.result()  # re-raise a failed tombstone write
                    pool.shutdown(wait=True)
            if has_older and delete_frame is None:
                n_ids = len(delete_ids or []) + (built.n_docs if built else 0)
                if n_ids <= index_store.DRIVER_BUILD_ROWS:
                    # every id is on the driver: the batch's from the
                    # forward table just written, no Spark job
                    ids = [np.asarray(delete_ids or [], dtype=np.int64)]
                    if built is not None:
                        ids.append(_read_ids(os.path.join(built.out_dir, "forward")))
                    _publish_tombstones(self.spark, ids, tomb_dir)
                else:
                    with stage(self.spark, "tombstones"):
                        spark_tombstones()
        if meta:
            _write_meta(gen_dir, meta)
        COMMITTER.publish_file(_commit_marker(gen_dir), "ok")
        return gen

    def delete(self, delete_ids: list[int]) -> int:
        """deleteDocument analog: a tombstone-only commit."""
        return self.commit_batch(None, delete_ids=delete_ids)

    def delete_matching(self, doc_ids: DataFrame) -> int | None:
        """Predicate-delete analog (deleteDocuments(query),
        Lucene.java:178-181) at scale: a tombstone-only commit whose ids
        come from a DataFrame — typically ``hits(reader, q).select(
        "doc_id")`` — so the matched set flows straight from the
        filtered snapshot scan into the tombstone parquet write with no
        driver collect (a predicate matching a large fraction of a
        100 TB corpus must not OOM the driver). The row count rides the
        write job as an Observation; a no-match predicate leaves no
        committed generation behind (the unmarked dir is wiped at once
        and would be garbage-collected by _clean_crashed anyway).
        Returns the committed generation, or None when nothing matched
        or the store has no committed generation. Self-read-safe: the
        frame scans only already-committed gen dirs while the write
        lands in a NEW gen dir invisible until its marker."""
        if not self._gens():
            return None
        from pyspark.sql import Observation

        gen, gen_dir = self._new_gen_dir()
        obs = Observation()
        with stage(self.spark, "delete"):
            (
                doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
                .distinct()
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(os.path.join(gen_dir, "tombstones"))
            )
        if int(obs.get["n"]) == 0:
            shutil.rmtree(gen_dir, ignore_errors=True)
            return None
        COMMITTER.publish_file(_commit_marker(gen_dir), "ok")
        return gen

    # -------------------------------------------------------- gen metadata
    def _gen_meta(self, gen: int) -> dict:
        p = _meta_path(os.path.join(self.root, _gen_name(gen)))
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {}

    def last_stream_epoch(self) -> int:
        """Highest stream epoch recorded inside any COMMITTED generation
        (-1 if none): the replay watermark that cannot run ahead of the
        commits it describes, because it is written before each gen's
        _COMMITTED marker and carried forward by force_merge."""
        out = -1
        for g in self._gens():
            out = max(out, int(self._gen_meta(g).get("stream_epoch", -1)))
        return out

    # ------------------------------------------------------------- reads
    def open(self, as_of: int | None = None) -> "MultiGenIndex":
        """Open a reader; ``as_of`` pins it to the state after commit N
        (generations and tombstones above N are ignored) — the commit-
        point / snapshot-read analog (reference keeps prior commit
        points for readers, Lucene.java:899-907). Snapshots survive
        until a merge garbage-collects the generations they reference."""
        return MultiGenIndex(self.spark, self.root, as_of=as_of)

    # ------------------------------------------------------------- merge
    def _gen_ndocs(self, gen: int) -> int:
        """Row count of a generation's store from its build metadata
        (0 for tombstone-only generations) — no Spark job."""
        p = os.path.join(self.root, _gen_name(gen), "store", "meta.json")
        if os.path.exists(p):
            with open(p) as f:
                return int(json.load(f).get("n_docs", 0))
        return 0

    def maybe_merge(self, segments_per_tier: int = 8) -> int | None:
        """The TieredMergePolicy trigger (reference default
        segmentsPerTier=8.0, LuceneSettings.java:157-160): merge when the
        committed generation count exceeds the tier size, otherwise do
        nothing. Call after commit_batch in steady-state ingest so a
        read's one scan per table spans at most ~segments_per_tier
        generations' files and the tombstone anti-join stays
        broadcast-small.

        SIZE-TIERED like Lucene, not a full fold: dominant old
        generations are excluded from the merge — a prefix generation
        stays untouched while its doc count is >= 2x the total of
        everything newer — and the remaining delta SUFFIX is folded into
        one. A 100 TB base generation is therefore never re-encoded just
        because eight batch-sized deltas accumulated — merge cost stays
        proportional to the DELTA volume (log-amortized), and the base
        is only folded by a full merge once the accumulated deltas reach
        half its size. Returns the merged generation number, or None if
        below the threshold (or when nothing can be folded without
        re-encoding a dominant base — the count may then sit above the
        tier until newer deltas break the dominance, as in Lucene's
        tiered policy where segmentsPerTier applies PER TIER)."""
        gens = self._gens()
        if len(gens) <= segments_per_tier:
            return None
        sizes = {g: self._gen_ndocs(g) for g in gens}
        i = 0
        # a tombstone-only generation (size 0) is never a dominant base:
        # without the > 0 guard, `0 >= 2*0` walks the loop through a
        # delete-only suffix and degenerates into force_merge — a full
        # re-encode of the base for a pure-delete workload
        while i < len(gens) - 1 and sizes[gens[i]] > 0 and sizes[
            gens[i]
        ] >= 2 * sum(sizes[g] for g in gens[i + 1:]):
            i += 1
        suffix = gens[i:]
        if i == 0:
            return self.force_merge()
        if sum(sizes[g] for g in suffix) == 0:
            # delete-only suffix: fold the tombstone SETS into one
            # tombstone-only generation; the base is never touched
            return (
                self._fold_tombstone_gens(suffix) if len(suffix) >= 2 else None
            )
        if len(suffix) < 2:
            return None
        return self.partial_merge(suffix[0])

    def _fold_tombstone_gens(self, gens: list[int]) -> int | None:
        """Fold a contiguous SUFFIX of tombstone-only generations into
        one tombstone-only generation (union of their tombstone sets).

        Relocating a tombstone from gen g to the new gen N widens its
        mask from `row_gen < g` to `row_gen < N`; the only generations
        in [g, N) are the folded suffix itself, which carries no rows —
        so the visible corpus is unchanged. DELTA-scale I/O only: no
        store is re-encoded. Crash-safe like partial_merge: the folded
        gen commits (with ``merged_from``) before the suffix dirs are
        deleted, and _clean_crashed heals a partial deletion."""
        gen, gen_dir = self._new_gen_dir()
        tdirs = [os.path.join(self.root, _gen_name(g), "tombstones") for g in gens]
        tdirs = [d for d in tdirs if os.path.isdir(d)]
        if not tdirs:
            shutil.rmtree(gen_dir, ignore_errors=True)
            return None
        out = os.path.join(gen_dir, "tombstones")
        with stage(self.spark, "merge"):
            if sum(parquet_rows(d) for d in tdirs) <= index_store.DRIVER_BUILD_ROWS:
                _publish_tombstones(self.spark, [_read_ids(d) for d in tdirs], out)
            else:
                _read_tombstones(self.spark, tdirs).distinct().write.mode(
                    "overwrite"
                ).parquet(out)
        self._commit_merged(gen_dir, gens)
        return gen

    def _commit_merged(self, gen_dir: str, gens: list[int]) -> None:
        """Commit a merged generation, then delete the ``gens`` it folds.
        Its metadata names them (``merged_from``, for _clean_crashed) and
        carries their stream-epoch watermark, which must never move
        backwards across a merge."""
        meta: dict = {"merged_from": list(gens)}
        eps = max(
            (int(self._gen_meta(g).get("stream_epoch", -1)) for g in gens),
            default=-1,
        )
        if eps >= 0:
            meta["stream_epoch"] = eps
        _write_meta(gen_dir, meta)
        COMMITTER.publish_file(_commit_marker(gen_dir), "ok")
        for g in gens:
            shutil.rmtree(os.path.join(self.root, _gen_name(g)), ignore_errors=True)

    def _merge(self, reader: "MultiGenIndex", gens: list[int]) -> tuple[int, str]:
        """Re-encode the live docs of ``reader`` (spanning exactly
        ``gens``) as one new generation from its decoded postings, no
        re-tokenization, and commit it in place of ``gens``. Its
        tombstones mask every id it holds and every id ``gens`` masked."""
        gen, gen_dir = self._new_gen_dir()
        tomb_dir = os.path.join(gen_dir, "tombstones")
        with stage(self.spark, "merge"):
            built = build_index_store(
                reader.forward,
                os.path.join(gen_dir, "store"),
                id_col="doc_id",
                occurrences=reader.live_occurrences(),
                lengths=reader.live_lengths(),
                lineage=False,
                # a merge that fits the driver route reads its feed with
                # pyarrow: no Spark job at all
                collected=reader.merge_rows(index_store.DRIVER_BUILD_ROWS),
                **self.build_kwargs,
            )
            if built.n_docs + reader.tombstone_rows() <= index_store.DRIVER_BUILD_ROWS:
                # as in commit_batch: the merged ids from the forward
                # table just written, the reader's tombstones by pyarrow
                _publish_tombstones(
                    self.spark,
                    [_read_ids(os.path.join(built.out_dir, "forward")),
                     reader.tombstone_arrays()[0]],
                    tomb_dir,
                )
            else:
                tomb = reader.forward.select("doc_id")
                if reader._tombstones is not None:
                    tomb = tomb.unionByName(reader._tombstones.select("doc_id"))
                with stage(self.spark, "tombstones"):
                    tomb.distinct().write.mode("overwrite").parquet(tomb_dir)
        self._commit_merged(gen_dir, gens)
        return gen, gen_dir

    def partial_merge(self, start_gen: int) -> int | None:
        """Fold the SUFFIX of generations >= start_gen into one, leaving
        older generations untouched on disk (the Lucene tiered merge of
        a segment subset; merging a non-suffix subset would need gen
        renumbering to keep `tomb_gen > row_gen` masking sound, so only
        suffixes are supported).

        Correctness under the tombstone model:
          - the merged generation's stats cover the suffix's LIVE docs
            only (dead suffix docs leave docFreq — exactly Lucene's
            post-merge change for the MERGED segments; unmerged older
            segments keep counting their dead docs until their own
            merge);
          - the merged tombstones = the union of the suffix generations'
            tombstone sets (they must keep masking superseded versions
            in the KEPT older generations) plus the suffix's own live
            ids (masking the about-to-be-deleted suffix copies during
            the crash window). Both are DELTA-scale, never corpus-scale
            — the base generation contributes nothing here.
        Crash safety: the merged gen commits atomically BEFORE the
        suffix dirs are deleted; its ``merged_from`` metadata lets
        _clean_crashed garbage-collect suffix dirs that a crash left
        behind, so the transient bigger-but-consistent state heals on
        the next commit."""
        all_gens = self._gens()
        gens = [g for g in all_gens if g >= start_gen]
        if len(gens) < 2:
            return None
        if gens[0] == all_gens[0]:
            return self.force_merge()
        return self._merge(MultiGenIndex(self.spark, self.root, min_gen=start_gen), gens)[0]

    def force_merge(self) -> int:
        """Fold every committed generation into one (the tiered-merge
        endpoint): live postings are DECODED and re-encoded through
        build_index_store(occurrences=...) — no re-tokenization — and
        the merged store's stats cover live docs only, exactly the
        post-merge Lucene scoring change. Crash-safe ordering: the
        merged generation tombstones EVERY older id and commits
        atomically BEFORE the old generation dirs are deleted, so a
        crash between the two steps leaves a bigger but consistent
        store."""
        gens = self._gens()
        if len(gens) <= 1:
            return gens[0] if gens else -1
        gen, gen_dir = self._merge(self.open(), gens)
        # the merged gen's tombstones (one row per LIVE doc — corpus-sized)
        # only mask the generations just deleted; dropping them now keeps
        # steady-state reads free of any anti-join and keeps the tombstone
        # broadcast bounded by UN-MERGED volume forever, never corpus size
        shutil.rmtree(os.path.join(gen_dir, "tombstones"), ignore_errors=True)
        return gen


class MultiGenIndex:
    """Reader over committed generations with Lucene liveness semantics:
    superseded/deleted docs drop out of results, stay in the scoring
    statistics until force_merge. Implements the same interface as
    PersistentIndex, so the whole executor surface
    (term/bool/phrase/prefix/range/facets/sort/dedup/composed) runs
    unchanged on top. Each table is ONE scan over all generations'
    files, each row's generation (``_gen``, tombstones' ``_tomb_gen``)
    parsed from its file path; liveness is one anti-join above it
    against the one tombstone relation, whose broadcast adaptive
    execution reuses across a query's joins."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        as_of: int | None = None,
        min_gen: int | None = None,
    ):
        """``min_gen`` restricts the reader to generations >= min_gen —
        the partial-merge feed (the suffix is self-contained: its
        tombstones can only mask generations inside or below it, and
        nothing above the suffix exists by construction)."""
        self.spark = spark
        self.root = root
        self.id_col = "doc_id"
        gens = [
            g for g in _gen_numbers(root)
            if (as_of is None or g <= as_of) and (min_gen is None or g >= min_gen)
        ]
        self.gens = gens
        self.stores: dict[int, PersistentIndex] = {}
        # (generation, tombstone dir) of every generation with tombstones
        self._tomb_dirs: list[tuple[int, str]] = []
        for g in gens:
            gen_dir = os.path.join(root, _gen_name(g))
            if os.path.isdir(os.path.join(gen_dir, "store")):
                self.stores[g] = open_persistent_index(
                    spark, os.path.join(gen_dir, "store")
                )
            tdir = os.path.join(gen_dir, "tombstones")
            if os.path.isdir(tdir):
                self._tomb_dirs.append((g, tdir))
        if not self.stores:
            raise ValueError(f"no committed generations with data under {root}")
        first = self.stores[min(self.stores)]
        self.k1 = first.k1
        self.b = first.b
        self.similarity = first.similarity
        self.facet_fields = dict(first.facet_fields)
        # the Spark relations (tombstones, table scans, the forward
        # table) and the file-path pattern they are tagged with are made
        # on first use: a reader answered on the driver makes none
        self._gen_pattern_memo: str | None = None
        self._tomb_frame: DataFrame | None = None
        self._tomb_arrays: tuple[np.ndarray, np.ndarray] | None = None
        self.n_docs = sum(s.n_docs for s in self.stores.values())
        self._scans: dict[str, DataFrame] = {}
        self._forward: DataFrame | None = None

    @property
    def _gen_pattern(self) -> str:
        """The regex that takes a file's generation from its path: the gen
        dir right below the store root, matched in the URI form Spark
        reports (scheme, percent-escapes), so a directory above the root
        named like a generation is no match."""
        if self._gen_pattern_memo is None:
            root_path = self.spark._jvm.org.apache.hadoop.fs.Path(
                os.path.abspath(self.root)
            ).toUri().getRawPath()
            self._gen_pattern_memo = (
                r"^[^/]*(?://[^/]*)?" + re.escape(root_path.rstrip("/"))
                + "/" + _GEN_PREFIX + r"(\d+)/"
            )
        return self._gen_pattern_memo

    @property
    def _tombstones(self) -> DataFrame | None:
        """(doc_id, _tomb_gen) of every tombstone, one Spark relation over
        the generations' tombstone dirs; None without tombstones."""
        if self._tomb_frame is None and self._tomb_dirs:
            self._tomb_frame = self._tag(
                _read_tombstones(self.spark, [d for _, d in self._tomb_dirs]),
                "_tomb_gen",
            )
        return self._tomb_frame

    def tombstone_rows(self) -> int:
        """The tombstone row count, from the parquet footers."""
        return sum(parquet_rows(d) for _, d in self._tomb_dirs)

    def tombstone_arrays(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids, gens): every tombstoned doc id, ascending and unique, and
        the newest generation that tombstones it, read with pyarrow (no
        Spark job). A row of generation g is live unless its id is here
        with a gen > g. The caller bounds the read by tombstone_rows()."""
        if self._tomb_arrays is None:
            ids, gens = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
            for g, d in self._tomb_dirs:
                ids.append(_read_ids(d))
                gens.append(np.full(len(ids[-1]), g, np.int64))
            ids, gens = np.concatenate(ids), np.concatenate(gens)
            # newest generation last, so each id's last row holds its max
            order = np.lexsort((gens, ids))
            ids, gens = ids[order], gens[order]
            last = np.ones(len(ids), bool)
            last[:-1] = ids[1:] != ids[:-1]
            self._tomb_arrays = (ids[last], gens[last])
        return self._tomb_arrays

    def live_mask(self, doc_ids: np.ndarray, gen: int) -> np.ndarray:
        """Which of ``doc_ids``, rows of generation ``gen``, are live:
        no tombstone of a later generation holds them."""
        ids, gens = self.tombstone_arrays()
        if not len(ids):
            return np.ones(len(doc_ids), bool)
        i = np.minimum(np.searchsorted(ids, doc_ids), len(ids) - 1)
        return (ids[i] != doc_ids) | (gens[i] <= gen)

    @property
    def forward(self) -> DataFrame:
        """Liveness-filtered forward table, defined on first use: a query
        that never touches stored fields lists no forward dir."""
        if self._forward is None:
            self._forward = self._live(self._scan("forward"))
        return self._forward

    # --------------------------------------------------------- internals
    def _tag(self, frame: DataFrame, col: str = "_gen") -> DataFrame:
        """``frame`` (a file-source relation under the root) plus each
        row's generation number, parsed from its file path."""
        path = F.col("_metadata.file_path")
        return frame.withColumn(
            col, F.regexp_extract(path, self._gen_pattern, 1).cast("int")
        )

    def _read(self, table: str, dirs: list[str]) -> DataFrame:
        """One tagged relation over ``dirs`` of ``table``, with the union
        of the generations' recorded columns."""
        return self._tag(_read_dirs(self.spark, StructType(self._fields(table)), dirs))

    def _scan(self, table: str) -> DataFrame:
        """``table`` over every generation with data. Postings are read
        from their ``shard=s`` dirs: Spark refuses partition discovery
        over several roots."""
        if table not in self._scans:
            dirs = []
            for s in self.stores.values():
                d = os.path.join(s.out_dir, table)
                if table == "postings":
                    dirs += [os.path.join(d, e) for e in sorted(os.listdir(d))
                             if e.startswith("shard=")]
                else:
                    dirs.append(d)
            self._scans[table] = self._read(table, dirs)
        return self._scans[table]

    def _live(self, tagged: DataFrame) -> DataFrame:
        """Drop rows whose doc_id is tombstoned by a LATER generation (a
        re-added doc's new version survives its own tombstone: the kill
        condition is strictly tomb_gen > row gen), then the ``_gen`` tag."""
        if self._tombstones is None:
            return tagged.drop("_gen")
        t = F.broadcast(self._tombstones)
        cond = (tagged["doc_id"] == t["doc_id"]) & (t["_tomb_gen"] > tagged["_gen"])
        return tagged.join(t, cond, "left_anti").drop("_gen")

    def _live_postings(self, blocks: DataFrame, fld: str) -> DataFrame:
        """The live postings of tagged ``blocks``: decoded with each
        block's ``_gen`` carried onto its postings, then one anti-join."""
        return self._live(decode_block_frame(blocks, fld, passthrough=("_gen",)))

    # ------------------------------------------------- reader API
    def field_stats(self, fld: str) -> FieldStats:
        n, sdl, omit = 0, 0, False
        for s in self.stores.values():
            if fld in s.stats:
                st = s.stats[fld]
                n += st.n_docs
                sdl += st.sum_dl
                omit = omit or st.omit_norms  # any-gen semantics (configs
                # are fixed at store creation, so this is self-documentation)
        if n == 0:
            return FieldStats(n_docs=self.n_docs, sum_dl=self.n_docs or 1)
        return FieldStats(n_docs=n, sum_dl=sdl, omit_norms=omit)

    def postings_for(self, fld: str) -> DataFrame:
        """The live postings of ``fld`` from one scan of every
        generation's blocks (field/term filters push into it)."""
        blocks = self._scan("postings").filter(F.col("field") == fld)
        return self._live_postings(blocks, fld)

    def term_dfs(self, fld: str, terms: list[str]) -> dict[str, int]:
        """term -> df for the terms of ``terms`` present in ``fld``: the
        sum of the generations' term-dictionary entries, dead docs
        included (Lucene docFreq counts deleted docs until merge)."""
        out: dict[str, int] = {}
        for s in self.stores.values():
            for t, df in s.term_dfs(fld, terms).items():
                out[t] = out.get(t, 0) + df
        return out

    def term_postings(self, fld: str, terms: list[str]) -> DataFrame:
        """The live postings of ``terms`` in ``fld`` from one scan whose
        paths are chosen up front from the generations' term
        dictionaries: the ``shard=s`` dirs of the terms' shards, in the
        generations that hold the terms."""
        dirs, present = [], set()
        for s in self.stores.values():
            present.update(s.term_dfs(fld, terms))
            for shard in s.term_shards(fld, terms):
                d = os.path.join(s.out_dir, "postings", f"shard={shard}")
                if os.path.isdir(d):  # an empty salt bucket writes no dir
                    dirs.append(d)
        first = self.stores[min(self.stores)].out_dir
        blocks = self._read(
            "postings", dirs or [os.path.join(first, "postings")]
        ).filter((F.col("field") == fld) & F.col("term").isin(sorted(present)))
        return self._live_postings(blocks, fld)

    def term_stats_for(self, fld: str) -> DataFrame:
        # df/cf SUM across generations INCLUDING dead docs (Lucene
        # docFreq counts deleted docs until merge)
        return (
            self._scan("term_stats")
            .filter(F.col("field") == fld)
            .groupBy("term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.sum("cf").cast("long").alias("cf"),
            )
        )

    def num_docs(self) -> int:
        return self.n_docs

    def live_doc_count(self) -> int:
        """LIVE doc count (numDocs semantics: deletions excluded —
        unlike num_docs(), which keeps counting dead docs because
        pre-merge SCORING does, VERDICT r4 #6).

        O(1) on every call after the first per snapshot: a MultiGenIndex
        is an immutable snapshot (fixed committed-generation list), so
        the count is computed at most once and persisted beside the
        store keyed by the generation signature — later readers at the
        same tip, including other sessions, read it back without a job.
        When the snapshot has no tombstones at all (fresh store, or just
        after force_merge folded them away) the count is served straight
        from the generations' metadata row counts, no job ever. The
        design deliberately does NOT do sum(n_docs) - sum(tombstones):
        tombstones are written unconditionally for a batch's ids, so a
        tombstone row does not imply a killed doc and that subtraction
        over-counts on new-id adds."""
        sig = list(self.gens)
        path = os.path.join(self.root, "_live_count.json")
        if os.path.exists(path):
            try:
                with open(path) as f:
                    d = json.load(f)
                if d.get("gens") == sig:
                    return int(d["n"])
            except (ValueError, KeyError):
                pass
        n = self.n_docs if not self._tomb_dirs else self.forward.count()
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"gens": sig, "n": int(n)}, f)
        os.replace(tmp, path)
        return int(n)

    def fieldnames(self) -> list[str]:
        names = set()
        for s in self.stores.values():
            names.update(s.fieldnames())
        return sorted(names)

    # ------------------------------------------------------- merge feeds
    def merge_rows(self, bound: int) -> tuple[pa.Table, pa.Table, pa.Table] | None:
        """The merge feed read with pyarrow, with no Spark job: the live
        occurrence, field-length and forward rows, typed as
        store._collect_build_rows collects them from live_occurrences(),
        live_lengths() and forward. None when they could number more
        than ``bound`` (counted from the generations' metadata before
        any read: an occurrence per token, a length row per field and
        doc, a forward row per doc), or when a forward column is not of
        a plain type."""
        from pyspark.sql.pandas.types import to_arrow_schema

        n = self.tombstone_rows()
        for s in self.stores.values():
            n += s.n_docs + sum(st.sum_dl + st.n_docs for st in s.stats.values())
        fwd_fields = self._fields("forward")
        if n > bound or not all(
            isinstance(f.dataType, PLAIN_TYPES) for f in fwd_fields
        ):
            return None
        fwd_schema = to_arrow_schema(StructType([StructField(f.name, f.dataType) for f in fwd_fields]))
        len_schema = to_arrow_schema(StructType([
            StructField(f.name, f.dataType)
            for f in self._fields("field_lengths")
            if f.name in ("field", "doc_id", "dl", "norm_dl")
        ]))
        occ, lens, fwd = [], [], []
        for gen, s in sorted(self.stores.items()):
            t = pq.read_table(s.table_files("forward"))
            t = t.filter(pa.array(self.live_mask(_ids(t), gen)))
            fwd.append(pa.table([
                t.column(f.name).cast(f.type) if f.name in t.column_names
                else pa.nulls(t.num_rows, f.type)
                for f in fwd_schema
            ], schema=fwd_schema))
            t = pq.read_table(s.table_files("field_lengths"), columns=len_schema.names)
            lens.append(t.filter(pa.array(self.live_mask(_ids(t), gen))).cast(len_schema))
            shards = sorted(
                e for e in os.listdir(os.path.join(s.out_dir, "postings"))
                if e.startswith("shard=")
            )
            files = [f for e in shards for f in s.table_files(f"postings/{e}")]
            if files:
                occ.append(_live_occurrence_rows(
                    pq.read_table(files, columns=["field", "term", "doc_ids", "dls", "positions"]),
                    lambda docs, g=gen: self.live_mask(docs, g),
                ))
        occ = pa.concat_tables(occ) if occ else _OCC_SCHEMA.empty_table()
        pairs = occ.select(["field", "term"]).group_by(["field", "term"]).aggregate([])
        pairs = pairs.append_column(
            "_h", pa.array(index_store.term_hashes(self.spark, pairs), pa.int64())
        )
        occ = occ.join(pairs, ["field", "term"]).select(
            ["field", "term", "doc_id", "pos", "_dl", "_h"]
        )
        return occ, pa.concat_tables(lens), pa.concat_tables(fwd)

    def _fields(self, table: str) -> list:
        """The union of the generations' recorded columns of ``table``."""
        fields: dict = {}
        for s in self.stores.values():
            for f in StructType.fromJson(s.meta["schemas"][table]).fields:
                fields.setdefault(f.name, f)
        return list(fields.values())

    def live_occurrences(self) -> DataFrame:
        """(field, term, doc_id, _dl, pos) of every LIVE posting —
        decoded from one scan of every generation's blocks, never
        re-tokenized. Feed for the merges. The per-posting dl stream
        rides along (_dl), so the re-encode needs no lengths join
        either."""
        decoded = decode_block_frame(self._scan("postings"), None, passthrough=("_gen",))
        return self._live(
            decoded.select(
                "field",
                "term",
                "_gen",
                "doc_id",
                F.col("_bdl").alias("_dl"),
                F.explode("positions").alias("pos"),
            )
        )

    def live_lengths(self) -> DataFrame:
        return self._live(
            self._scan("field_lengths").select(
                "field", "doc_id", "dl", "norm_dl", "_gen"
            )
        )
