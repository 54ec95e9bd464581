"""Persistent multi-field index store: the FULL query surface from disk.

The engine's one durable index: build once from the input rows, reopen
in any session, query everything — term, boolean, phrase, prefix,
facets, sort, dedup, composed queries and the block-max WAND top-k —
with no re-tokenization. This reproduces the reference's durable
commit -> search contract (Lucene.java:920-945, refresh :899-907): one
build = one commit = one queryable snapshot.

Layout under ``out_dir``:
  forward/        the input rows (doc_id + stored/sortable/facet columns)
  field_lengths/  (field, doc_id, dl, norm_dl)
  term_stats/     (field, term, df, cf, base_shard, n_salts)
  postings/       partitioned by shard:
                  (field, term, block_id, doc_count, min_doc, max_doc,
                   block_max_score, doc_ids array<bigint>, tfs array<int>,
                   dls array<int>, positions array<array<int>>)
  lineage/        (shard, n_terms, term_min, term_max, n_blocks,
                   n_postings, bytes, content_xxh64_sum, run_id)
  meta.json       {snapshot, n_docs, field_stats, facet_fields, k1, b,
                   similarity, quantized, has_positions, n_shards, ...,
                   schemas}

Block format: up to ``block_size`` postings of one (field, term) per
row, as parallel Parquet list columns, plus one sorted position list
per posting. The postings tables are written with the Parquet v2
writer: doc ids that repeat within a page stay dictionary-encoded,
others are stored DELTA_BINARY_PACKED (see PARQUET_V2). ``schemas``
records each table's schema, so opening a store runs no
schema-inference job.

Sharding & skew: ``base_shard = xxhash64(field, term) % n_shards``
(JVM-side, deterministic across sessions, so resume is safe). A term
whose df reaches ``hot_df_fraction * N`` is *salted*: its postings
spread over ``salt_buckets`` consecutive shards (``(base_shard + doc_id
% n_salts) % n_shards``), so no single encode task or WAND pool
swallows a whole hot posting list. term_stats records base_shard and
n_salts, so every exact-term read — scoring and WAND alike — looks its
terms up there and scans only their shards.

Resume: each fully-written shard appends a lineage row whose
content_xxh64_sum covers the shard's block content. On resume, shards
present in lineage are kept; shard directories without a lineage row
(crash mid-write) are deleted and re-encoded. Blocks are a pure
function of the (field, term, doc)-sorted postings, so a resumed build
is identical to an uninterrupted one.

The decisive design point is how :class:`PersistentIndex` exposes the
blocks: ``postings_for(field)`` returns a LAZILY-DECODED DataFrame where
the block decode is a plain JVM projection (``posexplode`` of the doc
ids, then ``tfs[i]``, ``dls[i]``, ``positions[i]``). Catalyst pushes
filters on ``term``/``field`` below it into the parquet scan
(PushedFilters on term — verified in tests) and prunes the columns a
query never reads: a term or boolean query does not scan ``positions``.
``term_postings(field, terms)`` adds the terms' shards as a partition
filter, and ``term_dfs(field, terms)`` serves their df from the
handle's term dictionary without a Spark job, so a TermQuery reads only
its term's shard files and scores with the dictionary's df.
"""

from __future__ import annotations

import json
import math
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from meresco_lucene_spark.index import wand
from meresco_lucene_spark.index.builder import FieldStats
from meresco_lucene_spark.index.committer import COMMITTER
from meresco_lucene_spark.query.bm25 import B_DEFAULT, K1_DEFAULT, bm25_score_numpy

STORE_POSTINGS_SCHEMA = (
    "shard int, field string, term string, block_id int, doc_count int, "
    "min_doc long, max_doc long, block_max_score double, "
    "doc_ids array<bigint>, tfs array<int>, dls array<int>, "
    "positions array<array<int>>"
)

# Postings writes use the Parquet v2 writer. A column whose values repeat
# within a page (doc ids shared by many terms' blocks, tfs, dls) stays
# dictionary-encoded; otherwise the writer falls back to v2's
# DELTA_BINARY_PACKED, which for the sorted doc-id lists of a large
# corpus is the block format's delta coding. (Disabling dictionaries
# grew the stores of both benchmark workloads: hashed 64-bit doc ids
# delta-encode worse than they dictionary-encode.)
PARQUET_V2 = {"parquet.writer.version": "v2"}

# A build whose occurrence count is at most this is SMALL (a batch
# generation commit above all): salt_buckets=None disables hot-term
# salting for it, and its term_stats cache is not materialized up front.
SMALL_BUILD_OCC = 2_000_000


# ------------------------------------------------------ block format


def value_changes(values: pa.Array) -> np.ndarray:
    """Boolean mask over positions 1.. of a sorted Arrow array: True
    where the value differs from its predecessor."""
    return pc.not_equal(values[1:], values[:-1]).to_numpy(zero_copy_only=False)


def block_layout(
    run_start: np.ndarray, hot_df: np.ndarray, block_size: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cut term-sorted, doc-sorted postings into blocks.

    ``run_start`` marks the first posting of each term run; ``hot_df``
    is the broadcast df of salted hot terms (NaN elsewhere). A
    non-salted term's postings all sit in one shard, so its df IS its
    run length. Returns (block start indices, block_id per block, df per
    posting)."""
    n = len(run_start)
    run_ids = np.cumsum(run_start) - 1
    run_starts_idx = np.flatnonzero(run_start)
    run_sizes = np.diff(np.append(run_starts_idx, n)).astype(np.float64)
    hot_run = hot_df[run_starts_idx]
    dfs = np.where(np.isnan(hot_run), run_sizes, hot_run)[run_ids]
    pos_in_run = np.arange(n) - run_starts_idx[run_ids]
    starts = np.flatnonzero(run_start | (pos_in_run % block_size == 0))
    return starts, (pos_in_run // block_size)[starts].astype(np.int32), dfs


def block_columns(
    starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    scores: np.ndarray,
    positions: pa.Array,
) -> dict:
    """Per-block columns of the block format, the list columns built
    from offsets over the posting arrays (no per-posting Python);
    ``positions`` holds one position list per posting."""
    n = len(doc_ids)
    ends = np.append(starts[1:], n)
    offsets = pa.array(np.append(starts, n).astype(np.int32))

    def lists(values):
        return pa.ListArray.from_arrays(offsets, values)

    return {
        "doc_count": (ends - starts).astype(np.int32),
        "min_doc": doc_ids[starts],
        "max_doc": doc_ids[ends - 1],
        "block_max_score": np.maximum.reduceat(scores, starts),
        "doc_ids": lists(pa.array(doc_ids, pa.int64())),
        "tfs": lists(pa.array(tfs, pa.int32())),
        "dls": lists(pa.array(dls, pa.int32())),
        "positions": lists(positions),
    }


def schema_json(schema: StructType) -> dict:
    """A table schema as recorded in meta.json ``schemas``."""
    return json.loads(schema.json())


# ------------------------------------------------------------- sharding

# Whole-shard encode memory budget: each encode task materializes one
# shard's raw occurrence rows as a pandas frame. Sizing n_shards so that
# occurrences/n_shards * OCC_ROW_BYTES <= ENCODE_TARGET_BYTES bounds the
# per-task frame at ~ENCODE_TARGET_BYTES regardless of corpus size
# (VERDICT r2 'What's wrong' #4 — a fixed 32 put ~3% of the corpus in one
# task at 100x scale).
ENCODE_TARGET_BYTES = 256 << 20
OCC_ROW_BYTES = 64  # conservative pandas-frame bytes per occurrence row
# Fewest occurrences worth a shard of their own (see auto_n_shards).
MIN_OCC_PER_SHARD = 65536


def auto_n_shards(n_occurrences: int, floor: int) -> int:
    """Pick n_shards from the estimated occurrence volume: enough shards
    that one shard's encode frame fits the per-task budget, at least
    `floor` (use the cluster's default parallelism so sizable corpora
    use every core), capped at 65536 (file-count sanity; beyond that,
    raise ENCODE_TARGET_BYTES instead).

    The floor itself is capped at ceil(occ / MIN_OCC_PER_SHARD): a TINY
    build — an incremental batch commit most of all — must not be padded
    out to parallelism-many near-empty shards, which cost a task each at
    encode and a parquet footer each on EVERY later read of the
    generation (a multi-generation read opens every generation's files).
    Measured r6 (OPTIMIZATION_r06.md): encoding ~64k occurrences is
    single-digit-millisecond numpy work while every extra shard task
    costs Arrow ship + scheduling + a parquet file, so shards below
    ~64k occurrences are pure overhead at build AND query time."""
    occ = max(n_occurrences, 1)
    need = math.ceil(occ * OCC_ROW_BYTES / ENCODE_TARGET_BYTES)
    floor = min(floor, math.ceil(occ / MIN_OCC_PER_SHARD))
    return int(min(max(need, floor, 1), 65536))


def shard_dispersion_partitions(n_shards: int, parallelism: int) -> int:
    """Partition count for the encode exchange. groupBy("shard") hashes
    the shard int into shuffle-partition buckets; with n_shards close to
    the core count, murmur3 collisions routinely put 2-3 whole shards on
    one task while other cores sit idle (guide §2.5: synthetic
    partitioning keys with too few distinct values — use many more
    buckets than keys so the hash spreads). Dispersing over 4x the shard
    count makes same-bucket collisions rare; empty partitions cost only
    a no-op task. When n_shards already dwarfs the parallelism, queueing
    evens the load and dispersion is unnecessary."""
    if n_shards <= 4 * max(parallelism, 1):
        return n_shards * 4
    return n_shards


def pin_build_config(
    out_dir: str,
    resume: bool,
    n_shards: int | None,
    salt_buckets: int,
    derive,
) -> tuple[int, int]:
    """Resolve (n_shards, salt_buckets) for a sharded build and PERSIST
    the choice (atomic rename) before any sharded write.

    auto_n_shards floors at the session's defaultParallelism, so the
    value is NOT a pure function of the corpus: resuming a crashed build
    on a session/cluster with different parallelism would re-derive a
    different n_shards and silently mix two pmod(xxhash64, n) shard
    mappings — done shards kept under the old mapping, remaining shards
    encoded under the new one, postings duplicated or lost (ADVICE r3).
    A resumed build therefore reads the pinned value back; an explicit
    n_shards that conflicts with the pinned one is an error."""
    cfg_path = os.path.join(out_dir, "_build_config.json")
    if resume and os.path.exists(cfg_path):
        with open(cfg_path) as f:
            cfg = json.load(f)
        if n_shards is not None and n_shards != cfg["n_shards"]:
            raise ValueError(
                f"resume with n_shards={n_shards}, but the interrupted "
                f"build used {cfg['n_shards']} ({cfg_path}); the shard "
                "mapping is fixed for the lifetime of a build"
            )
        return int(cfg["n_shards"]), int(cfg["salt_buckets"])
    if n_shards is None:
        n_shards = derive()
    salt_buckets = min(salt_buckets, n_shards)
    tmp = cfg_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"n_shards": n_shards, "salt_buckets": salt_buckets}, f)
    os.replace(tmp, cfg_path)
    return n_shards, salt_buckets


# -------------------------------------------------------------- lineage

# Lineage-as-Observation: the lineage row of a shard is a handful of
# aggregates over the blocks just written, so for builds with a bounded
# shard count the whole lineage pass can RIDE the postings write as
# per-shard conditional Observation aggregates instead of a separate
# read-back job (guide §1.3/§2.6: don't relaunch a job for what another
# job already observed). n_terms uses the fact that every (field, term)
# run starts with exactly one block_id==0 block. Above the cap the
# conditional-aggregate expression tree would bloat (7 aggs per shard),
# so big builds keep the column-pruned read-back.
LINEAGE_OBS_MAX_SHARDS = 64
LINEAGE_HASH_MOD = 2147483647


def lineage_observation(remaining: list[int]):
    """(Observation, aggregate exprs) reproducing the lineage read-back
    aggregation exactly — one group of 7 conditional aggregates per
    shard still to encode."""
    obs = Observation()
    aggs = []
    for s in remaining:
        c = F.col("shard") == s
        aggs += [
            F.sum(
                F.when(c & (F.col("block_id") == 0), 1).otherwise(0)
            ).alias(f"nt_{s}"),
            F.min(F.when(c, F.col("term"))).alias(f"tmin_{s}"),
            F.max(F.when(c, F.col("term"))).alias(f"tmax_{s}"),
            F.sum(F.when(c, 1).otherwise(0)).alias(f"nb_{s}"),
            F.sum(F.when(c, F.col("doc_count")).otherwise(0)).alias(f"np_{s}"),
            F.sum(F.when(c, F.col("_nbytes")).otherwise(0)).alias(f"by_{s}"),
            F.sum(
                F.when(c, F.pmod(F.col("_h"), F.lit(LINEAGE_HASH_MOD))).otherwise(0)
            ).alias(f"h_{s}"),
        ]
    return obs, aggs


def lineage_rows_from_observation(vals, remaining: list[int], run_id: str):
    """Observation values -> lineage rows (the lineage/ layout); a
    shard that produced no blocks yields no row, exactly like the
    read-back groupBy."""
    rows = []
    for s in remaining:
        nb = int(vals[f"nb_{s}"] or 0)
        if nb == 0:
            continue
        rows.append(
            (
                int(s),
                int(vals[f"nt_{s}"]),
                vals[f"tmin_{s}"],
                vals[f"tmax_{s}"],
                nb,
                int(vals[f"np_{s}"]),
                int(vals[f"by_{s}"]),
                str(int(vals[f"h_{s}"]) % LINEAGE_HASH_MOD),
                run_id,
            )
        )
    return rows


def write_lineage_rows(rows: list[tuple], lin_dir: str) -> None:
    """Append a handful of driver-held lineage rows as one parquet file
    WITHOUT a Spark job (a 32-row write cost a full job round-trip of
    pure overhead — guide §5). Crash-safe like every commit in this
    package: written to a dot-prefixed temp name (invisible to
    spark.read.parquet) and atomically renamed into place."""
    if not rows:
        return
    os.makedirs(lin_dir, exist_ok=True)
    cols = list(zip(*rows))
    tbl = pa.table(
        {
            "shard": pa.array(cols[0], pa.int32()),
            "n_terms": pa.array(cols[1], pa.int64()),
            "term_min": pa.array(cols[2], pa.string()),
            "term_max": pa.array(cols[3], pa.string()),
            "n_blocks": pa.array(cols[4], pa.int64()),
            "n_postings": pa.array(cols[5], pa.int64()),
            "bytes": pa.array(cols[6], pa.int64()),
            "content_xxh64_sum": pa.array(cols[7], pa.string()),
            "run_id": pa.array(cols[8], pa.string()),
        }
    )
    token = uuid.uuid4().hex
    tmp = os.path.join(lin_dir, f"._tmp-lineage-{token}")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(lin_dir, f"part-lineage-{token}.parquet"))


# -------------------------------------------------------------------- build


def build_index_store(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_cols: list[str] | None = None,
    keyword_cols: list[str] | None = None,
    array_cols: list[str] | None = None,
    dutch_cols: list[str] | None = None,
    facet_fields: dict[str, list[str]] | None = None,
    similarity: str = "BM25",
    quantized: bool = False,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    n_shards: int | None = None,
    salt_buckets: int | None = None,
    block_size: int = 128,
    hot_df_fraction: float = 0.05,
    resume: bool = False,
    run_id: str = "run0",
    occurrences: DataFrame | None = None,
    lengths: DataFrame | None = None,
    lineage: bool = True,
) -> "PersistentIndex":
    """Build the persistent store: one tokenize+agg pass materialized to
    a parquet intermediate (no in-memory caching of the positions-heavy
    postings — disk-backed intermediates keep executor heaps flat, which
    is both the 100 TB shape and what kills the GC-stall stragglers this
    host showed with cached builds), then four parquet tables and one
    salted shard shuffle for the block encode. One build = one commit =
    one durable, fully queryable snapshot.

    Resume: table stages skip on an existing _SUCCESS marker; the sharded postings resume at shard
    granularity via lineage rows — shards with a lineage row are kept,
    partial shard dirs without one are wiped and re-encoded. Blocks are a
    pure function of the (field, term, doc)-sorted postings, so a resumed
    build is logically identical to an uninterrupted one (tested).

    ``occurrences``/``lengths`` override the tokenize pass with
    precomputed frames (occurrences: field, term, doc_id, pos; lengths:
    field, doc_id, dl, norm_dl) — the generation-merge path re-encodes
    decoded postings WITHOUT re-tokenizing (Lucene's merge copies
    postings, it never re-analyzes: index/incremental.py).

    ``lineage=False`` skips the shard-lineage pass (a full re-read +
    hash + write of the encoded postings). Queries never touch lineage —
    it exists only for shard-level RESUME — so builds that are wiped on
    crash rather than resumed (incremental generation commits) drop a
    whole job of fixed overhead per commit; a later resume=True of such
    a store simply re-encodes from scratch."""
    import shutil

    from meresco_lucene_spark.index.builder import occurrence_frames

    spark = df.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    if occurrences is not None and lengths is not None:
        occurrences_lazy, lengths_lazy = occurrences, lengths
        have_inline_dl = "_dl" in occurrences.columns
    else:
        # carry the document length ON the occurrence rows (the same
        # token arrays produce both), so the encode stage needs no
        # (field, doc_id) shuffle join against the lengths table
        occurrences_lazy, lengths_lazy = occurrence_frames(
            df,
            id_col=id_col,
            text_cols=text_cols,
            keyword_cols=keyword_cols,
            array_cols=array_cols,
            dutch_cols=dutch_cols,
            inline_dl="norm_dl" if quantized else "dl",
        )
        have_inline_dl = True
    forward = df.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else df
    flat_dir = os.path.join(out_dir, "_flat_postings")
    post_dir = os.path.join(out_dir, "postings")
    lin_dir = os.path.join(out_dir, "lineage")

    def _stage_done(d: str) -> bool:
        return resume and os.path.exists(os.path.join(d, "_SUCCESS"))

    ok = False
    tstats_writer = tstats_cached = tstats_pool = None
    try:
        # ONE tokenize+explode pass lands raw OCCURRENCE rows (field, term,
        # doc_id, pos) on disk — no aggregation at all between tokenize and
        # the shard encode (tf + position lists are derived vectorized
        # inside the whole-shard numpy encode, which sorts anyway); every
        # later stage reads the parquet back instead of recomputing.
        # Row counts (n_docs, occurrence volume for auto-sharding) ride
        # the write jobs as Observations instead of separate count jobs —
        # at 100 TB a count is cheap relative to the write, but for a
        # SMALL batch commit every extra job is fixed latency on the
        # refresh path. Resumed (skipped) stages fall back to counting
        # the existing parquet.
        # field lengths: the per-field rows of the same one-pass
        # tokenize, shuffle-free — cheaper than joining against the
        # postings shuffle. When the field list is known (tokenize
        # path), the per-field corpus stats (n_docs, sum_dl) ride this
        # write as conditional-sum Observations — one fewer job on the
        # per-commit refresh path; the precomputed-frames merge path
        # keeps the groupBy collect.
        known_fields = (
            list(
                dict.fromkeys(
                    [
                        *(text_cols or []),
                        *(array_cols or []),
                        *(dutch_cols or []),
                        *(keyword_cols or []),
                    ]
                )
            )
            if occurrences is None
            else None
        )
        flat_obs = fwd_obs = len_obs = None
        stage_writes = []
        if not _stage_done(flat_dir):
            flat_obs = Observation()
            flat_write = occurrences_lazy.observe(
                flat_obs, F.count(F.lit(1)).alias("n")
            )
            stage_writes.append(
                lambda: flat_write.write.mode("overwrite").parquet(flat_dir)
            )
        if not _stage_done(os.path.join(out_dir, "forward")):
            fwd_obs = Observation()
            fwd_write = forward.observe(fwd_obs, F.count(F.lit(1)).alias("n"))
            stage_writes.append(
                lambda: fwd_write.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "forward")
                )
            )
        if not _stage_done(os.path.join(out_dir, "field_lengths")):
            lengths_write = lengths_lazy
            if known_fields:
                len_obs = Observation()
                aggs = []
                for i, fname in enumerate(known_fields):
                    cond = F.col("field") == fname
                    aggs.append(
                        F.sum(F.when(cond, 1).otherwise(0)).alias(f"nd_{i}")
                    )
                    aggs.append(
                        F.sum(F.when(cond, F.col("dl")).otherwise(0)).alias(
                            f"sdl_{i}"
                        )
                    )
                lengths_write = lengths_write.observe(len_obs, *aggs)
            stage_writes.append(
                lambda: lengths_write.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "field_lengths")
                )
            )
        # The three stage-1 tables are independent projections of the
        # input batch, so their write JOBS are submitted concurrently
        # (Spark's scheduler interleaves them across the executor pool).
        # Same total work, but the per-commit refresh latency stops
        # being the SUM of three job round-trips — on a small
        # incremental commit the fixed overhead dominates, and at
        # cluster scale concurrent jobs keep the executors busy while
        # each job's stragglers drain.
        if len(stage_writes) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(stage_writes)) as pool:
                for fut in [pool.submit(w) for w in stage_writes]:
                    fut.result()  # re-raises the first stage failure
        elif stage_writes:
            stage_writes[0]()
        flat_postings = spark.read.schema(occurrences_lazy.schema).parquet(flat_dir)
        n_docs = (
            int(fwd_obs.get["n"])
            if fwd_obs is not None
            else spark.read.parquet(os.path.join(out_dir, "forward")).count()
        )
        occ_n = int(flat_obs.get["n"]) if flat_obs is not None else None
        # Auto-shard from the materialized occurrence count so one
        # shard's encode frame fits the per-task budget (a metadata-cheap
        # count over the parquet intermediate), floored at the session's
        # parallelism — then PINNED to disk so a resume on a different
        # session keeps the same shard mapping (pin_build_config
        # docstring). Explicit n_shards overrides.
        #
        # salt_buckets=None (auto): a SMALL build (a batch generation
        # commit above all) disables hot-term salting outright
        # (salt_buckets=1): skew is bounded by the batch itself (occ_n
        # <= small cap keeps any single shard's encode frame inside the
        # per-task budget), and with no salting the encode needs
        # NOTHING from term_stats — no hot-term broadcast, and the
        # encode job runs fully concurrent with the term_stats write
        # instead of behind it. An EXPLICIT salt_buckets is always
        # honored; the choice is pinned via pin_build_config like every
        # other sharding decision, so resume keeps the same mapping.
        if salt_buckets is None:
            salt_buckets = (
                1 if (occ_n is not None and occ_n <= SMALL_BUILD_OCC) else 8
            )

        n_shards, salt_buckets = pin_build_config(
            out_dir, resume, n_shards, salt_buckets,
            lambda: auto_n_shards(
                occ_n if occ_n is not None else flat_postings.count(),
                spark.sparkContext.defaultParallelism,
            ),
        )
        hot_threshold = max(int(hot_df_fraction * n_docs), 1)
        # two-phase df/cf: aggregate to (field, term, doc_id) first — a
        # doc's occurrences all sit in one input partition, so the map-
        # side partial agg collapses the shuffle to postings size — then
        # to (field, term). Strictly fewer shuffled bytes than the
        # countDistinct expand, which ships 2x the occurrence rows
        # (guide §2.3 "aggregate before you shuffle").
        per_doc = flat_postings.groupBy("field", "term", "doc_id").agg(
            F.count("*").cast("long").alias("_tf")
        )
        tstats = (
            per_doc.groupBy("field", "term")
            .agg(
                F.count("*").cast("long").alias("df"),
                F.sum("_tf").cast("long").alias("cf"),
            )
            .withColumn(
                "base_shard",
                F.pmod(F.xxhash64(F.col("field"), F.col("term")), F.lit(n_shards)).cast(
                    "int"
                ),
            )
            .withColumn(
                "n_salts",
                F.when(F.col("df") >= hot_threshold, F.lit(salt_buckets))
                .otherwise(F.lit(1))
                .cast("int"),
            )
        )
        # The encode join consumes tstats from a spill-backed cache while
        # the term_stats table write runs CONCURRENTLY from the same
        # cache — one computation, and the write is no longer a
        # sequential barrier between stage 1 and the encode (guide §2.6
        # overlap of independent jobs). On resume the written table is
        # the source of truth instead.
        from pyspark import StorageLevel

        if _stage_done(os.path.join(out_dir, "term_stats")):
            tstats_src = spark.read.schema(tstats.schema).parquet(
                os.path.join(out_dir, "term_stats")
            )
        else:
            tstats_cached = tstats.persist(StorageLevel.MEMORY_AND_DISK)
            # Large builds materialize the cache once up front so the two
            # consumers (table write, encode join) never duplicate the
            # aggregation. A SMALL batch commit skips that extra job
            # round-trip: the concurrent consumers may race to fill the
            # tiny cache, and a duplicated small agg is cheaper than a
            # whole sequential job on the refresh-latency path.
            # Scale-adaptive on the observed occurrence count.
            if occ_n is None or occ_n > SMALL_BUILD_OCC:
                tstats_cached.count()
            from concurrent.futures import ThreadPoolExecutor

            tstats_pool = ThreadPoolExecutor(max_workers=1)
            tstats_writer = tstats_pool.submit(
                lambda: tstats_cached.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "term_stats")
                )
            )
            tstats_src = tstats_cached

        # The encode needs per-term facts (base_shard, n_salts, df) but
        # joining the full term_stats frame for them shuffled every
        # occurrence row by (field, term) — a second corpus-scale
        # exchange (guide §2.4). base_shard is a pure hash (column
        # expression); only the few HOT terms (broadcast-small by
        # construction: at most ~sum_dl/(hot_df_fraction*n_docs) of
        # them) carry their df and salt count via a broadcast left
        # join; a non-salted (field, term)'s occurrences all land in
        # ONE shard, so its true df is its in-task posting-run length.
        # With salting disabled (small builds) the encode reads nothing
        # from term_stats at all and runs concurrent with its write.
        if salt_buckets > 1:
            hot = tstats_src.filter(F.col("n_salts") > 1).select(
                "field",
                "term",
                F.col("df").cast("double").alias("_hot_df"),
                F.col("n_salts").alias("_hot_salts"),
            )
            flat = flat_postings.join(F.broadcast(hot), ["field", "term"], "left")
            n_salts_c = F.coalesce(F.col("_hot_salts"), F.lit(1))
        else:
            flat = flat_postings.withColumn("_hot_df", F.lit(None).cast("double"))
            n_salts_c = F.lit(1)
        flat = flat.withColumn(
            "shard",
            (
                (
                    F.pmod(F.xxhash64(F.col("field"), F.col("term")), F.lit(n_shards))
                    + F.pmod(F.col("doc_id"), n_salts_c)
                )
                % n_shards
            ).cast("int"),
        )
        if not have_inline_dl:
            # precomputed-occurrence feeds (merge path) have no _dl on
            # the rows; attach it from the lengths table as before
            dl_col = "norm_dl" if quantized else "dl"
            lengths_df = spark.read.schema(lengths_lazy.schema).parquet(
                os.path.join(out_dir, "field_lengths")
            )
            flat = flat.join(
                lengths_df.select("field", "doc_id", F.col(dl_col).alias("_dl")),
                ["field", "doc_id"],
            )

        # ---- shard-level resume (see the module docstring) ----
        done_shards: set[int] = set()
        if resume and os.path.exists(lin_dir):
            done_shards = {
                r["shard"]
                for r in spark.read.parquet(lin_dir).select("shard").collect()
            }
            if os.path.exists(post_dir):
                for entry in os.listdir(post_dir):
                    if entry.startswith("shard="):
                        s = int(entry.split("=")[1])
                        if s not in done_shards:
                            shutil.rmtree(os.path.join(post_dir, entry))
        else:
            shutil.rmtree(post_dir, ignore_errors=True)
            shutil.rmtree(lin_dir, ignore_errors=True)
        remaining = [s for s in range(n_shards) if s not in done_shards]
        flat = flat.filter(F.col("shard").isin(remaining))

        # per-field corpus stats: from the lengths-write Observation when
        # available (zero extra jobs), else one small aggregate over the
        # WRITTEN lengths table (nothing recomputed from raw text either
        # way). Zero-row fields are dropped to match the groupBy shape.
        omit = set(keyword_cols or [])
        if len_obs is not None:
            vals = len_obs.get
            stat_rows = [
                {
                    "field": fname,
                    "nd": int(vals[f"nd_{i}"] or 0),
                    "sdl": int(vals[f"sdl_{i}"] or 0),
                }
                for i, fname in enumerate(known_fields)
            ]
            stat_rows = [r for r in stat_rows if r["nd"] > 0]
        else:
            stat_rows = (
                spark.read.parquet(os.path.join(out_dir, "field_lengths"))
                .groupBy("field")
                .agg(F.count("*").alias("nd"), F.sum("dl").alias("sdl"))
                .collect()
            )
        field_stats_meta = {
            r["field"]: {
                "n_docs": int(r["nd"]),
                "sum_dl": int(r["sdl"]),
                "omit_norms": r["field"] in omit,
            }
            for r in stat_rows
        }
        field_params = {
            f: (d["n_docs"], d["sum_dl"] / d["n_docs"] if d["n_docs"] else 1.0)
            for f, d in field_stats_meta.items()
        }

        # (key, pyarrow.Table) -> pyarrow.Table, left unannotated:
        # applyInArrow picks its calling mode from type hints
        def _encode(key, tbl):
            # Whole-shard Arrow/numpy passes: the input is RAW OCCURRENCE
            # rows (field, term, doc_id, pos); one sort and run-length
            # pass derive the postings (tf = occurrences per doc, the
            # sorted position list = the run's positions), then block
            # boundaries and scores, and the list columns are built from
            # offsets — no per-posting or per-block Python.
            tbl = tbl.take(
                pc.sort_indices(
                    tbl,
                    [
                        ("field", "ascending"),
                        ("term", "ascending"),
                        ("doc_id", "ascending"),
                        ("pos", "ascending"),
                    ],
                )
            )
            n_occ = tbl.num_rows
            fields_o = tbl.column("field").combine_chunks()
            terms_o = tbl.column("term").combine_chunks()
            docs_o = tbl.column("doc_id").to_numpy()
            # a (field, term) run starts a posting; so does a doc change
            new_run = np.ones(n_occ, dtype=bool)
            new_run[1:] = value_changes(fields_o) | value_changes(terms_o)
            p_start = new_run.copy()
            p_start[1:] |= docs_o[1:] != docs_o[:-1]
            p_idx = np.flatnonzero(p_start)
            p_bounds = np.append(p_idx, n_occ)
            doc_ids = docs_o[p_idx]
            tfs = np.diff(p_bounds)
            dls = tbl.column("_dl").to_numpy()[p_idx]
            hot_df = pc.fill_null(tbl.column("_hot_df"), np.nan).to_numpy()[p_idx]
            starts, block_ids, dfs = block_layout(new_run[p_idx], hot_df, block_size)

            # per-field BM25 bound per posting -> block max (used only by
            # WAND-style pruning; harmless for TermFrequency similarity)
            fields = fields_o.take(p_idx)
            scores = np.zeros(len(p_idx), dtype=np.float64)
            for f, (f_n, f_avgdl) in field_params.items():
                m = pc.equal(fields, f).to_numpy(zero_copy_only=False)
                if m.any():
                    scores[m] = bm25_score_numpy(
                        tfs[m].astype(float), dfs[m], dls[m].astype(float),
                        f_n, f_avgdl, k1, b,
                    )
            positions = pa.ListArray.from_arrays(
                pa.array(p_bounds.astype(np.int32)),
                pa.array(tbl.column("pos").to_numpy(), pa.int32()),
            )
            return pa.table(
                {
                    "shard": np.full(len(starts), key[0].as_py(), dtype=np.int32),
                    "field": fields.take(starts),
                    "term": terms_o.take(p_idx[starts]),
                    "block_id": block_ids,
                    **block_columns(starts, doc_ids, tfs, dls, scores, positions),
                }
            )

        if remaining:
            # dispersed shard exchange + projection before it: see
            # shard_dispersion_partitions (guide §2.5/§2.3)
            encoded = (
                # _dl fits 32 bits (one document's token count): int not
                # long across the exchange (narrower types)
                flat.select(
                    "shard",
                    "field",
                    "term",
                    "doc_id",
                    "pos",
                    F.col("_dl").cast("int").alias("_dl"),
                    "_hot_df",
                )
                .repartition(
                    shard_dispersion_partitions(
                        n_shards, spark.sparkContext.defaultParallelism
                    ),
                    "shard",
                )
                .groupBy("shard")
                .applyInArrow(_encode, schema=STORE_POSTINGS_SCHEMA)
            )
            if lineage:
                # per-block lineage helpers computed ONCE at write time
                # (JVM expressions over the encode output): the lineage
                # pass then reads back only small int/string columns —
                # parquet column pruning skips the posting payload
                # entirely instead of re-reading + re-hashing every
                # block (column pruning)
                encoded = encoded.withColumn(
                    "_h",
                    F.xxhash64(
                        F.col("field"),
                        F.col("term"),
                        F.col("block_id"),
                        F.col("doc_ids"),
                        F.col("tfs"),
                        F.col("dls"),
                        F.col("positions"),
                    ),
                ).withColumn(
                    # lineage bytes: the doc-id + tf payload (8 + 4 bytes
                    # per posting) before Parquet encoding
                    "_nbytes", (F.col("doc_count") * 12).cast("long")
                )
            # lineage rides the write as Observations for bounded shard
            # counts (lineage_observation — one job saved); big builds
            # keep the column-pruned read-back below.
            use_obs = lineage and len(remaining) <= LINEAGE_OBS_MAX_SHARDS
            if use_obs:
                lin_obs, lin_aggs = lineage_observation(remaining)
                # the helpers feed the observation only; no read-back
                # needs them on disk
                encoded = encoded.observe(lin_obs, *lin_aggs).drop("_h", "_nbytes")
            encoded.write.options(**PARQUET_V2).mode("append").partitionBy(
                "shard"
            ).parquet(post_dir)
            if use_obs:
                write_lineage_rows(
                    lineage_rows_from_observation(
                        lin_obs.get, remaining, run_id
                    ),
                    lin_dir,
                )
        if remaining and lineage and not use_obs:
            # lineage read-back: one row per completed shard; content
            # hash is an order-independent modular SUM of per-block
            # xxhash64 (a SUM, unlike XOR, does not cancel duplicates)
            written = spark.read.parquet(post_dir).filter(
                F.col("shard").isin(remaining)
            ).select("shard", "field", "term", "doc_count", "_h", "_nbytes")
            lineage_df = (
                written
                .groupBy("shard")
                .agg(
                    F.countDistinct("field", "term").cast("long").alias("n_terms"),
                    # term range of the shard (descriptive span — salted
                    # shards interleave hash ranges)
                    F.min("term").alias("term_min"),
                    F.max("term").alias("term_max"),
                    F.count("*").cast("long").alias("n_blocks"),
                    F.sum("doc_count").cast("long").alias("n_postings"),
                    F.sum("_nbytes").cast("long").alias("bytes"),
                    F.pmod(F.sum(F.pmod(F.col("_h"), F.lit(LINEAGE_HASH_MOD))), F.lit(LINEAGE_HASH_MOD))
                .cast("string")
                .alias("content_xxh64_sum"),
                    F.lit(run_id).alias("run_id"),
                )
            )
            lineage_df.write.mode("append").parquet(lin_dir)

        meta = {
            # identifies this snapshot: open_persistent_index keys its
            # handle cache on it, so a rebuild at the same path is a miss
            "snapshot": uuid.uuid4().hex,
            "n_docs": n_docs,
            "field_stats": field_stats_meta,
            "facet_fields": dict(facet_fields or {}),
            "k1": k1,
            "b": b,
            "similarity": similarity,
            "quantized": quantized,
            "has_positions": True,
            "n_shards": n_shards,
            "salt_buckets": salt_buckets,
            "block_size": block_size,
            "hot_df_fraction": hot_df_fraction,
            "schemas": {
                "forward": schema_json(forward.schema),
                "field_lengths": schema_json(lengths_lazy.schema),
                "term_stats": schema_json(tstats.schema),
                "postings": schema_json(StructType.fromDDL(STORE_POSTINGS_SCHEMA)),
            },
        }
        if tstats_writer is not None:
            tstats_writer.result()  # re-raise a failed term_stats write
        COMMITTER.publish_file(os.path.join(out_dir, "meta.json"), json.dumps(meta))
        ok = True
    finally:
        if tstats_pool is not None:
            tstats_pool.shutdown(wait=True)
        if tstats_cached is not None:
            tstats_cached.unpersist()
        # keep the intermediate on failure so a resume can reuse it
        if ok:
            shutil.rmtree(flat_dir, ignore_errors=True)
    return PersistentIndex(spark, out_dir)


# --------------------------------------------------------------------- open


def decode_block_frame(
    blocks: DataFrame,
    fld: str | None,
    with_dl: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Posting-block frame -> decoded (field, term, [passthrough...,]
    doc_id, tf[, _bdl], positions) rows.

    A plain JVM projection: ``posexplode`` the doc ids, then index the
    parallel ``tfs``/``dls``/``positions`` lists at the same offset.
    Caller filters on ``term`` push below it into the parquet scan, and
    Catalyst drops every list column the query never reads (a term or
    boolean query scans no positions). ``fld`` None keeps the blocks'
    own ``field`` (a decode of every field). ``passthrough`` names extra
    block columns carried onto each posting (the multi-generation
    reader's ``_gen`` tag)."""
    pt = list(passthrough)
    i = F.col("_i")
    cols = [
        F.col("field") if fld is None else F.lit(fld).alias("field"),
        "term",
        *pt,
        "doc_id",
        F.col("tfs")[i].cast("long").alias("tf"),
    ]
    if with_dl:
        cols.append(F.col("dls")[i].cast("long").alias("_bdl"))
    cols.append(F.col("positions")[i].alias("positions"))
    return blocks.select(
        "field", "term", *pt, "tfs", "dls", "positions",
        F.posexplode("doc_ids").alias("_i", "doc_id"),
    ).select(*cols)


# Session-scoped HANDLE cache (not a result cache): opening a store costs
# a parquet directory listing for every table the query touches, and
# callers like the per-query entry functions and the multi-generation
# reader re-open the same immutable store once per query
# (× generations). A handle also holds the store's term dictionary memo,
# the df source of every query, so it must never outlive its snapshot:
# the key is the Spark application, the path and the ``snapshot`` id
# every build writes into meta.json. A store REBUILT at the same path
# gets a new id and misses the cache, however its file times fall; a
# store without the id (an older build) is opened afresh each time.
_PINDEX_CACHE: dict[tuple, "PersistentIndex"] = {}
_PINDEX_CACHE_CAP = 64


def open_persistent_index(spark: SparkSession, out_dir: str) -> "PersistentIndex":
    out_dir = os.path.abspath(out_dir)
    try:
        with open(os.path.join(out_dir, "meta.json")) as f:
            meta = json.load(f)
    except OSError:
        # missing/unreadable meta: let the constructor raise its usual error
        return PersistentIndex(spark, out_dir)
    if "snapshot" not in meta:
        return PersistentIndex(spark, out_dir, meta)
    key = (spark.sparkContext.applicationId, out_dir, meta["snapshot"])
    idx = _PINDEX_CACHE.get(key)
    if idx is None:
        while len(_PINDEX_CACHE) >= _PINDEX_CACHE_CAP:
            _PINDEX_CACHE.pop(next(iter(_PINDEX_CACHE)))
        _PINDEX_CACHE[key] = idx = PersistentIndex(spark, out_dir, meta)
    return idx


class PersistentIndex:
    """Disk-backed index with the exact interface of InvertedIndex
    (postings_for / term_postings / term_dfs / lengths_for /
    term_stats_for / field_stats / forward / facet_fields / similarity /
    k1 / b / quantized / has_positions),
    so every operator in query/executor.py, compose/ and suggest runs
    unchanged over a store LOADED FROM DISK — no re-tokenization, ever
    (opening touches only parquet + meta.json; asserted in tests)."""

    def __init__(self, spark: SparkSession, out_dir: str, meta: dict | None = None):
        """``meta``: the store's parsed meta.json, when the caller has
        read it already."""
        self.spark = spark
        self.out_dir = out_dir
        if meta is None:
            with open(os.path.join(out_dir, "meta.json")) as f:
                meta = json.load(f)
        self.meta = meta
        self.id_col = "doc_id"
        self.n_docs = meta["n_docs"]
        self.k1 = meta["k1"]
        self.b = meta["b"]
        self.similarity = meta["similarity"]
        self.quantized = meta["quantized"]
        self.has_positions = meta["has_positions"]
        self.facet_fields = {k: list(v) for k, v in meta["facet_fields"].items()}
        self.stats = {
            f: FieldStats(**d) for f, d in meta["field_stats"].items()
        }
        # table handles are LAZY: spark.read.parquet lists files at call
        # time (schemas come from meta.json, so no inference job), so
        # opening all four tables eagerly costs ~4 listing round-trips
        # per store even for a query that touches one table (guide §5:
        # the driver should do almost no work it can avoid)
        self._tables: dict[str, DataFrame] = {}
        # (field, term) -> (df, base_shard, n_salts) of present terms: see _term_meta
        self._meta_memo: dict[tuple[str, str], tuple] = {}

    def _table(self, name: str) -> DataFrame:
        if name not in self._tables:
            self._tables[name] = self.spark.read.schema(
                StructType.fromJson(self.meta["schemas"][name])
            ).parquet(os.path.join(self.out_dir, name))
        return self._tables[name]

    @property
    def forward(self) -> DataFrame:
        return self._table("forward")

    @property
    def field_lengths(self) -> DataFrame:
        return self._table("field_lengths")

    @property
    def term_stats(self) -> DataFrame:
        return self._table("term_stats")

    @property
    def blocks(self) -> DataFrame:
        return self._table("postings")

    # ------------------------------------------------- InvertedIndex API
    def field_stats(self, fld: str) -> FieldStats:
        if fld not in self.stats:
            return FieldStats(n_docs=self.n_docs, sum_dl=self.n_docs or 1)
        return self.stats[fld]

    # capability flag: the posting blocks carry the per-posting document
    # length stream, so scoring can skip the field_lengths join entirely
    # (postings_for(with_dl=True) exposes it as _bdl)
    inline_dl = True

    def postings_for(self, fld: str, with_dl: bool = False) -> DataFrame:
        """Lazily-decoded (field, term, doc_id, tf, positions[, _bdl])
        frame.

        Decode is a JVM projection: term/field filters applied by callers
        push below it into the parquet scan (PushedFilters), so only the
        filtered terms' blocks are ever read.

        ``with_dl=True`` additionally exposes the blocks' dl list as
        a ``_bdl`` column (the document length AS BUILT — norm_dl when the
        store was built quantized, raw dl otherwise): scoring reads the
        length straight off the posting instead of joining the
        field_lengths table — one broadcast join and one full lengths
        scan removed from every term/phrase query (guide §2.4)."""
        return decode_block_frame(
            self.blocks.filter(F.col("field") == fld), fld, with_dl
        )

    def lengths_for(self, fld: str) -> DataFrame:
        return self.field_lengths.filter(F.col("field") == fld).select(
            "doc_id", "dl", "norm_dl"
        )

    def term_stats_for(self, fld: str) -> DataFrame:
        return self.term_stats.filter(F.col("field") == fld).select(
            "term", "df", "cf"
        )

    def num_docs(self) -> int:
        return self.n_docs

    def fieldnames(self) -> list[str]:
        return sorted(self.stats)

    def unpersist(self) -> None:  # interface parity; nothing cached
        pass

    # ------------------------------------------------- term dictionary
    # Every exact-term read goes through the handle's term dictionary:
    # the scorers of query/executor.py take df from term_dfs (a map
    # constant in the plan) and read term_postings, and the WAND top-k below prunes the same
    # way (index/wand.py; rank- and score-identical to exhaustive scoring,
    # tested in test_store.py and test_segments.py).

    def _term_meta(self, fld: str, terms: list[str]) -> dict[str, tuple]:
        """term -> (df, base_shard, n_salts) for the terms of ``terms``
        present in ``fld``, in query order, duplicates dropped.

        The handle's term dictionary (metadata only, the analog of
        Lucene's in-heap term index on an open reader): the (field, term)
        keys this handle has not found yet are read from term_stats on
        the driver with pyarrow, filtered by field and term, so a lookup
        starts no Spark job. Only present terms are kept, so the memo is
        bounded by the index's term dictionary, not by the queries it is
        asked (an absent term is read again each time). The handle is an
        immutable snapshot, so the memo cannot go stale."""
        terms = list(dict.fromkeys(terms))
        missing = [t for t in terms if (fld, t) not in self._meta_memo]
        if missing:
            found = pq.read_table(
                os.path.join(self.out_dir, "term_stats"),
                columns=["term", "df", "base_shard", "n_salts"],
                filters=[("field", "==", fld), ("term", "in", missing)],
            ).to_pydict()
            for t, df, base, salts in zip(
                found["term"], found["df"], found["base_shard"], found["n_salts"]
            ):
                self._meta_memo[(fld, t)] = (int(df), int(base), int(salts))
        return {
            t: self._meta_memo[(fld, t)] for t in terms if (fld, t) in self._meta_memo
        }

    def term_dfs(self, fld: str, terms: list[str]) -> dict[str, int]:
        """term -> df for the terms of ``terms`` present in ``fld``."""
        return {t: m[0] for t, m in self._term_meta(fld, terms).items()}

    def term_postings(
        self, fld: str, terms: list[str], with_dl: bool = False
    ) -> DataFrame:
        """The decoded postings of ``terms`` in ``fld`` (see postings_for),
        read from those terms' shards only."""
        return decode_block_frame(self.term_blocks(fld, terms), fld, with_dl)

    def term_shards(self, fld: str, terms: list[str]) -> list[int]:
        """The shards of the terms of ``terms`` present in ``fld``:
        ``(base_shard + s) % n_shards`` for s < n_salts."""
        n, meta = self.meta["n_shards"], self._term_meta(fld, terms)
        return sorted({(b + s) % n for _, b, salts in meta.values() for s in range(salts)})

    def term_blocks(self, fld: str, terms: list[str]) -> DataFrame:
        """The raw blocks of ``terms`` in ``fld``, pruned to their shards
        by the ``shard`` partition column before any file is read; empty
        when none of the terms is present."""
        return self.blocks.filter(
            F.col("shard").isin(self.term_shards(fld, terms))
            & (F.col("field") == fld)
            & F.col("term").isin(list(self.term_dfs(fld, terms)))
        )

    def _topk(self, fld: str, terms: list[str], k: int, multi) -> DataFrame:
        """Top-k over the blocks of the present ``terms``: ``multi``
        (wand.or_topk or wand.and_topk) for two or more terms, else the
        single-term path (empty when no term is present)."""
        st = self.field_stats(fld)
        params = wand.WandParams(st.n_docs, st.avgdl, self.k1, self.b)
        blocks = self.term_blocks(fld, terms)
        dfs = self.term_dfs(fld, terms)
        if len(dfs) <= 1:
            df_t = next(iter(dfs.values()), None)
            return wand.term_topk(self.spark, blocks, df_t, params, k)
        return multi(self.spark, blocks, dfs, params, k)

    def term_topk(self, fld: str, term: str, k: int = 10) -> DataFrame:
        return self.or_topk(fld, [term], k)

    def or_topk(self, fld: str, terms: list[str], k: int = 10) -> DataFrame:
        return self._topk(fld, terms, k, wand.or_topk)

    def and_topk(self, fld: str, terms: list[str], k: int = 10) -> DataFrame:
        if len(self.term_dfs(fld, terms)) < len(set(terms)):
            # a missing term: no conjunction
            return self.spark.createDataFrame([], "doc_id long, score double")
        return self._topk(fld, terms, k, wand.and_topk)
