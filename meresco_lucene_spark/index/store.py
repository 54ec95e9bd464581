"""Persistent multi-field index store: the FULL query surface from disk.

The engine's one durable index: build once from the input rows, reopen
in any session, query everything — term, boolean, phrase, prefix,
facets, sort, dedup, composed queries and top-k — with no
re-tokenization. This reproduces the reference's durable
commit -> search contract (Lucene.java:920-945, refresh :899-907): one
build = one commit = one queryable snapshot.

Layout under ``out_dir``:
  forward/        the input rows (doc_id + stored/sortable/facet columns)
  field_lengths/  (field, doc_id, dl, norm_dl)
  term_stats/     (field, term, df, cf, base_shard, n_salts)
  postings/       partitioned by shard:
                  (field, term, block_id, doc_count, doc_ids array<bigint>,
                   tfs array<int>, dls array<int>,
                   positions array<array<int>>)
  lineage/        (shard, n_terms, term_min, term_max, n_blocks,
                   n_postings, bytes, content_xxh64_sum, run_id)
  meta.json       {snapshot, n_docs, field_stats, facet_fields, k1, b,
                   similarity, quantized, n_shards, ...,
                   schemas}

Block format: up to ``block_size`` postings of one (field, term) per
row, as parallel Parquet list columns, plus one sorted position list
per posting. The postings tables are written with Parquet v2 data
pages: Spark's v2 writer keeps doc ids that repeat within a page
dictionary-encoded and stores others DELTA_BINARY_PACKED (see
PARQUET_V2). ``schemas`` records each table's schema, so opening a
store runs no schema-inference job.

Two build routes, one encode (build_index_store). Both tokenize in the
JVM (``occurrence_frames``) and cut blocks with the same ``_encode``.
Size decides the route: a build whose tokenized rows fit
``DRIVER_BUILD_ROWS`` — a first build, a generation commit or a merge
alike — collects them in one bounded Spark job and is encoded and
written on the driver with pyarrow, one file per table; a larger build
encodes in an ``applyInArrow`` shard shuffle and writes with Spark. The
two routes give the same store. ``lineage`` only marks a build as
resumable: the distributed route then records shard lineage.

Sharding & skew: ``base_shard = xxhash64(field, term) % n_shards``
(JVM-side, deterministic across sessions, so resume is safe). A term
whose df reaches ``hot_df_fraction * N`` is *salted*: its postings
spread over ``salt_buckets`` consecutive shards (``(base_shard + doc_id
% n_salts) % n_shards``), so no single encode task swallows a whole
hot posting list. term_stats records base_shard and n_salts, so every
exact-term read looks its terms up there and scans only their shards.

Crash safety: a build first removes the store's meta.json, then writes
its tables, and publishes meta.json last, so a store whose build was
interrupted refuses to open instead of serving an old snapshot's
meta.json over mixed tables.

Resume (distributed route): each fully-written shard appends a lineage
row whose content_xxh64_sum covers the shard's block content. On
resume, shards present in lineage are kept; shard directories without
a lineage row (crash mid-write) are deleted and re-encoded. Blocks are
a pure function of the (field, term, doc)-sorted postings, so a resumed
build is identical to an uninterrupted one. A resume over a directory
without lineage rows is routed by size like any build: under the bound
it re-encodes from scratch on the driver, in seconds.

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

The same two facts let ``search()`` skip Spark altogether for a
selective query (query/driver.py): the terms' summed df bounds its
postings read before it starts, and ``term_files(field, terms)`` lists
the files of the terms' shards (once per handle), which the driver reads
with pyarrow, filtered by field and term. The forward table is read the
same way, bounded by the doc count, for facets, sort keys, dedup and a
page's stored fields.
"""

from __future__ import annotations

import json
import math
import os
import uuid
import weakref

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from meresco_lucene_spark.columns import qcol, sql_literal
from meresco_lucene_spark.index import wand
from meresco_lucene_spark.index.builder import FieldStats
from meresco_lucene_spark.index.committer import COMMITTER
from meresco_lucene_spark.query.bm25 import B_DEFAULT, K1_DEFAULT
from meresco_lucene_spark.session import in_stage, stage

STORE_POSTINGS_SCHEMA = (
    "shard int, field string, term string, block_id int, doc_count int, "
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

# A build whose occurrence count is at most this is SMALL: salt_buckets=
# None disables hot-term salting for it, and on the distributed route
# (a build of 1M-2M occurrences, or a resumed one) its term_stats cache
# is not materialized up front.
SMALL_BUILD_OCC = 2_000_000

# A build collects its tokenized rows to the driver in one Spark job,
# reading at most this many plus one; when they fit, the driver encodes
# and writes the store (the DRIVER route of build_index_store), else the
# build takes the distributed route. Occurrences are nearly all of the
# rows. Measured on a 4-core host, local[2], code-corpus batches: the
# driver route built 4.4k occurrences in 0.30 s against 1.41 s
# distributed, 187k in 0.86 s against 1.59 s, 929k in 3.14 s against
# 4.43 s and 1.24M in 5.9 s against 7.5 s (local[4]: 929k in 3.6 s
# against 4.2 s), so the crossover lies above 1.2M; its driver process
# peaked at 435 MB RSS at 929k. Over the bound a build pays for the
# failed collect (2.7 s more at 1.24M), so the bound sits below the
# crossover, not at it.
DRIVER_BUILD_ROWS = 1_000_000

# A search() whose terms' summed df is at most this — and the doc count
# too, when it reads the forward table (facets, sort keys, dedup,
# stored fields, match-all), and a multi-generation reader's tombstone
# count — is answered on the driver with pyarrow and numpy, no Spark job
# (query/driver.py); -1 sends every search to Spark. Measured on a
# 4-core host, local[2], medians of 7 warm repeats, Spark route against
# driver route: on a 300k-doc store, a term of df 3k in 273 ms against
# 26 ms, df 100k 274 against 49, df 300k 289 against 76, an OR of 400k
# postings 694 against 123 and a df-300k term with a facet 802 against
# 126; on a 1M-doc store, df 10k 292 against 54, df 333k 328 against
# 124, df 1M 504 against 267, an OR of 1.33M postings 1281 against 384
# and a df-1M term with a facet 1781 against 516, the driver process
# growing by under 50 MB for the search. The crossover lies above 1.3M
# postings; the bound sits below it, as DRIVER_BUILD_ROWS does, because
# the route runs on the caller's thread and holds the postings in
# driver memory.
DRIVER_QUERY_POSTINGS = 1_000_000


# ------------------------------------------------------ block format


def value_changes(values: pa.Array) -> np.ndarray:
    """Boolean mask over positions 1.. of a sorted Arrow array: True
    where the value differs from its predecessor."""
    return pc.not_equal(values[1:], values[:-1]).to_numpy(zero_copy_only=False)


def block_layout(
    run_start: np.ndarray, block_size: int
) -> tuple[np.ndarray, np.ndarray]:
    """Cut term-sorted, doc-sorted postings into blocks.

    ``run_start`` marks the first posting of each term run. Returns
    (block start indices, block_id per block)."""
    n = len(run_start)
    run_ids = np.cumsum(run_start) - 1
    run_starts_idx = np.flatnonzero(run_start)
    pos_in_run = np.arange(n) - run_starts_idx[run_ids]
    starts = np.flatnonzero(run_start | (pos_in_run % block_size == 0))
    return starts, (pos_in_run // block_size)[starts].astype(np.int32)


def block_columns(
    starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: pa.Array,
) -> dict:
    """Per-block columns of the block format, the list columns built
    from offsets over the posting arrays (no per-posting Python);
    ``positions`` holds one position list per posting."""
    bounds = np.append(starts, len(doc_ids))
    offsets = pa.array(bounds.astype(np.int32))

    def lists(values):
        return pa.ListArray.from_arrays(offsets, values)

    return {
        "doc_count": np.diff(bounds).astype(np.int32),
        "doc_ids": lists(pa.array(doc_ids, pa.int64())),
        "tfs": lists(pa.array(tfs, pa.int32())),
        "dls": lists(pa.array(dls, pa.int32())),
        "positions": lists(positions),
    }


def v2_encodings(tbl: pa.Table) -> dict:
    """pyarrow write options that encode ``tbl``'s integer and string
    columns as Spark's Parquet v2 writer does (PARQUET_V2):
    dictionary-encoded when the dictionary pays off — its values plus
    the bit-packed indices smaller than the plain values, and the
    dictionary within parquet's 1 MiB page limit — else
    DELTA_BINARY_PACKED (integers) or DELTA_BYTE_ARRAY (strings)."""
    dictionary, encoding = [], {}

    def leaves(path: str, arr):
        if pa.types.is_list(arr.type):
            yield from leaves(f"{path}.list.element", pc.list_flatten(arr))
        else:
            yield path, arr

    def plain_bytes(values) -> int:
        if pa.types.is_integer(values.type):
            return len(values) * values.type.bit_width // 8
        return (pc.sum(pc.binary_length(values)).as_py() or 0) + 4 * len(values)

    for name in tbl.column_names:
        for path, values in leaves(name, tbl.column(name).combine_chunks()):
            if pa.types.is_integer(values.type):
                fallback = "DELTA_BINARY_PACKED"
            elif pa.types.is_string(values.type):
                fallback = "DELTA_BYTE_ARRAY"
            else:
                dictionary.append(path)
                continue
            distinct = pc.unique(values)
            dict_bytes = plain_bytes(distinct)
            indices = math.ceil(len(values) * (len(distinct) - 1).bit_length() / 8)
            if dict_bytes + indices < plain_bytes(values) and dict_bytes <= 1 << 20:
                dictionary.append(path)
            else:
                encoding[path] = fallback
    return {"use_dictionary": dictionary, "column_encoding": encoding}


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


def publish_parquet(tbl: pa.Table, table_dir: str, **write_options) -> None:
    """Write ``tbl`` as one parquet file of ``table_dir`` WITHOUT a Spark
    job. Crash-safe like every commit in this package: written to a
    dot-prefixed temp name (invisible to spark.read.parquet) and
    atomically renamed into place."""
    os.makedirs(table_dir, exist_ok=True)
    token = uuid.uuid4().hex
    tmp = os.path.join(table_dir, f"._tmp-{token}")
    pq.write_table(tbl, tmp, **write_options)
    os.replace(tmp, os.path.join(table_dir, f"part-{token}.parquet"))


def parquet_files(table_dir: str) -> list[str]:
    """The data files of a parquet dir, written by Spark or by
    publish_parquet, skipping hidden (``.``) and marker (``_``) names as
    Spark's reader does; none when the dir does not exist."""
    if not os.path.isdir(table_dir):
        return []
    return [
        os.path.join(table_dir, e)
        for e in sorted(os.listdir(table_dir))
        if not e.startswith((".", "_"))
    ]


def parquet_rows(table_dir: str) -> int:
    """The row count of a parquet dir, from its files' footers."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_files(table_dir))


def write_lineage_rows(rows: list[tuple], lin_dir: str) -> None:
    """Append a handful of driver-held lineage rows as one parquet file
    (a 32-row write cost a full job round-trip of pure overhead —
    guide §5)."""
    if not rows:
        return
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
    publish_parquet(tbl, lin_dir)


# -------------------------------------------------------------- encode


def _encode(tbl: pa.Table, shard: int, block_size: int) -> pa.Table:
    """One shard's RAW OCCURRENCE rows (field, term, doc_id, pos, _dl)
    -> its posting blocks (STORE_POSTINGS_SCHEMA), in whole-shard
    Arrow/numpy passes: one sort and run-length pass derive the postings
    (tf = occurrences per doc, the sorted position list = the run's
    positions), then block boundaries, and the list columns are built
    from offsets — no per-posting or per-block Python. Both build routes
    call it: per shard in an ``applyInArrow`` task, or per shard on the
    driver."""
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
    starts, block_ids = block_layout(new_run[p_idx], block_size)
    positions = pa.ListArray.from_arrays(
        pa.array(p_bounds.astype(np.int32)),
        pa.array(tbl.column("pos").to_numpy(), pa.int32()),
    )
    return pa.table(
        {
            "shard": np.full(len(starts), shard, dtype=np.int32),
            "field": fields_o.take(p_idx[starts]),
            "term": terms_o.take(p_idx[starts]),
            "block_id": block_ids,
            **block_columns(starts, doc_ids, tfs, dls, positions),
        }
    )


# ------------------------------------------------------ build settings


def _resolve_sharding(
    spark: SparkSession,
    out_dir: str,
    resume: bool,
    n_shards: int | None,
    salt_buckets: int | None,
    occ_n: int | None,
    count_occurrences,
) -> tuple[int, int]:
    """(n_shards, salt_buckets) of a build, pinned to disk.

    Auto-shard from the occurrence count so one shard's encode frame
    fits the per-task budget, floored at the session's parallelism —
    then PINNED so a resume on a different session keeps the same shard
    mapping (pin_build_config). Explicit n_shards overrides.

    salt_buckets=None (auto): a SMALL build (a batch generation commit
    above all) disables hot-term salting outright (salt_buckets=1):
    skew is bounded by the batch itself, and with no salting the encode
    needs NOTHING from term_stats — no hot-term broadcast, and the
    distributed encode runs concurrent with the term_stats write. An
    EXPLICIT salt_buckets is always honored. ``occ_n`` None (a resumed
    stage) counts with ``count_occurrences()`` when auto-sharding."""
    if salt_buckets is None:
        salt_buckets = 1 if (occ_n is not None and occ_n <= SMALL_BUILD_OCC) else 8
    return pin_build_config(
        out_dir, resume, n_shards, salt_buckets,
        lambda: auto_n_shards(
            occ_n if occ_n is not None else count_occurrences(),
            spark.sparkContext.defaultParallelism,
        ),
    )


def _term_stats_schema(occurrences: StructType) -> StructType:
    """term_stats' schema, as the distributed route's aggregation types
    it (tested), from the occurrence frame's schema: the grouping keys
    keep their nullability."""
    return StructType(
        [
            occurrences["field"],
            occurrences["term"],
            StructField("df", LongType(), False),
            StructField("cf", LongType(), True),
            StructField("base_shard", IntegerType(), True),
            StructField("n_salts", IntegerType(), False),
        ]
    )


def _field_stats_meta(stat_rows, omit: set[str]) -> dict:
    """meta.json ``field_stats`` from per-field (field, nd, sdl) rows."""
    return {
        r["field"]: {
            "n_docs": int(r["nd"]),
            "sum_dl": int(r["sdl"]),
            "omit_norms": r["field"] in omit,
        }
        for r in stat_rows
    }


def parquet_options(spark: SparkSession) -> dict:
    """pyarrow write options for the store's tables: the session's
    parquet codec, and no serialized Arrow schema in the footer (Spark
    reads the Parquet schema; the Arrow copy made a small generation's
    files a sixth larger than Spark's)."""
    codec = spark.conf.get("spark.sql.parquet.compression.codec").lower()
    return {
        "compression": {"uncompressed": "none", "lz4raw": "lz4", "lz4_raw": "lz4"}.get(
            codec, codec
        ),
        "store_schema": False,
    }


# ------------------------------------------------------- driver route


def _collect_build_rows(
    occurrences: DataFrame, lengths: DataFrame, forward: DataFrame, bound: int
) -> tuple[pa.Table, pa.Table, pa.Table] | None:
    """The build's occurrence, field-length and forward rows as Arrow
    tables, from ONE Spark job, or None when they number more than
    ``bound`` in all (occurrences are nearly all of them).

    The three frames are one union, read in one task up to ``bound + 1``
    rows: a ``coalesce(1)`` keeps the limit from adding a shuffle, and
    an input that is over the bound stops being read at the limit. The
    occurrence rows carry ``_h = xxhash64(field, term)``, the hash every
    shard mapping starts from, so the driver places terms exactly as
    the JVM would for any n_shards. The forward rows ride as one struct
    column."""
    occ = occurrences.selectExpr(
        "0 AS _kind", "field", "term", "doc_id", "pos",
        "CAST(_dl AS INT) AS _dl", "xxhash64(field, term) AS _h",
    )
    lens = lengths.selectExpr("1 AS _kind", "field", "doc_id", "dl", "norm_dl")
    # nullable struct fields: the struct is null on the other rows
    fwd_type = StructType([StructField(f.name, f.dataType) for f in forward.schema])
    fwd = forward.select(
        F.lit(2).alias("_kind"),
        F.struct(*[qcol(c) for c in forward.columns]).cast(fwd_type).alias("_fwd"),
    )
    rows = (
        occ.unionByName(lens, allowMissingColumns=True)
        .unionByName(fwd, allowMissingColumns=True)
        .coalesce(1)
        .limit(bound + 1)
        .toArrow()
    )
    if rows.num_rows > bound:
        return None
    kind = rows.column("_kind")

    def part(k: int, cols: list[str]) -> pa.Table:
        return rows.filter(pc.equal(kind, k)).select(cols)

    return (
        part(0, ["field", "term", "doc_id", "pos", "_dl", "_h"]),
        part(1, ["field", "doc_id", "dl", "norm_dl"]),
        pa.Table.from_struct_array(part(2, ["_fwd"]).column("_fwd")),
    )


def term_hashes(spark: SparkSession, pairs: pa.Table) -> np.ndarray:
    """``xxhash64(field, term)`` of each row of ``pairs`` (columns field
    and term), the hash every shard mapping starts from, computed by
    Spark's own function over a local relation: the optimizer folds the
    hash into the relation, so collecting it runs no job."""
    if pairs.num_rows == 0:
        return np.empty(0, np.int64)
    frame = spark.createDataFrame(
        pairs.select(["field", "term"]), "field string, term string"
    )
    return np.array(
        [r[0] for r in frame.select(F.xxhash64("field", "term")).collect()], np.int64
    )


def _driver_term_stats(
    occ: pa.Table, n_shards: int, salt_buckets: int, hot_threshold: int
) -> pa.Table:
    """term_stats (field, term, df, cf, base_shard, n_salts) of the
    collected occurrences, sorted by (field, term) — the same rows the
    distributed two-phase aggregation writes."""
    agg = occ.group_by(["field", "term"]).aggregate(
        [("doc_id", "count_distinct"), ("doc_id", "count"), ("_h", "min")]
    )
    df = agg.column("doc_id_count_distinct").to_numpy()
    tstats = pa.table(
        {
            "field": agg.column("field"),
            "term": agg.column("term"),
            "df": pa.array(df, pa.int64()),
            "cf": agg.column("doc_id_count").cast(pa.int64()),
            "base_shard": pa.array(
                np.mod(agg.column("_h_min").to_numpy(), n_shards), pa.int32()
            ),
            "n_salts": pa.array(
                np.where(df >= hot_threshold, salt_buckets, 1), pa.int32()
            ),
        }
    )
    return tstats.sort_by([("field", "ascending"), ("term", "ascending")])


def _driver_postings(occ: pa.Table, tstats: pa.Table, n_shards: int, block_size: int):
    """(shard, blocks) of the collected occurrences: each occurrence's
    shard computed as the distributed route's column expression
    computes it, then the shard's rows through :func:`_encode`."""
    hot = tstats.filter(pc.greater(tstats.column("n_salts"), 1))
    if hot.num_rows:
        hot = hot.select(["field", "term", "n_salts"]).rename_columns(
            ["field", "term", "_hot_salts"]
        )
        occ = occ.join(hot, ["field", "term"], join_type="left outer")
        salts = pc.fill_null(occ.column("_hot_salts"), 1).to_numpy()
    else:
        salts = 1
    shard = (
        np.mod(occ.column("_h").to_numpy(), n_shards)
        + np.mod(occ.column("doc_id").to_numpy(), salts)
    ) % n_shards
    occ = occ.select(["field", "term", "doc_id", "pos", "_dl"])
    for s in np.unique(shard):
        rows = occ.filter(pa.array(shard == s))
        yield int(s), _encode(rows, int(s), block_size)


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
    collected: tuple[pa.Table, pa.Table, pa.Table] | None = None,
) -> "PersistentIndex":
    """Build the persistent store: the four tables and meta.json. One
    build = one commit = one durable, fully queryable snapshot.

    Two routes, one encode, and size decides between them. Both
    tokenize in the JVM with ``occurrence_frames`` and cut blocks with
    the same :func:`_encode`; they differ in where the encode runs and
    who writes the files:

    * the DRIVER route, for every build whose rows fit: the build
      collects its occurrence, length and forward rows as Arrow in ONE
      bounded Spark job; when they number at most ``DRIVER_BUILD_ROWS``
      the driver computes term_stats and the field stats from them,
      encodes each shard and writes every table with pyarrow, one file
      per table, each published by rename, meta.json last. A small
      build is then one Spark job instead of a dozen, each with its
      planning and file-commit overhead (the reference flushes a small
      batch as one small segment, Lucene.java:183-214). A build over
      the bound pays for the collect that overflows before it goes
      distributed.
    * the DISTRIBUTED route, for larger builds: one tokenize pass
      materialized to a parquet intermediate (no in-memory caching of
      the positions-heavy postings — disk-backed intermediates keep
      executor heaps flat), then the four parquet tables and one salted
      shard shuffle into an ``applyInArrow`` encode.

    Either route first removes the store's meta.json, so an interrupted
    build leaves a store that refuses to open.

    Resume: ``resume=True`` over a directory that holds lineage rows
    stays on the distributed route, where table stages skip on an
    existing _SUCCESS marker and the sharded postings resume at shard
    granularity via lineage rows — shards with a lineage row are kept,
    partial shard dirs without one are wiped and re-encoded. Any other
    resume is routed by size, so an interrupted driver-route build is
    re-encoded from scratch. Blocks are a pure function of the (field,
    term, doc)-sorted postings, so a resumed build is logically
    identical to an uninterrupted one (tested), and so is a driver-route
    build of the same rows.

    ``occurrences``/``lengths`` override the tokenize pass with
    precomputed frames (occurrences: field, term, doc_id, pos, _dl;
    lengths: field, doc_id, dl, norm_dl) — the generation-merge path
    re-encodes decoded postings WITHOUT re-tokenizing (Lucene's merge
    copies postings, it never re-analyzes: index/incremental.py).

    ``collected``: the occurrence, length and forward rows of the build
    as the driver route's collect would give them, when the caller read
    them itself (the merge feed of MultiGenIndex.merge_rows); the build
    then runs no Spark job.

    ``lineage`` only marks a build as resumable. ``lineage=False`` marks
    one that is wiped on crash rather than resumed: on the distributed
    route it writes no shard lineage (a full re-read + hash + write of
    the encoded postings that only resume needs). The driver route
    writes no lineage either way.

    Every Spark job of a build carries a ``build:<stage>`` description
    (session.stage), under its caller's stage if any."""
    from meresco_lucene_spark.index.builder import occurrence_frames

    spark = df.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    if occurrences is not None and lengths is not None:
        occurrences_lazy, lengths_lazy = occurrences, lengths
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
            dl_col="norm_dl" if quantized else "dl",
        )
    forward = df.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else df
    # the field list, when the build tokenizes (not for merge feeds)
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
    settings = dict(
        facet_fields=dict(facet_fields or {}),
        k1=k1,
        b=b,
        similarity=similarity,
        quantized=quantized,
        block_size=block_size,
        hot_df_fraction=hot_df_fraction,
    )
    omit = set(keyword_cols or [])
    schemas = {
        "forward": schema_json(forward.schema),
        "field_lengths": schema_json(lengths_lazy.schema),
        "term_stats": schema_json(_term_stats_schema(occurrences_lazy.schema)),
        "postings": schema_json(StructType.fromDDL(STORE_POSTINGS_SCHEMA)),
    }
    with stage(spark, "build"):
        rows = collected
        # a resume over lineage rows continues a distributed build shard
        # by shard; every other build is routed by size
        resumes_shards = resume and parquet_rows(os.path.join(out_dir, "lineage")) > 0
        if rows is None and not resumes_shards:
            with stage(spark, "collect"):
                rows = _collect_build_rows(
                    occurrences_lazy, lengths_lazy, forward, DRIVER_BUILD_ROWS
                )
        if rows is not None:
            _build_on_driver(
                spark, out_dir, *rows,
                n_shards=n_shards,
                salt_buckets=salt_buckets,
                known_fields=known_fields,
                omit=omit,
                schemas=schemas,
                **settings,
            )
            return PersistentIndex(spark, out_dir)
        _build_distributed(
            spark, out_dir, occurrences_lazy, lengths_lazy, forward,
            known_fields=known_fields,
            omit=omit,
            n_shards=n_shards,
            salt_buckets=salt_buckets,
            resume=resume,
            run_id=run_id,
            lineage=lineage,
            schemas=schemas,
            **settings,
        )
    return PersistentIndex(spark, out_dir)


def _withdraw_meta(out_dir: str) -> None:
    """Remove the store's meta.json before a build touches any table:
    meta.json is the commit marker, published last, so a store whose
    build is interrupted refuses to open rather than pairing an older
    snapshot's meta.json with half-replaced tables. Resume reads only
    ``_build_config.json``, the ``_SUCCESS`` markers and lineage."""
    try:
        os.remove(os.path.join(out_dir, "meta.json"))
    except FileNotFoundError:
        pass


def _store_meta(n_docs: int, field_stats: dict, n_shards: int, salt_buckets: int,
                schemas: dict, **settings) -> str:
    """meta.json of a store; ``snapshot`` identifies it:
    open_persistent_index keys its handle cache on it, so a rebuild at
    the same path is a miss."""
    return json.dumps(
        {
            "snapshot": uuid.uuid4().hex,
            "n_docs": n_docs,
            "field_stats": field_stats,
            **settings,
            "n_shards": n_shards,
            "salt_buckets": salt_buckets,
            "schemas": schemas,
        }
    )


def _build_on_driver(
    spark: SparkSession,
    out_dir: str,
    occ: pa.Table,
    lens: pa.Table,
    fwd: pa.Table,
    *,
    n_shards: int | None,
    salt_buckets: int | None,
    known_fields: list[str] | None,
    omit: set[str],
    schemas: dict,
    **settings,
) -> None:
    """The driver route of build_index_store over the collected rows:
    term_stats, field stats, the shard encode and the four table writes,
    with the same settings, shard mapping and meta.json as the
    distributed route. No Spark job."""
    import shutil

    n_shards, salt_buckets = _resolve_sharding(
        spark, out_dir, False, n_shards, salt_buckets, occ.num_rows, None
    )
    n_docs = fwd.num_rows
    hot_threshold = max(int(settings["hot_df_fraction"] * n_docs), 1)
    per_field = {
        r["field"]: {"field": r["field"], "nd": r["doc_id_count"], "sdl": r["dl_sum"]}
        for r in lens.group_by("field")
        .aggregate([("doc_id", "count"), ("dl", "sum")])
        .to_pylist()
    }
    order = known_fields if known_fields is not None else sorted(per_field)
    field_stats = _field_stats_meta([per_field[f] for f in order if f in per_field], omit)
    tstats = _driver_term_stats(occ, n_shards, salt_buckets, hot_threshold)

    opts = parquet_options(spark)
    _withdraw_meta(out_dir)
    # the tables of an earlier build at this path, and what an
    # interrupted distributed build left for its resume
    for t in ("forward", "field_lengths", "term_stats", "postings", "lineage",
              "_flat_postings"):
        shutil.rmtree(os.path.join(out_dir, t), ignore_errors=True)
    publish_parquet(fwd, os.path.join(out_dir, "forward"), **opts)
    publish_parquet(lens, os.path.join(out_dir, "field_lengths"), **opts)
    publish_parquet(tstats, os.path.join(out_dir, "term_stats"), **opts)
    post_dir = os.path.join(out_dir, "postings")
    os.makedirs(post_dir)
    blocks = _driver_postings(occ, tstats, n_shards, settings["block_size"])
    for s, shard_blocks in blocks:
        # the shard is the directory, as in a partitionBy("shard") write
        shard_blocks = shard_blocks.drop_columns(["shard"])
        publish_parquet(
            shard_blocks,
            os.path.join(post_dir, f"shard={s}"),
            data_page_version="2.0",
            **v2_encodings(shard_blocks),
            **opts,
        )
    COMMITTER.publish_file(
        os.path.join(out_dir, "meta.json"),
        _store_meta(n_docs, field_stats, n_shards, salt_buckets, schemas, **settings),
    )


def _build_distributed(
    spark: SparkSession,
    out_dir: str,
    occurrences_lazy: DataFrame,
    lengths_lazy: DataFrame,
    forward: DataFrame,
    *,
    known_fields: list[str] | None,
    omit: set[str],
    n_shards: int | None,
    salt_buckets: int | None,
    resume: bool,
    run_id: str,
    lineage: bool,
    schemas: dict,
    **settings,
) -> None:
    """The distributed route of build_index_store."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    block_size = settings["block_size"]
    flat_dir = os.path.join(out_dir, "_flat_postings")
    post_dir = os.path.join(out_dir, "postings")
    lin_dir = os.path.join(out_dir, "lineage")

    def _stage_done(d: str) -> bool:
        return resume and os.path.exists(os.path.join(d, "_SUCCESS"))

    ok = False
    tstats_writer = tstats_cached = tstats_pool = None
    _withdraw_meta(out_dir)
    try:
        # ONE tokenize+explode pass lands raw OCCURRENCE rows (field, term,
        # doc_id, pos) on disk — no aggregation at all between tokenize and
        # the shard encode (tf + position lists are derived vectorized
        # inside the whole-shard numpy encode, which sorts anyway); every
        # later stage reads the parquet back instead of recomputing.
        # Row counts (n_docs, occurrence volume for auto-sharding) ride
        # the write jobs as Observations instead of separate count jobs.
        # Resumed (skipped) stages fall back to counting the existing
        # parquet.
        # field lengths: the per-field rows of the same one-pass
        # tokenize, shuffle-free — cheaper than joining against the
        # postings shuffle. When the field list is known (tokenize
        # path), the per-field corpus stats (n_docs, sum_dl) ride this
        # write as conditional-sum Observations; the precomputed-frames
        # merge path keeps the groupBy collect.
        flat_obs = fwd_obs = len_obs = None
        stage_writes = []
        if not _stage_done(flat_dir):
            flat_obs = Observation()
            flat_write = occurrences_lazy.observe(
                flat_obs, F.count(F.lit(1)).alias("n")
            )
            stage_writes.append(
                in_stage(spark, "occurrences",
                         lambda: flat_write.write.mode("overwrite").parquet(flat_dir))
            )
        if not _stage_done(os.path.join(out_dir, "forward")):
            fwd_obs = Observation()
            fwd_write = forward.observe(fwd_obs, F.count(F.lit(1)).alias("n"))
            stage_writes.append(
                in_stage(spark, "forward", lambda: fwd_write.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "forward")
                ))
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
                in_stage(spark, "field_lengths", lambda: lengths_write.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "field_lengths")
                ))
            )
        # The three stage-1 tables are independent projections of the
        # input batch, so their write JOBS are submitted concurrently
        # (Spark's scheduler interleaves them across the executor pool):
        # at cluster scale concurrent jobs keep the executors busy while
        # each job's stragglers drain.
        if len(stage_writes) > 1:
            with ThreadPoolExecutor(max_workers=len(stage_writes)) as pool:
                for fut in [pool.submit(w) for w in stage_writes]:
                    fut.result()  # re-raises the first stage failure
        elif stage_writes:
            stage_writes[0]()
        flat_postings = spark.read.schema(occurrences_lazy.schema).parquet(flat_dir)
        if fwd_obs is not None:
            n_docs = int(fwd_obs.get["n"])
        else:
            with stage(spark, "forward"):
                n_docs = spark.read.parquet(os.path.join(out_dir, "forward")).count()
        occ_n = int(flat_obs.get["n"]) if flat_obs is not None else None

        def count_occurrences() -> int:
            with stage(spark, "occurrences"):
                return flat_postings.count()

        n_shards, salt_buckets = _resolve_sharding(
            spark, out_dir, resume, n_shards, salt_buckets, occ_n, count_occurrences
        )
        hot_threshold = max(int(settings["hot_df_fraction"] * n_docs), 1)
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
        if _stage_done(os.path.join(out_dir, "term_stats")):
            tstats_src = spark.read.schema(tstats.schema).parquet(
                os.path.join(out_dir, "term_stats")
            )
        else:
            tstats_cached = tstats.persist(StorageLevel.MEMORY_AND_DISK)
            # Large builds materialize the cache once up front so the two
            # consumers (table write, encode join) never duplicate the
            # aggregation. A SMALL build skips that extra job round-trip:
            # the concurrent consumers may race to fill the tiny cache,
            # and a duplicated small agg is cheaper than a whole
            # sequential job. Scale-adaptive on the observed occurrence
            # count.
            if occ_n is None or occ_n > SMALL_BUILD_OCC:
                with stage(spark, "term_stats"):
                    tstats_cached.count()
            tstats_pool = ThreadPoolExecutor(max_workers=1)
            tstats_writer = tstats_pool.submit(
                in_stage(spark, "term_stats", lambda: tstats_cached.write.mode("overwrite").parquet(
                    os.path.join(out_dir, "term_stats")
                ))
            )
            tstats_src = tstats_cached

        # The shard of an occurrence needs its term's base_shard and
        # n_salts, but joining the full term_stats frame for them
        # shuffled every occurrence row by (field, term) — a second
        # corpus-scale exchange (guide §2.4). base_shard is a pure hash
        # (column expression); only the few HOT terms (broadcast-small by
        # construction: at most ~sum_dl/(hot_df_fraction*n_docs) of
        # them) carry their salt count via a broadcast left join. With
        # salting disabled (small builds) the encode reads nothing from
        # term_stats at all and runs concurrent with its write.
        if salt_buckets > 1:
            hot = tstats_src.filter(F.col("n_salts") > 1).select(
                "field", "term", F.col("n_salts").alias("_hot_salts")
            )
            flat = flat_postings.join(F.broadcast(hot), ["field", "term"], "left")
            n_salts_c = F.coalesce(F.col("_hot_salts"), F.lit(1))
        else:
            flat = flat_postings
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

        # ---- shard-level resume (see the module docstring) ----
        done_shards: set[int] = set()
        if resume and os.path.exists(lin_dir):
            with stage(spark, "lineage"):
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
            with stage(spark, "field_stats"):
                stat_rows = (
                    spark.read.parquet(os.path.join(out_dir, "field_lengths"))
                    .groupBy("field")
                    .agg(F.count("*").alias("nd"), F.sum("dl").alias("sdl"))
                    .collect()
                )
        field_stats = _field_stats_meta(stat_rows, omit)

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
                )
                .repartition(
                    shard_dispersion_partitions(
                        n_shards, spark.sparkContext.defaultParallelism
                    ),
                    "shard",
                )
                .groupBy("shard")
                # (key, pyarrow.Table) -> pyarrow.Table, left unannotated:
                # applyInArrow picks its calling mode from type hints
                .applyInArrow(
                    lambda key, tbl: _encode(tbl, key[0].as_py(), block_size),
                    schema=STORE_POSTINGS_SCHEMA,
                )
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
            with stage(spark, "encode"):
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
            with stage(spark, "lineage"):
                lineage_df.write.mode("append").parquet(lin_dir)

        if tstats_writer is not None:
            tstats_writer.result()  # re-raise a failed term_stats write
        COMMITTER.publish_file(
            os.path.join(out_dir, "meta.json"),
            _store_meta(n_docs, field_stats, n_shards, salt_buckets, schemas, **settings),
        )
        ok = True
    finally:
        if tstats_pool is not None:
            tstats_pool.shutdown(wait=True)
        if tstats_cached is not None:
            tstats_cached.unpersist()
        # keep the intermediate on failure so a resume can reuse it
        if ok:
            shutil.rmtree(flat_dir, ignore_errors=True)


# --------------------------------------------------------------------- open


def decode_block_frame(
    blocks: DataFrame, fld: str | None, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Posting-block frame -> decoded (field, term, [passthrough...,]
    doc_id, tf, _bdl, positions) rows; ``_bdl`` is the posting's
    document length AS BUILT (norm_dl when the store was built
    quantized, raw dl otherwise), so scoring needs no lengths join.

    A plain JVM projection: ``posexplode`` the doc ids, then index the
    parallel ``tfs``/``dls``/``positions`` lists at the same offset,
    written as two SQL projections: fewer py4j round trips than
    building each Column in Python.
    Caller filters on ``term`` push below it into the parquet scan, and
    Catalyst drops every list column the query never reads (a term or
    boolean query scans no positions). ``fld`` None keeps the blocks'
    own ``field`` (a decode of every field). ``passthrough`` names extra
    block columns carried onto each posting (the multi-generation
    reader's ``_gen`` tag)."""
    pt = list(passthrough)
    field = "field" if fld is None else f"{sql_literal(fld)} AS field"
    return blocks.selectExpr(
        "field", "term", *pt, "tfs", "dls", "positions",
        "posexplode(doc_ids) AS (_i, doc_id)",
    ).selectExpr(
        field,
        "term",
        *pt,
        "doc_id",
        "CAST(tfs[_i] AS BIGINT) AS tf",
        "CAST(dls[_i] AS BIGINT) AS _bdl",
        "positions[_i] AS positions",
    )


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


_APP_IDS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _application_id(spark: SparkSession) -> str:
    """The Spark application's id, asked of the JVM once per context (a
    py4j round trip per store opened otherwise)."""
    sc = spark.sparkContext
    app = _APP_IDS.get(sc)
    if app is None:
        app = _APP_IDS[sc] = sc.applicationId
    return app


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
    key = (_application_id(spark), out_dir, meta["snapshot"])
    idx = _PINDEX_CACHE.get(key)
    if idx is None:
        while len(_PINDEX_CACHE) >= _PINDEX_CACHE_CAP:
            _PINDEX_CACHE.pop(next(iter(_PINDEX_CACHE)))
        _PINDEX_CACHE[key] = idx = PersistentIndex(spark, out_dir, meta)
    return idx


class PersistentIndex:
    """The engine's index reader: a store LOADED FROM DISK (postings_for
    / term_postings / term_dfs / term_stats_for / field_stats / forward
    / facet_fields / similarity / k1 / b), read by every operator in
    query/executor.py, compose/ and suggest — no re-tokenization, ever
    (opening touches only parquet + meta.json; asserted in tests).
    Whether lengths were quantized is a build setting: the postings
    carry the length as built, and meta.json records the setting."""

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
        # table dir -> its parquet files: see table_files
        self._files: dict[str, list[str]] = {}

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

    # ------------------------------------------------- reader API
    def field_stats(self, fld: str) -> FieldStats:
        if fld not in self.stats:
            return FieldStats(n_docs=self.n_docs, sum_dl=self.n_docs or 1)
        return self.stats[fld]

    def postings_for(self, fld: str) -> DataFrame:
        """Lazily-decoded (field, term, doc_id, tf, _bdl, positions)
        frame (see decode_block_frame).

        Decode is a JVM projection: term/field filters applied by callers
        push below it into the parquet scan (PushedFilters), so only the
        filtered terms' blocks are ever read."""
        return decode_block_frame(self.blocks.filter(F.col("field") == fld), fld)

    def term_stats_for(self, fld: str) -> DataFrame:
        return self.term_stats.filter(F.col("field") == fld).select(
            "term", "df", "cf"
        )

    def num_docs(self) -> int:
        return self.n_docs

    def fieldnames(self) -> list[str]:
        return sorted(self.stats)

    # ------------------------------------------------- term dictionary
    # Every exact-term read goes through the handle's term dictionary:
    # the Spark route's scorers (query/executor.py) take df from
    # term_dfs (a map constant in the plan) and read term_postings; the
    # driver route (query/driver.py) takes df the same way and reads the
    # terms' shard files from term_files.

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

    def term_postings(self, fld: str, terms: list[str]) -> DataFrame:
        """The decoded postings of ``terms`` in ``fld`` (see postings_for),
        read from those terms' shards only."""
        return decode_block_frame(self.term_blocks(fld, terms), fld)

    def term_shards(self, fld: str, terms: list[str]) -> list[int]:
        """The shards of the terms of ``terms`` present in ``fld``:
        ``(base_shard + s) % n_shards`` for s < n_salts."""
        n, meta = self.meta["n_shards"], self._term_meta(fld, terms)
        return sorted({(b + s) % n for _, b, salts in meta.values() for s in range(salts)})

    def table_files(self, rel: str) -> list[str]:
        """The parquet files of the store's dir ``rel`` (``forward``,
        ``postings/shard=3``), listed once per handle: a snapshot's files
        never change."""
        if rel not in self._files:
            self._files[rel] = parquet_files(os.path.join(self.out_dir, rel))
        return self._files[rel]

    def term_files(self, fld: str, terms: list[str]) -> list[str]:
        """The postings files of the terms' shards (see term_shards)."""
        return [
            f for s in self.term_shards(fld, terms)
            for f in self.table_files(f"postings/shard={s}")
        ]

    def term_blocks(self, fld: str, terms: list[str]) -> DataFrame:
        """The raw blocks of ``terms`` in ``fld``, pruned to their shards
        by the ``shard`` partition column before any file is read; empty
        when none of the terms is present."""
        return self.blocks.filter(
            F.col("shard").isin(self.term_shards(fld, terms))
            & (F.col("field") == fld)
            & F.col("term").isin(list(self.term_dfs(fld, terms)))
        )

    # ------------------------------------------------- top-k
    # one search() each (index/wand.py)

    def term_topk(self, fld: str, term: str, k: int = 10) -> DataFrame:
        return wand.term_topk(self, fld, term, k)

    def or_topk(self, fld: str, terms: list[str], k: int = 10) -> DataFrame:
        return wand.or_topk(self, fld, terms, k)

    def and_topk(self, fld: str, terms: list[str], k: int = 10) -> DataFrame:
        return wand.and_topk(self, fld, terms, k)
