"""Persistent multi-field index store: the FULL query surface from disk.

Round-1's segment store (segments.py) served only single/OR/AND term
top-k; phrase, boolean NOT/FILTER, facets, sort, dedup and composed
queries ran on the session-cached DataFrame index, rebuilt from raw text
every session. At 100 TB you cannot re-tokenize per session — this
module makes the on-disk store the one queried, reproducing the
reference's durable commit -> search contract (Lucene.java:920-945,
refresh :899-907): build once, reopen in any session, query everything.

Layout under ``out_dir``:
  forward/        the input rows (doc_id + stored/sortable/facet columns)
  field_lengths/  (field, doc_id, dl, norm_dl)
  term_stats/     (field, term, df, cf, base_shard, n_salts)
  postings/       partitioned by shard:
                  (field, term, block_id, doc_count, min_doc, max_doc,
                   block_max_score, doc_ids array<bigint>, tfs array<int>,
                   dls array<int>, positions array<array<int>>)
  meta.json       {n_docs, field_stats, facet_fields, k1, b, similarity,
                   quantized, has_positions, n_shards, ..., schemas}

Block format = segments.py's blocks (native Parquet list columns written
by the v2 writer, see segments.PARQUET_V2) plus a ``positions`` column:
one sorted position list per posting. ``schemas`` records each table's
schema, so opening a store runs no schema-inference job.

The decisive design point is how :class:`PersistentIndex` exposes the
blocks: ``postings_for(field)`` returns a LAZILY-DECODED DataFrame where
the block decode is a plain JVM projection (``posexplode`` of the doc
ids, then ``tfs[i]``, ``dls[i]``, ``positions[i]``). Catalyst pushes
filters on ``term``/``field`` below it into the parquet scan
(PushedFilters on term — verified in tests) and prunes the columns a
query never reads: a term or boolean query does not scan ``positions``.
A TermQuery therefore reads only the blocks of its term (row-group
pruned; blocks are term-sorted within each shard file) — while
query/executor.py runs completely unchanged on top.

Sharding & skew: identical story to segments.py — ``base_shard =
xxhash64(field, term) % n_shards`` with hot terms (df >= hot_df_fraction
* N) salted across ``salt_buckets`` consecutive shards so no single
encode task swallows a hot posting list. The query side never needs the
shard: term filters prune via parquet statistics.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from meresco_lucene_spark.index.builder import FieldStats
from meresco_lucene_spark.index.segments import (
    PARQUET_V2,
    block_columns,
    block_layout,
    block_payload_bytes,
    read_table,
    schema_json,
    value_changes,
)
from meresco_lucene_spark.query.bm25 import B_DEFAULT, K1_DEFAULT, bm25_score_numpy

STORE_POSTINGS_SCHEMA = (
    "shard int, field string, term string, block_id int, doc_count int, "
    "min_doc long, max_doc long, block_max_score double, "
    "doc_ids array<bigint>, tfs array<int>, dls array<int>, "
    "positions array<array<int>>"
)


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

    Resume (same contract as segments.build_segments): table stages skip
    on an existing _SUCCESS marker; the sharded postings resume at shard
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
        from pyspark.sql import Observation

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
        from meresco_lucene_spark.index.segments import (
            auto_n_shards,
            pin_build_config,
        )

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
        small_cap = int(os.environ.get("MLS_SMALL_BUILD_OCC", "2000000"))
        if salt_buckets is None:
            salt_buckets = 1 if (occ_n is not None and occ_n <= small_cap) else 8

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
            # Scale-adaptive on the observed occurrence count; override
            # via MLS_SMALL_BUILD_OCC.
            if occ_n is None or occ_n > small_cap:
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

        # ---- shard-level resume (lineage contract of segments.py) ----
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
            # segments.shard_dispersion_partitions (guide §2.5/§2.3)
            from meresco_lucene_spark.index.segments import (
                shard_dispersion_partitions,
            )

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
                ).withColumn("_nbytes", block_payload_bytes())
            # lineage rides the write as Observations for bounded shard
            # counts (segments.lineage_observation — one job saved; the
            # per-(field,term) run starts with exactly one block_id==0
            # block, so the n_terms count carries over); big builds
            # keep the column-pruned read-back below.
            from meresco_lucene_spark.index.segments import (
                LINEAGE_HASH_MOD,
                LINEAGE_OBS_MAX_SHARDS,
                lineage_observation,
                lineage_rows_from_observation,
                write_lineage_rows,
            )

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
        with open(os.path.join(out_dir, "meta.json"), "w") as f:
            json.dump(meta, f)
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
    fld: str,
    with_dl: bool = False,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Posting-block frame -> decoded (field, term, [passthrough...,]
    doc_id, tf[, _bdl], positions) rows.

    A plain JVM projection: ``posexplode`` the doc ids, then index the
    parallel ``tfs``/``dls``/``positions`` lists at the same offset.
    Caller filters on ``term`` push below it into the parquet scan, and
    Catalyst drops every list column the query never reads (a term or
    boolean query scans no positions). ``passthrough`` names extra
    block columns carried onto each posting (the union reader's ``_gen``
    tag)."""
    pt = list(passthrough)
    i = F.col("_i")
    cols = [
        F.lit(fld).alias("field"),
        "term",
        *pt,
        "doc_id",
        F.col("tfs")[i].cast("long").alias("tf"),
    ]
    if with_dl:
        cols.append(F.col("dls")[i].cast("long").alias("_bdl"))
    cols.append(F.col("positions")[i].alias("positions"))
    return blocks.select(
        "term", *pt, "tfs", "dls", "positions",
        F.posexplode("doc_ids").alias("_i", "doc_id"),
    ).select(*cols)


# Session-scoped HANDLE cache (not a result cache): opening a store costs
# a parquet directory listing for every table the query touches, and
# callers like the per-query entry functions
# and the multi-generation union reader re-open the same immutable store
# once per query (× generations). The key includes the meta.json inode +
# mtime, so a store REBUILT at the same path (meta.json rewritten) misses
# the cache and re-lists — data itself is still read from parquet on
# every action (guide §5: the driver should do almost no avoidable work).
_PINDEX_CACHE: dict[tuple, "PersistentIndex"] = {}
_PINDEX_CACHE_CAP = 64


def open_persistent_index(spark: SparkSession, out_dir: str) -> "PersistentIndex":
    out_dir = os.path.abspath(out_dir)
    try:
        st = os.stat(os.path.join(out_dir, "meta.json"))
    except OSError:
        # missing/unreadable meta: let the constructor raise its usual error
        return PersistentIndex(spark, out_dir)
    key = (id(spark), out_dir, st.st_ino, st.st_mtime_ns)
    idx = _PINDEX_CACHE.get(key)
    if idx is None:
        while len(_PINDEX_CACHE) >= _PINDEX_CACHE_CAP:
            _PINDEX_CACHE.pop(next(iter(_PINDEX_CACHE)))
        _PINDEX_CACHE[key] = idx = PersistentIndex(spark, out_dir)
    return idx


class PersistentIndex:
    """Disk-backed index with the exact interface of InvertedIndex
    (postings_for / lengths_for / term_stats_for / field_stats / forward
    / facet_fields / similarity / k1 / b / quantized / has_positions),
    so every operator in query/executor.py, compose/ and suggest runs
    unchanged over a store LOADED FROM DISK — no re-tokenization, ever
    (opening touches only parquet + meta.json; asserted in tests)."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
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
        # per store even for a query that touches one table — multiplied by the
        # generation count on a MultiGenIndex open (guide §5: the driver
        # should do almost no work it can avoid)
        self._tables: dict[str, DataFrame] = {}

    def _table(self, name: str) -> DataFrame:
        if name not in self._tables:
            self._tables[name] = read_table(
                self.spark,
                os.path.join(self.out_dir, name),
                self.meta["schemas"][name],
            )
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

    # --------------------------------------------- WAND top-k fast path
    # Block-max pruned top-k straight from the store's blocks (shared
    # machinery with segments.py in index/wand.py) — the latency path for
    # plain term/OR/AND top-k; rank- and score-identical to the exact
    # executor evaluation (tested in test_store.py).

    def _wand_params(self, fld: str):
        from meresco_lucene_spark.index.wand import WandParams

        st = self.field_stats(fld)
        return WandParams(st.n_docs, st.avgdl, self.k1, self.b)

    def _field_blocks(self, fld: str, terms: list[str]) -> DataFrame:
        return self.blocks.filter(
            (F.col("field") == fld) & F.col("term").isin(terms)
        )

    def _field_dfs(self, fld: str, terms: list[str]) -> dict[str, int]:
        return {
            r["term"]: int(r["df"])
            for r in self.term_stats.filter(
                (F.col("field") == fld) & F.col("term").isin(terms)
            )
            .select("term", "df")
            .collect()
        }

    def term_topk(self, fld: str, term: str, k: int = 10) -> DataFrame:
        from meresco_lucene_spark.index import wand

        dfs = self._field_dfs(fld, [term])
        return wand.term_topk(
            self.spark,
            self._field_blocks(fld, [term]),
            dfs.get(term),
            self._wand_params(fld),
            k,
        )

    def or_topk(self, fld: str, terms: list[str], k: int = 10) -> DataFrame:
        from meresco_lucene_spark.index import wand

        terms = list(dict.fromkeys(terms))
        dfs = self._field_dfs(fld, terms)
        if len(dfs) == 1:
            return self.term_topk(fld, next(iter(dfs)), k)
        return wand.or_topk(
            self.spark,
            self._field_blocks(fld, list(dfs)),
            dfs,
            self._wand_params(fld),
            k,
        )

    def and_topk(self, fld: str, terms: list[str], k: int = 10) -> DataFrame:
        from meresco_lucene_spark.index import wand

        terms = list(dict.fromkeys(terms))
        dfs = self._field_dfs(fld, terms)
        if len(dfs) < len(terms):
            return self.spark.createDataFrame([], "doc_id long, score double")
        if len(dfs) == 1:
            return self.term_topk(fld, next(iter(dfs)), k)
        return wand.and_topk(
            self.spark,
            self._field_blocks(fld, list(dfs)),
            dfs,
            self._wand_params(fld),
            k,
        )
