"""Compressed, term-sharded on-disk segment store with lineage + resume.

This is the scale path of the engine (BASELINE.json north rule): the
DataFrame index (builder.py) materialized as posting blocks stored in
native Parquet columns, partitioned by a salted term shard, with
per-partition lineage rows so a killed build resumes mid-merge and
produces byte-identical output.

Layout under ``out_dir``:
  docs/        (doc_id, dl, norm_dl)                       parquet
  term_stats/  (term, df, cf, base_shard, n_salts, max_score)
  postings/    partitioned by shard:
               (term, block_id, doc_count, min_doc, max_doc,
                block_max_score, doc_ids array<bigint>, tfs array<int>,
                dls array<int>)
  lineage/     (shard, n_terms, term_min, term_max, n_blocks, n_postings, bytes,
                content_xxh64_sum, run_id)
  meta.json    {n_docs, sum_dl, avgdl, n_shards, salt_buckets, k1, b,
                block_size, hot_df_fraction, quantized, schemas}

Block format (shared with store.py): up to ``block_size`` postings of one
term per row, as parallel Parquet list columns. The postings tables are
written with the Parquet v2 writer: doc ids that repeat within a page
stay dictionary-encoded, others are stored DELTA_BINARY_PACKED (delta +
bit-packed miniblocks) — the north rule's delta+varint, done by the file
format (see PARQUET_V2). Readers decode with a JVM
``posexplode`` (store.decode_block_frame, wand.decode_blocks), so no
Python runs on the query-side decode. ``schemas`` in meta.json records
each table's schema, so opening a store infers none.

Sharding & skew (SURVEY.md §7.3): ``base_shard = xxhash64(term) %
n_shards`` (JVM-side, codegen'd, deterministic across sessions for
resume). A term whose df exceeds ``hot_df_fraction * N`` is *salted*:
its postings spread over ``salt_buckets`` consecutive shards
(``(base_shard + doc_id % n_salts) % n_shards``), so no single shard
swallows a whole hot posting list ('import'/'return' hit nearly every
source file). Queries fan back in by reading the n_salts shards recorded
in term_stats — the query side never recomputes the hash.

Resume: each fully-written shard appends a lineage row whose
content_xxh64_sum covers the shard's block content. On resume,
shards present in lineage are skipped; shard partition dirs without a
lineage row (crash mid-write) are deleted and rebuilt. Blocks are a pure
function of the (term-sorted, doc-sorted) postings, so a resumed build
is identical to an uninterrupted one.

Reference parity note: this plays the role of Lucene's segment files +
TieredMergePolicy commits (Lucene.java:920-945, LuceneSettings.java:157-160);
one build = one commit = one queryable snapshot.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from meresco_lucene_spark.analysis.tokenizer import tokenize_expr
from meresco_lucene_spark.index import wand
from meresco_lucene_spark.index.wand import WandParams
from meresco_lucene_spark.query.bm25 import (
    B_DEFAULT,
    K1_DEFAULT,
    bm25_score_numpy,
    quantize_dl_expr,
)

BLOCK_SIZE_DEFAULT = 128

# Sharding hash = Spark's JVM xxhash64 (seed 42): deterministic across
# runs/sessions (resume-safe) and computed inside codegen — no Python in
# the build's shuffle key. Query side never recomputes it (term_stats
# stores base_shard); term_base_shard exists for tooling/tests.


def term_base_shard(spark: SparkSession, term: str, n_shards: int) -> int:
    return (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(term)), F.lit(n_shards)).alias("s"))
        .collect()[0]["s"]
    )


POSTINGS_SCHEMA = (
    "shard int, term string, block_id int, doc_count int, min_doc long, "
    "max_doc long, block_max_score double, doc_ids array<bigint>, "
    "tfs array<int>, dls array<int>"
)

# Postings writes use the Parquet v2 writer. A column whose values repeat
# within a page (doc ids shared by many terms' blocks, tfs, dls) stays
# dictionary-encoded; otherwise the writer falls back to v2's
# DELTA_BINARY_PACKED, which for the sorted doc-id lists of a large
# corpus is the block format's delta coding. (Disabling dictionaries
# grew the stores of both benchmark workloads: hashed 64-bit doc ids
# delta-encode worse than they dictionary-encode.)
PARQUET_V2 = {"parquet.writer.version": "v2"}


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
    positions: pa.Array | None = None,
) -> dict:
    """Per-block columns of the shared block format, the list columns
    built from offsets over the posting arrays (no per-posting Python).
    ``positions`` (one position list per posting) adds the store's
    ``positions array<array<int>>`` column."""
    n = len(doc_ids)
    ends = np.append(starts[1:], n)
    offsets = pa.array(np.append(starts, n).astype(np.int32))

    def lists(values):
        return pa.ListArray.from_arrays(offsets, values)

    cols = {
        "doc_count": (ends - starts).astype(np.int32),
        "min_doc": doc_ids[starts],
        "max_doc": doc_ids[ends - 1],
        "block_max_score": np.maximum.reduceat(scores, starts),
        "doc_ids": lists(pa.array(doc_ids, pa.int64())),
        "tfs": lists(pa.array(tfs, pa.int32())),
        "dls": lists(pa.array(dls, pa.int32())),
    }
    if positions is not None:
        cols["positions"] = lists(positions)
    return cols


def schema_json(schema: StructType) -> dict:
    """A table schema as recorded in meta.json ``schemas``."""
    return json.loads(schema.json())


def block_payload_bytes():
    """Lineage ``bytes`` of a block: its doc-id and tf payload (8 + 4
    bytes per posting) before Parquet encoding."""
    return (F.col("doc_count") * 12).cast("long")


def read_table(spark: SparkSession, path: str, schema: dict) -> DataFrame:
    """Read a store table with its recorded schema: no footer-inference
    job on open."""
    return spark.read.schema(StructType.fromJson(schema)).parquet(path)


class SegmentIndex:
    """Query handle over a written segment store."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark = spark
        self.out_dir = out_dir
        with open(os.path.join(out_dir, "meta.json")) as f:
            self.meta = json.load(f)
        schemas = self.meta["schemas"]
        self.docs, self.term_stats, self.postings = (
            read_table(spark, os.path.join(out_dir, name), schemas[name])
            for name in ("docs", "term_stats", "postings")
        )
        # reader-held term dictionary (metadata ONLY — df/shards, the
        # analog of Lucene's in-heap FST term dict on an open reader):
        # repeated queries on one handle skip the per-query metadata
        # collect; postings are still decoded from parquet every query
        self._meta_cache: dict[str, object] = {}

    # ------------------------------------------------------------- queries
    def _term_meta(self, terms: list[str]) -> list:
        """ONE term_stats lookup serving both the shard list and the df
        values — term/OR/AND top-k used to run two separate metadata
        collects per query (df lookup + shard lookup); this is the fused
        single small job, memoized per term on the (immutable-snapshot)
        reader handle. Duplicate terms yield one row each."""
        terms = list(dict.fromkeys(terms))
        missing = [t for t in terms if t not in self._meta_cache]
        if missing:
            rows = (
                self.term_stats.filter(F.col("term").isin(missing))
                .select("term", "df", "base_shard", "n_salts")
                .collect()
            )
            found = {r["term"]: r for r in rows}
            for t in missing:
                self._meta_cache[t] = found.get(t)
        return [self._meta_cache[t] for t in terms if self._meta_cache[t] is not None]

    def _blocks_for_meta(self, rows: list) -> DataFrame:
        if not rows:
            return self.postings.filter(F.lit(False))
        n = self.meta["n_shards"]
        shards = sorted(
            {(r["base_shard"] + s) % n for r in rows for s in range(r["n_salts"])}
        )
        present = [r["term"] for r in rows]
        return self.postings.filter(
            F.col("shard").isin(shards) & F.col("term").isin(present)
        )

    def term_shards(self, term: str) -> list[int]:
        rows = self._term_meta([term])
        if not rows:
            return []
        base, n_salts = rows[0]["base_shard"], rows[0]["n_salts"]
        n = self.meta["n_shards"]
        return [(base + s) % n for s in range(n_salts)]

    def blocks_for_term(self, term: str) -> DataFrame:
        return self._blocks_for_meta(self._term_meta([term]))

    @property
    def _params(self) -> "WandParams":
        m = self.meta
        return WandParams(m["n_docs"], m["avgdl"], m["k1"], m["b"])

    def term_topk(self, term: str, k: int = 10) -> DataFrame:
        """Exact BM25 top-k for one term with block-max WAND pruning
        (wand.term_topk; rank-identity property-tested)."""
        rows = self._term_meta([term])
        df_t = int(rows[0]["df"]) if rows else None
        return wand.term_topk(
            self.spark, self._blocks_for_meta(rows), df_t, self._params, k
        )

    def blocks_for_terms(self, terms: list[str]) -> DataFrame:
        """All blocks of a term set in ONE frame: shard+term predicates
        from term_stats (one small collect), pushed to the parquet scan."""
        return self._blocks_for_meta(self._term_meta(terms))

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        return {r["term"]: int(r["df"]) for r in self._term_meta(terms)}

    def or_topk(self, terms: list[str], k: int = 10) -> DataFrame:
        """Exact disjunctive (SHOULD) BM25 top-k — distributed block-max
        WAND, O(1) driver jobs in the term count (see wand.or_topk)."""
        terms = list(dict.fromkeys(terms))
        rows = self._term_meta(terms)
        dfs = {r["term"]: int(r["df"]) for r in rows}
        if len(dfs) == 1:
            only = [r for r in rows if r["term"] == next(iter(dfs))]
            return wand.term_topk(
                self.spark, self._blocks_for_meta(only),
                int(only[0]["df"]), self._params, k,
            )
        return wand.or_topk(
            self.spark, self._blocks_for_meta(rows), dfs, self._params, k
        )

    def and_topk(self, terms: list[str], k: int = 10) -> DataFrame:
        """Exact conjunctive (MUST) BM25 top-k — rarest-term-driven
        candidates (wand.and_topk); a missing term means no hits."""
        terms = list(dict.fromkeys(terms))
        rows = self._term_meta(terms)
        dfs = {r["term"]: int(r["df"]) for r in rows}
        if len(dfs) < len(terms):
            return self.spark.createDataFrame([], "doc_id long, score double")
        if len(dfs) == 1:
            only = [r for r in rows if r["term"] == next(iter(dfs))]
            return wand.term_topk(
                self.spark, self._blocks_for_meta(only),
                int(only[0]["df"]), self._params, k,
            )
        return wand.and_topk(
            self.spark, self._blocks_for_meta(rows), dfs, self._params, k
        )

    def term_scores(self, term: str) -> DataFrame:
        """Exact (doc_id, score) frame for one term from the blocks."""
        rows = self._term_meta([term])
        if not rows:
            return self.spark.createDataFrame([], "doc_id long, score double")
        dfs = {r["term"]: int(r["df"]) for r in rows}
        return wand.scores_for_blocks(
            self._blocks_for_meta(rows), dfs, self._params
        )

    def term_postings(self, term: str) -> DataFrame:
        """Decode a term's blocks back to (doc_id, tf) rows."""
        return wand.decode_blocks(self.blocks_for_term(term))



# Whole-shard encode memory budget: each encode task materializes one
# shard's raw occurrence rows as a pandas frame. Sizing n_shards so that
# occurrences/n_shards * OCC_ROW_BYTES <= ENCODE_TARGET_BYTES bounds the
# per-task frame at ~ENCODE_TARGET_BYTES regardless of corpus size
# (VERDICT r2 'What's wrong' #4 — a fixed 32 put ~3% of the corpus in one
# task at 100x scale).
ENCODE_TARGET_BYTES = 256 << 20
OCC_ROW_BYTES = 64  # conservative pandas-frame bytes per occurrence row


def auto_n_shards(
    n_occurrences: int,
    floor: int,
    row_bytes: int = OCC_ROW_BYTES,
    target_bytes: int = ENCODE_TARGET_BYTES,
    min_occ_per_shard: int | None = None,
) -> int:
    """Pick n_shards from the estimated occurrence volume: enough shards
    that one shard's encode frame fits the per-task budget, at least
    `floor` (use the cluster's default parallelism so sizable corpora
    use every core), capped at 65536 (file-count sanity; beyond that,
    raise target_bytes instead).

    The floor itself is capped at ceil(occ / min_occ_per_shard): a TINY
    build — an incremental batch commit most of all — must not be padded
    out to parallelism-many near-empty shards, which cost a task each at
    encode and a parquet footer each on EVERY later read of the
    generation (the union reader multiplies that by the gen count).
    Measured r6 (OPTIMIZATION_r06.md): encoding ~64k occurrences is
    single-digit-millisecond numpy work while every extra shard task
    costs Arrow ship + scheduling + a parquet file, so shards below
    ~64k occurrences are pure overhead at build AND query time; env
    override MLS_MIN_OCC_PER_SHARD."""
    import math

    if min_occ_per_shard is None:
        min_occ_per_shard = int(
            os.environ.get("MLS_MIN_OCC_PER_SHARD", "65536")
        )
    need = math.ceil(max(n_occurrences, 1) * row_bytes / target_bytes)
    floor = min(floor, math.ceil(max(n_occurrences, 1) / min_occ_per_shard))
    return int(min(max(need, floor, 1), 65536))


# Lineage-as-Observation: the lineage row of a shard is a handful of
# aggregates over the blocks just written, so for builds with a bounded
# shard count the whole lineage pass can RIDE the postings write as
# per-shard conditional Observation aggregates instead of a separate
# read-back job (guide §1.3/§2.6: don't relaunch a job for what another
# job already observed). n_terms uses the fact that every (field,)term
# run starts with exactly one block_id==0 block. Above the cap the
# conditional-aggregate expression tree would bloat (7 aggs per shard),
# so big builds keep the column-pruned read-back.
LINEAGE_OBS_MAX_SHARDS = 64
LINEAGE_HASH_MOD = 2147483647
LINEAGE_SCHEMA = (
    "shard int, n_terms bigint, term_min string, term_max string, "
    "n_blocks bigint, n_postings bigint, bytes bigint, "
    "content_xxh64_sum string, run_id string"
)


def lineage_observation(remaining: list[int]):
    """(Observation, aggregate exprs) reproducing the lineage read-back
    aggregation exactly — one group of 7 conditional aggregates per
    shard still to encode."""
    from pyspark.sql import Observation

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
    """Observation values -> lineage rows (schema LINEAGE_SCHEMA); a
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
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

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
    import json

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


def build_segments(
    corpus: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "content",
    n_shards: int | None = None,
    salt_buckets: int = 8,
    block_size: int = BLOCK_SIZE_DEFAULT,
    hot_df_fraction: float = 0.05,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    quantized: bool = False,
    resume: bool = False,
    run_id: str = "run0",
) -> SegmentIndex:
    """Build (or resume) the compressed segment store.

    Stages (each checkpointed):
      1. docs:       tokenize -> per-doc lengths (+ SmallFloat norms)
      2. term_stats: df/cf + hot-term salting decision
      3. postings:   shuffle by salted shard -> per-shard term-sorted
                     posting blocks + block-max scores + lineage
    """
    spark = corpus.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    docs_dir = os.path.join(out_dir, "docs")
    stats_dir = os.path.join(out_dir, "term_stats")
    post_dir = os.path.join(out_dir, "postings")
    lin_dir = os.path.join(out_dir, "lineage")
    meta_path = os.path.join(out_dir, "meta.json")

    doc = F.col(id_col).alias("doc_id")
    toks = corpus.select(doc, tokenize_expr(F.col(text_col)).alias("tokens"))
    dl_raw = F.coalesce(F.size("tokens"), F.lit(0))
    dl_carry = (quantize_dl_expr(dl_raw) if quantized else dl_raw).cast("long")

    # flat (term, doc_id, _dl, tf) — the ONE tokenize pass + one shuffle
    # with map-side partial agg; every later stage (term stats, shard
    # encode) derives from this persisted frame. The doc length rides
    # each row (_dl in the grouping key — same cardinality, dl is a
    # function of doc_id), so the encode stage needs NO join against the
    # docs table at all (guide §2.4: remove shuffles outright).
    postings_flat = (
        toks.select("doc_id", dl_carry.alias("_dl"), F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "_dl")
        .agg(F.count("*").cast("long").alias("tf"))
        .persist()
    )

    # ---- stages 1+2 overlapped ------------------------------------------
    # Stage 1 (docs lengths + norms: a second shuffle-free codegen'd
    # tokenize pass, cheaper than joining against the postings shuffle;
    # corpus stats ride the write as Observations) and the HEAVY half of
    # stage 2 (the df/cf aggregation — one tokenize + the build's main
    # shuffle) are independent: the per-term salting/max-score columns
    # need stage 1's stats, but they are a cheap projection OVER the
    # aggregated cache. Both jobs are therefore submitted concurrently
    # (guide §2.6); the projection and the term_stats table write happen
    # after both land, with the write again overlapped with stage 3.
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    docs_done = resume and os.path.exists(os.path.join(docs_dir, "_SUCCESS"))
    stats_done = resume and os.path.exists(os.path.join(stats_dir, "_SUCCESS"))
    pool = ThreadPoolExecutor(max_workers=2)
    tstats_writer = tstats_base = None
    stage1_fut = None
    docs_frame = toks.select("doc_id", dl_raw.cast("long").alias("dl")).withColumn(
        "norm_dl", quantize_dl_expr(F.col("dl"))
    )
    if not docs_done:
        from pyspark.sql import Observation

        obs = Observation()
        docs_write = docs_frame.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
            F.coalesce(F.min("dl"), F.lit(1)).alias("m"),
        )

        def _write_docs():
            docs_write.write.mode("overwrite").parquet(docs_dir)
            vals = obs.get
            return int(vals["n"]), int(vals["s"]), int(vals["m"])

        stage1_fut = pool.submit(_write_docs)
    base_fut = None
    if not stats_done:
        tstats_base = postings_flat.groupBy("term").agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        base_fut = pool.submit(tstats_base.count)

    if stage1_fut is not None:
        n_docs, sum_dl, min_dl = stage1_fut.result()
    else:  # resumed build: stats from the existing table
        agg = spark.read.parquet(docs_dir).agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
            F.coalesce(F.min("dl"), F.lit(1)).alias("m"),
        ).collect()[0]
        n_docs, sum_dl, min_dl = int(agg["n"]), int(agg["s"]), int(agg["m"])
    avgdl = sum_dl / n_docs if n_docs else 1.0

    # Auto-shard from the occurrence count (sum of doc lengths), floored
    # at the session's parallelism — then PINNED to disk so a resume on
    # a different session keeps the same shard mapping (pin_build_config
    # docstring); explicit n_shards overrides (tests, pinned-plan benches).
    n_shards, salt_buckets = pin_build_config(
        out_dir, resume, n_shards, salt_buckets,
        lambda: auto_n_shards(sum_dl, spark.sparkContext.defaultParallelism),
    )

    if stats_done:
        tstats_df = spark.read.parquet(stats_dir)
    else:
        base_fut.result()
        hot_threshold = max(int(hot_df_fraction * n_docs), 1)
        idf_c = F.log(
            F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        # Upper bound of the score over all docs: tf/(tf+K) is increasing in
        # tf and decreasing in dl; bound with tf<=cf and the corpus-min dl.
        tstats_df = (
            tstats_base.withColumn(
                "max_score",
                idf_c
                * (
                    F.col("cf")
                    / (F.col("cf") + F.lit(k1 * (1 - b + b * float(min_dl) / avgdl)))
                ),
            )
            .withColumn(
                "base_shard",
                F.pmod(F.xxhash64(F.col("term")), F.lit(n_shards)).cast("int"),
            )
            .withColumn(
                "n_salts",
                F.when(F.col("df") >= hot_threshold, F.lit(salt_buckets))
                .otherwise(F.lit(1))
                .cast("int"),
            )
        )
        tstats_writer = pool.submit(
            lambda: tstats_df.write.mode("overwrite").parquet(stats_dir)
        )

    # ---- stage 3: sharded compressed postings + lineage -----------------
    done_shards: set[int] = set()
    if resume and os.path.exists(lin_dir):
        done_shards = {
            r["shard"] for r in spark.read.parquet(lin_dir).select("shard").collect()
        }
        # clean partial partition dirs that never got a lineage row
        if os.path.exists(post_dir):
            for entry in os.listdir(post_dir):
                if entry.startswith("shard="):
                    s = int(entry.split("=")[1])
                    if s not in done_shards:
                        shutil.rmtree(os.path.join(post_dir, entry))
    elif os.path.exists(post_dir):
        shutil.rmtree(post_dir)
        if os.path.exists(lin_dir):
            shutil.rmtree(lin_dir)

    remaining = [s for s in range(n_shards) if s not in done_shards]
    if remaining:
        # The encode needs three per-term facts: base_shard (a pure hash,
        # computed as a column expression), n_salts (1 for everything but
        # the few hot terms), and df (for block-max scores). Joining the
        # full term_stats frame for them shuffled every posting row by
        # term — a second corpus-scale exchange (guide §2.4: remove
        # shuffles outright). Instead, only the HOT terms (df >=
        # hot_df_fraction * n_docs — at most sum_dl/(hot_df_fraction *
        # n_docs) ≈ 20×avgdl of them, broadcast-small by construction)
        # ride a broadcast left join carrying their df and salt count; a
        # non-salted term's postings all land in ONE shard, so its true
        # df is simply its in-task run length, computed for free by the
        # encode's existing run detection.
        if salt_buckets > 1:
            hot = tstats_df.filter(F.col("n_salts") > 1).select(
                "term",
                F.col("df").cast("double").alias("_hot_df"),
                F.col("n_salts").alias("_hot_salts"),
            )
            flat = postings_flat.join(F.broadcast(hot), "term", "left")
            n_salts_c = F.coalesce(F.col("_hot_salts"), F.lit(1))
        else:
            flat = postings_flat.withColumn(
                "_hot_df", F.lit(None).cast("double")
            )
            n_salts_c = F.lit(1)
        flat = flat.withColumn(
            "shard",
            (
                (
                    F.pmod(F.xxhash64(F.col("term")), F.lit(n_shards))
                    + F.pmod(F.col("doc_id"), n_salts_c)
                )
                % n_shards
            ).cast("int"),
        )
        flat = flat.filter(F.col("shard").isin(remaining))
        # dl already rides each postings_flat row (_dl) — no docs join

        # (key, pyarrow.Table) -> pyarrow.Table, left unannotated:
        # applyInArrow picks its calling mode from type hints
        def _encode(key, tbl):
            # Fully vectorized: with millions of unique rare terms a
            # per-term loop is the build's bottleneck, so the sort, block
            # boundaries and scores are whole-shard Arrow/numpy passes and
            # the list columns are built from offsets.
            tbl = tbl.take(
                pc.sort_indices(tbl, [("term", "ascending"), ("doc_id", "ascending")])
            )
            terms = tbl.column("term").combine_chunks()
            run_start = np.ones(tbl.num_rows, dtype=bool)
            run_start[1:] = value_changes(terms)
            doc_ids = tbl.column("doc_id").to_numpy()
            tfs = tbl.column("tf").to_numpy()
            dls = tbl.column("_dl").to_numpy()
            hot_df = pc.fill_null(tbl.column("_hot_df"), np.nan).to_numpy()
            starts, block_ids, dfs = block_layout(run_start, hot_df, block_size)
            scores = bm25_score_numpy(
                tfs.astype(float), dfs, dls.astype(float), n_docs, avgdl, k1, b
            )
            return pa.table(
                {
                    "shard": np.full(len(starts), key[0].as_py(), dtype=np.int32),
                    "term": terms.take(starts),
                    "block_id": block_ids,
                    **block_columns(starts, doc_ids, tfs, dls, scores),
                }
            )

        # groupBy(shard).applyInArrow shuffles by shard itself — one
        # shuffle (the explicit repartition pre-establishes the same
        # clustering over a DISPERSED partition count, so no second
        # exchange appears and shard-hash collisions stop idling cores;
        # see shard_dispersion_partitions), each task encodes exactly
        # one shard's postings. Only the columns the encode reads cross
        # the exchange (guide §2.3 project before the exchange). The
        # per-block lineage helpers (_h hash, _nbytes) are computed once
        # at write time so the lineage pass reads back only small
        # columns — the posting payload bytes are column-pruned out of
        # that scan entirely (guide §6).
        encoded = (
            # tf and dl fit 32 bits by construction (token counts of one
            # document): shipping them as ints instead of longs cuts 8
            # bytes/row off the build's biggest exchange (guide §2.3
            # narrower types), and the blocks store them as int lists.
            flat.select(
                "shard",
                "term",
                "doc_id",
                F.col("tf").cast("int").alias("tf"),
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
            .applyInArrow(_encode, schema=POSTINGS_SCHEMA)
        )
        encoded = encoded.withColumn(
            "_h",
            F.xxhash64(
                F.col("term"),
                F.col("block_id"),
                F.col("doc_ids"),
                F.col("tfs"),
                F.col("dls"),
            ),
        ).withColumn("_nbytes", block_payload_bytes())
        # lineage rides the write as Observations for bounded shard
        # counts (see lineage_observation); the content hash stays the
        # order-independent modular SUM of per-block xxhash64 values.
        use_obs = len(remaining) <= LINEAGE_OBS_MAX_SHARDS
        if use_obs:
            lin_obs, lin_aggs = lineage_observation(remaining)
            # the helpers feed the observation only; no read-back needs
            # them on disk
            encoded = encoded.observe(lin_obs, *lin_aggs).drop("_h", "_nbytes")
        encoded.write.options(**PARQUET_V2).mode("append").partitionBy(
            "shard"
        ).parquet(post_dir)

        if use_obs:
            write_lineage_rows(
                lineage_rows_from_observation(lin_obs.get, remaining, run_id),
                lin_dir,
            )
        else:
            written = spark.read.parquet(post_dir).filter(
                F.col("shard").isin(remaining)
            ).select("shard", "term", "doc_count", "_h", "_nbytes")
            lineage = (
                written
                .groupBy("shard")
                .agg(
                    F.countDistinct("term").cast("long").alias("n_terms"),
                    # term range of the shard (salted shards interleave
                    # hash ranges: a descriptive span, not a sort key)
                    F.min("term").alias("term_min"),
                    F.max("term").alias("term_max"),
                    F.count("*").cast("long").alias("n_blocks"),
                    F.sum("doc_count").cast("long").alias("n_postings"),
                    F.sum("_nbytes").cast("long").alias("bytes"),
                    F.pmod(
                        F.sum(F.pmod(F.col("_h"), F.lit(LINEAGE_HASH_MOD))),
                        F.lit(LINEAGE_HASH_MOD),
                    )
                    .cast("string")
                    .alias("content_xxh64_sum"),
                    F.lit(run_id).alias("run_id"),
                )
            )
            lineage.write.mode("append").parquet(lin_dir)

    if tstats_writer is not None:
        tstats_writer.result()  # re-raise a failed term_stats write
    pool.shutdown(wait=True)
    if tstats_base is not None:
        tstats_base.unpersist()
    postings_flat.unpersist()
    meta = {
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": avgdl,
        "n_shards": n_shards,
        "salt_buckets": salt_buckets,
        "block_size": block_size,
        "hot_df_fraction": hot_df_fraction,
        "k1": k1,
        "b": b,
        "quantized": quantized,
        "schemas": {
            "docs": schema_json(docs_frame.schema),
            "term_stats": schema_json(tstats_df.schema),
            "postings": schema_json(StructType.fromDDL(POSTINGS_SCHEMA)),
        },
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return SegmentIndex(spark, out_dir)
