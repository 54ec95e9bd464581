"""Inverted-index build as a declarative DataFrame pipeline.

Reference behavior being reproduced (not ported): Lucene's IndexWriter
builds, per segment, sorted (term -> postings(docID, tf, positions))
plus doc-values and norms (reference Lucene.java:160-171, 920-945).

Spark-first restatement:

    corpus DF --one projection--> per row: array of (field, tokens) structs
        --explode--> (field, doc_id, tokens, dl)        [= field_lengths]
        --posexplode--> (field, term, doc_id, pos)       [= occurrences]
        --groupBy(field, term, doc_id)--> tf + sorted positions  [1 shuffle]
        --groupBy(field, term)--> df/cf term stats               [1 shuffle]

Every indexed column is tokenized in the same projection, so each table
reads the input once, not once per field. Everything stays in
whole-stage-codegen'd built-ins (the tokenizer is a regexp projection);
only Dutch stemming fields call a pandas UDF. The per-doc "norm"
(Lucene's quantized document length, SmallFloat int4 round-trip) is
precomputed at build time into ``field_lengths.norm_dl`` so query-time
scoring is pure column arithmetic.

The shard-partitioned on-disk format (Parquet list-column blocks,
block-max scores for WAND, lineage rows for resume) lives in
``index/store.py``, which builds from :func:`occurrence_frames`; this
module is also the in-memory/DataFrame form that all query operators
consume.

Scale notes (100 TB design):
- the two groupBys are the only shuffles; both are partial-aggregated
  map-side first (Spark HashAggregate partial/final), exactly the
  reference's SubCollector/complete() pattern (SuperCollector.java:38-53);
- postings are hash-partitioned by term at the shuffle — skewed hot
  terms ("import", "return") are handled in store.py via salted
  sharding; the DataFrame form relies on AQE skew handling;
- doc ids must be *stable* (a pure function of the input, never of
  partitioning) so checkpoint resume keeps rank-identity — callers
  supply them (the testdata has doc_id; the corpus synthesizer derives
  them from (repo, path, commit) ordering).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meresco_lucene_spark.analysis.tokenizer import tokenize_expr
from meresco_lucene_spark.columns import qcol
from meresco_lucene_spark.query.bm25 import (
    K1_DEFAULT,
    B_DEFAULT,
    quantize_dl_expr,
)

# Smallest optimizer size estimate of an input for which the tokenize
# passes are spread over the session's parallelism (_spread_for_tokenize).
TOKENIZE_SPREAD_MIN_BYTES = 3 << 20


def _spread_for_tokenize(df: DataFrame) -> DataFrame:
    """Give the tokenize passes the session's full parallelism — when
    the input is big enough to pay for it.

    A smallish parquet input (one file, one row group) arrives as a
    single scan partition, so every tokenize+explode pass — the
    CPU-heavy part of any build — ran on ONE core of the session
    (measured r6: the stage-1 writes of a 50k-doc store build were
    single-task, and the build halved once spread). When the input has
    fewer partitions than the default parallelism AND the optimizer's
    size estimate says the serial tokenize would dwarf one round-robin
    exchange of the raw rows, repartition to the parallelism; below the
    threshold (a small incremental batch commit) the exchange costs
    more than it saves (A/B-measured r6: +0.7s on a 1.7k-doc commit,
    −7s on a 50k-doc build — the measured crossover sits between those
    input sizes, hence the 3 MB default), and a large input already
    has >= parallelism partitions and is left untouched (guide §2.2:
    scale-adaptive partitioning, no constant tuned to either local
    mode or the cluster)."""
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
        if nparts >= par:
            return df
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return df
    return df.repartition(par) if est >= TOKENIZE_SPREAD_MIN_BYTES else df


def posting_frames(
    df: DataFrame,
    id_col: str,
    text_cols: list[str] | None = None,
    keyword_cols: list[str] | None = None,
    array_cols: list[str] | None = None,
    dutch_cols: list[str] | None = None,
    positions: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """LAZY (postings, field_lengths) frames for a column spec — the
    session index's front half (InvertedIndex.build): the occurrences of
    :func:`occurrence_frames` grouped per (field, term, doc_id).

    postings:      (field, term, doc_id, tf, positions array<int>)
    field_lengths: (field, doc_id, dl, norm_dl)
    """
    occurrences, field_lengths = occurrence_frames(
        df, id_col, text_cols, keyword_cols, array_cols, dutch_cols
    )
    pos = (
        F.sort_array(F.collect_list("pos"))
        if positions
        else F.lit(None).cast("array<int>")
    )
    postings = occurrences.groupBy("field", "term", "doc_id").agg(
        F.count("*").cast("long").alias("tf"), pos.alias("positions")
    )
    return postings, field_lengths


def occurrence_frames(
    df: DataFrame,
    id_col: str,
    text_cols: list[str] | None = None,
    keyword_cols: list[str] | None = None,
    array_cols: list[str] | None = None,
    dutch_cols: list[str] | None = None,
    inline_dl: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """LAZY (occurrences, field_lengths) frames — the store build's
    front half. Occurrences stay one row per token position (field,
    term, doc_id, pos) with NO aggregation: the only heavy operator
    between tokenize and the shard encode is a plain shuffle, and tf and
    position lists are derived inside the whole-shard encode, which
    sorts everything anyway.

    Every indexed column is tokenized in ONE projection: each input row
    becomes an array of (field, tokens) structs, which is exploded to
    one row per field and then posexploded to one row per token. So each
    of the two frames reads the input once, not once per field. Per
    field kind:
      text    : the JVM tokenizer; null text gives an empty token array
      array   : the array column as it is
      dutch   : the Dutch stemming tokenizer
      keyword : a one-element array, and no entry when the value is null
    A field row with no tokens (null or empty text) still gives a
    lengths row with dl 0; a null array element counts in dl but yields
    no term.

    ``inline_dl`` ("dl" or "norm_dl"): additionally carry the document
    length as a ``_dl`` column on every occurrence row, computed from
    the SAME token array the occurrences come from. The shard encode
    then needs no (field, doc_id) join against the lengths table at all
    — one whole shuffle join removed from the build (guide §2.4); the
    extra column is a run-length-friendly int that parquet compresses
    to almost nothing."""

    # (field, tokens, whether a null tokens value drops the entry)
    fields = [
        (c, F.coalesce(tokenize_expr(qcol(c)), F.array().cast("array<string>")), False)
        for c in text_cols or []
    ]
    fields += [(c, qcol(c), False) for c in array_cols or []]
    if dutch_cols:
        from meresco_lucene_spark.analysis.dutch import tokenize_dutch_udf

        fields += [(c, tokenize_dutch_udf(qcol(c)), False) for c in dutch_cols]
    fields += [
        (c, F.when(qcol(c).isNotNull(), F.array(qcol(c).cast("string"))), True)
        for c in keyword_cols or []
    ]
    if not fields:
        raise ValueError("at least one text or keyword column required")
    # The tokenizers run in a projection below the explode, not inside
    # it: the optimizer folds a projection over a local relation (a
    # commit's batch, a small in-memory input) into the relation, as it
    # did the per-field projections before. Inside the generator they
    # ran on the executors instead, and a 3000-doc build from memory
    # took 7% longer on 2 cores.
    tokens = _spread_for_tokenize(df).select(
        F.col(id_col).alias("doc_id"),
        *(t.alias(f"_t{i}") for i, (_, t, _) in enumerate(fields)),
    )
    entries = []
    for i, (c, _, optional) in enumerate(fields):
        e = F.struct(F.lit(c).alias("field"), F.col(f"_t{i}").alias("tokens"))
        entries.append(F.when(F.col(f"_t{i}").isNotNull(), e) if optional else e)
    per_field = (
        tokens.select("doc_id", F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e").isNotNull())
        .select(
            "e.field", "doc_id", "e.tokens",
            F.coalesce(F.size("e.tokens"), F.lit(0)).cast("long").alias("dl"),
        )
    )
    occ_cols = ["field", "term", "doc_id", F.col("pos").cast("int").alias("pos")]
    if inline_dl:
        dl = quantize_dl_expr(F.col("dl")) if inline_dl == "norm_dl" else F.col("dl")
        occ_cols.append(dl.cast("long").alias("_dl"))
    occurrences = (
        per_field.select("*", F.posexplode("tokens").alias("pos", "term"))
        .filter(F.col("term").isNotNull())
        .select(*occ_cols)
    )
    field_lengths = per_field.select(
        "field", "doc_id", "dl", quantize_dl_expr(F.col("dl")).alias("norm_dl")
    )
    return occurrences, field_lengths


@dataclass
class FieldStats:
    n_docs: int
    sum_dl: int
    omit_norms: bool = False

    @property
    def avgdl(self) -> float:
        return self.sum_dl / self.n_docs if self.n_docs else 1.0


@dataclass
class InvertedIndex:
    """DataFrame-shaped inverted index over one "core".

    Tables:
      forward        : the input rows (doc_id + stored/sortable columns)
      postings       : (field, term, doc_id, tf[, positions])
      field_lengths  : (field, doc_id, dl, norm_dl)
      term_stats     : (field, term, df, cf)
    plus per-field corpus stats (N, sum_dl -> avgdl).
    """

    spark: SparkSession
    id_col: str
    forward: DataFrame
    postings: DataFrame
    field_lengths: DataFrame
    term_stats: DataFrame
    stats: dict[str, FieldStats]
    n_docs: int
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    has_positions: bool = True
    facet_fields: dict[str, list[str]] = field(default_factory=dict)
    # "BM25" (default, LuceneSettings.java:53) or "TermFrequency"
    # (search/TermFrequencySimilarity.java:40-58; per-core override, used
    # by fixture coreC in MultiLuceneTest.java:72)
    similarity: str = "BM25"
    quantized: bool = False
    # background postings cache warm-up started by build(cache=True)
    _warmer: _PostingsWarmer | None = field(
        default=None, init=False, repr=False, compare=False
    )

    # ------------------------------------------------------------------ build
    @staticmethod
    def build(
        df: DataFrame,
        id_col: str,
        text_cols: list[str] | None = None,
        keyword_cols: list[str] | None = None,
        array_cols: list[str] | None = None,
        dutch_cols: list[str] | None = None,
        positions: bool = True,
        k1: float = K1_DEFAULT,
        b: float = B_DEFAULT,
        cache: bool = True,
        facet_fields: dict[str, list[str]] | None = None,
        similarity: str = "BM25",
        quantized: bool = False,
    ) -> "InvertedIndex":
        """Build the index.

        text_cols    : analyzed full-text fields (reference TextField)
        keyword_cols : untokenized single-term fields (reference
                       StringField / ``untokenized.`` prefix convention,
                       fieldregistry.py:31-37) — tf=1, norms omitted
        array_cols   : pre-tokenized array<string> fields indexed as-is
                       (e.g. the suggestion char-ngram fields)
        dutch_cols   : Dutch-stemmed text fields (reference
                       MerescoDutchStemmingAnalyzer: original + stem per
                       token, deduped)
        facet_fields : facet dim -> list of path columns (reference
                       taxonomy facets; a 1-element list is a flat dim)
        """
        spark = df.sparkSession
        keyword_cols = list(keyword_cols or [])
        postings, field_lengths = posting_frames(
            df,
            id_col=id_col,
            text_cols=text_cols,
            keyword_cols=keyword_cols,
            array_cols=array_cols,
            dutch_cols=dutch_cols,
            positions=positions,
        )

        term_stats = postings.groupBy("field", "term").agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )

        forward = df.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else df

        if cache:
            postings = postings.persist()
            field_lengths = field_lengths.persist()
            term_stats = term_stats.persist()

        # Warm the postings cache CONCURRENTLY with the stats collect
        # below (guide §2.6: the two jobs are independent — the stats
        # aggregate only touches field_lengths). Build latency becomes
        # max(stats job, postings job) instead of their sum; Spark's
        # per-partition cache locks make a consumer racing this thread
        # compute-or-wait, never double-compute. The index keeps the
        # thread and joins it on unpersist(), which passes its failure on.
        warmer = None
        if cache:
            warmer = _PostingsWarmer(postings)
            warmer.start()

        stats: dict[str, FieldStats] = {}
        stat_rows = (
            field_lengths.groupBy("field")
            .agg(F.count("*").alias("nd"), F.sum("dl").alias("sdl"))
            .collect()
        )
        omit = set(keyword_cols)
        for r in stat_rows:
            stats[r["field"]] = FieldStats(
                n_docs=r["nd"], sum_dl=int(r["sdl"]), omit_norms=r["field"] in omit
            )
        # n_docs without a separate count job: an analyzed (text/array/
        # dutch) field emits exactly one lengths row per input row
        # (null or empty values give a dl 0 row), so its nd IS the doc
        # count; keyword-only specs fall back to counting (keyword
        # lengths are null-filtered).
        full_fields = [
            c for c in (
                list(text_cols or []) + list(array_cols or [])
                + list(dutch_cols or [])
            )
            if c in stats
        ]
        n_docs = stats[full_fields[0]].n_docs if full_fields else df.count()

        idx = InvertedIndex(
            spark=spark,
            id_col="doc_id",
            forward=forward,
            postings=postings,
            field_lengths=field_lengths,
            term_stats=term_stats,
            stats=stats,
            n_docs=n_docs,
            k1=k1,
            b=b,
            has_positions=positions,
            facet_fields=dict(facet_fields or {}),
            similarity=similarity,
            quantized=quantized,
        )
        idx._warmer = warmer
        return idx

    # --------------------------------------------------------------- helpers
    def field_stats(self, fld: str) -> FieldStats:
        if fld not in self.stats:
            # Field never indexed: empty stats (queries return no hits).
            return FieldStats(n_docs=self.n_docs, sum_dl=self.n_docs or 1)
        return self.stats[fld]

    def postings_for(self, fld: str) -> DataFrame:
        return self.postings.filter(F.col("field") == fld)

    def lengths_for(self, fld: str) -> DataFrame:
        return self.field_lengths.filter(F.col("field") == fld).select(
            "doc_id", "dl", "norm_dl"
        )

    def term_stats_for(self, fld: str) -> DataFrame:
        return self.term_stats.filter(F.col("field") == fld).select("term", "df", "cf")

    def term_dfs(self, fld: str, terms: list[str]) -> dict[str, int]:
        """term -> df for the terms of ``terms`` present in ``fld``: one
        small collect over the cached term_stats."""
        rows = (
            self.term_stats.filter(
                (F.col("field") == fld) & F.col("term").isin(list(terms))
            )
            .select("term", "df")
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def term_postings(
        self, fld: str, terms: list[str], with_dl: bool = False
    ) -> DataFrame:
        """The postings of ``terms`` in ``fld``. The cached postings carry
        no document lengths (no ``inline_dl``), so scorers never ask for
        ``with_dl``; it is accepted for interface parity only."""
        return self.postings_for(fld).filter(F.col("term").isin(list(terms)))

    def num_docs(self) -> int:
        """Reference Lucene.java:668-674 numDocs."""
        return self.n_docs

    def fieldnames(self) -> list[str]:
        """Reference Lucene.java:676-691 fieldnames."""
        return [r["field"] for r in self.postings.select("field").distinct().collect()]

    def unpersist(self) -> None:
        """Release the cached tables, after joining the postings warm-up
        thread; its failure is raised here unless it was the Spark
        session stopping under it."""
        warmer, self._warmer = self._warmer, None
        if warmer is not None:
            warmer.join()
        for d in (self.postings, self.field_lengths, self.term_stats):
            try:
                d.unpersist()
            except Exception:
                pass
        if warmer is not None and warmer.error is not None:
            if not _session_stopped(self.spark):
                raise warmer.error


class _PostingsWarmer(threading.Thread):
    """Fills a cached frame in the background (one ``count()``) and keeps
    its failure for whoever joins it."""

    def __init__(self, frame: DataFrame):
        super().__init__(name="postings-warmup", daemon=True)
        self.frame = frame
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            self.frame.count()
        except Exception as e:
            self.error = e


def _session_stopped(spark: SparkSession) -> bool:
    """True once the session's SparkContext is stopped (or its JVM gone)."""
    sc = spark.sparkContext
    try:
        return sc._jsc is None or sc._jsc.sc().isStopped()
    except Exception:
        return True
