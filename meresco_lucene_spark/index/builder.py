"""The tokenize front half of every index build, as a declarative
DataFrame pipeline.

Reference behavior being reproduced (not ported): Lucene's IndexWriter
builds, per segment, sorted (term -> postings(docID, tf, positions))
plus doc-values and norms (reference Lucene.java:160-171, 920-945).

Spark-first restatement:

    corpus DF --one projection--> per row: array of (field, tokens) structs
        --explode--> (field, doc_id, tokens, dl)        [= field_lengths]
        --posexplode--> (field, term, doc_id, pos, _dl)  [= occurrences]

Every indexed column is tokenized in the same projection, so each table
reads the input once, not once per field. Everything stays in
whole-stage-codegen'd built-ins (the tokenizer is a regexp projection);
only Dutch stemming fields call a pandas UDF. The per-doc "norm"
(Lucene's quantized document length, SmallFloat int4 round-trip) is
precomputed at build time into ``field_lengths.norm_dl`` so query-time
scoring is pure column arithmetic.

The index itself (shard-partitioned Parquet list-column blocks that
carry each posting's document length and positions, lineage rows for
resume) is ``index/store.py``, which builds from
:func:`occurrence_frames` and is what every query operator reads.

Doc ids must be *stable* (a pure function of the input, never of
partitioning) so checkpoint resume keeps rank-identity — callers supply
them (the testdata has doc_id; the corpus synthesizer derives them from
(repo, path, commit) ordering).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from meresco_lucene_spark.analysis.tokenizer import tokenize_sql
from meresco_lucene_spark.columns import qcol, sql_literal
from meresco_lucene_spark.query.bm25 import quantize_dl_sql

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


def _q(name: str) -> str:
    """A column name quoted for SQL text (see columns.qcol)."""
    return f"`{name}`"


def occurrence_frames(
    df: DataFrame,
    id_col: str,
    text_cols: list[str] | None = None,
    keyword_cols: list[str] | None = None,
    array_cols: list[str] | None = None,
    dutch_cols: list[str] | None = None,
    dl_col: str = "dl",
) -> tuple[DataFrame, DataFrame]:
    """LAZY (occurrences, field_lengths) frames — the store build's
    front half. Occurrences stay one row per token position (field,
    term, doc_id, pos, _dl) with NO aggregation: the only heavy operator
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

    ``dl_col`` ("dl" or "norm_dl"): the document length every
    occurrence row carries as ``_dl``, computed from the SAME token
    array the occurrences come from. The shard encode then needs no
    (field, doc_id) join against the lengths table at all (guide §2.4);
    the extra column is a run-length-friendly int that parquet
    compresses to almost nothing."""

    # (field, its tokens as SQL text — a Column for the Dutch UDF —, and
    # whether a null tokens value drops the entry). Every step below is
    # SQL text: a commit plans these frames anew for each batch, and one
    # py4j call per projection costs far less than one per function.
    fields: list[tuple[str, str | Column, bool]] = [
        (c, f"coalesce({tokenize_sql(_q(c))}, cast(array() AS array<string>))", False)
        for c in text_cols or []
    ]
    fields += [(c, _q(c), False) for c in array_cols or []]
    if dutch_cols:
        from meresco_lucene_spark.analysis.dutch import tokenize_dutch_udf

        fields += [(c, tokenize_dutch_udf(qcol(c)), False) for c in dutch_cols]
    fields += [
        (c, f"CASE WHEN {_q(c)} IS NOT NULL THEN array(CAST({_q(c)} AS STRING)) END", True)
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
        *(
            (F.expr(t) if isinstance(t, str) else t).alias(f"_t{i}")
            for i, (_, t, _) in enumerate(fields)
        ),
    )
    entries = []
    for i, (c, _, optional) in enumerate(fields):
        e = f"named_struct('field', {sql_literal(c)}, 'tokens', _t{i})"
        entries.append(f"CASE WHEN _t{i} IS NOT NULL THEN {e} END" if optional else e)
    per_field = (
        tokens.selectExpr("doc_id", f"explode(array({', '.join(entries)})) AS e")
        .filter("e IS NOT NULL")
        .selectExpr(
            "e.field AS field", "doc_id", "e.tokens AS tokens",
            "CAST(coalesce(size(e.tokens), 0) AS BIGINT) AS dl",
        )
    )
    dl = quantize_dl_sql("dl") if dl_col == "norm_dl" else "dl"
    occurrences = (
        per_field.selectExpr("*", "posexplode(tokens) AS (pos, term)")
        .filter("term IS NOT NULL")
        .selectExpr(
            "field", "term", "doc_id", "CAST(pos AS INT) AS pos",
            f"CAST({dl} AS BIGINT) AS _dl",
        )
    )
    field_lengths = per_field.selectExpr(
        "field", "doc_id", "dl", f"{quantize_dl_sql('dl')} AS norm_dl"
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
