"""Autocomplete / suggestion subsystem (reference suggestion/*).

Faithful restatement of the reference pipeline:

  G1/G2 (SuggestionIndex.add + SuggestionNGramIndex.createSuggestions):
    records carry suggestion values; the ngram index holds ONE doc per
    distinct value, with $-bounded char bi/trigrams per word
    (NGramAnalyzer.java:50-79) as indexed fields plus the record keys.
  G3 (SuggestionNGramIndex.Reader.suggest:225-260): a query value is
    analyzed to its ngrams, the LAST ngram is dropped (the user is still
    typing), remaining ngrams are MUST clauses, top-25 by BM25 —
    shorter values naturally outrank longer ones via length norms.
  G4 (suggestionindexcomponent.py:113-136): client-side re-ranking
    sortScore = distanceScore * score^2 * (2 * matchScore) with
    distanceScore = max(0, -ln(levenshtein+1)/4 + 1) and matchScore =
    count of query words contained in the suggestion; dedup; top 10.
  G5: the reference atomically swaps a rebuilt index dir
    (SuggestionIndex.java:132-158); here a rebuild is a new store
    generation behind a CURRENT pointer (swap_suggestion_store).

The ngram "index" is a regular index store over pre-tokenized array
columns, so scoring, filters, and key-set restriction reuse the engine's
single query path.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meresco_lucene_spark.analysis.tokenizer import char_ngrams, tokenize_text
from meresco_lucene_spark.index.store import PersistentIndex, build_index_store
from meresco_lucene_spark.query.executor import hits
from meresco_lucene_spark.query.ir import MUST, Q


def value_ngrams(value: str, trigram: bool = False) -> list[str]:
    """NGramAnalyzer semantics: analyze to words, emit $-bounded char
    2-grams (or 3-grams) per word. ngrams('lord of', True) ->
    [$lo, lor, ord, rd$, $of, of$] (SuggestionIndexTest.java:170-172)."""
    n = 3 if trigram else 2
    out: list[str] = []
    for word in tokenize_text(value):
        out.extend(char_ngrams(word, n, n))
    return out


@dataclass
class SuggestionIndex:
    """Ngram suggestion index: one row per distinct suggestion value."""

    index: PersistentIndex  # fields: 'bigram', 'trigram'
    values: DataFrame  # (doc_id, suggestion, keys array<long>, ...)


def build_suggestion_store(
    df: DataFrame,
    value_col: str,
    out_dir: str,
    key_col: str | None = None,
    shingle_values: bool = False,
    min_shingle_size: int = 2,
    max_shingle_size: int = 4,
) -> SuggestionIndex:
    """Durable suggestion index: the values and their ngrams encoded
    straight into an on-disk index store (index/store.py) under
    ``out_dir/index`` — reopenable in any session with zero re-analysis;
    the store's forward table holds the values. The reference's
    equivalent is the SuggestionNGramIndex directory
    (SuggestionNGramIndex.java:109-135).

    df: records with a suggestion-value column (+ optional int key).
    Distinct values get stable doc ids = xxhash64(value): deterministic
    across runs and fully parallel (an earlier Window.orderBy with no
    partitionBy serialized every distinct value through one task —
    a hard single-partition bottleneck at corpus scale). Values are
    distinct by construction, so ids collide only on a 64-bit hash
    collision; nothing downstream orders by doc_id (suggest ties break
    on the suggestion string).

    shingle_values=True reproduces the reference's SHINGLE RECORD index
    (G1): every word shingle of a value (ShingleAnalyzer min..max,
    SuggestionIndex.java:234-244, ShingleAnalyzer.java:46-51) becomes a
    suggestion value of its own, keyed by the source records — so 'lo'
    can complete to 'lord', 'lord of the rings', 'of the rings', ...
    exactly like SuggestionIndexTest.java's shingle expansion."""
    sel = [F.col(value_col).alias("suggestion")]
    if key_col:
        sel.append(F.col(key_col).alias("_key"))
    vals = df.select(*sel).filter(F.col("suggestion").isNotNull())
    if shingle_values:
        from meresco_lucene_spark.analysis.tokenizer import shingles

        @F.pandas_udf(T.ArrayType(T.StringType()))
        def shingles_of_value(s: pd.Series) -> pd.Series:
            return s.map(
                lambda v: shingles(
                    tokenize_text(v), min_shingle_size, max_shingle_size
                )
            )

        vals = vals.withColumn(
            "suggestion", F.explode(shingles_of_value(F.col("suggestion")))
        )
    if key_col:
        grouped = vals.groupBy("suggestion").agg(
            F.sort_array(F.collect_set("_key")).alias("keys")
        )
    else:
        grouped = vals.distinct().withColumn(
            "keys", F.array().cast("array<long>")
        )
    values = grouped.withColumn("doc_id", F.xxhash64(F.col("suggestion")))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def bigrams_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: value_ngrams(v, trigram=False))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def trigrams_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: value_ngrams(v, trigram=True))

    values = values.select(
        "doc_id",
        "suggestion",
        "keys",
        bigrams_udf("suggestion").alias("bigram"),
        trigrams_udf("suggestion").alias("trigram"),
    ).persist()  # the build reads it once per table: analyze each value once
    try:
        build_index_store(
            values,
            os.path.join(out_dir, "index"),
            id_col="doc_id",
            array_cols=["bigram", "trigram"],
        )
    finally:
        values.unpersist()
    return open_suggestion_store(df.sparkSession, out_dir)


def _resolve_store_dir(out_dir: str) -> str:
    """Resolve the generation the CURRENT pointer names; a store without
    a pointer (plain build_suggestion_store output) is its own root."""
    cur = os.path.join(out_dir, "CURRENT")
    if os.path.exists(cur):
        with open(cur) as f:
            return os.path.join(out_dir, f.read().strip())
    return out_dir


def open_suggestion_store(spark, out_dir: str) -> SuggestionIndex:
    index = PersistentIndex(spark, os.path.join(_resolve_store_dir(out_dir), "index"))
    return SuggestionIndex(index=index, values=index.forward)


def swap_suggestion_store(
    df: DataFrame,
    value_col: str,
    live_dir: str,
    keep_generations: int = 1,
    **kwargs,
) -> SuggestionIndex:
    """G5 atomic rebuild-and-swap (SuggestionIndex.java:132-158), with
    generation directories instead of the reference's dir-rename dance:
    Spark resolves parquet files by PATH at action time (there is no
    Lucene-style open-file-handle survival after unlink), so deleting
    the old dir right after a rename breaks every reader opened before
    the swap, and between the two renames no live dir exists at all.

    Here: build into ``live_dir/gen-(N+1)``, atomically flip the
    ``CURRENT`` pointer file (os.replace), then garbage-collect
    generations older than the ``keep_generations`` most recent below
    the new one. New opens follow the pointer; readers holding the
    previous generation keep a working on-disk snapshot until its
    generation ages out of the grace window (keep_generations=0 = GC
    immediately; concurrent readers then unsupported, as before)."""
    import shutil

    os.makedirs(live_dir, exist_ok=True)
    gens = sorted(
        int(e.split("-", 1)[1])
        for e in os.listdir(live_dir)
        if e.startswith("gen-")
    )
    new_gen = (gens[-1] + 1) if gens else 0
    build_suggestion_store(
        df, value_col, os.path.join(live_dir, f"gen-{new_gen}"), **kwargs
    )
    from meresco_lucene_spark.index.committer import COMMITTER

    COMMITTER.publish_file(os.path.join(live_dir, "CURRENT"), f"gen-{new_gen}")
    doomed = gens if keep_generations == 0 else gens[:-keep_generations]
    for g in doomed:
        shutil.rmtree(os.path.join(live_dir, f"gen-{g}"), ignore_errors=True)
    return open_suggestion_store(df.sparkSession, live_dir)


def suggest(
    si: SuggestionIndex,
    value: str,
    trigram: bool = False,
    limit: int = 25,
    key_filter: DataFrame | None = None,
) -> DataFrame:
    """Top-`limit` suggestion values for a partial query.

    Returns (suggestion, score) ordered by score desc. key_filter: a
    single-column frame of record keys — only values attached to one of
    those keys are returned (SuggestionNGramKeysFilter semantics)."""
    field = "trigram" if trigram else "bigram"
    ngrams = value_ngrams(value, trigram)
    ngrams = ngrams[:-1] if len(ngrams) > 1 else ngrams  # SKIP_LAST_DOLLAR
    if not ngrams:
        return si.values.select("suggestion", F.lit(0.0).alias("score")).limit(0)
    q = Q.boolean(*[(MUST, Q.term(field, g)) for g in ngrams])
    h = hits(si.index, q)
    out = h.join(si.values.select("doc_id", "suggestion", "keys"), "doc_id")
    if key_filter is not None:
        kc = key_filter.columns[0]
        keys = key_filter.select(F.col(kc).alias("_k")).distinct()
        out = (
            out.select("*", F.explode("keys").alias("_k"))
            .join(F.broadcast(keys), "_k", "left_semi")
            .drop("_k")
            .distinct()
        )
    return (
        out.select("suggestion", "score")
        .orderBy(F.col("score").desc(), F.col("suggestion").asc())
        .limit(limit)
    )


def rank_suggestions(suggestions: DataFrame, value: str, top: int = 10) -> DataFrame:
    """G4 client re-ranking (suggestionindexcomponent.py:113-136):
    sortScore = distanceScore * score^2 * (2 * matchScore)."""
    v = value.lower()
    sug = F.lower(F.col("suggestion"))
    distance_score = F.greatest(
        F.lit(0.0), -F.log(F.levenshtein(F.lit(v), sug) + F.lit(1.0)) / 4 + 1
    )
    words = [w for w in v.split() if w]
    match_score = None
    for w in words:
        m = F.when(F.instr(sug, w) > 0, F.lit(1)).otherwise(F.lit(0))
        match_score = m if match_score is None else match_score + m
    match_score = match_score if match_score is not None else F.lit(0)
    out = suggestions.select(
        "suggestion",
        "score",
        F.round(distance_score, 6).alias("distanceScore"),
        match_score.cast("int").alias("matchScore"),
        F.round(
            distance_score * F.col("score") * F.col("score") * (match_score * 2), 6
        ).alias("sortScore"),
    )
    return out.orderBy(F.col("sortScore").desc(), F.col("suggestion").asc()).limit(top)


def spellcheck_suggest(reader, req: dict) -> dict[str, list[str]]:
    """DirectSpellChecker analog (Lucene.java:804-816): for each word in
    ``req["suggests"]``, the top-``count`` terms of ``req["field"]``
    within levenshtein distance 1..2, ordered (distance asc, docFreq
    desc, term asc). ``mode`` (JsonQueryConverter.java:177-187):

      SUGGEST_WHEN_NOT_IN_INDEX (default) — words already in the index
        get no suggestions (LuceneTest.java:608);
      SUGGEST_MORE_POPULAR — only candidates whose docFreq exceeds the
        word's own docFreq, in-index words included (LuceneTest.java:609);
      SUGGEST_ALWAYS — no frequency constraint.

    ONE Spark job for the whole request: a broadcast words-literal frame
    nested-loop-joined against term_stats_for(field) under a length-gap
    prefilter (|len| difference > 2 can't be within distance 2) and the
    thresholded levenshtein (early-exits above the cutoff instead of
    filling the full DP matrix — both whole-stage codegen); each word's
    own docFreq is recovered in the same pass as a distance-0 window
    max, and the per-word top-count is a row_number window — no per-word
    driver loop. Shared by LuceneCore.executeQuery and the composed-
    query executor (the reference forwards _suggestionRequest into the
    result core's QueryData, ComposedQuery.java:107-108)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    field = req["field"]
    count = int(req.get("count", 10))
    mode = req.get("mode") or "SUGGEST_WHEN_NOT_IN_INDEX"
    words = [str(w) for w in req.get("suggests", [])]
    out: dict[str, list[str]] = {w: [] for w in words}
    if not words:
        return out
    tstats = reader.term_stats_for(field)
    wdf = tstats.sparkSession.createDataFrame(
        [(w,) for w in words], "word string"
    )
    j = (
        F.broadcast(wdf)
        .crossJoin(tstats)
        .filter(F.abs(F.length(F.col("word")) - F.length(F.col("term"))) <= 2)
        .withColumn("_d", F.levenshtein(F.col("word"), F.col("term"), 2))
        .filter(F.col("_d") >= 0)
        .withColumn(
            "_word_df",
            F.max(F.when(F.col("_d") == 0, F.col("df"))).over(
                Window.partitionBy("word")
            ),
        )
        .filter(F.col("_d") >= 1)
    )
    if mode == "SUGGEST_WHEN_NOT_IN_INDEX":
        j = j.filter(F.col("_word_df").isNull())
    elif mode == "SUGGEST_MORE_POPULAR":
        j = j.filter(F.col("df") > F.coalesce(F.col("_word_df"), F.lit(0)))
    elif mode != "SUGGEST_ALWAYS":
        raise ValueError(f"unknown suggest mode {mode!r}")
    rank = Window.partitionBy("word").orderBy(
        F.col("_d").asc(), F.col("df").desc(), F.col("term").asc()
    )
    rows = (
        j.withColumn("_rn", F.row_number().over(rank))
        .filter(F.col("_rn") <= count)
        .select("word", "term", "_rn")
        .collect()
    )
    for r in sorted(rows, key=lambda r: (r["word"], r["_rn"])):
        out[r["word"]].append(r["term"])
    return out
