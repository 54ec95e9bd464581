"""Query execution: Q IR -> Catalyst plan over an index store's tables.

Reproduces the reference's single-core query surface
(Lucene.executeQuery, Lucene.java:247-349): query + filterQueries +
excludeQueries + facets + sortKeys + start/stop pagination + dedup —
each recast as DataFrame ops:

  TermQuery     -> the term's postings (index.term_postings) scored by a
                   BM25 column expr with df from the index's term
                   dictionary (index.term_dfs), looked up by term in a
                   map literal (_by_term), and dl off the posting (_bdl)
  BooleanQuery  -> union of scoring-clause frames + groupBy sum(score)
                   with a matched-MUST count gate; FILTER -> left_semi;
                   MUST_NOT -> left_anti              (Q3 in SURVEY §2.2)
  PhraseQuery   -> one scan of the terms' postings, per-term positions
                   picked by a doc_id aggregation + position-adjacency HOFs
  Prefix/Wildcard -> term-range scan, constant score (Lucene rewrite)
  RangeQuery    -> plain column predicate on the forward table
  dedup         -> Window.partitionBy(key) + row_number / count
                   (DeDupFilterSuperCollector.java:43-109)
  facets        -> hits ⋉ forward, every requested dim in ONE
                   groupBy(dim, term) count, maxTerms cut by a per-dim
                   row_number (FacetSuperCollector.java:43-99)
  top-k         -> orderBy(score desc, doc_id asc).limit  — Spark's
                   TakeOrderedAndProject is the partial/final merge the
                   reference builds by hand in TopScoreDocSuperCollector;
                   the total (and the pre-dedup total) ride that same
                   collect as an Observation, since TakeOrderedAndProject
                   consumes every hit row anyway

The per-slice SubCollector / complete() merge of the reference's
SuperCollector framework (SuperCollector.java:38-53) is exactly Spark's
partial aggregation: the functions above ``search()`` return lazy
DataFrames and Catalyst does pushdown/broadcast/AQE.

``search()`` has two routes, chosen before any Spark work:

  driver route  (query/driver.py) a term, boolean or phrase query (with
                FILTER/MUST_NOT clauses, filter and exclude queries,
                facets, sort keys, dedup, stored fields and composed
                key filters given as :class:`KeyFilter` records) whose
                terms' summed df — and the doc count, when it reads the
                forward table — fit ``store.DRIVER_QUERY_POSTINGS`` is
                answered with pyarrow reads of the terms' shard files
                and numpy BM25: no Spark job. Each term's idf is taken
                from the JVM's ``StrictMath.log``, which Spark's ``log``
                is, so a single-term score is bit-equal to this route's;
  Spark route   everything else (prefix, wildcard, range, drilldown and
                distance queries, key filters given as key frames —
                unites and relational filters — or over mismatched key
                types, ``score_adjust``, work over the bound) runs one
                action for total + page, tagged ``search:page``, plus
                one for all facet dims, tagged ``search:facets``.

``index`` is a reader over an index store: a :class:`PersistentIndex`,
or the multi-generation reader with the same interface
(index/incremental.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field, fields as dc_fields
from typing import Any, Sequence

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from meresco_lucene_spark.columns import qcol, sql_literal
from meresco_lucene_spark.query import driver

if TYPE_CHECKING:  # avoid circular import (the store imports query.bm25)
    from meresco_lucene_spark.index.builder import FieldStats
    from meresco_lucene_spark.index.store import PersistentIndex
from meresco_lucene_spark.query.bm25 import (
    bm25_score_expr,
    idf_expr,
    tf_norm_expr,
    term_frequency_score_expr,
)
from meresco_lucene_spark.query.ir import FILTER, MUST, MUST_NOT, SHOULD, Q
from meresco_lucene_spark.session import stage

# --------------------------------------------------------------------------- hits


def hits(index: PersistentIndex, q: Q) -> DataFrame:
    """Scored hit frame for a query: DataFrame(doc_id, score)."""
    t = q.type
    if t == "MatchAllDocsQuery":
        return index.forward.select(
            "doc_id", F.lit(1.0 * q.boost).alias("score")
        )
    if t == "TermQuery":
        return _term_hits(index, q.field, q.value, q.boost)
    if t == "BooleanQuery":
        return _bool_hits(index, q)
    if t == "PhraseQuery":
        return _phrase_hits(index, q)
    if t == "PrefixQuery":
        return _multi_term_hits(
            index, q.field, F.col("term").startswith(q.value), q.boost
        )
    if t == "WildcardQuery":
        pattern = "^" + "".join(
            {"?": ".", "*": ".*"}.get(c, _re_escape(c)) for c in q.value
        ) + "$"
        return _multi_term_hits(index, q.field, F.col("term").rlike(pattern), q.boost)
    if t == "RangeQuery":
        return _range_hits(index, q)
    if t == "DrillDown":
        return _drilldown_hits(index, q)
    if t == "DistanceQuery":
        return _distance_hits(index, q)
    raise ValueError(f"unsupported query type {t}")


EARTH_RADIUS_M = 6371008.7714  # mean radius, matches Lucene's GeoUtils


def haversine_meters(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters (pure column math)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2
    dlon = F.radians(lon2 - lon1) / 2
    a = F.sin(dlat) * F.sin(dlat) + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon) * F.sin(dlon)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def _distance_hits(index: PersistentIndex, q: Q) -> DataFrame:
    """Q8 geo distance: docs whose point lies within maxDistance meters
    of (lat, lon); constant score (Lucene LatLonPoint distance queries
    are constant-score). The geo field is either a struct column with
    lat/lon subfields or a pair of `<field>_lat`/`<field>_lon` columns."""
    lat, lon = q.value
    fwd = index.forward
    if q.field in fwd.columns and isinstance(
        fwd.schema[q.field].dataType, StructType
    ):
        lat_c, lon_c = F.col(f"{q.field}.lat"), F.col(f"{q.field}.lon")
    else:
        lat_c, lon_c = F.col(f"{q.field}_lat"), F.col(f"{q.field}_lon")
    dist = haversine_meters(lat_c, lon_c, F.lit(float(lat)), F.lit(float(lon)))
    return fwd.filter(dist <= float(q.lower)).select(
        "doc_id", F.lit(1.0 * q.boost).alias("score")
    )


def _re_escape(c: str) -> str:
    import re

    return re.escape(c)


def _term_hits(index: PersistentIndex, fld: str, value: str, boost: float) -> DataFrame:
    st = index.field_stats(fld)
    if index.similarity == "TermFrequency":
        # reference search/TermFrequencySimilarity.java:40-58
        p = index.term_postings(fld, [value])
        return p.select("doc_id", term_frequency_score_expr(F.col("tf"), boost).alias("score"))
    dfs = index.term_dfs(fld, [value])
    p, score = _bm25_postings(index, st, index.term_postings(fld, list(dfs)), [value], dfs)
    if boost != 1.0:
        score = score * F.lit(boost)
    return p.select("doc_id", score.alias("score"))


def _bm25_postings(
    index: PersistentIndex,
    st: FieldStats,
    p: DataFrame,
    terms: list[str],
    dfs: dict[str, int],
) -> tuple[DataFrame, Column]:
    """``p`` with each posting's df, n_docs and avgdl (``_df``, ``_n``,
    ``_a``), and its BM25 score over them.

    The three are map lookups by term (_by_term), not numeric literals:
    codegen writes a number into the generated Java, so each new df, and
    each new snapshot's n_docs and avgdl, would compile new classes,
    while a map constant is one of the class's references. They are
    projected below the score, so the score's common subexpressions
    (df is read twice) hold no map constant: codegen orders common
    subexpressions by their hash, which a constant's value changes."""
    p = p.selectExpr(
        "*",
        by_term_sql({t: dfs.get(t, 0) for t in terms}) + " AS _df",
        by_term_sql({t: st.n_docs for t in terms}) + " AS _n",
        by_term_sql({t: st.avgdl for t in terms}) + " AS _a",
    )
    tf, df, n = F.col("tf"), F.col("_df"), F.col("_n")
    if st.omit_norms:
        # Norms omitted (StringField / NoTermsFrequencyField,
        # DocumentStringToDocument.java:97-98): Lucene's norm term
        # collapses to 1 -> tfNorm = tf / (tf + k1).
        return p, idf_expr(df, n) * (tf.cast("double") / (tf + F.lit(index.k1)))
    return p, bm25_score_expr(tf, df, F.col("_bdl"), n, F.col("_a"), index.k1, index.b)


def _by_term(values: dict[str, Any]) -> Column:
    """Each posting's entry of ``values``, looked up by its ``term``
    column in one map literal.

    Whole-stage codegen writes a numeric literal into the generated Java
    source but keeps a map constant in the generated class's
    ``references`` array, so queries that differ only in their terms'
    numbers (df, MUST count, boost) share one compiled class. The value
    reaches the arithmetic unchanged, so scores are bit-identical to
    folding it as a literal (``Log`` is ``StrictMath.log`` either way).

    The lookup is written as one SQL expression, one py4j call instead
    of about twenty for the Column-by-Column form; the map folds to the
    same constant of the same types (see sql_literal)."""
    return F.expr(by_term_sql(values))


def by_term_sql(values: dict[str, Any]) -> str:
    """The SQL text of :func:`_by_term`."""
    pairs = ", ".join(sql_literal(x) for kv in values.items() for x in kv)
    return f"element_at(map({pairs}), term)"


def _multi_term_hits(
    index: PersistentIndex, fld: str, term_pred: Column, boost: float
) -> DataFrame:
    """Prefix/Wildcard: Lucene 8 rewrites to a constant-score query over
    the union of matching terms' postings (JsonQueryConverter.java:207-211)."""
    p = index.postings_for(fld).filter(term_pred)
    return p.select("doc_id").distinct().select(
        "doc_id", F.lit(1.0 * boost).alias("score")
    )


def _range_hits(index: PersistentIndex, q: Q) -> DataFrame:
    """Range over a forward-table column (reference point/term ranges,
    JsonQueryConverter.java:296-331). Constant score 1."""
    col = qcol(q.field)
    pred = F.lit(True)
    if q.lower is not None:
        pred = pred & (col >= q.lower if q.include_lower else col > q.lower)
    if q.upper is not None:
        pred = pred & (col <= q.upper if q.include_upper else col < q.upper)
    return index.forward.filter(pred).select(
        "doc_id", F.lit(1.0 * q.boost).alias("score")
    )


def _drilldown_hits(index: PersistentIndex, q: Q) -> DataFrame:
    """Facet drilldown: filter forward rows whose facet path for dim
    starts with the given path (Lucene.java:763-774)."""
    cols = index.facet_fields.get(q.field, [q.field])
    pred = F.lit(True)
    for c, v in zip(cols, q.terms):
        pred = pred & (qcol(c) == v)
    return index.forward.filter(pred).select(
        "doc_id", F.lit(1.0 * q.boost).alias("score")
    )


def _fused_term_hits(
    index: PersistentIndex, fld: str, clauses: list[tuple[Q, bool]]
) -> DataFrame:
    """Several TermQuery scoring clauses on ONE field in ONE postings
    scan (guide §6.2 scan once / §4.1): one ``term_postings`` read
    replaces one filtered scan + decode branch per clause, per-term df
    comes from the index's term dictionary, and the per-clause (boost,
    MUST) weights fold into per-term weights; each is a lookup by the
    posting's term (_by_term). Row-for-row identical to the per-clause
    union it replaces: a doc matching term t contributed one row per clause of t
    with score s_t*boost_c and is_must flag — here the same addends
    arrive pre-summed per term (s_t*Σboost_c, count of MUST clauses),
    which the downstream groupBy aggregates identically. With all boosts
    1.0 (the common case) the score expression is EXACTLY the
    single-clause expression."""
    st = index.field_stats(fld)
    # per distinct term: summed boost of its clauses + its MUST count
    w_boost: dict[str, float] = {}
    w_must: dict[str, int] = {}
    for c, is_must in clauses:
        w_boost[c.value] = w_boost.get(c.value, 0.0) + c.boost
        w_must[c.value] = w_must.get(c.value, 0) + (1 if is_must else 0)
    is_must_c = _by_term(w_must).alias("is_must")
    uniform_boost = set(w_boost.values()) == {1.0}
    if index.similarity == "TermFrequency":
        p = index.term_postings(fld, list(w_boost))
        score = term_frequency_score_expr(F.col("tf"), 1.0)
    else:
        dfs = index.term_dfs(fld, list(w_boost))
        p, score = _bm25_postings(
            index, st, index.term_postings(fld, list(dfs)), list(w_boost), dfs
        )
    if not uniform_boost:
        score = score * _by_term(w_boost)
    return p.select("doc_id", score.alias("score"), is_must_c)


def _bool_hits(index: PersistentIndex, q: Q) -> DataFrame:
    musts = [c for occ, c in q.clauses if occ == MUST]
    shoulds = [c for occ, c in q.clauses if occ == SHOULD]
    filters = [c for occ, c in q.clauses if occ == FILTER]
    nots = [c for occ, c in q.clauses if occ == MUST_NOT]

    scoring: list[tuple[Q, bool]] = [(c, True) for c in musts] + [
        (c, False) for c in shoulds
    ]
    if scoring:
        # Same-field TermQuery clauses fuse into one scan (see
        # _fused_term_hits); everything else keeps its own hit frame.
        by_field: dict[str, list[tuple[Q, bool]]] = {}
        rest: list[tuple[Q, bool]] = []
        for c, is_must in scoring:
            if c.type == "TermQuery":
                by_field.setdefault(c.field, []).append((c, is_must))
            else:
                rest.append((c, is_must))
        frames = []
        for fldname, grp in by_field.items():
            if len(grp) >= 2:
                frames.append(_fused_term_hits(index, fldname, grp))
            else:
                rest.extend(grp)
        frames += [
            hits(index, c).select(
                "doc_id", "score", F.lit(1 if is_must else 0).alias("is_must")
            )
            for c, is_must in rest
        ]
        u = frames[0]
        for f in frames[1:]:
            u = u.unionByName(f)
        base = (
            u.groupBy("doc_id")
            .agg(F.sum("score").alias("score"), F.sum("is_must").alias("_nm"))
            .filter(F.col("_nm") == len(musts))
            .select("doc_id", "score")
        )
    elif filters:
        # FILTER-only query: every doc passing the filters matches, score 0
        # (Lucene FILTER semantics).
        base = index.forward.select("doc_id", F.lit(0.0).alias("score"))
    else:
        # No positive clauses at all (pure MUST_NOT, or empty boolean):
        # Lucene and the reference match NOTHING (BooleanQuery requires at
        # least one positive clause to produce hits).
        return (
            index.forward.select("doc_id", F.lit(0.0).alias("score")).limit(0)
        )

    for c in filters:
        base = base.join(hits(index, c).select("doc_id"), "doc_id", "left_semi")
    for c in nots:
        base = base.join(hits(index, c).select("doc_id"), "doc_id", "left_anti")
    if q.boost != 1.0:
        base = base.select("doc_id", (F.col("score") * q.boost).alias("score"))
    return base


def _phrase_hits(index: PersistentIndex, q: Q) -> DataFrame:
    """Ordered-adjacent phrase match via per-term position arrays.

    Matching: positions p in terms[0] with p+i present in terms[i] for
    all i. Scoring follows Lucene's PhraseQuery: tf = phrase frequency,
    weight idf = sum of per-term idfs."""
    terms = list(q.terms)
    if len(terms) == 1:
        return _term_hits(index, q.field, terms[0], q.boost)
    st = index.field_stats(q.field)
    dfs = index.term_dfs(q.field, terms)
    df = _by_term({t: dfs.get(t, 0) for t in terms})

    # All phrase terms are gathered in ONE scan of their shards, and the
    # per-term position arrays are picked by a doc_id aggregation with
    # FIRST(CASE) — a doc has at most one posting per term, so the picks
    # are deterministic and the doc set (all terms present) matches an
    # inner-join chain row for row. The aggregation is shuffle-bounded
    # and AQE-coalesced, where a join chain would size-estimate a
    # broadcast over each decoded term (a mid-frequency term there is a
    # broadcast-OOM hazard at scale).
    # Each term's df rides the same pick as its positions. A posting is
    # picked by its term's place j in distinct_terms, looked up like df
    # (_by_term), not by comparing with the term: the picks are common
    # subexpressions, which codegen orders by their hash, so a literal
    # term in them made new code for every phrase.
    distinct_terms = list(dict.fromkeys(terms))
    # n_docs and avgdl ride every posting the same way and are picked
    # once per doc, so no snapshot's numbers are code either
    p = index.term_postings(q.field, list(dfs)).select(
        "*",
        _by_term({t: j for j, t in enumerate(distinct_terms)}).alias("_j"),
        df.alias("_df"),
        _by_term({t: st.n_docs for t in distinct_terms}).alias("_n"),
        _by_term({t: st.avgdl for t in distinct_terms}).alias("_a"),
    )
    aggs = []
    for j in range(len(distinct_terms)):
        mine = F.col("_j") == j
        aggs += [
            F.first(F.when(mine, F.col("positions")), ignorenulls=True).alias(f"_q{j}"),
            F.first(F.when(mine, F.col("_df")), ignorenulls=True).alias(f"_e{j}"),
        ]
    # dl rides the first term's posting
    aggs += [
        F.first(F.when(F.col("_j") == 0, F.col("_bdl")), ignorenulls=True).alias("_bdl"),
        F.first("_n").alias("_n"),
        F.first("_a").alias("_a"),
    ]
    g = p.groupBy("doc_id").agg(*aggs)
    present = None
    for j in range(len(distinct_terms)):
        c = F.col(f"_q{j}").isNotNull()
        present = c if present is None else (present & c)
    sel = ["doc_id"]
    for i, t in enumerate(terms):
        j = distinct_terms.index(t)
        sel += [F.col(f"_q{j}").alias(f"_p{i}"), F.col(f"_e{j}").alias(f"_d{i}")]
    joined = g.filter(present).select(*sel, "_bdl", "_n", "_a")

    conds = " AND ".join(
        f"exists(_p{i}, y -> y = x + {i})" for i in range(1, len(terms))
    )
    phrase_freq = F.expr(f"size(filter(_p0, x -> {conds}))")
    cand = joined.withColumn("_pf", phrase_freq).filter(F.col("_pf") > 0)

    # Sum of the phrase terms' idfs in query order, duplicates counted
    # per occurrence, as Lucene's PhraseWeight does, over each term's df
    # carried as _d{i} (an absent term means no match).
    idf_sum = None
    for i in range(len(terms)):
        idf = idf_expr(F.col(f"_d{i}"), F.col("_n"))
        idf_sum = idf if idf_sum is None else idf_sum + idf
    score = (
        idf_sum
        * tf_norm_expr(F.col("_pf"), F.col("_bdl"), F.col("_a"), index.k1, index.b)
        * F.lit(q.boost)
    )
    return cand.select("doc_id", score.alias("score"))


# ------------------------------------------------------------------- search API


@dataclass
class Hit:
    id: Any
    score: float
    duplicateCount: int | None = None
    fields: dict[str, Any] = dc_field(default_factory=dict)
    # clustered responses only (reference ClusterHit, LuceneResponse.java:103-108)
    topTerms: list | None = None
    topDocs: list | None = None


@dataclass
class LuceneResponse:
    """Mirror of the reference response (luceneresponse.py:34-46)."""

    total: int
    hits: list[Hit]
    totalWithDuplicates: int | None = None
    drilldownData: list[dict] = dc_field(default_factory=list)
    keys: list | None = None  # exported key set (composed queries)
    suggestions: dict | None = None  # spellcheck per word (LuceneCore)
    # ms of the whole search() call, and of its page ("searchTime") and
    # facet ("facetTime") actions (Lucene.java:287-344); timings are not
    # part of an answer, so two responses compare equal without them
    queryTime: int | None = dc_field(default=None, compare=False)
    times: dict[str, int] | None = dc_field(default=None, compare=False)

    # ------------------------------------------------- JSON wire parity
    # The reference serializes responses with a tagged-Hit JSON codec
    # (luceneresponse.py:38-65: Hit becomes {"__class__": "Hit", ...};
    # fromJson reverses it). Unset/empty members are omitted on the way
    # out — the reference only carries keys that were set — and unknown
    # keys coming IN (e.g. a Java hit's sortValues) are kept as plain
    # attributes, like the reference's kwargs-open classes.

    def asJson(self, **dumps_kwargs) -> str:
        import json
        from dataclasses import MISSING

        def strip(obj: dict, cls_) -> dict:
            # Omit ONLY fields still at their dataclass defaults — an
            # explicitly different value survives even when it is an
            # empty container (the reference serializes every set
            # attribute; e.g. suggestions={} must round-trip, ADVICE
            # r5). Extra attributes picked up from a foreign payload
            # have no default and are always emitted.
            defaults = {}
            for f in dc_fields(cls_):
                if f.default is not MISSING:
                    defaults[f.name] = f.default
                elif f.default_factory is not MISSING:
                    defaults[f.name] = f.default_factory()
            return {
                k: v
                for k, v in obj.items()
                if k not in defaults or v != defaults[k]
            }

        class _Enc(json.JSONEncoder):
            def default(self, o):
                if isinstance(o, Hit):
                    return {"__class__": "Hit", **strip(vars(o), Hit)}
                return json.JSONEncoder.default(self, o)

        d = strip(vars(self), type(self))
        d["total"] = self.total  # total is always present, even 0
        d["hits"] = self.hits  # likewise (possibly empty) hits
        return json.dumps(d, cls=_Enc, **dumps_kwargs)

    @classmethod
    def fromJson(cls, payload: str) -> "LuceneResponse":
        import json

        hit_names = {f.name for f in dc_fields(Hit)}

        def hook(d: dict):
            if d.pop("__class__", None) == "Hit":
                known = {k: v for k, v in d.items() if k in hit_names}
                h = Hit(**known)
                for k, v in d.items():
                    if k not in hit_names:
                        setattr(h, k, v)
                return h
            return d

        data = json.loads(payload, object_hook=hook)
        self_names = {f.name for f in dc_fields(cls)}
        known = {k: v for k, v in data.items() if k in self_names}
        known.setdefault("total", 0)
        known.setdefault("hits", [])
        resp = cls(**known)
        for k, v in data.items():
            if k not in self_names:
                setattr(resp, k, v)
        return resp


def _missing_value_order(col: Column, descending: bool, missing_value: Any) -> Column:
    """Sort-key missing-value semantics (JsonQueryConverter.java:78-141 +
    fieldregistry.py:109-112 defaults: STRING_FIRST/STRING_LAST; numeric
    sorts fill ±MAX)."""
    if missing_value == "STRING_FIRST":
        return col.desc_nulls_last() if descending else col.asc_nulls_first()
    if missing_value == "STRING_LAST":
        return col.desc_nulls_first() if descending else col.asc_nulls_last()
    if missing_value is not None:
        col = F.coalesce(col, F.lit(missing_value))
    return col.desc() if descending else col.asc()


def sort_exprs(sort_keys: Sequence[dict] | None) -> list[Column]:
    """sortKeys dicts use the reference client format:
    {"sortBy": field, "sortDescending": bool, "missingValue": ...};
    sortBy "score" sorts on relevance."""
    out: list[Column] = []
    for sk in sort_keys or []:
        fld = sk["sortBy"]
        desc = bool(sk.get("sortDescending", False))
        if fld == "score":
            out.append(F.col("score").desc() if desc else F.col("score").asc())
        else:
            out.append(
                _missing_value_order(qcol(fld), desc, sk.get("missingValue"))
            )
    if not sort_keys:
        out.append(F.col("score").desc())
    out.append(F.col("doc_id").asc())
    return out


def collect_keys(index: PersistentIndex, query: Q | None, key_field: str) -> DataFrame:
    """KeySuperCollector (search/join/KeySuperCollector.java:35-62): the
    distinct key set of docs matching the query."""
    h = hits(index, query or Q.matchall()).select("doc_id")
    return (
        index.forward.join(h, "doc_id", "left_semi")
        .filter(qcol(key_field).isNotNull())
        .select(qcol(key_field).alias("key"))
        .distinct()
    )


@dataclass(frozen=True)
class KeyFilter:
    """A composed query's filter of the result core by another core's
    hits (queries/KeyFilter.java:46-124): result docs whose
    ``result_key`` is among the ``other_key`` values of the docs of
    ``index`` that match ``query`` (``inverted``: whose key is not). The
    driver route evaluates it with pyarrow; the Spark route joins its
    ``collect_keys`` frame (scored_hits_df)."""

    index: PersistentIndex
    query: Q | None
    other_key: str
    result_key: str
    inverted: bool = False


def scored_hits_df(
    index: PersistentIndex,
    query: Q | None = None,
    filter_queries: Sequence[Q] = (),
    exclude_queries: Sequence[Q] = (),
    key_filters: Sequence[KeyFilter | tuple[DataFrame, str, bool]] = (),
) -> DataFrame:
    """Hit frame after filters/excludes/key-set joins.

    key_filters: :class:`KeyFilter` records, or (keys_df with single
    column key, key_field_in_forward, inverted) triples — the
    composed-query KeyFilter (queries/KeyFilter.java:46-124): semi-join
    normally, anti-join when inverted."""
    h = hits(index, query or Q.matchall())
    for fq in filter_queries:
        h = h.join(hits(index, fq).select("doc_id"), "doc_id", "left_semi")
    for eq in exclude_queries:
        h = h.join(hits(index, eq).select("doc_id"), "doc_id", "left_anti")
    if key_filters:
        fwd = index.forward
        for kf in key_filters:
            if isinstance(kf, KeyFilter):
                kf = collect_keys(kf.index, kf.query, kf.other_key), kf.result_key, kf.inverted
            keys_df, key_field, inverted = kf
            key_col = keys_df.columns[0]
            doc_keys = fwd.select("doc_id", F.col(key_field).alias("_k")).filter(
                F.col(key_field).isNotNull()
            )
            matched = doc_keys.join(
                keys_df.withColumnRenamed(key_col, "_k").distinct(), "_k", "left_semi"
            ).select("doc_id")
            how = "left_anti" if inverted else "left_semi"
            h = h.join(matched, "doc_id", how)
    return h


def search(
    index: PersistentIndex,
    query: Q | None = None,
    filter_queries: Sequence[Q] = (),
    exclude_queries: Sequence[Q] = (),
    key_filters: Sequence[KeyFilter | tuple[DataFrame, str, bool]] = (),
    start: int = 0,
    stop: int = 10,
    sort_keys: Sequence[dict] | None = None,
    facets: Sequence[dict] = (),
    dedup_field: str | None = None,
    dedup_sort_fields: Sequence[dict] = (),
    stored_fields: Sequence[str] = (),
    score_adjust: "callable | None" = None,
) -> LuceneResponse:
    """The reference's executeQuery in one pass (Lucene.java:247-349).

    Pagination semantics (LuceneTest.java:363-394): ``total`` is the full
    match count; the returned page is hits[start:stop]. start defaults 0,
    stop 10 (_lucene.py:98-99).

    A request that fits the driver route (query/driver.py, see the
    module docstring) is answered with no Spark job. Otherwise one Spark
    action computes the total, the dedup totals and the page (see
    ``collect_page``); requested facets add one more action for all
    their dims together (``drilldown_data``). Nothing is persisted; the
    totals run as a job of their own only for an empty page
    (stop <= start).

    score_adjust: optional fn(hits_df)->hits_df applied before ranking —
    the composed-query rank-blend hook (AggregateScoreSuperCollector).

    The response carries the reference's timings in ms: ``queryTime``
    for the whole call, ``times["searchTime"]`` for the page action and,
    with facets, ``times["facetTime"]`` for the facet action."""
    t_query = time.perf_counter()
    if score_adjust is None and all(isinstance(kf, KeyFilter) for kf in key_filters):
        found = driver.search(
            index, query, filter_queries, exclude_queries, key_filters, start, stop,
            sort_keys, facets, dedup_field, dedup_sort_fields, stored_fields, t_query,
        )
        if found is not None:
            return found
    with stage(index.spark, "search"):
        return _spark_search(
            index, query, filter_queries, exclude_queries, key_filters, start, stop,
            sort_keys, facets, dedup_field, dedup_sort_fields, stored_fields,
            score_adjust, t_query,
        )


def _spark_search(
    index, query, filter_queries, exclude_queries, key_filters, start, stop,
    sort_keys, facets, dedup_field, dedup_sort_fields, stored_fields,
    score_adjust, t_query,
) -> LuceneResponse:
    """search() on the Spark route; its jobs are tagged by operator
    (``search:facets``, ``search:page``, and ``search:total`` for the
    totals-only action of an empty page)."""
    h = scored_hits_df(index, query, filter_queries, exclude_queries, key_filters)
    if score_adjust is not None:
        h = score_adjust(h)

    # facets see all (pre-dedup) hits, like FacetSuperCollector, and need
    # only their doc ids: counted before the stored/sort-field join
    t_facet = time.perf_counter()
    with stage(index.spark, "facets"):
        drilldown = drilldown_data(index, h, facets)
    facet_ms = _ms_since(t_facet)

    needed = set(stored_fields)
    if dedup_field:
        needed.add(dedup_field)
        for sk in dedup_sort_fields:
            needed.add(sk["sortBy"])
    for sk in sort_keys or []:
        if sk["sortBy"] != "score":
            needed.add(sk["sortBy"])
    if needed:
        h = h.join(
            index.forward.select("doc_id", *[qcol(c) for c in sorted(needed)]),
            "doc_id",
            "left",
        )

    if dedup_field:
        # DeDupFilterSuperCollector (search/DeDupFilterSuperCollector.java:43-109):
        # group by the dedup key doc-value, keep the best doc per group
        # (by dedup sort fields, else highest score), report per-group
        # counts and the pre-dedup total. Docs without a key value are
        # their own group. Every hit is in exactly one group, so the
        # pre-dedup total is the sum of the kept rows' duplicateCount,
        # taken with the total on the page collect. (An observation
        # below the window would not fire when the hits are empty: the
        # empty shuffle stage never runs.)
        group = F.coalesce(
            qcol(dedup_field).cast("string"),
            F.concat(F.lit("__doc__"), F.col("doc_id").cast("string")),
        )
        if dedup_sort_fields:
            order = [
                (qcol(sk["sortBy"]).desc() if sk.get("sortDescending") else qcol(sk["sortBy"]).asc())
                for sk in dedup_sort_fields
            ]
        else:
            order = [F.col("score").desc()]
        order.append(F.col("doc_id").asc())
        w = Window.partitionBy(group).orderBy(*order)
        h = (
            h.withColumn("_rn", F.row_number().over(w))
            .withColumn("duplicateCount", F.count("*").over(Window.partitionBy(group)))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    dupes = ["duplicateCount"] if dedup_field else []
    t_page = time.perf_counter()
    with stage(index.spark, "page" if stop > start else "total"):
        totals, rows = collect_page(h, sort_exprs(sort_keys), start, stop, dupes)
    times = {"searchTime": _ms_since(t_page)}
    if facets:
        times["facetTime"] = facet_ms
    hits_out = []
    for r in rows:
        d = r.asDict()
        hits_out.append(
            Hit(
                id=d["doc_id"],
                score=float(d["score"]) if d["score"] is not None else 0.0,
                duplicateCount=d.get("duplicateCount"),
                fields={k: d[k] for k in stored_fields},
            )
        )
    return LuceneResponse(
        total=totals["n"],
        hits=hits_out,
        totalWithDuplicates=totals["duplicateCount"] if dedup_field else None,
        drilldownData=drilldown,
        queryTime=_ms_since(t_query),
        times=times,
    )


def _ms_since(t0: float) -> int:
    """Whole milliseconds since ``t0`` (a ``time.perf_counter()``), as
    the reference reports its timings."""
    return int((time.perf_counter() - t0) * 1000)


def collect_page(
    df: DataFrame,
    order: Sequence[Column],
    start: int,
    stop: int,
    sums: Sequence[str] = (),
) -> tuple[dict[str, int], list[Row]]:
    """({"n": row count of ``df``, column: its sum over ``df`` for each of
    ``sums``}, rows [start:stop) of ``df`` in ``order``) in ONE Spark
    action: the totals are observed on the frame that feeds
    ``orderBy(...).limit(stop)`` — a TakeOrderedAndProject, which reads
    every row of every partition once — so they are exact.

    Two plans lose that guarantee, and both are handled here:
      - an empty page runs only the totals, since ``limit(0)`` folds the
        plan to an empty relation and an observation would never fire;
      - adaptive execution drops the limit once it knows ``df`` has at
        most ``stop`` rows, and the global sort it plans instead samples
        the observed rows before sorting them, counting them twice. Then
        every row was collected, so the totals come from the rows."""
    aggs = [F.count(F.lit(1)).alias("n"), *[F.sum(c).alias(c) for c in sums]]
    if stop <= start:
        row = df.agg(*aggs).collect()[0]
        return {k: int(v or 0) for k, v in row.asDict().items()}, []
    obs = Observation()
    page = df.observe(obs, *aggs).orderBy(*order).limit(stop)
    rows = page.collect()
    if len(rows) < stop or not _kept_top_k(page):
        totals = {"n": len(rows), **{c: sum(r[c] for r in rows) for c in sums}}
    else:
        totals = {k: int(v or 0) for k, v in obs.get.items()}
    return totals, rows[start:stop]


def _kept_top_k(page: DataFrame) -> bool:
    """Whether the plan ``page``'s action ran (the final adaptive plan)
    still holds its TakeOrderedAndProject."""
    plan = page._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return "TakeOrderedAndProject" in plan.toString()


def similar_documents_df(
    index: PersistentIndex,
    doc_id: int,
    field: str = "text",
    max_freq: float = 0.1,
    k: int | None = 10,
) -> DataFrame:
    """O12 similarDocuments (MLT): the seed doc's terms with
    df <= max_freq * N (the reference's CommonTermsQuery maxFreq,
    Lucene.java:818-846), OR'd over other docs, ranked by the count of
    shared rare terms. Returns (doc_id, shared_terms) top-k;
    ``k=None`` returns the UNLIMITED ranked candidate frame (the facade
    uses it so ``total`` counts all candidates and paging works past
    row k — ADVICE r5).

    Plan shape: the seed's rare-term set is broadcast (bounded by one
    doc's vocabulary), the candidate scan is one semi-join over postings
    with the term filter pushed to the scan, and the top-k is a
    TakeOrderedAndProject — no full shuffle at any corpus size."""
    n = index.n_docs
    # the seed's own terms are the broadcast side of the term_stats join
    # whatever the tables' file sizes: one doc's vocabulary is small
    seed_terms = (
        F.broadcast(
            index.postings_for(field).filter(F.col("doc_id") == doc_id).select("term")
        )
        .join(index.term_stats_for(field), "term")
        .filter(F.col("df") <= max_freq * n)
        .select("term")
        .distinct()
    )
    out = (
        index.postings_for(field)
        .join(F.broadcast(seed_terms), "term", "left_semi")
        .filter(F.col("doc_id") != doc_id)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("shared_terms"))
        .orderBy(F.col("shared_terms").desc(), F.col("doc_id").asc())
    )
    return out if k is None else out.limit(k)


def mlt_seed_doc(
    index: PersistentIndex, field: str = "text", max_freq: float = 0.1
) -> int | None:
    """Lowest doc id that shares a rare term (2 <= df <= max_freq * N)
    with at least one OTHER doc — a deterministic, guaranteed-nontrivial
    MLT seed for fixtures and demos (df >= 2 means some other doc holds
    the term; df = 1 terms can't contribute matches anyway). Returns
    None when no such doc exists."""
    n = index.n_docs
    rare = (
        index.term_stats_for(field)
        .filter((F.col("df") >= 2) & (F.col("df") <= max_freq * n))
        .select("term")
    )
    with stage(index.spark, "mlt:seed"):
        row = (
            index.postings_for(field)
            .join(F.broadcast(rare), "term", "left_semi")
            .agg(F.min("doc_id"))
            .collect()[0]
        )
    return None if row[0] is None else int(row[0])


def drilldown_data(
    index: PersistentIndex, hits_df: DataFrame, facets: Sequence[dict]
) -> list[dict]:
    """Counts of every requested facet dim (FacetSuperCollector.java:43-99
    merged form) in ONE Spark action, in request order.

    facet: {"fieldname": dim, "maxTerms": n (0 = unlimited), "path": [...]}.
    Hierarchical dims follow index.facet_fields[dim]; counts at path
    depth len(path) (Lucene.java:611-627 recursion, flattened). All dims
    share one semi-join of the forward table with the hits and one
    groupBy; each dim's maxTerms cut is a row_number over its counts, so
    the collect returns at most maxTerms rows per capped dim."""
    if not facets:
        return []
    paths = [list(f.get("path", ())) for f in facets]
    counts = _facet_groups(
        index, hits_df, [(f["fieldname"], p) for f, p in zip(facets, paths)]
    )
    keep = F.lit(False)
    for i, f in enumerate(facets):
        cap = int(f.get("maxTerms", 10))
        this = F.col("_dim") == i
        keep = keep | ((this & (F.col("_rn") <= cap)) if cap else this)
    rank = Window.partitionBy("_dim").orderBy(
        F.col("count").desc(), F.col("term").asc()
    )
    rows = (
        counts.withColumn("_rn", F.row_number().over(rank)).filter(keep).collect()
    )
    out = []
    for i, (f, path) in enumerate(zip(facets, paths)):
        mine = sorted((r for r in rows if r["_dim"] == i), key=lambda r: r["_rn"])
        d = {
            "fieldname": f["fieldname"],
            "terms": [{"term": r["term"], "count": r["count"]} for r in mine],
        }
        if path:
            d["path"] = path
        out.append(d)
    return out


def facet_counts(index: PersistentIndex, hits_df: DataFrame, facet: dict) -> dict:
    """One facet dim's counts: ``drilldown_data`` for a single dim."""
    return drilldown_data(index, hits_df, [facet])[0]


def facet_counts_df(
    index: PersistentIndex, hits_df: DataFrame, dim: str, path: Sequence[str] = ()
) -> DataFrame:
    """DataFrame form of one dim's facet counts: (term, count) ordered by
    count desc, term asc."""
    return (
        _facet_groups(index, hits_df, [(dim, path)])
        .select("term", "count")
        .orderBy(F.col("count").desc(), F.col("term").asc())
    )


def _facet_groups(
    index: PersistentIndex,
    hits_df: DataFrame,
    dims: Sequence[tuple[str, Sequence[str]]],
) -> DataFrame:
    """(_dim, term, count) for every (dim, path) of ``dims``, ``_dim``
    being its position there: each hit's forward row yields one
    (position, value at path depth) label per dim whose path it lies
    under, and one groupBy counts them all."""
    fwd = index.forward
    labels = []
    present = F.lit(False)
    for i, (dim, path) in enumerate(dims):
        cols = index.facet_fields.get(dim, [dim])
        depth = len(path)
        if depth >= len(cols):
            raise ValueError(f"facet path {list(path)} deeper than dim {dim}")
        pred = qcol(cols[depth]).isNotNull()
        for c, v in zip(cols, path):
            pred = pred & (qcol(c) == v)
        labels.append(
            F.struct(
                F.lit(i).alias("_dim"),
                F.when(pred, qcol(cols[depth]).cast("string")).alias("term"),
            )
        )
        present = present | pred
    return (
        fwd.filter(present)
        .join(hits_df.select("doc_id"), "doc_id", "left_semi")
        .select(F.inline(F.array(*labels)))
        .filter(F.col("term").isNotNull())
        .groupBy("_dim", "term")
        .agg(F.count("*").cast("long").alias("count"))
    )
