"""Query execution: Q IR -> Catalyst plan over the index tables.

Reproduces the reference's single-core query surface
(Lucene.executeQuery, Lucene.java:247-349): query + filterQueries +
excludeQueries + facets + sortKeys + start/stop pagination + dedup —
each recast as DataFrame ops:

  TermQuery     -> postings filter + stats joins + BM25 column expr
  BooleanQuery  -> union of scoring-clause frames + groupBy sum(score)
                   with a matched-MUST count gate; FILTER -> left_semi;
                   MUST_NOT -> left_anti              (Q3 in SURVEY §2.2)
  PhraseQuery   -> per-term postings joins + position-adjacency HOFs
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
partial aggregation; nothing imperative remains here — every function
returns a lazy DataFrame and Catalyst does pushdown/broadcast/AQE.
``search()`` runs one action for total + page, plus one for all facet
dims when facets are requested.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, fields as dc_fields
from typing import Any, Sequence

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, Observation, Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from meresco_lucene_spark.columns import qcol

if TYPE_CHECKING:  # avoid circular import (builder imports query.bm25)
    from meresco_lucene_spark.index.builder import InvertedIndex
from meresco_lucene_spark.query.bm25 import (
    bm25_score_expr,
    idf_expr,
    tf_norm_expr,
    term_frequency_score_expr,
)
from meresco_lucene_spark.query.ir import FILTER, MUST, MUST_NOT, SHOULD, Q

# --------------------------------------------------------------------------- hits


def hits(index: InvertedIndex, q: Q, quantized: bool | None = None) -> DataFrame:
    """Scored hit frame for a query: DataFrame(doc_id, score)."""
    quantized = index_quantized(index, quantized)
    t = q.type
    if t == "MatchAllDocsQuery":
        return index.forward.select(
            "doc_id", F.lit(1.0 * q.boost).alias("score")
        )
    if t == "TermQuery":
        return _term_hits(index, q.field, q.value, q.boost, quantized)
    if t == "BooleanQuery":
        return _bool_hits(index, q, quantized)
    if t == "PhraseQuery":
        return _phrase_hits(index, q, quantized)
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


def _distance_hits(index: InvertedIndex, q: Q) -> DataFrame:
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


def index_quantized(index: InvertedIndex, override: bool | None) -> bool:
    if override is not None:
        return override
    return bool(getattr(index, "quantized", False))


def _re_escape(c: str) -> str:
    import re

    return re.escape(c)


def _dl_col(stats_omit_norms: bool, quantized: bool) -> Column:
    if stats_omit_norms:
        # Norms omitted (StringField / NoTermsFrequencyField,
        # DocumentStringToDocument.java:97-98): Lucene's norm term
        # collapses to 1 -> tfNorm = tf / (tf + k1).
        return F.lit(None)
    return F.col("norm_dl") if quantized else F.col("dl")


def _use_inline_dl(index: InvertedIndex, quantized: bool) -> bool:
    """True when the index's posting blocks carry the document length
    the query wants (built quantized == queried quantized): scoring then
    reads dl straight off the decoded posting (_bdl) instead of joining
    the field_lengths table — one join + one full lengths scan removed
    per scored term (guide §2.4)."""
    return bool(getattr(index, "inline_dl", False)) and quantized == bool(
        getattr(index, "quantized", False)
    )


def _term_hits(
    index: InvertedIndex,
    fld: str,
    value: str,
    boost: float,
    quantized: bool,
    similarity: str | None = None,
) -> DataFrame:
    st = index.field_stats(fld)
    sim = similarity or getattr(index, "similarity", "BM25")
    needs_dl = sim != "TermFrequency" and not st.omit_norms
    inline = needs_dl and _use_inline_dl(index, quantized)
    if inline:
        p = (
            index.postings_for(fld, with_dl=True)
            .filter(F.col("term") == value)
            .select("doc_id", "tf", "_bdl")
        )
    else:
        p = (
            index.postings_for(fld)
            .filter(F.col("term") == value)
            .select("doc_id", "tf")
        )
    if sim == "TermFrequency":
        # reference search/TermFrequencySimilarity.java:40-58
        return p.select("doc_id", term_frequency_score_expr(F.col("tf"), boost).alias("score"))
    tstats = (
        index.term_stats_for(fld).filter(F.col("term") == value).select(
            F.col("df").alias("_df")
        )
    )
    scored = p.crossJoin(F.broadcast(tstats))
    if st.omit_norms:
        score = (
            idf_expr(F.col("_df"), st.n_docs)
            * (F.col("tf").cast("double") / (F.col("tf") + F.lit(index.k1)))
            * F.lit(boost)
        )
        return scored.select("doc_id", score.alias("score"))
    if inline:
        dl = F.col("_bdl")
    else:
        lengths = index.lengths_for(fld)
        dl = F.col("norm_dl") if quantized else F.col("dl")
        scored = scored.join(lengths, "doc_id")
    score = bm25_score_expr(
        F.col("tf"), F.col("_df"), dl, st.n_docs, st.avgdl, index.k1, index.b, boost
    )
    return scored.select("doc_id", score.alias("score"))


def _multi_term_hits(
    index: InvertedIndex, fld: str, term_pred: Column, boost: float
) -> DataFrame:
    """Prefix/Wildcard: Lucene 8 rewrites to a constant-score query over
    the union of matching terms' postings (JsonQueryConverter.java:207-211)."""
    p = index.postings_for(fld).filter(term_pred)
    return p.select("doc_id").distinct().select(
        "doc_id", F.lit(1.0 * boost).alias("score")
    )


def _range_hits(index: InvertedIndex, q: Q) -> DataFrame:
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


def _drilldown_hits(index: InvertedIndex, q: Q) -> DataFrame:
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
    index: InvertedIndex,
    fld: str,
    clauses: list[tuple[Q, bool]],
    quantized: bool,
) -> DataFrame:
    """Several TermQuery scoring clauses on ONE field in ONE postings
    scan (guide §6.2 scan once / §4.1): ``term isin (...)`` replaces one
    filtered scan + decode branch per clause, per-term df comes from a
    broadcast term_stats join, and the per-clause (boost, MUST) weights
    fold into per-term CASE expressions. Row-for-row identical to the
    per-clause union it replaces: a doc matching term t contributed one
    row per clause of t with score s_t*boost_c and is_must flag — here
    the same addends arrive pre-summed per term (s_t*Σboost_c, count of
    MUST clauses), which the downstream groupBy aggregates identically.
    With all boosts 1.0 (the common case) the score expression is
    EXACTLY the single-clause expression."""
    st = index.field_stats(fld)
    sim = getattr(index, "similarity", "BM25")
    # per distinct term: summed boost of its clauses + its MUST count
    w_boost: dict[str, float] = {}
    w_must: dict[str, int] = {}
    for c, is_must in clauses:
        w_boost[c.value] = w_boost.get(c.value, 0.0) + c.boost
        w_must[c.value] = w_must.get(c.value, 0) + (1 if is_must else 0)
    values = list(w_boost)

    def _per_term(mapping: dict, cast: str) -> Column:
        expr = None
        for t, v in mapping.items():
            expr = (
                F.when(F.col("term") == t, F.lit(v))
                if expr is None
                else expr.when(F.col("term") == t, F.lit(v))
            )
        return expr.otherwise(F.lit(0)).cast(cast)

    is_must_c = _per_term(w_must, "int").alias("is_must")
    uniform_boost = set(w_boost.values()) == {1.0}
    needs_dl = sim != "TermFrequency" and not st.omit_norms
    inline = needs_dl and _use_inline_dl(index, quantized)
    cols = ["term", "doc_id", "tf"] + (["_bdl"] if inline else [])
    p = (
        index.postings_for(fld, with_dl=True)
        if inline
        else index.postings_for(fld)
    ).filter(F.col("term").isin(values)).select(*cols)
    if sim == "TermFrequency":
        score = term_frequency_score_expr(F.col("tf"), 1.0)
    else:
        tstats = index.term_stats_for(fld).filter(
            F.col("term").isin(values)
        ).select("term", F.col("df").alias("_df"))
        p = p.join(F.broadcast(tstats), "term")
        if st.omit_norms:
            score = idf_expr(F.col("_df"), st.n_docs) * (
                F.col("tf").cast("double") / (F.col("tf") + F.lit(index.k1))
            )
        else:
            if inline:
                dl = F.col("_bdl")
            else:
                p = p.join(index.lengths_for(fld), "doc_id")
                dl = F.col("norm_dl") if quantized else F.col("dl")
            score = bm25_score_expr(
                F.col("tf"), F.col("_df"), dl, st.n_docs, st.avgdl,
                index.k1, index.b,
            )
    if not uniform_boost:
        score = score * _per_term(w_boost, "double")
    return p.select("doc_id", score.alias("score"), is_must_c)


def _bool_hits(index: InvertedIndex, q: Q, quantized: bool) -> DataFrame:
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
                frames.append(
                    _fused_term_hits(index, fldname, grp, quantized)
                )
            else:
                rest.extend(grp)
        frames += [
            hits(index, c, quantized).select(
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
        base = base.join(
            hits(index, c, quantized).select("doc_id"), "doc_id", "left_semi"
        )
    for c in nots:
        base = base.join(
            hits(index, c, quantized).select("doc_id"), "doc_id", "left_anti"
        )
    if q.boost != 1.0:
        base = base.select("doc_id", (F.col("score") * q.boost).alias("score"))
    return base


def _phrase_hits(index: InvertedIndex, q: Q, quantized: bool) -> DataFrame:
    """Ordered-adjacent phrase match via per-term position arrays.

    Matching: positions p in terms[0] with p+i present in terms[i] for
    all i. Scoring follows Lucene's PhraseQuery: tf = phrase frequency,
    weight idf = sum of per-term idfs."""
    if not index.has_positions:
        raise ValueError("index built without positions; phrase queries unavailable")
    terms = list(q.terms)
    if len(terms) == 1:
        return _term_hits(index, q.field, terms[0], q.boost, quantized)
    st = index.field_stats(q.field)

    inline = _use_inline_dl(index, quantized)
    if getattr(index, "inline_dl", False):
        # Disk stores decode blocks through a pandas UDF, so each
        # per-term branch costs a scan + Python decode stage: gather
        # all phrase terms in ONE scan instead (guide §6.2 scan once /
        # §4.1) and pick the per-term position arrays by a doc_id
        # aggregation with FIRST(CASE) — a doc has at most one posting
        # per term, so the picks are deterministic and the doc set
        # (all terms present) matches the inner-join chain this
        # replaces row for row. Besides halving the decode branches,
        # this removes a size-estimated broadcast join whose build
        # side sat above a pandas UDF (Catalyst cannot estimate that
        # side — a mid-frequency term there was a broadcast-OOM hazard
        # at scale); the aggregation is shuffle-bounded and
        # AQE-coalesced. The session-cached DataFrame index keeps the
        # broadcast-join shape: its postings are already decoded in
        # memory, so there is no branch cost to save and the
        # aggregation would only add an exchange (measured r6).
        distinct_terms = list(dict.fromkeys(terms))
        p = (
            index.postings_for(q.field, with_dl=True)
            if inline
            else index.postings_for(q.field)
        ).filter(F.col("term").isin(distinct_terms))
        aggs = [
            F.first(
                F.when(F.col("term") == t, F.col("positions")), ignorenulls=True
            ).alias(f"_q{j}")
            for j, t in enumerate(distinct_terms)
        ]
        if inline:
            # dl rides the first term's posting — no lengths join below
            aggs.append(
                F.first(
                    F.when(F.col("term") == terms[0], F.col("_bdl")),
                    ignorenulls=True,
                ).alias("_bdl")
            )
        g = p.groupBy("doc_id").agg(*aggs)
        present = None
        for j in range(len(distinct_terms)):
            c = F.col(f"_q{j}").isNotNull()
            present = c if present is None else (present & c)
        sel = ["doc_id"] + [
            F.col(f"_q{distinct_terms.index(t)}").alias(f"_p{i}")
            for i, t in enumerate(terms)
        ]
        if inline:
            sel.append(F.col("_bdl"))
        joined = g.filter(present).select(*sel)
    else:
        joined = None
        for i, t in enumerate(terms):
            cols = ["doc_id", F.col("positions").alias(f"_p{i}")]
            if inline and i == 0:
                p = (
                    index.postings_for(q.field, with_dl=True)
                    .filter(F.col("term") == t)
                    .select(*cols, "_bdl")
                )
            else:
                p = (
                    index.postings_for(q.field)
                    .filter(F.col("term") == t)
                    .select(*cols)
                )
            joined = p if joined is None else joined.join(p, "doc_id")

    conds = " AND ".join(
        f"exists(_p{i}, y -> y = x + {i})" for i in range(1, len(terms))
    )
    phrase_freq = F.expr(f"size(filter(_p0, x -> {conds}))")
    cand = joined.withColumn("_pf", phrase_freq).filter(F.col("_pf") > 0)

    # Sum of idfs of the phrase terms (duplicates counted per occurrence,
    # as Lucene's PhraseWeight does).
    tstats = index.term_stats_for(q.field).filter(F.col("term").isin(terms))
    per_term_idf = tstats.select(
        F.col("term"), idf_expr(F.col("df"), st.n_docs).alias("_idf")
    )
    import pandas as pd  # driver-side tiny frame

    term_counts = {}
    for t in terms:
        term_counts[t] = term_counts.get(t, 0) + 1
    weights = index.spark.createDataFrame(
        pd.DataFrame({"term": list(term_counts), "_w": list(term_counts.values())})
    )
    idf_sum = (
        per_term_idf.join(F.broadcast(weights), "term")
        .agg(F.sum(F.col("_idf") * F.col("_w")).alias("_idf_sum"))
    )

    cand = cand.crossJoin(F.broadcast(idf_sum))
    if inline:
        dl = F.col("_bdl")
    else:
        lengths = index.lengths_for(q.field)
        dl = F.col("norm_dl") if quantized else F.col("dl")
        cand = cand.join(lengths, "doc_id")
    score = (
        F.col("_idf_sum")
        * tf_norm_expr(F.col("_pf"), dl, st.avgdl, index.k1, index.b)
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

    # ------------------------------------------------- JSON wire parity
    # The reference serializes responses with a tagged-Hit JSON codec
    # (luceneresponse.py:38-65: Hit becomes {"__class__": "Hit", ...};
    # fromJson reverses it). Unset/empty members are omitted on the way
    # out — the reference only carries keys that were set — and unknown
    # keys coming IN (e.g. the Java side's queryTime/times) are kept as
    # plain attributes, like the reference's kwargs-open classes.

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


def scored_hits_df(
    index: InvertedIndex,
    query: Q | None = None,
    filter_queries: Sequence[Q] = (),
    exclude_queries: Sequence[Q] = (),
    key_filters: Sequence[tuple[DataFrame, str, bool]] = (),
    quantized: bool | None = None,
) -> DataFrame:
    """Hit frame after filters/excludes/key-set joins.

    key_filters: (keys_df with single column key, key_field_in_forward,
    inverted) triples — the composed-query KeyFilter (queries/KeyFilter.java:46-124):
    semi-join normally, anti-join when inverted."""
    h = hits(index, query or Q.matchall(), quantized)
    for fq in filter_queries:
        h = h.join(hits(index, fq, quantized).select("doc_id"), "doc_id", "left_semi")
    for eq in exclude_queries:
        h = h.join(hits(index, eq, quantized).select("doc_id"), "doc_id", "left_anti")
    if key_filters:
        fwd = index.forward
        for keys_df, key_field, inverted in key_filters:
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
    index: InvertedIndex,
    query: Q | None = None,
    filter_queries: Sequence[Q] = (),
    exclude_queries: Sequence[Q] = (),
    key_filters: Sequence[tuple[DataFrame, str, bool]] = (),
    start: int = 0,
    stop: int = 10,
    sort_keys: Sequence[dict] | None = None,
    facets: Sequence[dict] = (),
    dedup_field: str | None = None,
    dedup_sort_fields: Sequence[dict] = (),
    stored_fields: Sequence[str] = (),
    score_adjust: "callable | None" = None,
    quantized: bool | None = None,
) -> LuceneResponse:
    """The reference's executeQuery in one pass (Lucene.java:247-349).

    Pagination semantics (LuceneTest.java:363-394): ``total`` is the full
    match count; the returned page is hits[start:stop]. start defaults 0,
    stop 10 (_lucene.py:98-99).

    One Spark action computes the total, the dedup totals and the page
    (see ``collect_page``); requested facets add one more action for all
    their dims together (``drilldown_data``). Nothing is persisted; the
    totals run as a job of their own only for an empty page
    (stop <= start).

    score_adjust: optional fn(hits_df)->hits_df applied before ranking —
    the composed-query rank-blend hook (AggregateScoreSuperCollector)."""
    h = scored_hits_df(index, query, filter_queries, exclude_queries, key_filters, quantized)
    if score_adjust is not None:
        h = score_adjust(h)

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

    # facets see all (pre-dedup) hits, like FacetSuperCollector
    drilldown = drilldown_data(index, h, facets)

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
    totals, rows = collect_page(h, sort_exprs(sort_keys), start, stop, dupes)
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
    )


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
    index: InvertedIndex,
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
    seed_terms = (
        index.postings_for(field)
        .filter(F.col("doc_id") == doc_id)
        .select("term")
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
    index: InvertedIndex, field: str = "text", max_freq: float = 0.1
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
    row = (
        index.postings_for(field)
        .join(F.broadcast(rare), "term", "left_semi")
        .agg(F.min("doc_id"))
        .collect()[0]
    )
    return None if row[0] is None else int(row[0])


def drilldown_data(
    index: InvertedIndex, hits_df: DataFrame, facets: Sequence[dict]
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


def facet_counts(index: InvertedIndex, hits_df: DataFrame, facet: dict) -> dict:
    """One facet dim's counts: ``drilldown_data`` for a single dim."""
    return drilldown_data(index, hits_df, [facet])[0]


def facet_counts_df(
    index: InvertedIndex, hits_df: DataFrame, dim: str, path: Sequence[str] = ()
) -> DataFrame:
    """DataFrame form of one dim's facet counts: (term, count) ordered by
    count desc, term asc."""
    return (
        _facet_groups(index, hits_df, [(dim, path)])
        .select("term", "count")
        .orderBy(F.col("count").desc(), F.col("term").asc())
    )


def _facet_groups(
    index: InvertedIndex,
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
