"""The driver route of ``search()``: a selective query answered with
pyarrow and numpy in the driver process, with no Spark job.

A warm term query on the Spark route is almost all fixed cost: plan
building in Python, JVM planning and one job, for a few thousand
postings. The handle's term dictionary gives every query term's df and
shards on the driver before any of that, so the route is chosen for
free, from facts the handle already holds:

- the query's shape: TermQuery, PhraseQuery, MatchAllDocsQuery and
  BooleanQuery over those (MUST counts, FILTER, MUST_NOT), in the query
  and in the filter and exclude queries; facets, sort keys, dedup and
  stored fields of plain column types; composed key filters
  (``executor.KeyFilter``) whose other-core query has the same shapes
  and whose two key columns have one string or integer type; no score
  hook;
- Σdf of the query's terms, summed over the generations of a
  multi-generation reader (dead docs included, so it bounds the
  postings read), and the same for the other core of each key filter;
- the doc count, which bounds every forward-table read (the result
  core's, and each key filter's other core, whose key column is read
  for its hits), and the tombstone row count of a multi-generation
  reader (parquet footers).

When each fits ``DRIVER_QUERY_POSTINGS`` (index/store.py, next to the
build's ``DRIVER_BUILD_ROWS``, with its measured crossover ladder) the
route reads the terms' blocks from their ``shard=`` files only, flattens
the list columns and scores them with ``bm25_score_numpy``, summing per
doc in query order; it reads ``positions`` only for a phrase. A key
filter evaluates the other core's query the same way, reads that core's
key column for the hits, drops null keys and duplicates, and keeps the
result hits whose key is in the set (``inverted``: not in it, a null key
included, as the Spark route's anti-join keeps it). Facets, sort keys,
dedup and key filters read only their forward columns, in one read, and
stored fields are read for the page's rows only. A multi-generation
reader keeps a row of generation g when no tombstone of a later
generation holds its id, as the Spark route's anti-join does.

Prefix and wildcard queries stay on the Spark route. A WildcardQuery's
pattern becomes a Java regex (``rlike``), whose ``.`` matches no
carriage return (U+000D), NEL (U+0085), line separator (U+2028) or
paragraph separator (U+2029), and RE2's ``.`` (pyarrow's regex engine)
matches all four, so pyarrow cannot expand it as Spark does.

Score identity: the Spark route's ``log`` is ``java.lang.StrictMath.log``,
and numpy's ``log`` differs from it in the last bit for about a third of
the df values of a 3000-doc store. So each term's idf is computed by the
JVM (one py4j call per new argument, memoized for the process: the
function is pure). The tf-norm and the products are plain IEEE
operations in the order of ``tf_norm_expr``, so a single-term score is
bit-equal to the Spark route's. A multi-term score is a sum, added here
in query order; the Spark route's groupBy adds in no fixed order, so the
two can differ by an ulp.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, StructType

from meresco_lucene_spark.columns import KEY_TYPES, PLAIN_TYPES
from meresco_lucene_spark.query.bm25 import bm25_score_numpy, term_frequency_score_numpy
from meresco_lucene_spark.query.ir import FILTER, MUST, MUST_NOT, SHOULD, Q


class SparkRoute(Exception):
    """Raised inside the driver route, before it returns anything, when
    a value of the request has no exact driver form; the caller then
    answers on the Spark route."""


# ------------------------------------------------------------ idf from the JVM

_IDF_MEMO: dict[float, float] = {}
_IDF_MEMO_CAP = 1 << 16
_STRICT_LOG: list = [None, None]  # (gateway, java.lang.StrictMath.log)


def jvm_idf(spark, n_docs: int, df: int) -> float:
    """``idf_expr`` of (df, n_docs) as Spark computes it: the argument in
    the expression's operation order, its log by ``StrictMath.log``."""
    arg = 1.0 + (float(n_docs) - float(df) + 0.5) / (float(df) + 0.5)
    v = _IDF_MEMO.get(arg)
    if v is None:
        gw = spark.sparkContext._gateway
        if _STRICT_LOG[0] is not gw:
            # the method handle, looked up once: a lookup is a py4j
            # round trip of its own
            _STRICT_LOG[:] = [gw, spark._jvm.java.lang.StrictMath.log]
        v = float(_STRICT_LOG[1](arg))
        if len(_IDF_MEMO) >= _IDF_MEMO_CAP:
            _IDF_MEMO.clear()
        _IDF_MEMO[arg] = v
    return v


# ------------------------------------------------------------------ readers


class _Segments:
    """The generations of a reader: (gen, store) pairs, ascending, and
    the liveness rule (a PersistentIndex is one generation, all live)."""

    def __init__(self, index):
        from meresco_lucene_spark.index.incremental import MultiGenIndex
        from meresco_lucene_spark.index.store import PersistentIndex

        if isinstance(index, MultiGenIndex):
            self.stores = sorted(index.stores.items())
            self.multi = index
        elif isinstance(index, PersistentIndex):
            self.stores = [(0, index)]
            self.multi = None
        else:
            raise SparkRoute("reader")
        types: dict[str, Any] = {}
        for _, s in self.stores:
            for f in StructType.fromJson(s.meta["schemas"]["forward"]).fields:
                types.setdefault(f.name, f.dataType)
        self.types = types

    def live(self, doc_ids: np.ndarray, gen: int) -> np.ndarray | None:
        """Mask of the live rows among ``doc_ids`` of generation ``gen``,
        or None when all are live."""
        if self.multi is None or not self.multi._tomb_dirs:
            return None
        return self.multi.live_mask(doc_ids, gen)

    def forward(self, columns: list[str], ids: np.ndarray | None = None) -> pa.Table:
        """The live forward rows (doc_id + ``columns``), of the docs
        ``ids`` only when given, sorted by doc_id; a column a generation
        lacks reads as nulls."""
        parts = []
        for gen, s in self.stores:
            files = s.table_files("forward")
            if not files:
                continue
            have = set(StructType.fromJson(s.meta["schemas"]["forward"]).fieldNames())
            filters = None if ids is None else [("doc_id", "in", ids.tolist())]
            t = pq.read_table(
                files, columns=["doc_id", *[c for c in columns if c in have]],
                filters=filters,
            )
            docs = t.column("doc_id").to_numpy().astype(np.int64)
            mask = self.live(docs, gen)
            if mask is not None:
                t = t.filter(pa.array(mask))
            cols = {"doc_id": t.column("doc_id").cast(pa.int64())}
            for c in columns:
                cols[c] = t.column(c) if c in have else pa.nulls(t.num_rows)
            parts.append(pa.table(cols))
        if not parts:
            return pa.table({"doc_id": pa.array([], pa.int64()), **{c: pa.nulls(0) for c in columns}})
        t = pa.concat_tables(parts, promote_options="permissive")
        return t.take(pc.sort_indices(t, [("doc_id", "ascending")]))


@dataclass
class _Postings:
    """One term's live postings over every generation (one per doc):
    doc ids, tf, dl as built, and positions as [start, end) ranges into
    ``pos`` when read."""

    docs: np.ndarray
    tf: np.ndarray
    dl: np.ndarray
    starts: np.ndarray | None = None
    ends: np.ndarray | None = None
    pos: np.ndarray | None = None


def _empty_postings(positions: bool) -> _Postings:
    e = np.empty(0, np.int64)
    return _Postings(e, e, e, *((e, e, e) if positions else ()))


def _read_postings(
    segs: _Segments, fld: str, terms: list[str], positions: bool
) -> dict[str, _Postings]:
    """The live postings of ``terms`` in ``fld``, read with pyarrow from
    each generation's files of the terms' shards."""
    parts: dict[str, list[_Postings]] = {t: [] for t in terms}
    cols = ["term", "doc_ids", "tfs", "dls"] + (["positions"] if positions else [])
    for gen, s in segs.stores:
        present = list(s.term_dfs(fld, terms))
        if not present:
            continue
        files = s.term_files(fld, present)
        if not files:
            continue
        tbl = pq.read_table(
            files,
            columns=cols,
            filters=[("field", "==", fld), ("term", "in", present)],
        )
        if tbl.num_rows == 0:
            continue
        tbl = tbl.combine_chunks()
        doc_l = tbl.column("doc_ids").chunk(0)
        docs = pc.list_flatten(doc_l).to_numpy().astype(np.int64)
        block = pc.list_parent_indices(doc_l).to_numpy()
        tf = pc.list_flatten(tbl.column("tfs").chunk(0)).to_numpy().astype(np.int64)
        dl = pc.list_flatten(tbl.column("dls").chunk(0)).to_numpy().astype(np.int64)
        term_ix = pc.index_in(
            tbl.column("term").chunk(0), value_set=pa.array(present)
        ).to_numpy(zero_copy_only=False)[block]
        if positions:
            inner = pc.list_flatten(tbl.column("positions").chunk(0))
            offs = inner.offsets.to_numpy().astype(np.int64)
            starts, ends = offs[:-1], offs[1:]
            pos = inner.values.to_numpy().astype(np.int64)
        keep = segs.live(docs, gen)
        for j, t in enumerate(present):
            m = term_ix == j
            if keep is not None:
                m &= keep
            if positions:
                parts[t].append(_Postings(docs[m], tf[m], dl[m], starts[m], ends[m], pos))
            else:
                parts[t].append(_Postings(docs[m], tf[m], dl[m]))
    out = {}
    for t, ps in parts.items():
        if not ps:
            out[t] = _empty_postings(positions)
            continue
        docs, tf, dl = (np.concatenate([getattr(p, a) for p in ps]) for a in ("docs", "tf", "dl"))
        if not positions:
            out[t] = _Postings(docs, tf, dl)
            continue
        # each part's ranges index its own generation's positions
        shift = np.cumsum([0] + [len(p.pos) for p in ps[:-1]])
        out[t] = _Postings(
            docs, tf, dl,
            np.concatenate([p.starts + d for p, d in zip(ps, shift)]),
            np.concatenate([p.ends + d for p, d in zip(ps, shift)]),
            np.concatenate([p.pos for p in ps]),
        )
    return out


# ------------------------------------------------------------------ shapes


def _walk(q: Q, terms: dict[str, dict[str, bool]]) -> bool:
    """Whether ``q`` has a driver form; collects its (field -> term ->
    positions needed) into ``terms`` and says whether it needs every
    live doc id (match-all, or a boolean with FILTER clauses only)."""
    t = q.type
    if t == "TermQuery":
        terms.setdefault(q.field, {}).setdefault(q.value, False)
        return False
    if t == "PhraseQuery":
        phrase = len(q.terms) > 1
        f = terms.setdefault(q.field, {})
        for term in q.terms:
            f[term] = f.get(term, False) or phrase
        return False
    if t == "MatchAllDocsQuery":
        return True
    if t == "BooleanQuery":
        all_docs = False
        for _, c in q.clauses:
            all_docs |= _walk(c, terms)
        occs = {occ for occ, _ in q.clauses}
        return all_docs or (FILTER in occs and not occs & {MUST, SHOULD})
    raise SparkRoute(t)


@dataclass
class _Reads:
    """What the route reads of one reader for a set of queries: field ->
    term -> positions needed, and whether every live doc id is needed."""

    segs: _Segments
    terms: dict[str, dict[str, bool]]
    needs_all: bool

    def postings(self) -> dict[tuple[str, str], _Postings]:
        out = {}
        for fld, ts in self.terms.items():
            got = _read_postings(self.segs, fld, list(ts), any(ts.values()))
            out.update({(fld, t): p for t, p in got.items()})
        return out


def _plan(index, queries: Sequence[Q], bound: int) -> _Reads:
    """The reads of ``queries`` over ``index``, each bound checked before
    the read it bounds: the Σdf of every term and a multi-generation
    reader's tombstone count."""
    segs = _Segments(index)
    if not isinstance(segs.types.get("doc_id"), LongType):
        raise SparkRoute("doc_id")
    terms: dict[str, dict[str, bool]] = {}
    needs_all = False
    for q in queries:
        needs_all |= _walk(q, terms)
    n_postings = sum(
        sum(index.term_dfs(fld, list(ts)).values()) for fld, ts in terms.items()
    )
    if n_postings > bound:
        raise SparkRoute("postings")
    if segs.multi is not None and segs.multi._tomb_dirs:
        if segs.multi.tombstone_rows() > bound:
            raise SparkRoute("tombstones")
    return _Reads(segs, terms, needs_all)


# --------------------------------------------------------------- evaluation


class _Eval:
    """Scored hits of supported queries as (doc ids ascending, scores),
    mirroring query/executor.py's frames clause for clause."""

    def __init__(self, index, reads: _Reads, all_docs):
        self.index = index
        self.postings = reads.postings()  # (field, term) -> _Postings
        self.all_docs = all_docs  # () -> live doc ids, ascending

    def _idf(self, n_docs: int, df: int) -> float:
        return jvm_idf(self.index.spark, n_docs, df)

    def _term_scores(self, fld: str, term: str, boost: float) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, scores) of one term's postings, unsorted (_term_hits)."""
        p = self.postings[(fld, term)]
        tf = p.tf.astype(np.float64)
        if self.index.similarity == "TermFrequency":
            return p.docs, term_frequency_score_numpy(tf, boost)
        st = self.index.field_stats(fld)
        df = self.index.term_dfs(fld, [term]).get(term, 0)
        idf = self._idf(st.n_docs, df)
        b = 0.0 if st.omit_norms else self.index.b
        score = bm25_score_numpy(
            tf, None, p.dl.astype(np.float64), st.n_docs, st.avgdl,
            self.index.k1, b, boost=boost, idf=idf,
        )
        return p.docs, score

    def hits(self, q: Q) -> tuple[np.ndarray, np.ndarray]:
        t = q.type
        if t == "MatchAllDocsQuery":
            docs = self.all_docs()
            return docs, np.full(len(docs), 1.0 * q.boost)
        if t == "TermQuery":
            return _sorted(*self._term_scores(q.field, q.value, q.boost))
        if t == "PhraseQuery":
            if len(q.terms) == 1:
                return _sorted(*self._term_scores(q.field, q.terms[0], q.boost))
            return self._phrase(q)
        return self._bool(q)

    def _bool(self, q: Q) -> tuple[np.ndarray, np.ndarray]:
        musts = [c for occ, c in q.clauses if occ == MUST]
        shoulds = [c for occ, c in q.clauses if occ == SHOULD]
        filters = [c for occ, c in q.clauses if occ == FILTER]
        nots = [c for occ, c in q.clauses if occ == MUST_NOT]
        scoring = [(c, True) for c in musts] + [(c, False) for c in shoulds]
        if scoring:
            by_field: dict[str, list[tuple[Q, bool]]] = {}
            rest: list[tuple[Q, bool]] = []
            for c, is_must in scoring:
                if c.type == "TermQuery":
                    by_field.setdefault(c.field, []).append((c, is_must))
                else:
                    rest.append((c, is_must))
            parts: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []
            for fld, grp in by_field.items():
                if len(grp) >= 2:
                    parts += self._fused(fld, grp)
                else:
                    rest.extend(grp)
            for c, is_must in rest:
                d, s = self.hits(c)
                parts.append((d, s, np.full(len(d), int(is_must))))
            docs, inv = np.unique(np.concatenate([p[0] for p in parts]), return_inverse=True)
            score = np.bincount(
                inv, weights=np.concatenate([p[1] for p in parts]), minlength=len(docs)
            )
            n_must = np.bincount(
                inv, weights=np.concatenate([p[2] for p in parts]), minlength=len(docs)
            )
            keep = n_must == len(musts)
            docs, score = docs[keep], score[keep]
        elif filters:
            docs = self.all_docs()
            score = np.zeros(len(docs))
        else:
            return np.empty(0, np.int64), np.empty(0)
        for c in filters:
            keep = np.isin(docs, self.hits(c)[0])
            docs, score = docs[keep], score[keep]
        for c in nots:
            keep = ~np.isin(docs, self.hits(c)[0])
            docs, score = docs[keep], score[keep]
        if q.boost != 1.0:
            score = score * q.boost
        return docs, score

    def _fused(self, fld: str, clauses: list[tuple[Q, bool]]) -> list[tuple]:
        """Same-field term clauses as one weighted part per distinct term
        (_fused_term_hits): the term's score times its clauses' summed
        boost (unless every boost is 1), with its MUST clause count."""
        w_boost: dict[str, float] = {}
        w_must: dict[str, int] = {}
        for c, is_must in clauses:
            w_boost[c.value] = w_boost.get(c.value, 0.0) + c.boost
            w_must[c.value] = w_must.get(c.value, 0) + (1 if is_must else 0)
        uniform = set(w_boost.values()) == {1.0}
        out = []
        for term in w_boost:
            d, s = self._term_scores(fld, term, 1.0)
            if not uniform:
                s = s * w_boost[term]
            out.append((d, s, np.full(len(d), w_must[term])))
        return out

    def _phrase(self, q: Q) -> tuple[np.ndarray, np.ndarray]:
        """Ordered-adjacent phrase (_phrase_hits): a doc holds the phrase
        at x when terms[i] is at x + i for every i; its frequency is the
        count of such x, its weight the sum of the terms' idfs in query
        order."""
        terms = list(q.terms)
        fld = q.field
        ps = [self.postings[(fld, t)] for t in terms]
        cand = ps[0].docs
        for p in ps[1:]:
            cand = np.intersect1d(cand, p.docs)
        cand = np.unique(cand)
        if not len(cand):
            return cand.astype(np.int64), np.empty(0)

        def expand(p: _Postings) -> tuple[np.ndarray, np.ndarray]:
            """(rank of the doc in cand, position) of each position of
            the postings of ``p`` in cand docs."""
            m = np.isin(p.docs, cand)
            starts, ends = p.starts[m], p.ends[m]
            lens = ends - starts
            total = int(lens.sum())
            first = np.repeat(starts - (np.cumsum(lens) - lens), lens)
            pos = p.pos[first + np.arange(total)]
            return np.repeat(np.searchsorted(cand, p.docs[m]), lens), pos

        r0, x0 = expand(ps[0])
        span = int(max(x0.max(initial=0), *(p.pos.max(initial=0) for p in ps))) + len(terms) + 1
        key0 = r0 * span + x0
        ok = np.ones(len(key0), bool)
        for i, p in enumerate(ps[1:], start=1):
            ri, xi = expand(p)
            ok &= np.isin(key0 + i, ri * span + xi)
        pf = np.bincount(r0[ok], minlength=len(cand))
        # dl rides the first term's posting
        m0 = np.isin(ps[0].docs, cand)
        dl = np.empty(len(cand), np.int64)
        dl[np.searchsorted(cand, ps[0].docs[m0])] = ps[0].dl[m0]
        hit = pf > 0
        st = self.index.field_stats(fld)
        dfs = self.index.term_dfs(fld, terms)
        idf_sum = None
        for t in terms:
            idf = self._idf(st.n_docs, dfs.get(t, 0))
            idf_sum = idf if idf_sum is None else idf_sum + idf
        score = bm25_score_numpy(
            pf[hit].astype(np.float64), None, dl[hit].astype(np.float64),
            st.n_docs, st.avgdl, self.index.k1, self.index.b, boost=q.boost, idf=idf_sum,
        )
        return cand[hit], score


def _sorted(docs: np.ndarray, score: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    o = np.argsort(docs, kind="stable")
    return docs[o], score[o]


# ------------------------------------------------------------ page helpers


def _order_key(col: pa.Array, descending: bool, null_largest: bool) -> np.ndarray:
    """An int64 key that sorts ascending as Spark orders ``col``: dense
    ranks (strings by their bytes, NaN above every number, -0.0 equal
    to 0.0) with nulls below every value (or, ``null_largest``, above),
    negated for a descending order."""
    rank = pc.rank(
        col, sort_keys="ascending", tiebreaker="dense",
        null_placement="at_end" if null_largest else "at_start",
    ).to_numpy().astype(np.int64)
    return -rank if descending else rank


def _sort_keys(sort_keys, cols: dict[str, pa.Array], score: np.ndarray) -> list[np.ndarray]:
    """The keys of ``sort_exprs(sort_keys)`` but the doc id, primary
    first (see executor._missing_value_order)."""
    out = []
    for sk in sort_keys or []:
        fld = sk["sortBy"]
        desc = bool(sk.get("sortDescending", False))
        if fld == "score":
            out.append(-score if desc else score)
            continue
        col, mv = cols[fld], sk.get("missingValue")
        if mv in ("STRING_FIRST", "STRING_LAST"):
            # STRING_FIRST puts nulls first ascending and last
            # descending: a null is the smallest value; STRING_LAST the
            # largest
            out.append(_order_key(col, desc, mv == "STRING_LAST"))
            continue
        if mv is not None:
            try:
                col = pc.fill_null(col, pa.scalar(mv).cast(col.type))
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError) as e:
                raise SparkRoute("missingValue") from e
        out.append(_order_key(col, desc, False))
    if not sort_keys:
        out.append(-score)
    return out


def _facet_counts(facet_fields, facets, fwd: pa.Table) -> list[dict]:
    """drilldown_data over the hits' forward rows ``fwd``."""
    out = []
    for f in facets:
        dim, path = f["fieldname"], list(f.get("path", ()))
        cols = facet_fields.get(dim, [dim])
        if len(path) >= len(cols):
            raise ValueError(f"facet path {path} deeper than dim {dim}")
        label = fwd.column(cols[len(path)])
        keep = pc.is_valid(label)
        for c, v in zip(cols, path):
            try:
                v = pa.scalar(v).cast(fwd.column(c).type)
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError) as e:
                raise SparkRoute("facet path") from e
            keep = pc.and_kleene(keep, pc.equal(fwd.column(c), v))
        vals = pc.cast(label.filter(pc.fill_null(keep, False)), pa.string())
        counted = pc.value_counts(vals).to_pylist()
        ranked = sorted(
            ((r["values"], r["counts"]) for r in counted),
            key=lambda tc: (-tc[1], tc[0].encode()),
        )
        cap = int(f.get("maxTerms", 10))
        d = {
            "fieldname": dim,
            "terms": [{"term": t, "count": n} for t, n in (ranked[:cap] if cap else ranked)],
        }
        if path:
            d["path"] = path
        out.append(d)
    return out


# --------------------------------------------------------------------- route


def search(
    index,
    query: Q | None,
    filter_queries: Sequence[Q],
    exclude_queries: Sequence[Q],
    key_filters: Sequence,
    start: int,
    stop: int,
    sort_keys: Sequence[dict] | None,
    facets: Sequence[dict],
    dedup_field: str | None,
    dedup_sort_fields: Sequence[dict],
    stored_fields: Sequence[str],
    t_query: float,
):
    """The LuceneResponse of ``executor.search`` (started at ``t_query``,
    a ``time.perf_counter()``) computed on the driver, or None when the
    request does not fit the route (see the module docstring); every
    bound is checked before the read it bounds. ``key_filters`` are
    ``executor.KeyFilter`` records."""
    from meresco_lucene_spark.index.store import DRIVER_QUERY_POSTINGS as bound

    try:
        reads = _plan(index, [query or Q.matchall(), *filter_queries, *exclude_queries], bound)
        segs = reads.segs
        facet_cols = [
            c for f in facets for c in index.facet_fields.get(f["fieldname"], [f["fieldname"]])
        ]
        sort_cols = [sk["sortBy"] for sk in sort_keys or [] if sk["sortBy"] != "score"]
        dedup_cols = [dedup_field, *(sk["sortBy"] for sk in dedup_sort_fields)] if dedup_field else []
        key_cols = [kf.result_key for kf in key_filters]
        for c in facet_cols + ([dedup_field] if dedup_field else []) + key_cols:
            if not isinstance(segs.types.get(c), KEY_TYPES):
                raise SparkRoute(c)
        for c in sort_cols + dedup_cols + list(stored_fields):
            if not isinstance(segs.types.get(c), PLAIN_TYPES) or c in ("doc_id", "score", "duplicateCount"):
                raise SparkRoute(c)
        analytic = list(dict.fromkeys(facet_cols + sort_cols + dedup_cols + key_cols))
        if (reads.needs_all or analytic or stored_fields) and index.n_docs > bound:
            raise SparkRoute("forward")
        keyed = []
        for kf in key_filters:
            other = _plan(kf.index, [kf.query or Q.matchall()], bound)
            # Spark's join coerces differing key types; is_in does not
            if other.segs.types.get(kf.other_key) != segs.types[kf.result_key]:
                raise SparkRoute("key type")
            # the other core's key column, read for its hits
            if kf.index.n_docs > bound:
                raise SparkRoute("forward")
            keyed.append((kf, other))
        return _answer(
            index, reads, keyed, analytic, query, filter_queries, exclude_queries,
            start, stop, sort_keys, facets, dedup_field, dedup_sort_fields,
            stored_fields, t_query,
        )
    except SparkRoute:
        return None


def _key_set(kf, reads: _Reads) -> pa.Array:
    """KeySuperCollector on the driver (executor.collect_keys): the
    distinct non-null keys of the docs of ``kf.index`` that match
    ``kf.query``, read from the hits' forward rows only."""
    segs = reads.segs
    ev = _Eval(kf.index, reads, lambda: segs.forward([]).column("doc_id").to_numpy())
    docs, _ = ev.hits(kf.query or Q.matchall())
    keys = segs.forward([kf.other_key], docs).column(kf.other_key)
    return pc.unique(keys.drop_null())


def _answer(
    index, reads, keyed, analytic, query, filter_queries, exclude_queries,
    start, stop, sort_keys, facets, dedup_field, dedup_sort_fields, stored_fields,
    t_query,
):
    # the response types live in the module that calls this one
    from meresco_lucene_spark.query.executor import Hit, LuceneResponse, _ms_since

    segs = reads.segs
    fwd_memo: list[pa.Table] = []

    def analytic_fwd() -> pa.Table:
        if not fwd_memo:
            fwd_memo.append(segs.forward(analytic))
        return fwd_memo[0]

    ev = _Eval(index, reads, lambda: analytic_fwd().column("doc_id").to_numpy())
    docs, score = ev.hits(query or Q.matchall())
    for fq in filter_queries:
        keep = np.isin(docs, ev.hits(fq)[0])
        docs, score = docs[keep], score[keep]
    for eq in exclude_queries:
        keep = ~np.isin(docs, ev.hits(eq)[0])
        docs, score = docs[keep], score[keep]

    # the hits' forward rows, when anything reads them
    cols: dict[str, pa.Array] = {}
    hit_fwd = None
    if analytic:
        fwd = analytic_fwd()
        fdocs = fwd.column("doc_id").to_numpy()
        i = np.minimum(np.searchsorted(fdocs, docs), max(len(fdocs) - 1, 0))
        found = (fdocs[i] == docs) if len(fdocs) else np.zeros(len(docs), bool)
        hit_fwd = fwd.take(pa.array(i, mask=~found))
        # key filters (KeyFilter.java): a null key is in no key set, so a
        # semi-join drops its doc and an anti-join keeps it
        for kf, other in keyed:
            keys = _key_set(kf, other)
            try:
                inside = pc.is_in(hit_fwd.column(kf.result_key), value_set=keys)
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError) as e:
                raise SparkRoute("key type") from e
            keep = inside.to_numpy() != kf.inverted
            docs, score, hit_fwd = docs[keep], score[keep], hit_fwd.filter(pa.array(keep))
        cols = {c: hit_fwd.column(c).combine_chunks() for c in analytic}

    t_facet = time.perf_counter()
    drilldown = _facet_counts(index.facet_fields, facets, hit_fwd) if facets else []
    facet_ms = _ms_since(t_facet)

    t_page = time.perf_counter()
    n_hits = len(docs)
    dupes = None  # per hit: its dedup group's size
    rows = np.arange(n_hits)  # the hits kept: all, or one per dedup group
    if dedup_field:
        key = pc.cast(cols[dedup_field], pa.string())
        own = pc.binary_join_element_wise(
            "__doc__", pc.cast(pa.array(docs), pa.string()), ""
        )
        key = pc.if_else(pc.is_null(key), own, key)
        group = np.asarray(key.dictionary_encode().indices).astype(np.int64)
        if dedup_sort_fields:
            within = [
                _order_key(cols[sk["sortBy"]], bool(sk.get("sortDescending")), False)
                for sk in dedup_sort_fields
            ]
        else:
            within = [-score]
        o = np.lexsort((docs, *reversed(within), group))
        first = np.ones(len(o), bool)
        first[1:] = group[o][1:] != group[o][:-1]
        rows = o[first]
        dupes = np.bincount(group)[group]
    keys = _sort_keys(sort_keys, {c: v.take(pa.array(rows)) for c, v in cols.items()}, score[rows])
    order = rows[np.lexsort((docs[rows], *reversed(keys)))]
    page = order[:stop][start:stop] if stop > start else order[:0]

    fields: dict[int, dict] = {}
    if stored_fields and len(page):
        want = list(dict.fromkeys(stored_fields))
        got = segs.forward(want, docs[page]).to_pydict()
        for j, d in enumerate(got["doc_id"]):
            fields[d] = {c: got[c][j] for c in want}
    hits = []
    for r in page.tolist():
        d = int(docs[r])
        vals = fields.get(d, {})
        hits.append(
            Hit(
                id=d,
                score=float(score[r]),
                duplicateCount=None if dupes is None else int(dupes[r]),
                fields={k: vals.get(k) for k in stored_fields},
            )
        )
    times = {"searchTime": _ms_since(t_page)}
    if facets:
        times["facetTime"] = facet_ms
    return LuceneResponse(
        total=len(rows),
        hits=hits,
        totalWithDuplicates=n_hits if dedup_field else None,
        drilldownData=drilldown,
        queryTime=_ms_since(t_query),
        times=times,
    )
