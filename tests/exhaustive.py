"""An independent scoring reference for the index tests: every query
evaluated over every document in pure Python, from the token lists and
the input rows alone — no index, no Spark.

Lucene 8 BM25 (or the TermFrequency similarity) with the engine's query
semantics: a BooleanQuery's MUST and SHOULD clauses score, FILTER and
MUST_NOT only restrict, and a query without MUST clauses matches the
union of its SHOULD clauses; prefix, range, drilldown and match-all
queries score a constant boost."""

import math
from collections import defaultdict

from meresco_lucene_spark.analysis.tokenizer import tokenize_text
from meresco_lucene_spark.query.bm25 import quantize_dl
from meresco_lucene_spark.query.ir import FILTER, MUST, MUST_NOT, SHOULD

K1, B = 1.2, 0.75


def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


class Exhaustive:
    """Scores of every doc of ``pdf`` (a pandas frame with a ``doc_id``
    column) for a query, as {doc_id: score}."""

    def __init__(self, pdf, text_fields, keyword_fields=(), similarity="BM25",
                 facet_fields=None):
        self.rows = pdf.set_index("doc_id", drop=False)
        self.similarity = similarity
        self.keyword = set(keyword_fields)
        self.facet_fields = dict(facet_fields or {})
        self.pos = defaultdict(dict)  # field -> doc -> (dl, term -> positions)
        for _, r in pdf.iterrows():
            for f in text_fields:
                toks = tokenize_text(r[f]) if not _missing(r[f]) else []
                per_term = defaultdict(list)
                for p, t in enumerate(toks):
                    per_term[t].append(p)
                self.pos[f][r["doc_id"]] = (len(toks), per_term)
            for f in keyword_fields:
                if not _missing(r[f]):  # a null keyword is not indexed
                    self.pos[f][r["doc_id"]] = (1, {str(r[f]): [0]})

    def _stats(self, fld):
        docs = self.pos[fld]
        return len(docs), sum(dl for dl, _ in docs.values()) / len(docs)

    def df(self, fld, t):
        return sum(1 for _, terms in self.pos[fld].values() if t in terms)

    def _idf(self, fld, t):
        n, _ = self._stats(fld)
        df = self.df(fld, t)
        return math.log(1 + (n - df + 0.5) / (df + 0.5))

    def _norm(self, fld, freq, dl, quantized):
        if fld in self.keyword:
            return freq / (freq + K1)
        _, avgdl = self._stats(fld)
        if quantized:
            dl = int(quantize_dl([dl])[0])
        return freq / (freq + K1 * (1 - B + B * dl / avgdl))

    def term(self, fld, t, quantized=False):
        out = {}
        for d, (dl, terms) in self.pos[fld].items():
            if t in terms:
                tf = len(terms[t])
                if self.similarity == "TermFrequency":
                    out[d] = min(tf, 1000) / 1000
                else:
                    out[d] = self._idf(fld, t) * self._norm(fld, tf, dl, quantized)
        return out

    def phrase(self, fld, terms, quantized=False):
        if len(terms) == 1:
            return self.term(fld, terms[0], quantized)
        idf = sum(self._idf(fld, t) for t in terms)
        out = {}
        for d, (dl, pos) in self.pos[fld].items():
            if all(t in pos for t in terms):
                pf = sum(
                    1
                    for p in pos[terms[0]]
                    if all(p + i in pos[t] for i, t in enumerate(terms) if i)
                )
                if pf:
                    out[d] = idf * self._norm(fld, pf, dl, quantized)
        return out

    def _constant(self, docs, boost):
        return {d: 1.0 * boost for d in docs}

    def _matches_range(self, v, q):
        if _missing(v):
            return False
        if q.lower is not None and not (v >= q.lower if q.include_lower else v > q.lower):
            return False
        if q.upper is not None and not (v <= q.upper if q.include_upper else v < q.upper):
            return False
        return True

    def evaluate(self, q, quantized=False):
        t = q.type
        if t == "TermQuery":
            s = self.term(q.field, q.value, quantized)
        elif t == "PhraseQuery":
            s = self.phrase(q.field, list(q.terms), quantized)
        elif t == "MatchAllDocsQuery":
            return self._constant(self.rows["doc_id"], q.boost)
        elif t == "PrefixQuery":
            docs = [
                d for d, (_, terms) in self.pos[q.field].items()
                if any(term.startswith(q.value) for term in terms)
            ]
            return self._constant(docs, q.boost)
        elif t == "RangeQuery":
            docs = [d for d, v in self.rows[q.field].items() if self._matches_range(v, q)]
            return self._constant(docs, q.boost)
        elif t == "DrillDown":
            cols = self.facet_fields.get(q.field, [q.field])
            docs = [
                d for d, r in self.rows.iterrows()
                if all(not _missing(r[c]) and r[c] == v for c, v in zip(cols, q.terms))
            ]
            return self._constant(docs, q.boost)
        else:
            assert t == "BooleanQuery", t
            return self._boolean(q, quantized)
        return {d: v * q.boost for d, v in s.items()}

    def _boolean(self, q, quantized):
        parts = [(occ, self.evaluate(c, quantized)) for occ, c in q.clauses]
        scoring = [m for occ, m in parts if occ in (MUST, SHOULD)]
        musts = [set(m) for occ, m in parts if occ == MUST]
        if musts:
            docs = set.intersection(*musts)
        elif scoring:
            docs = set().union(*map(set, scoring))
        elif any(occ == FILTER for occ, _ in parts):
            docs = set(self.rows["doc_id"])
        else:
            return {}  # no positive clause matches nothing
        for occ, m in parts:
            if occ == FILTER:
                docs &= set(m)
            elif occ == MUST_NOT:
                docs -= set(m)
        return {d: sum(m.get(d, 0.0) for m in scoring) * q.boost for d in docs}

