"""Differential test: random (seeded) boolean queries over a random
corpus, engine results vs a pure-Python BM25 evaluator — guards the
boolean combiner (MUST/SHOULD/MUST_NOT/FILTER sums and gates) far beyond
the handwritten fixtures, on both routes of ``search()``."""

import math
import random

import pandas as pd
import pytest

from meresco_lucene_spark.analysis.tokenizer import tokenize_text
from meresco_lucene_spark.query.executor import hits, search
from meresco_lucene_spark.query.ir import FILTER, MUST, MUST_NOT, SHOULD, Q

VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
N_DOCS = 30
K1, B = 1.2, 0.75


def _corpus(seed=13):
    rng = random.Random(seed)
    return [
        (i, " ".join(rng.choices(VOCAB, k=rng.randint(3, 12))))
        for i in range(N_DOCS)
    ]


class PyIndex:
    def __init__(self, docs):
        self.tf = {}
        self.df = {}
        self.dl = {}
        for d, text in docs:
            toks = tokenize_text(text)
            self.dl[d] = len(toks)
            seen = set()
            for t in toks:
                self.tf[(t, d)] = self.tf.get((t, d), 0) + 1
                if t not in seen:
                    self.df[t] = self.df.get(t, 0) + 1
                    seen.add(t)
        self.n = len(docs)
        self.avgdl = sum(self.dl.values()) / self.n

    def term(self, t, boost=1.0):
        out = {}
        for (tt, d), f in self.tf.items():
            if tt == t:
                idf = math.log(1 + (self.n - self.df[t] + 0.5) / (self.df[t] + 0.5))
                out[d] = boost * idf * f / (
                    f + K1 * (1 - B + B * self.dl[d] / self.avgdl)
                )
        return out

    def evaluate(self, q):
        if q.type == "TermQuery":
            return self.term(q.value, q.boost)
        if q.type == "MatchAllDocsQuery":
            return {d: 1.0 * q.boost for d in range(self.n)}
        assert q.type == "BooleanQuery"
        musts = [self.evaluate(c) for occ, c in q.clauses if occ == MUST]
        shoulds = [self.evaluate(c) for occ, c in q.clauses if occ == SHOULD]
        filters = [self.evaluate(c) for occ, c in q.clauses if occ == FILTER]
        nots = [self.evaluate(c) for occ, c in q.clauses if occ == MUST_NOT]
        if musts or shoulds:
            docs = set()
            if musts:
                docs = set(musts[0])
                for m in musts[1:]:
                    docs &= set(m)
            else:
                for s in shoulds:
                    docs |= set(s)
            out = {}
            for d in docs:
                out[d] = sum(m[d] for m in musts) + sum(
                    s.get(d, 0.0) for s in shoulds
                )
        elif filters:
            out = {d: 0.0 for d in range(self.n)}
        else:
            # pure-prohibited / empty boolean matches nothing (Lucene)
            out = {}
        for f in filters:
            out = {d: s for d, s in out.items() if d in f}
        for nt in nots:
            out = {d: s for d, s in out.items() if d not in nt}
        return {d: s * q.boost if q.boost != 1.0 else s for d, s in out.items()}


def _random_query(rng, depth=0):
    if depth >= 2 or rng.random() < 0.4:
        return Q.term("text", rng.choice(VOCAB), boost=rng.choice([1.0, 2.0]))
    n = rng.randint(2, 3)
    occurs = rng.choices([MUST, SHOULD, MUST_NOT, FILTER], weights=[4, 4, 1, 1], k=n)
    # FILTER-only matches-all-score-0; MUST_NOT-only matches nothing — both
    # semantics are implemented identically in engine and evaluator.
    clauses = tuple((occ, _random_query(rng, depth + 1)) for occ in occurs)
    return Q.boolean(*clauses)


@pytest.fixture(scope="module")
def diff_idx(spark, tmp_path_factory, build_store):
    """Both build inputs under test: a store built from an in-memory
    frame (a local relation, whose tokenize projection the optimizer
    folds into the relation) AND one built from the same rows read back
    from parquet — each random query must be score-identical to the
    pure-Python evaluator on BOTH."""
    docs = _corpus()
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    src = str(tmp_path_factory.mktemp("diffsrc") / "docs")
    df.write.parquet(src)
    spec = dict(id_col="doc_id", text_cols=["text"], n_shards=4)
    indexes = {
        "mem": build_store(df, **spec),
        "disk": build_store(spark.read.parquet(src), **spec),
    }
    return indexes, PyIndex(docs)


@pytest.mark.parametrize("path", ["mem", "disk"])
@pytest.mark.parametrize("seed", range(12))
def test_random_boolean_queries(diff_idx, seed, path, each_route):
    """The hit frame and ``search()`` on each of its routes agree with
    the evaluator."""
    indexes, py = diff_idx
    ix = indexes[path]
    rng = random.Random(1000 + seed)
    q = _random_query(rng)
    expect = py.evaluate(q)
    answers = [{r["doc_id"]: r["score"] for r in hits(ix, q).collect()}]
    for _ in each_route():
        answers.append({h.id: h.score for h in search(ix, q, stop=N_DOCS).hits})
    for got in answers:
        assert set(got) == set(expect), f"doc set mismatch for {q.to_dict()}"
        for d in expect:
            assert abs(got[d] - expect[d]) < 1e-9, f"score mismatch doc {d} for {q.to_dict()}"
