"""Every exact-term scorer reads the index's term dictionary.

``term_dfs`` gives a term's df without a Spark job and ``term_postings`` reads
only the term's shards. These tests check ``search()`` totals and scores,
on both of its routes, against exhaustive scoring in Python on a 32-shard
store with salted hot terms, and that a term's postings are read from its
own ``shard=`` directories only. They check that a multi-generation reader keeps
Lucene's df rule (dead docs count until a merge), and that a store
rebuilt at the same path is never served from a stale handle."""

import math
import os
import re
from collections import defaultdict

import pandas as pd
import pytest
from pyspark.sql import functions as F

from exhaustive import B, K1, Exhaustive
from meresco_lucene_spark.index.incremental import IncrementalIndexStore
from meresco_lucene_spark.index.store import build_index_store, open_persistent_index
from meresco_lucene_spark.query.executor import hits, search
from meresco_lucene_spark.query.ir import MUST, SHOULD, Q

N_SHARDS, SALTS = 32, 8
HOT, RARE, SHARED = "alpha", "quark", "delta"
FILLER = ["beta", "gamma", "epsilon", "zeta", "eta", "theta", "iota"]


def _rows(n=96):
    """Every doc holds HOT; RARE is in three docs; SHARED is a word of
    both text fields; some docs hold the phrase "alpha beta alpha"; a
    quarter of the docs are long enough (dl > 16) that the SmallFloat
    norm rounds their length."""
    rows = []
    for i in range(n):
        words = [HOT] + [FILLER[(i * k) % len(FILLER)] for k in range(1, 3 + i % 5)]
        if i % 4 == 0:
            words += ["alpha", "beta", "alpha"]
        if i % 8 in (0, 1):
            words += FILLER * 2
        if i in (5, 40, 77):
            words.append(RARE)
        if i % 3 == 0:
            words.append(SHARED)
        title = f"{SHARED} {FILLER[i % len(FILLER)]}" if i % 5 else FILLER[i % 3]
        rows.append((i, " ".join(words), title, ["py", "go", "c"][i % 3]))
    return pd.DataFrame(rows, columns=["doc_id", "text", "title", "lang"])


CFG = dict(text_cols=["text", "title"], keyword_cols=["lang"])


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("term_dictionary")
    pdf = _rows()
    df = spark.createDataFrame(pdf)
    kw = dict(n_shards=N_SHARDS, salt_buckets=SALTS, **CFG)
    return {
        "bm25": build_index_store(df, str(root / "bm25"), **kw),
        "bm25q": build_index_store(df, str(root / "bm25q"), quantized=True, **kw),
        "tf": build_index_store(
            df, str(root / "tf"), similarity="TermFrequency", **kw
        ),
        "exact": Exhaustive(pdf, ["text", "title"], ["lang"]),
        "exact_tf": Exhaustive(pdf, ["text", "title"], ["lang"], "TermFrequency"),
    }


# name -> (store, query, (field, terms) of its postings)
CASES = {
    "salted_hot_term": ("bm25", Q.term("text", HOT), ("text", [HOT])),
    "unsalted_term": ("bm25", Q.term("text", RARE), ("text", [RARE])),
    "two_fields_text": ("bm25", Q.term("text", SHARED), ("text", [SHARED])),
    "two_fields_title": ("bm25", Q.term("title", SHARED), ("title", [SHARED])),
    "absent_term": ("bm25", Q.term("text", "nosuchterm"), ("text", ["nosuchterm"])),
    "fused_and": (
        "bm25", Q.and_(Q.term("text", HOT), Q.term("text", RARE)), ("text", [HOT, RARE]),
    ),
    "fused_or_absent": (
        "bm25", Q.or_(Q.term("text", RARE), Q.term("text", "nosuchterm")),
        ("text", [RARE, "nosuchterm"]),
    ),
    "phrase_repeated_term": (
        "bm25", Q.phrase("text", "alpha", "beta", "alpha"), ("text", ["alpha", "beta"]),
    ),
    "term_frequency_core": ("tf", Q.term("text", HOT), ("text", [HOT])),
    "omit_norms_keyword": ("bm25", Q.term("lang", "py"), ("lang", ["py"])),
    "omit_norms_fused": (
        "bm25", Q.boolean((SHOULD, Q.term("lang", "py")), (SHOULD, Q.term("lang", "go"))),
        ("lang", ["py", "go"]),
    ),
    # a store built quantized scores with the SmallFloat-rounded dl it stores
    "quantized_term": ("bm25q", Q.term("text", HOT), ("text", [HOT])),
    "quantized_fused": (
        "bm25q", Q.or_(Q.term("text", HOT), Q.term("text", SHARED)), ("text", [HOT, SHARED]),
    ),
    "quantized_phrase": (
        "bm25q", Q.phrase("text", "alpha", "beta", "alpha"), ("text", ["alpha", "beta"]),
    ),
}


def _shards_of(spark, fld, terms, n_salts):
    """A term's shard set by the store layout: xxhash64(field, term) %
    n_shards, then its salt buckets."""
    out = set()
    for t in terms:
        base = spark.range(1).select(
            F.pmod(F.xxhash64(F.lit(fld), F.lit(t)), F.lit(N_SHARDS))
        ).first()[0]
        out |= {(base + s) % N_SHARDS for s in range(n_salts.get(t, 0))}
    return out


def _scanned_files(frame):
    """The files the physical scans of ``frame`` read, after partition
    pruning. (``DataFrame.inputFiles()`` lists a path-based relation's
    whole file index: its partition filters prune at scan planning.)"""
    leaves = frame._jdf.queryExecution().sparkPlan().collectLeaves()
    out = []
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        if not leaf.nodeName().startswith("Scan parquet"):
            continue
        parts = leaf.selectedPartitions().filePartitionIterator()
        while parts.hasNext():
            files = parts.next().files()
            while files.hasNext():
                out.append(files.next().getPath().toString())
    return out


@pytest.mark.parametrize("name", list(CASES))
def test_scores_match_exhaustive_and_postings_read_only_term_shards(
    spark, corpus, name, each_route
):
    store, q, (fld, terms) = CASES[name]
    ix = corpus[store]
    exact = corpus["exact_tf" if store == "tf" else "exact"].evaluate(q, store == "bm25q")
    if store == "bm25q":  # the rounded lengths change some scores
        assert exact != corpus["exact"].evaluate(q)
    for route in each_route():
        resp = search(ix, q, stop=10_000)
        assert resp.total == len(exact), route
        got = {h.id: h.score for h in resp.hits}
        assert got.keys() == exact.keys(), route
        for d, s in exact.items():
            assert got[d] == pytest.approx(s, rel=1e-12), (route, d)

    n_salts = {
        r["term"]: r["n_salts"]
        for r in ix.term_stats.filter(
            (F.col("field") == fld) & F.col("term").isin(terms)
        ).collect()
    }
    if name == "salted_hot_term":
        assert n_salts == {HOT: SALTS}
    if name == "unsalted_term":
        assert n_salts == {RARE: 1}
    files = _scanned_files(ix.term_postings(fld, terms))
    read = {int(re.search(r"/shard=(\d+)/", f).group(1)) for f in files}
    holding = {
        r["shard"]
        for r in ix.blocks.filter(
            (F.col("field") == fld) & F.col("term").isin(terms)
        ).select("shard").distinct().collect()
    }
    assert holding <= read <= _shards_of(spark, fld, terms, n_salts)
    # the driver route reads the files of the same shards
    listed = {int(re.search(r"/shard=(\d+)/", f).group(1)) for f in ix.term_files(fld, terms)}
    assert holding <= listed <= _shards_of(spark, fld, terms, n_salts)
    assert ix.term_dfs(fld, terms) == {
        t: corpus["exact"].df(fld, t) for t in terms if t in n_salts
    }


# ---------------------------------------------------- multi-generation df

WORDS = ["spark", "join", "table", "scan", "fast", "slow"]


def _gen_docs(ids, extra=""):
    return pd.DataFrame(
        [
            (i, f"{WORDS[i % 6]} {WORDS[(i * 5 + 1) % 6]} spark join {extra}".strip())
            for i in ids
        ],
        columns=["doc_id", "text"],
    )


MULTIGEN_QUERIES = [
    Q.term("text", "spark"),
    Q.term("text", "ancient"),  # only in the first generation's docs
    Q.and_(Q.term("text", "spark"), Q.term("text", "fresh")),
    Q.boolean((SHOULD, Q.term("text", "ancient")), (SHOULD, Q.term("text", "table"))),
    Q.phrase("text", "spark", "join"),
]


def _reference_scores(ix, q):
    """BM25 from the union+groupBy ``term_stats_for`` df and the live
    postings, computed in Python: the df path every scorer used before
    the term dictionary."""
    fld = "text"
    st = ix.field_stats(fld)
    df = {r["term"]: r["df"] for r in ix.term_stats_for(fld).collect()}
    post = defaultdict(dict)  # term -> doc -> (tf, dl, positions)
    for r in ix.postings_for(fld).collect():
        post[r["term"]][r["doc_id"]] = (r["tf"], r["_bdl"], list(r["positions"]))

    def idf(t):
        return math.log(1 + (st.n_docs - df[t] + 0.5) / (df[t] + 0.5))

    def norm(freq, dl):
        return freq / (freq + K1 * (1 - B + B * dl / st.avgdl))

    def term(t):
        return {d: idf(t) * norm(tf, dl) for d, (tf, dl, _) in post[t].items()}

    if q.type == "TermQuery":
        return term(q.value)
    if q.type == "PhraseQuery":
        t0, t1 = q.terms
        out = {}
        for d, (_, dl, p0) in post[t0].items():
            if d in post[t1]:
                pf = sum(1 for p in p0 if p + 1 in post[t1][d][2])
                if pf:
                    out[d] = (idf(t0) + idf(t1)) * norm(pf, dl)
        return out
    parts = [(occ, term(c.value)) for occ, c in q.clauses]
    musts = [m for occ, m in parts if occ == MUST]
    docs = set.intersection(*map(set, musts)) if musts else set().union(
        *(set(m) for _, m in parts)
    )
    return {d: sum(m.get(d, 0.0) for _, m in parts) for d in docs}


def _check_multigen(multi, each_route):
    want_df = {r["term"]: r["df"] for r in multi.term_stats_for("text").collect()}
    assert multi.term_dfs("text", list(want_df) + ["nosuchterm"]) == want_df
    for q in MULTIGEN_QUERIES:
        want = _reference_scores(multi, q)
        got = {r["doc_id"]: r["score"] for r in hits(multi, q).collect()}
        assert got.keys() == want.keys(), q.to_dict()
        for d, s in want.items():
            assert got[d] == pytest.approx(s, rel=1e-12), (q.to_dict(), d)
        for route in each_route():
            resp = search(multi, q, stop=1000)
            assert resp.total == len(want), route
            assert {h.id for h in resp.hits} == want.keys(), (route, q.to_dict())
            for h in resp.hits:
                assert h.score == pytest.approx(want[h.id], rel=1e-12), (route, h.id)


def test_multigen_scores_keep_dead_docs_in_df_until_merge(spark, tmp_path, each_route):
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), text_cols=["text"], n_shards=4)
    inc.commit_batch(spark.createDataFrame(_gen_docs(range(30), "ancient")))
    inc.commit_batch(spark.createDataFrame(_gen_docs(range(0, 30, 3), "fresh")))
    inc.delete([1, 4, 7, 31])
    multi = inc.open()
    assert len(multi.gens) == 3
    # dead docs still count: "ancient" keeps its first-generation df
    assert multi.term_dfs("text", ["ancient", "fresh"]) == {"ancient": 30, "fresh": 10}
    _check_multigen(multi, each_route)

    inc.force_merge()
    merged = inc.open()
    assert len(merged.gens) == 1
    # after the merge, df counts live docs only
    assert merged.term_dfs("text", ["ancient", "fresh"]) == {"ancient": 17, "fresh": 10}
    _check_multigen(merged, each_route)


# ------------------------------------------------------------ handle cache


def test_rebuild_at_same_path_and_mtime_opens_new_snapshot(spark, tmp_path):
    """A store rebuilt at the same path keeps meta.json's path and can
    keep its mtime; the handle cache must still miss, or the old term
    dictionary and file listing would serve the new store."""
    out = str(tmp_path / "ix")
    first = pd.DataFrame({"doc_id": [0, 1], "text": ["alpha beta", "alpha"]})
    build_index_store(spark.createDataFrame(first), out, text_cols=["text"], n_shards=2)
    old = open_persistent_index(spark, out)
    assert search(old, Q.term("text", "alpha")).total == 2
    meta = os.path.join(out, "meta.json")
    st = os.stat(meta)

    second = pd.DataFrame({"doc_id": [5], "text": ["gamma alpha alpha"]})
    build_index_store(spark.createDataFrame(second), out, text_cols=["text"], n_shards=2)
    os.utime(meta, ns=(st.st_atime_ns, st.st_mtime_ns))
    new = open_persistent_index(spark, out)
    assert new is not old
    r = search(new, Q.term("text", "alpha"))
    assert (r.total, [h.id for h in r.hits]) == (1, [5])
    assert new.term_dfs("text", ["alpha", "beta"]) == {"alpha": 1}
    assert open_persistent_index(spark, out) is new


# ------------------------------------------- no field_lengths read at query time

GUARD_QUERIES = {
    "term": Q.term("text", "spark"),
    "fused_or": Q.or_(Q.term("text", "spark"), Q.term("text", "table")),
    "phrase": Q.phrase("text", "spark", "join"),
}


@pytest.fixture(scope="module")
def guard_readers(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("no_lengths_read")
    docs = spark.createDataFrame(_gen_docs(range(30)))
    store = build_index_store(docs, str(root / "store"), text_cols=["text"], n_shards=4)
    inc = IncrementalIndexStore(spark, str(root / "inc"), text_cols=["text"], n_shards=4)
    inc.commit_batch(docs)
    inc.commit_batch(spark.createDataFrame(_gen_docs(range(0, 30, 3), "fresh")))
    return {"store": store, "multigen": inc.open()}


@pytest.mark.parametrize("reader", ["store", "multigen"])
@pytest.mark.parametrize("query", list(GUARD_QUERIES))
def test_search_scans_no_field_lengths(guard_readers, reader, query, monkeypatch, spark_route):
    """Scoring reads each posting's document length off the posting: the
    plan a Spark-route ``search()`` executes for a term, a fused OR and a
    phrase scans postings files and no ``field_lengths`` file. (The
    driver route reads the postings files of the terms' shards only.)"""
    from meresco_lucene_spark.query import executor

    scanned = []
    collect_page = executor.collect_page

    def recording(df, *args, **kwargs):
        scanned.extend(_scanned_files(df))
        return collect_page(df, *args, **kwargs)

    monkeypatch.setattr(executor, "collect_page", recording)
    assert search(guard_readers[reader], GUARD_QUERIES[query]).total > 0
    assert any("/postings/" in f for f in scanned), scanned
    assert [f for f in scanned if "/field_lengths/" in f] == []
