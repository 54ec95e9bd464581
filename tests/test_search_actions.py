"""``search()`` answers in one Spark action (plus one for facets).

The total, the pre-dedup total and the page ride one observed collect;
all facet dims share one aggregation. These tests pin the edge cases of
that collect (an empty page runs only the totals), the facet helper
against a per-dim recount, the Spark job counts of a search, the Java
classes and py4j commands a warm search costs, and the response's
timings."""

import json
from collections import Counter

import pandas as pd
import pytest

from meresco_lucene_spark.index.incremental import IncrementalIndexStore
from meresco_lucene_spark.index.store import build_index_store
from meresco_lucene_spark.query.executor import (
    LuceneResponse,
    drilldown_data,
    facet_counts,
    hits,
    search,
)
from meresco_lucene_spark.query.ir import MUST_NOT, SHOULD, Q
from meresco_lucene_spark.session import session_defaults

LANGS = ["py", "go", "java", None]
REPOS = ["r0", "r1", "r2", "r3", "r4", None]
TOPS = ["a", "b"]
SUBS = ["x", "y", "z", None]
WORDS = ["spark", "join", "table", "scan", "fast", "slow", "rare"]


def _docs(n=48):
    rows = []
    for i in range(n):
        words = [WORDS[(i * k + k) % (len(WORDS) - 1)] for k in range(1, 4 + i % 4)]
        if i % 11 == 0:
            words.append("rare")
        rows.append(
            (
                i,
                " ".join(words),
                LANGS[i % len(LANGS)],
                REPOS[i % len(REPOS)],
                TOPS[i % len(TOPS)],
                SUBS[(i // 2) % len(SUBS)],
                i % 7,
            )
        )
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "repo", "top", "sub", "stars"]
    )


CFG = dict(
    text_cols=["text"],
    keyword_cols=["lang", "repo"],
    facet_fields={"lang": ["lang"], "repo": ["repo"], "hier": ["top", "sub"]},
)


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """A one-generation store, and a three-generation reader whose later
    generations upsert and delete documents of the first (tombstones)."""
    root = tmp_path_factory.mktemp("one_action")
    pdf = _docs()
    df = spark.createDataFrame(pdf)
    store = build_index_store(df, str(root / "store"), n_shards=2, **CFG)
    inc = IncrementalIndexStore(spark, str(root / "inc"), n_shards=2, **CFG)
    inc.commit_batch(df)
    upserts = pdf[pdf.doc_id % 5 == 0].assign(text="spark rare upserted")
    inc.commit_batch(spark.createDataFrame(upserts))
    inc.delete([1, 2, 33])
    multi = inc.open()
    assert len(multi.gens) == 3
    return {"store": store, "multigen": multi}


@pytest.fixture(params=["store", "multigen"])
def ix(request, indexes):
    return indexes[request.param]


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


@pytest.mark.parametrize(
    "query,start,stop",
    [
        (Q.term("text", "spark"), 0, 0),
        (Q.term("text", "spark"), 4, 4),
        (Q.term("text", "spark"), 7, 3),
        (Q.term("text", "no_such_term"), 0, 10),
        (Q.boolean((MUST_NOT, Q.term("text", "spark"))), 0, 10),
    ],
    ids=["stop0", "start_eq_stop", "start_gt_stop", "no_match", "pure_must_not"],
)
def test_empty_page_keeps_total(ix, query, start, stop):
    r = search(ix, query, start=start, stop=stop)
    assert r.hits == []
    assert r.total == hits(ix, query).count()


def test_empty_page_dedup_totals(ix):
    q = Q.term("text", "spark")
    full = search(ix, q, dedup_field="repo", stop=1000)
    empty = search(ix, q, dedup_field="repo", stop=0)
    assert empty.hits == []
    assert (empty.total, empty.totalWithDuplicates) == (
        full.total,
        full.totalWithDuplicates,
    )
    assert full.totalWithDuplicates == hits(ix, q).count()
    assert full.total == len(full.hits)
    assert sum(h.duplicateCount for h in full.hits) == full.totalWithDuplicates


def test_no_match_dedup_and_facets(ix):
    r = search(
        ix,
        Q.term("text", "no_such_term"),
        dedup_field="repo",
        facets=[{"fieldname": "lang"}, {"fieldname": "hier", "path": ["a"]}],
    )
    assert (r.total, r.totalWithDuplicates, r.hits) == (0, 0, [])
    assert r.drilldownData == [
        {"fieldname": "lang", "terms": []},
        {"fieldname": "hier", "terms": [], "path": ["a"]},
    ]


def test_pages_tile_the_ranking(ix):
    q = Q.boolean((SHOULD, Q.term("text", "spark")), (SHOULD, Q.term("text", "scan")))
    full = search(ix, q, stop=1000)
    assert full.total == len(full.hits) == hits(ix, q).count()
    for start, stop in ((0, 5), (5, 9), (9, 1000)):
        page = search(ix, q, start=start, stop=stop)
        assert page.total == full.total
        assert [h.id for h in page.hits] == [h.id for h in full.hits[start:stop]]


def test_total_exact_when_adaptive_plan_drops_the_limit(spark):
    """Once adaptive execution knows the hits fit in the page, it drops
    the limit and sorts globally; its range-partition sample re-reads
    the observed rows. The total must stay exact on every such plan —
    the plan varies from call to call, hence the repeats."""
    from meresco_lucene_spark.index.builder import InvertedIndex

    df = spark.createDataFrame(
        [(i, i + 1, "x" if i % 2 else "y") for i in range(8)],
        "doc_id long, A long, M string",
    )
    ix = InvertedIndex.build(df, id_col="doc_id", keyword_cols=["M"])
    keys = spark.createDataFrame([(k,) for k in range(1, 9)], "key long")
    try:
        for stop in (3, 8, 8, 8, 10):
            r = search(ix, Q.matchall(), key_filters=[(keys, "A", False)], stop=stop)
            assert (r.total, len(r.hits)) == (8, min(stop, 8)), stop
            r = search(
                ix, Q.matchall(), key_filters=[(keys, "A", False)],
                dedup_field="M", stop=stop,
            )
            assert (r.total, r.totalWithDuplicates) == (2, 8), stop
    finally:
        ix.unpersist()


def _recount(ix, q, dim, path, cap):
    """One dim's (term, count) list recounted in pandas."""
    cols = ix.facet_fields[dim]
    ids = [r["doc_id"] for r in hits(ix, q).select("doc_id").collect()]
    fwd = ix.forward.toPandas().set_index("doc_id").loc[ids]
    for c, v in zip(cols, path):
        fwd = fwd[fwd[c] == v]
    counts = Counter(v for v in fwd[cols[len(path)]] if v is not None and v == v)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [{"term": t, "count": n} for t, n in ranked[: cap or None]]


def test_drilldown_data_matches_per_dim_recount(ix):
    q = Q.term("text", "spark")
    facets = [
        {"fieldname": "lang", "maxTerms": 2},
        {"fieldname": "repo", "maxTerms": 0},
        {"fieldname": "hier"},
        {"fieldname": "hier", "path": ["b"], "maxTerms": 1},
        {"fieldname": "hier", "path": ["nowhere"]},
    ]
    got = drilldown_data(ix, hits(ix, q), facets)
    want = []
    for f in facets:
        path = f.get("path", [])
        d = {
            "fieldname": f["fieldname"],
            "terms": _recount(ix, q, f["fieldname"], path, f.get("maxTerms", 10)),
        }
        if path:
            d["path"] = path
        want.append(d)
    assert got == want
    assert search(ix, q, facets=facets).drilldownData == want
    assert [facet_counts(ix, hits(ix, q), f) for f in facets] == want


def test_facet_path_deeper_than_dim_raises(ix):
    with pytest.raises(ValueError, match="deeper than dim"):
        drilldown_data(ix, hits(ix, Q.matchall()), [{"fieldname": "lang", "path": ["py"]}])


# Spark jobs of one search() on the one-generation store, measured with
# df read from the store's term dictionary (4 cores, 4 shuffle
# partitions; with the term_stats broadcast join before it: 2, 7 and 5
# for term, facets and dedup, 3 for a fused boolean and 5 for a phrase).
# Under adaptive execution every shuffle stage and broadcast is a job of
# its own: a term query is the observed page collect alone (df comes
# from the store's term dictionary, no job); a fused AND/OR and a phrase
# add the doc_id groupBy's shuffle stage; the facet action (semi-join,
# groupBy, per-dim top-n window) and dedup's window add their shuffle
# stages.
TERM_JOBS = 1
FUSED_BOOL_JOBS = 2
PHRASE_JOBS = 2
FACET_2DIM_JOBS = 5
DEDUP_JOBS = 4


def test_search_job_counts(spark, indexes):
    ix = indexes["store"]
    term = Q.term("text", "spark")
    calls = {
        "term": (term, {}, TERM_JOBS),
        "and": (Q.and_(term, Q.term("text", "join")), {}, FUSED_BOOL_JOBS),
        "or": (Q.or_(term, Q.term("text", "scan")), {}, FUSED_BOOL_JOBS),
        "phrase": (Q.phrase("text", "spark", "join"), {}, PHRASE_JOBS),
        "facet_2dim": (
            term,
            {"facets": [{"fieldname": "lang"}, {"fieldname": "repo"}]},
            FACET_2DIM_JOBS,
        ),
        "dedup": (term, {"dedup_field": "repo"}, DEDUP_JOBS),
    }
    for name, (q, kw, bound) in calls.items():
        search(ix, q, **kw)  # warm: per-reader term metadata memo
        j0 = _jobs(spark)
        search(ix, q, **kw)
        assert _jobs(spark) - j0 <= bound, name


def _compiles(spark):
    """Java classes compiled by codegen so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_new_terms_compile_no_classes(spark, indexes):
    """A query's df, MUST counts and boosts are map constants, not code:
    after one warm search of a shape, the same shape over other terms
    with other dfs reuses every compiled class (with literal df a term
    search compiled 2 classes, a fused OR 2-4 and a phrase 2-3)."""
    ix = indexes["store"]
    dfs = ix.term_dfs("text", WORDS)
    pairs = {
        "term": (Q.term("text", "spark"), Q.term("text", "table")),
        "or": (
            Q.or_(Q.term("text", "spark"), Q.term("text", "scan")),
            Q.or_(Q.term("text", "join"), Q.term("text", "table")),
        ),
        "phrase": (Q.phrase("text", "spark", "join"), Q.phrase("text", "table", "scan")),
    }
    assert dfs["spark"] != dfs["table"] and dfs["scan"] != dfs["join"]
    for name, (warm, other) in pairs.items():
        search(ix, warm)
        c0 = _compiles(spark)
        r = search(ix, other)
        assert r.total > 0, name
        assert _compiles(spark) - c0 == 0, name


def test_get_spark_session_confs(spark):
    """The test session comes from get_spark and carries the codegen
    cache size and the call-site capture switch of session_defaults()."""
    for key in (
        "spark.sql.codegen.cache.maxEntries",
        "spark.python.sql.dataFrameDebugging.enabled",
    ):
        assert spark.conf.get(key) == session_defaults()[key], key


# py4j commands of one warm term search on the store, not counting the
# object-release messages py4j's finalizer sends whenever Python frees
# JVM handles (their number depends on what the tests before freed):
# 240, measured at 4 cores. With PySpark's per-Column call-site capture
# on, a warm term search on the benchmark store made 682.
TERM_PY4J_COMMANDS = 250
RELEASE = "m\nd\n"  # py4j protocol: memory command, delete subcommand


def test_term_search_py4j_commands(spark, indexes, monkeypatch):
    ix = indexes["store"]
    search(ix, Q.term("text", "spark"))
    client = spark.sparkContext._gateway._gateway_client
    sent = [0]
    send = client.send_command

    def counting(command, *args, **kwargs):
        sent[0] += not command.startswith(RELEASE)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    search(ix, Q.term("text", "join"))
    monkeypatch.undo()
    assert 0 < sent[0] <= TERM_PY4J_COMMANDS


def test_search_reports_times(indexes):
    """queryTime is the whole call, times holds the page (searchTime)
    and facet (facetTime) actions, all whole ms, and both survive the
    JSON round trip."""
    r = search(
        indexes["store"], Q.term("text", "spark"), facets=[{"fieldname": "lang"}]
    )
    assert set(r.times) == {"searchTime", "facetTime"}
    for v in r.times.values():
        assert isinstance(v, int) and 0 <= v <= r.queryTime
    back = LuceneResponse.fromJson(r.asJson())
    assert (back.queryTime, back.times) == (r.queryTime, r.times)
    assert json.loads(r.asJson())["times"] == r.times
    # a top-level key that is not a field survives as an attribute
    foreign = json.loads(r.asJson())
    foreign["topDocsTime"] = 3
    assert LuceneResponse.fromJson(json.dumps(foreign)).topDocsTime == 3
    plain = search(indexes["store"], Q.term("text", "spark"))
    assert set(plain.times) == {"searchTime"}
