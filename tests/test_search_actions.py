"""``search()`` answers on the driver with no Spark job when the query
fits the driver route, else in one Spark action (plus one for facets).

On the Spark route the total, the pre-dedup total and the page ride one
observed collect, and all facet dims share one aggregation. These tests
run the edge cases of a search (an empty page still counts its totals)
and the facet helper against a per-dim recount on both routes, and pin
the Spark jobs of a search on each route, the stage tags of the Spark
route's jobs, the Java classes and py4j commands a warm Spark-route
search costs, and the response's timings."""

import json
from collections import Counter

import pandas as pd
import pytest

from meresco_lucene_spark.index.incremental import IncrementalIndexStore
from meresco_lucene_spark.index import store as store_mod
from meresco_lucene_spark.index.store import build_index_store
from meresco_lucene_spark.query.executor import (
    LuceneResponse,
    drilldown_data,
    facet_counts,
    hits,
    search,
)
from meresco_lucene_spark.query import driver
from meresco_lucene_spark.compose.composedquery import ComposedQuery, execute_composed
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
    # the other core of a composed query: repo -> license
    repos = spark.createDataFrame(
        [(i, r, ["mit", "gpl"][i % 2]) for i, r in enumerate(REPOS[:-1])],
        "doc_id long, repo string, license string",
    )
    repos = build_index_store(repos, str(root / "repos"), keyword_cols=["repo", "license"])
    return {"store": store, "multigen": multi, "repos": repos}


@pytest.fixture(params=["store", "multigen", "store_spark_route", "multigen_spark_route"])
def ix(request, indexes):
    """Each reader, searched on its default route (the driver route, for
    these small readers) and on the Spark route forced."""
    reader, _, route = request.param.partition("_")
    if route:
        request.getfixturevalue("spark_route")
    return indexes[reader]


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


def test_total_exact_when_adaptive_plan_drops_the_limit(spark, build_store):
    """Once adaptive execution knows the hits fit in the page, it drops
    the limit and sorts globally; its range-partition sample re-reads
    the observed rows. The total must stay exact on every such plan —
    the plan varies from call to call, hence the repeats."""

    df = spark.createDataFrame(
        [(i, i + 1, "x" if i % 2 else "y") for i in range(8)],
        "doc_id long, A long, M string",
    )
    ix = build_store(df, id_col="doc_id", keyword_cols=["M"])
    keys = spark.createDataFrame([(k,) for k in range(1, 9)], "key long")
    for stop in (3, 8, 8, 8, 10):
        r = search(ix, Q.matchall(), key_filters=[(keys, "A", False)], stop=stop)
        assert (r.total, len(r.hits)) == (8, min(stop, 8)), stop
        r = search(
            ix, Q.matchall(), key_filters=[(keys, "A", False)],
            dedup_field="M", stop=stop,
        )
        assert (r.total, r.totalWithDuplicates) == (2, 8), stop


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
    facet = {"fieldname": "lang", "path": ["py"]}
    with pytest.raises(ValueError, match="deeper than dim"):
        drilldown_data(ix, hits(ix, Q.matchall()), [facet])
    with pytest.raises(ValueError, match="deeper than dim"):
        search(ix, Q.term("text", "spark"), facets=[facet])


# Spark jobs of one search() on the one-generation store on the Spark
# route, measured with df read from the store's term dictionary (4
# cores, 4 shuffle partitions; with the term_stats broadcast join before
# it: 2, 7 and 5 for term, facets and dedup, 3 for a fused boolean and 5
# for a phrase). Under adaptive execution every shuffle stage and
# broadcast is a job of its own: a term query is the observed page
# collect alone (df comes from the store's term dictionary, no job); a
# fused AND/OR and a phrase add the doc_id groupBy's shuffle stage; the
# facet action (semi-join, groupBy, per-dim top-n window) and dedup's
# window add their shuffle stages.
TERM_JOBS = 1
FUSED_BOOL_JOBS = 2
PHRASE_JOBS = 2
FACET_2DIM_JOBS = 5
DEDUP_JOBS = 4


def test_search_job_counts(spark, indexes, spark_route):
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


# The same shapes on the driver route, where a search reads the terms'
# blocks and the forward columns it needs with pyarrow: no Spark job, on
# a fresh handle as on a warm one.
DRIVER_SHAPES = {
    "term": (Q.term("text", "spark"), {}),
    "and": (Q.and_(Q.term("text", "spark"), Q.term("text", "table")), {}),
    "or": (Q.or_(Q.term("text", "spark"), Q.term("text", "scan")), {}),
    "phrase": (Q.phrase("text", "table", "scan"), {}),
    "phrase_repeated_term": (Q.phrase("text", "scan", "spark", "scan"), {}),
    "facet_2dim": (
        Q.term("text", "spark"),
        {"facets": [{"fieldname": "lang"}, {"fieldname": "repo"}]},
    ),
    "sort_page": (
        Q.term("text", "spark"),
        {"sort_keys": [{"sortBy": "stars", "sortDescending": True}], "start": 3, "stop": 8},
    ),
    "dedup": (Q.term("text", "spark"), {"dedup_field": "repo"}),
}
DRIVER_ROUTE_JOBS = 0


def _composed(indexes, reader):
    """The composed query of the search_mix benchmark: a term on the
    result core, a term on the other core and one key match."""
    cq = ComposedQuery("code", queries={"code": Q.term("text", "spark")})
    cq.set_core_query("repos", Q.term("license", "mit"))
    cq.add_match("code", "repo", "repos", "repo")
    return execute_composed({"code": indexes[reader], "repos": indexes["repos"]}, cq)


@pytest.mark.parametrize("reader", ["store", "multigen"])
def test_driver_route_runs_no_job(spark, indexes, reader, monkeypatch):
    ix = indexes[reader]
    for name, (q, kw) in DRIVER_SHAPES.items():
        j0 = _jobs(spark)
        got = search(ix, q, **kw)
        assert _jobs(spark) - j0 == DRIVER_ROUTE_JOBS, name
        assert got.queryTime is not None and "searchTime" in got.times, name
        with monkeypatch.context() as m:
            m.setattr(store_mod, "DRIVER_QUERY_POSTINGS", -1)
            want = search(ix, q, **kw)
        # equal answers: hits (scores within 1e-12), totals, facets, groups
        assert (got.total, got.totalWithDuplicates, got.drilldownData) == (
            want.total, want.totalWithDuplicates, want.drilldownData,
        ), name
        assert [(h.id, h.duplicateCount) for h in got.hits] == [
            (h.id, h.duplicateCount) for h in want.hits
        ], name
        for a, b in zip(got.hits, want.hits):
            assert a.score == pytest.approx(b.score, rel=1e-12), name
        if q.type == "TermQuery":  # one term: bit-equal scores
            assert [h.score for h in got.hits] == [h.score for h in want.hits], name
    assert search(ix, Q.term("text", "spark")).total > 0
    assert search(ix, DRIVER_SHAPES["and"][0]).total > 0
    assert search(ix, DRIVER_SHAPES["phrase"][0]).total > 0
    j0 = _jobs(spark)
    got = _composed(indexes, reader)
    assert _jobs(spark) - j0 == DRIVER_ROUTE_JOBS
    with monkeypatch.context() as m:
        m.setattr(store_mod, "DRIVER_QUERY_POSTINGS", -1)
        want = _composed(indexes, reader)
    assert got.total > 0
    assert got == want


def test_core_execute_query_with_stored_fields_runs_no_job(spark, tmp_path, each_route):
    """LuceneCore.executeQuery over three generations (an upsert and a
    delete among them) answers every driver shape with the page's
    identifiers and stored fields and no Spark job, as the Spark route
    answers it."""
    from meresco_lucene_spark.core import LuceneCore

    core = LuceneCore(spark, str(tmp_path), name="core", n_shards=2)
    for lo, hi in ((0, 12), (8, 16)):
        for i in range(lo, hi):
            core.addDocument(
                identifier=f"d{i}",
                fields=[
                    {"type": "TextField", "name": "text", "value": f"w{i % 3} spark w{i % 3} gen{lo}"},
                    {"type": "StringField", "name": "repo", "value": f"r{i % 4}"},
                    {"type": "FacetField", "name": "lang", "value": ["py", "go"][i % 2]},
                    {"type": "LongField", "name": "stars", "value": i % 5},
                ],
            )
        core.commit()
    core.delete(identifier="d2")
    core.commit()
    assert len(core.reader().gens) == 3
    spark_q, w0, w1 = Q.term("text", "spark"), Q.term("text", "w0"), Q.term("text", "w1")
    shapes = {
        "term": (spark_q, {}),
        "and": (Q.and_(spark_q, w1), {}),
        "or": (Q.or_(w0, Q.term("text", "gen8")), {}),
        "phrase": (Q.phrase("text", "spark", "w0"), {}),
        "phrase_repeated_term": (Q.phrase("text", "w1", "spark", "w1"), {}),
        "facet_2dim": (spark_q, {"facets": [{"fieldname": "lang"}, {"fieldname": "repo"}]}),
        "sort_page": (spark_q, {"sortKeys": [{"sortBy": "stars", "sortDescending": True}],
                                "start": 2, "stop": 7}),
        "dedup": (spark_q, {"dedupField": "repo"}),
    }
    answers = {}
    for route in each_route():
        for name, (q, kw) in shapes.items():
            kw = {"storedFields": ["repo", "stars"], "stop": 20, **kw}
            core._reader = None  # a fresh snapshot, as after a commit
            j0 = _jobs(spark)
            answers[route, name] = core.executeQuery(q, **kw)
            if route == "driver":
                assert _jobs(spark) - j0 == DRIVER_ROUTE_JOBS, name
    for name in shapes:
        assert answers["driver", name] == answers["spark", name], name
        assert answers["driver", name].total > 0, name
    term = answers["driver", "term"]
    assert term.total == 15
    assert {h.id: h.fields for h in term.hits} == {
        f"d{i}": {"repo": f"r{i % 4}", "stars": i % 5} for i in range(16) if i != 2
    }


def test_over_bound_takes_the_spark_route(spark, indexes, monkeypatch):
    """One posting, or one doc whose forward row is read, over the bound
    sends a search to Spark, with the same answer."""
    ix = indexes["multigen"]
    q = Q.or_(Q.term("text", "spark"), Q.term("text", "scan"))
    n_postings = sum(ix.term_dfs("text", ["spark", "scan"]).values())
    _assert_bound_decides(
        spark, lambda: search(ix, q, facets=[{"fieldname": "lang"}], stop=100),
        n_postings, monkeypatch,
    )

    # a composed query reads the result core's key column: its doc count
    # bounds the query more tightly than the postings of either core
    assert ix.n_docs > max(
        sum(ix.term_dfs("text", ["spark"]).values()),
        indexes["repos"].n_docs,
        sum(indexes["repos"].term_dfs("license", ["mit"]).values()),
    )
    _assert_bound_decides(spark, lambda: _composed(indexes, "multigen"), ix.n_docs, monkeypatch)


def _assert_bound_decides(spark, run, bound, monkeypatch):
    """``run()`` runs no Spark job under ``bound`` and some under
    ``bound - 1``, with the same answer."""
    monkeypatch.setattr(store_mod, "DRIVER_QUERY_POSTINGS", bound)
    j0 = _jobs(spark)
    at_bound = run()
    assert _jobs(spark) == j0
    assert at_bound.total > 0
    monkeypatch.setattr(store_mod, "DRIVER_QUERY_POSTINGS", bound - 1)
    over = run()
    assert _jobs(spark) > j0
    assert over == at_bound


def _job_descriptions(spark, since):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    out = []
    for jid in range(since, sc.dagScheduler().numTotalJobs()):
        d = sc.statusStore().job(jid).description()
        out.append(d.get() if d.isDefined() else None)
    return out


def test_spark_route_jobs_carry_search_tags(spark, indexes, spark_route):
    """Every job of a Spark-route search() names its operator: the page
    collect (search:page), the totals-only action of an empty page
    (search:total) and the facet action (search:facets)."""
    ix = indexes["multigen"]
    term = Q.term("text", "spark")
    search(ix, term)  # warm
    j0 = _jobs(spark)
    search(ix, term)
    assert set(_job_descriptions(spark, j0)) == {"search:page"}
    j0 = _jobs(spark)
    search(ix, term, facets=[{"fieldname": "lang"}, {"fieldname": "repo"}])
    tags = _job_descriptions(spark, j0)
    assert set(tags) == {"search:facets", "search:page"}, tags
    j0 = _jobs(spark)
    assert search(ix, term, stop=0).total > 0
    assert set(_job_descriptions(spark, j0)) == {"search:total"}
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def _compiles(spark):
    """Java classes compiled by codegen so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_new_terms_compile_no_classes(spark, indexes, spark_route):
    """A query's df, MUST counts and boosts are map constants, not code:
    after one warm Spark-route search of a shape, the same shape over
    other terms with other dfs reuses every compiled class (with literal
    df a term search compiled 2 classes, a fused OR 2-4 and a phrase
    2-3). The top-k calls are search()es and reuse the same classes."""
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
    topks = {
        "term_topk": lambda ts: ix.term_topk("text", ts[0], 3),
        "or_topk": lambda ts: ix.or_topk("text", ts, 3),
        "and_topk": lambda ts: ix.and_topk("text", ts, 3),
    }
    for name, topk in topks.items():
        topk(["spark", "scan"]).collect()
        c0 = _compiles(spark)
        assert topk(["table", "join"]).collect(), name
        assert _compiles(spark) - c0 == 0, name


def test_new_snapshot_compiles_no_classes(spark, tmp_path, spark_route):
    """A snapshot's n_docs and avgdl are map constants as well: after a
    commit, the same term+facet query and fused OR as before it reuse
    every compiled class (with literal n_docs and avgdl each compiled 2)."""
    from meresco_lucene_spark.core import LuceneCore

    core = LuceneCore(spark, str(tmp_path), name="core", n_shards=2)

    def commit(lo, hi):
        for i in range(lo, hi):
            text = " ".join(WORDS[(i * k + k) % len(WORDS)] for k in range(1, 4 + i % 3))
            core.addDocument(
                identifier=f"d{i}",
                fields=[
                    {"type": "TextField", "name": "text", "value": text},
                    {"type": "FacetField", "name": "lang", "value": ["py", "go"][i % 2]},
                ],
            )
        core.commit()

    queries = {
        "term+facet": lambda: core.executeQuery(
            Q.term("text", "spark"), facets=[{"fieldname": "lang", "maxTerms": 10}]
        ),
        "or": lambda: core.executeQuery(Q.or_(Q.term("text", "spark"), Q.term("text", "scan"))),
    }
    # three generations with upserts, so that the next commit changes
    # the numbers of the reader and not the shape of its plans
    for lo in (0, 8, 16):
        commit(lo, lo + 12)
    for q in queries.values():
        q()
    commit(24, 36)
    for name, q in queries.items():
        c0 = _compiles(spark)
        assert q().total > 0, name
        assert _compiles(spark) - c0 == 0, name


def test_get_spark_session_confs(spark):
    """The test session comes from get_spark and carries the codegen
    cache size and the call-site capture switch of session_defaults()."""
    for key in (
        "spark.sql.codegen.cache.maxEntries",
        "spark.python.sql.dataFrameDebugging.enabled",
    ):
        assert spark.conf.get(key) == session_defaults()[key], key


# py4j commands of one warm Spark-route term search on the store, not
# counting the object-release messages py4j's finalizer sends whenever
# Python frees JVM handles (their number depends on what the tests
# before freed): 182, measured at 4 cores, with the block decode written
# as two SQL projections and the search:page/search:facets stage tags
# (231 before both; 240 before that; with PySpark's per-Column
# call-site capture on, a warm term search on the benchmark store made
# 682).
TERM_PY4J_COMMANDS = 190
RELEASE = "m\nd\n"  # py4j protocol: memory command, delete subcommand


def test_term_search_py4j_commands(spark, indexes, monkeypatch, spark_route):
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


def test_fresh_snapshot_driver_search_calls_the_jvm_for_idf_only(spark, indexes, monkeypatch):
    """A driver-route search on a freshly opened multi-generation reader
    (a new snapshot, as after a commit) sends py4j nothing but one
    ``StrictMath.log`` per idf it has not computed yet."""
    from meresco_lucene_spark.index.incremental import IncrementalIndexStore

    root = indexes["multigen"].root
    search(IncrementalIndexStore(spark, root).open(), Q.term("text", "spark"))  # warm
    monkeypatch.setattr(driver, "_IDF_MEMO", {})
    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def recording(command, *args, **kwargs):
        if not command.startswith(RELEASE):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", recording)
    fresh = IncrementalIndexStore(spark, root).open()
    r = search(
        fresh,
        Q.or_(Q.term("text", "spark"), Q.term("text", "scan")),
        facets=[{"fieldname": "lang"}],
        dedup_field="repo",
    )
    monkeypatch.undo()
    assert r.total > 0
    assert 0 < len(sent) <= 2
    assert all("java.lang.StrictMath" in c and "\nlog\n" in c for c in sent), sent


def test_search_reports_times(indexes, each_route):
    """queryTime is the whole call, times holds the page (searchTime)
    and facet (facetTime) actions, all whole ms, on either route, and
    both survive the JSON round trip."""
    for route in each_route():
        r = search(
            indexes["store"], Q.term("text", "spark"), facets=[{"fieldname": "lang"}]
        )
        assert set(r.times) == {"searchTime", "facetTime"}, route
        for v in r.times.values():
            assert isinstance(v, int) and 0 <= v <= r.queryTime, route
    back = LuceneResponse.fromJson(r.asJson())
    assert (back.queryTime, back.times) == (r.queryTime, r.times)
    assert json.loads(r.asJson())["times"] == r.times
    # a top-level key that is not a field survives as an attribute
    foreign = json.loads(r.asJson())
    foreign["topDocsTime"] = 3
    assert LuceneResponse.fromJson(json.dumps(foreign)).topDocsTime == 3
    plain = search(indexes["store"], Q.term("text", "spark"))
    assert set(plain.times) == {"searchTime"}
