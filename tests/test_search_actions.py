"""``search()`` answers in one Spark action (plus one for facets).

The total, the pre-dedup total and the page ride one observed collect;
all facet dims share one aggregation. These tests pin the edge cases of
that collect (an empty page runs only the totals), the facet helper
against a per-dim recount, and the Spark job counts of a search."""

from collections import Counter

import pandas as pd
import pytest

from meresco_lucene_spark.index.incremental import IncrementalIndexStore
from meresco_lucene_spark.index.store import build_index_store
from meresco_lucene_spark.query.executor import (
    drilldown_data,
    facet_counts,
    hits,
    search,
)
from meresco_lucene_spark.query.ir import MUST_NOT, SHOULD, Q

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


# Spark jobs of one search() on the one-generation store, measured after
# the change (4 cores, 4 shuffle partitions; before it: 5, 13 and 11).
# Under adaptive execution every shuffle stage and broadcast is a job of
# its own: a term query is the term-stats broadcast plus the observed
# page collect; the facet action (semi-join, groupBy, per-dim top-n
# window) and dedup's window add their shuffle stages.
TERM_JOBS = 2
FACET_2DIM_JOBS = 7
DEDUP_JOBS = 5


def test_search_job_counts(spark, indexes):
    ix = indexes["store"]
    q = Q.term("text", "spark")
    calls = {
        "term": ({}, TERM_JOBS),
        "facet_2dim": (
            {"facets": [{"fieldname": "lang"}, {"fieldname": "repo"}]},
            FACET_2DIM_JOBS,
        ),
        "dedup": ({"dedup_field": "repo"}, DEDUP_JOBS),
    }
    for name, (kw, bound) in calls.items():
        search(ix, q, **kw)  # warm: per-reader term metadata memo
        j0 = _jobs(spark)
        search(ix, q, **kw)
        assert _jobs(spark) - j0 <= bound, name
