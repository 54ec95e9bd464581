"""Composed-query goldens recast from MultiLuceneTest.java:126-920
(fixture prepareFixture :82-114 — see FIXTURES.md F2).

Three cores joined by integer key doc-values; coreC uses
TermFrequencySimilarity (MultiLuceneTest.java:72). Every assertion below
carries the reference test name it mirrors.

Each test that takes ``cores`` runs here on search()'s default route
(the driver route answers the other-core key filters of these small
cores), and again, with unchanged assertions, in
test_composed_spark_route.py with every search() sent to the Spark
route.
"""

import pytest
from pyspark.sql import types as T
from test_driver_route import _job_descriptions, _jobs

from meresco_lucene_spark.compose.composedquery import ComposedQuery, execute_composed
from meresco_lucene_spark.compose.relational import RQ
from meresco_lucene_spark.query.ir import Q

A_ROWS = [
    # (doc_id, id, A, C, M, Q, U, S)
    (0, "A",     1, None,  "false", "false", "false", "1"),
    (1, "A-U",   2, None,  "false", "false", "true",  "2"),
    (2, "A-Q",   3, None,  "false", "true",  "false", "3"),
    (3, "A-QU",  4, None,  "false", "true",  "true",  "4"),
    (4, "A-M",   5, 5,     "true",  "false", "false", "5"),
    (5, "A-MU",  6, 12,    "true",  "false", "true",  "6"),
    (6, "A-MQ",  7, None,  "true",  "true",  "false", "7"),
    (7, "A-MQU", 8, None,  "true",  "true",  "true",  "8"),
]

B_ROWS = [
    # (doc_id, id, B, D, N, O, P, T, intField)
    (0, "B-N>A-M",   5,  5,    "true",  "true",  "false", "A", 1),
    (1, "B-N>A-MU",  6,  None, "true",  "false", "false", "B", 2),
    (2, "B-N>A-MQ",  7,  None, "true",  "true",  "false", "C", 3),
    (3, "B-N>A-MQU", 8,  None, "true",  "false", "false", "D", 4),
    (4, "B-N",       9,  None, "true",  "true",  "false", "E", 5),
    (5, "B",         10, None, "false", "false", "false", "F", 6),
    (6, "B-P>A-M",   5,  None, "false", "true",  "true",  "G", 7),
    (7, "B-P>A-MU",  6,  None, "false", "false", "true",  "H", 8),
    (8, "B-P>A-MQ",  7,  None, "false", "false", "true",  "I", 9),
    (9, "B-P>A-MQU", 8,  None, "false", "false", "true",  "J", 10),
    (10, "B-P",      11, None, "false", "true",  "true",  "K", 11),
]

C_ROWS = [
    # (doc_id, id, C, C2, R, S)
    (0, "C-R",  5, 12,   "true", None),
    (1, "C-S",  8, None, None,   "true"),
    (2, "C-S2", 7, None, None,   "false"),
]


def _schema(spec):
    fields = []
    for name, typ in spec:
        fields.append(T.StructField(name, typ, True))
    return T.StructType(fields)


@pytest.fixture(scope="module")
def built_cores(spark, build_store):
    lng, s = T.LongType(), T.StringType()
    a = spark.createDataFrame(
        A_ROWS,
        _schema([("doc_id", lng), ("id", s), ("A", lng), ("C", lng),
                 ("M", s), ("Q", s), ("U", s), ("S", s)]),
    )
    b = spark.createDataFrame(
        B_ROWS,
        _schema([("doc_id", lng), ("id", s), ("B", lng), ("D", lng),
                 ("N", s), ("O", s), ("P", s), ("T", s), ("intField", lng)]),
    )
    c = spark.createDataFrame(
        C_ROWS,
        _schema([("doc_id", lng), ("id", s), ("C", lng), ("C2", lng),
                 ("R", s), ("S", s)]),
    )
    core_a = build_store(
        a, id_col="doc_id", keyword_cols=["M", "Q", "U", "S"],
        facet_fields={"cat_M": ["M"], "cat_Q": ["Q"], "cat_U": ["U"], "cat_S": ["S"]},
    )
    core_b = build_store(
        b, id_col="doc_id", keyword_cols=["N", "O", "P", "T"],
        facet_fields={"cat_N": ["N"], "cat_O": ["O"], "cat_P": ["P"], "cat_T": ["T"]},
    )
    core_c = build_store(
        c, id_col="doc_id", keyword_cols=["R", "S"],
        facet_fields={"cat_R": ["R"], "cat_S": ["S"]},
        similarity="TermFrequency",
    )
    return {"coreA": core_a, "coreB": core_b, "coreC": core_c}


@pytest.fixture()
def cores(built_cores):
    """The three cores, searched on the default route."""
    return built_cores


def ids(cores, cq, response=None, **kw):
    r = response or execute_composed(cores, cq, **kw)
    id_map = {"coreA": A_ROWS, "coreB": B_ROWS, "coreC": C_ROWS}[cq.result_from]
    lookup = {row[0]: row[1] for row in id_map}
    return r, [lookup[h.id] for h in r.hits]


def test_query_one_index_with_composed_query(cores):
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("Q", "true")})
    r, got = ids(cores, cq)
    assert r.total == 4
    assert set(got) == {"A-Q", "A-QU", "A-MQ", "A-MQU"}


def test_one_index_filter_queries(cores):
    cq = ComposedQuery("coreA")
    cq.add_filter_query("coreA", Q.term("Q", "true"))
    r, got = ids(cores, cq)
    assert r.total == 4 and set(got) == {"A-Q", "A-QU", "A-MQ", "A-MQU"}


def test_join_query(cores):
    cq = ComposedQuery("coreA", queries={"coreA": Q.matchall()})
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 4
    assert set(got) == {"A-M", "A-MU", "A-MQ", "A-MQU"}


def test_join_query_with_filters(cores):
    cq = ComposedQuery("coreA")
    cq.add_filter_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 4 and set(got) == {"A-M", "A-MU", "A-MQ", "A-MQU"}


def test_join_filter_via_core_c(cores):
    cq = ComposedQuery("coreA")
    cq.add_filter_query("coreC", Q.term("S", "true"))
    cq.add_match("coreA", "A", "coreC", "C")
    r, got = ids(cores, cq)
    assert r.total == 1 and got == ["A-MQU"]


def test_exclude_filter_via_core_c(cores):
    cq = ComposedQuery("coreA")
    cq.add_exclude_filter_query("coreC", Q.term("S", "true"))
    cq.add_match("coreA", "A", "coreC", "C")
    r, got = ids(cores, cq)
    assert r.total == 7
    assert set(got) == {"A-M", "A-MU", "A-MQ", "A", "A-U", "A-Q", "A-QU"}


def test_exclude_filter_other_direction(cores):
    cq = ComposedQuery("coreB")
    cq.add_exclude_filter_query("coreA", Q.term("U", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 7
    assert set(got) == {"B-N>A-M", "B-N>A-MQ", "B-N", "B", "B-P>A-M", "B-P>A-MQ", "B-P"}


def test_exclude_filter_single_core(cores):
    cq = ComposedQuery("coreA", queries={"coreA": Q.matchall()})
    cq.add_match("coreA", "A", "coreA", "A")
    cq.add_exclude_filter_query("coreA", Q.term("Q", "true"))
    r, got = ids(cores, cq)
    assert r.total == 4 and set(got) == {"A", "A-U", "A-M", "A-MU"}


def test_join_with_facet_in_result_core(cores):
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("Q", "true")})
    cq.set_core_query("coreB", Q.term("O", "true"))
    cq.add_facet("coreA", {"fieldname": "cat_M", "maxTerms": 10})
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 1
    assert r.drilldownData == [
        {"fieldname": "cat_M", "terms": [{"term": "true", "count": 1}]}
    ]


def test_join_facet(cores):
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("Q", "true")})
    cq.add_facet("coreB", {"fieldname": "cat_N", "maxTerms": 10})
    cq.add_facet("coreB", {"fieldname": "cat_O", "maxTerms": 10})
    cq.add_match("coreA", "A", "coreB", "B")
    r = execute_composed(cores, cq)
    assert r.drilldownData == [
        {"fieldname": "cat_N", "terms": [
            {"term": "false", "count": 2}, {"term": "true", "count": 2}]},
        {"fieldname": "cat_O", "terms": [
            {"term": "false", "count": 3}, {"term": "true", "count": 1}]},
    ]


def test_join_facet_will_not_filter(cores):
    cq = ComposedQuery("coreA")
    cq.add_facet("coreB", {"fieldname": "cat_N", "maxTerms": 10})
    cq.add_match("coreA", "A", "coreB", "B")
    r = execute_composed(cores, cq)
    assert r.total == 8
    assert r.drilldownData == [
        {"fieldname": "cat_N", "terms": [
            {"term": "false", "count": 4}, {"term": "true", "count": 4}]},
    ]


def test_join_facet_and_query(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_facet("coreB", {"fieldname": "cat_N", "maxTerms": 10})
    cq.add_facet("coreB", {"fieldname": "cat_O", "maxTerms": 10})
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 4 and set(got) == {"A-M", "A-MU", "A-MQ", "A-MQU"}
    assert r.drilldownData == [
        {"fieldname": "cat_N", "terms": [{"term": "true", "count": 4}]},
        {"fieldname": "cat_O", "terms": [
            {"term": "false", "count": 2}, {"term": "true", "count": 2}]},
    ]


def test_unite_result_from_two_indexes(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.term("Q", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_unite("coreA", Q.term("U", "true"), "coreB", Q.term("N", "true"))
    r, got = ids(cores, cq)
    assert r.total == 3 and set(got) == {"A-QU", "A-MQ", "A-MQU"}


def test_unite_filter_queries(cores):
    cq = ComposedQuery("coreA")
    cq.add_filter_query("coreA", Q.term("Q", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_unite("coreA", Q.term("U", "true"), "coreB", Q.term("N", "true"))
    r, got = ids(cores, cq)
    assert r.total == 3 and set(got) == {"A-QU", "A-MQ", "A-MQU"}


def test_unite_and_facets(cores):
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("Q", "true")})
    cq.add_facet("coreA", {"fieldname": "cat_Q", "maxTerms": 10})
    cq.add_facet("coreA", {"fieldname": "cat_U", "maxTerms": 10})
    cq.add_facet("coreB", {"fieldname": "cat_N", "maxTerms": 10})
    cq.add_facet("coreB", {"fieldname": "cat_O", "maxTerms": 10})
    cq.add_unite("coreA", Q.term("U", "true"), "coreB", Q.term("N", "true"))
    cq.other_core_facet_filters.setdefault("coreB", []).append(Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 3 and set(got) == {"A-QU", "A-MQ", "A-MQU"}
    assert r.drilldownData == [
        {"fieldname": "cat_Q", "terms": [{"term": "true", "count": 3}]},
        {"fieldname": "cat_U", "terms": [
            {"term": "true", "count": 2}, {"term": "false", "count": 1}]},
        {"fieldname": "cat_N", "terms": [{"term": "true", "count": 2}]},
        {"fieldname": "cat_O", "terms": [
            {"term": "false", "count": 1}, {"term": "true", "count": 1}]},
    ]


def test_unite_and_facets_with_foreign_query(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("O", "true"))
    cq.add_facet("coreB", {"fieldname": "cat_N", "maxTerms": 10})
    cq.add_facet("coreB", {"fieldname": "cat_O", "maxTerms": 10})
    cq.add_unite("coreA", Q.term("U", "true"), "coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 2 and set(got) == {"A-M", "A-MQ"}
    assert r.drilldownData == [
        {"fieldname": "cat_N", "terms": [
            {"term": "true", "count": 2}, {"term": "false", "count": 1}]},
        {"fieldname": "cat_O", "terms": [{"term": "true", "count": 3}]},
    ]


def test_start_stop_sort_keys(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.term("Q", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_unite("coreA", Q.term("U", "true"), "coreB", Q.term("N", "true"))
    cq.sort_keys = [{"sortBy": "S", "sortDescending": False}]
    r, got = ids(cores, cq)
    assert r.total == 3 and got == ["A-QU", "A-MQ", "A-MQU"]

    cq.sort_keys = [{"sortBy": "S", "sortDescending": True}]
    cq.stop = 2
    r, got = ids(cores, cq)
    assert r.total == 3 and got == ["A-MQU", "A-MQ"]

    cq.start, cq.stop = 1, 10
    r, got = ids(cores, cq)
    assert r.total == 3 and got == ["A-MQ", "A-QU"]


def test_join_query_on_optional_key(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "C", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 1 and got == ["A-M"]


def test_join_query_on_optional_key_other_side(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "D")
    r, got = ids(cores, cq)
    assert r.total == 1 and got == ["A-M"]


def test_join_query_three_cores(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.set_core_query("coreC", Q.term("R", "true"))
    cq.add_facet("coreA", {"fieldname": "cat_M", "maxTerms": 10})
    cq.add_facet("coreB", {"fieldname": "cat_N", "maxTerms": 10})
    cq.add_facet("coreC", {"fieldname": "cat_R", "maxTerms": 10})
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_match("coreA", "A", "coreC", "C")
    r, got = ids(cores, cq)
    assert r.total == 1 and got == ["A-M"]
    dd = sorted(r.drilldownData, key=lambda d: d["fieldname"])
    assert dd == [
        {"fieldname": "cat_M", "terms": [{"term": "true", "count": 1}]},
        {"fieldname": "cat_N", "terms": [{"term": "true", "count": 1}]},
        {"fieldname": "cat_R", "terms": [{"term": "true", "count": 1}]},
    ]


def test_rank_blend_exact_value(cores):
    """F6 (LuceneTest.java:480-504): ratio 0.4, own score 1.0, one other
    score 1.0 => blended exactly (1-0.4)*1.0 + 0.4*(1*(1+1.0)) = 1.4."""
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.add_rank_query("coreB", Q.matchall())  # MatchAll scores 1.0
    cq.rank_query_score_ratio = 0.4
    cq.add_match("coreA", "A", "coreB", "B")
    r = execute_composed(cores, cq)
    by_id = {h.id: h.score for h in r.hits}
    # coreA docs with a coreB key match (A in 5..8): 0.6*1 + 0.4*(1+1) = 1.4
    assert abs(by_id[4] - 1.4) < 1e-9  # A-M (doc_id 4, A=5)
    # without match: 0.6*1 + 0.4*1 = 1.0
    assert abs(by_id[0] - 1.0) < 1e-9


def test_rank_query(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_rank_query("coreC", Q.term("S", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_match("coreA", "A", "coreC", "C")
    r, got = ids(cores, cq)
    assert r.total == 4
    assert got == ["A-MQU", "A-M", "A-MU", "A-MQ"]


def test_multiple_rank_query(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_rank_query("coreA", Q.term("Q", "true"))
    cq.add_rank_query("coreC", Q.term("S", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_match("coreA", "A", "coreC", "C")
    r, got = ids(cores, cq)
    assert r.total == 4
    assert got == ["A-MQU", "A-MQ", "A-M", "A-MU"]


def test_score_collector_on_different_keys(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.add_rank_query("coreB", Q.term("N", "true"))
    cq.add_rank_query("coreC", Q.term("R", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_match("coreA", "C", "coreC", "C2")
    r, got = ids(cores, cq)
    assert r.total == 8
    assert got[0] == "A-MU"
    assert r.hits[0].score > r.hits[1].score


def test_export_keys(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r = execute_composed(cores, cq, export_key="A")
    assert r.total == 4
    assert r.keys == [5, 6, 7, 8]


def test_export_keys_single_core(cores):
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("M", "true")})
    cq.add_match("coreA", "A", "coreB", "B")
    r = execute_composed(cores, cq, export_key="A")
    assert r.total == 4
    assert r.keys == [5, 6, 7, 8]


def test_filter_query_in_two_different_cores(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.set_core_query("coreB", Q.matchall())
    cq.add_filter_query("coreB", Q.term("N", "true"))
    cq.add_filter_query("coreC", Q.matchall())
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_match("coreA", "C", "coreC", "C2")
    r, got = ids(cores, cq)
    assert r.total == 1 and got == ["A-MU"]


def test_two_core_query_third_core_drilldown(cores):
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.set_core_query("coreB", Q.matchall())
    cq.add_facet("coreC", {"fieldname": "cat_R", "maxTerms": 10})
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_match("coreA", "C", "coreC", "C2")
    r, got = ids(cores, cq)
    assert r.total == 4 and set(got) == {"A-M", "A-MQ", "A-MU", "A-MQU"}
    assert r.drilldownData == [
        {"fieldname": "cat_R", "terms": [{"term": "true", "count": 1}]}
    ]


def test_relational_filter_query(cores):
    """testRelationalFilterQuery: AND of coreA:Q=true keys and
    coreB:P=true keys as a filter on coreA."""
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreA", Q.matchall())
    cq.add_match("coreA", "A", "coreB", "B")
    cq.relational_filter = RQ.and_(
        RQ.lucene("coreA", "A", Q.term("Q", "true")),
        RQ.lucene("coreB", "B", Q.term("P", "true")),
    )
    r, got = ids(cores, cq)
    assert r.total == 2 and set(got) == {"A-MQ", "A-MQU"}


def test_join_sort(cores):
    """J7/C9: sort coreA results by coreB's intField via the key mapping
    (JoinSortCollector semantics, MultiLucene.java:145-156)."""
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    # coreB intField (min per key): key5->1, key6->2, key7->3, key8->4
    cq.sort_keys = [{"sortBy": "intField", "core": "coreB", "sortDescending": True}]
    r, got = ids(cores, cq)
    assert r.total == 4
    assert got == ["A-MQU", "A-MQ", "A-MU", "A-M"]
    cq.sort_keys = [{"sortBy": "intField", "core": "coreB", "sortDescending": False}]
    r, got = ids(cores, cq)
    assert got == ["A-M", "A-MU", "A-MQ", "A-MQU"]


def test_relational_not_filter(cores):
    """testRelationalFilter: NOT(coreA:M=true AND coreB:O=true)."""
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("M", "true")})
    cq.add_match("coreA", "A", "coreB", "B")
    cq.relational_filter = RQ.not_(
        RQ.and_(
            RQ.lucene("coreA", "A", Q.term("M", "true")),
            RQ.lucene("coreB", "B", Q.term("O", "true")),
        )
    )
    r, got = ids(cores, cq)
    assert r.total == 2 and set(got) == {"A-MU", "A-MQU"}


def test_relational_filter_from_wire_dict(cores):
    """The reference's relational wire dicts (JsonQueryConverter.java:
    238-275, emitted by queryexpressiontolucenequerydict.py:148 with
    collectKeyName == filterKeyName) are accepted verbatim as
    relational_filter and round-trip through RQ.to_dict/from_dict."""
    import pytest as _pytest

    wire = {
        "type": "RelationalNotQuery",
        "query": {
            "type": "JoinAndQuery",
            "first": {
                "type": "RelationalLuceneQuery",
                "core": "coreA", "collectKeyName": "A", "filterKeyName": "A",
                "query": {"type": "TermQuery",
                          "term": {"field": "M", "value": "true"}},
            },
            "second": {
                "type": "RelationalLuceneQuery",
                "core": "coreB", "collectKeyName": "B", "filterKeyName": "B",
                "query": {"type": "TermQuery",
                          "term": {"field": "O", "value": "true"}},
            },
        },
    }
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("M", "true")})
    cq.add_match("coreA", "A", "coreB", "B")
    cq.relational_filter = wire  # dict, not RQ
    r, got = ids(cores, cq)
    assert r.total == 2 and set(got) == {"A-MU", "A-MQU"}

    # round-trip identity
    assert RQ.from_dict(wire).to_dict() == wire

    # differing filter/collect key names are a push-down shape the set
    # algebra does not model: reject loudly
    bad = dict(wire["query"]["first"], filterKeyName="OTHER")
    with _pytest.raises(NotImplementedError):
        RQ.from_dict(bad)


def test_composed_query_wire_round_trip(cores):
    """ComposedQuery.asDict/fromDict wire parity (reference
    composedquerytest.py testAsDictFromDict:150-183, recast with real
    Lucene query dicts instead of opaque strings)."""
    tq = lambda f, v: {"type": "TermQuery", "term": {"field": f, "value": v}}
    wire = {
        "resultsFrom": "coreA",
        "cores": ["coreA", "coreB"],
        "_queries": {"coreA": tq("M", "true"), "coreB": tq("N", "true")},
        "_filterQueries": {"coreA": [tq("Q", "true"), tq("U", "true")]},
        "_excludeFilterQueries": {},
        "_facets": {"coreA": [{"fieldname": "cat_M", "maxTerms": 10}]},
        "_drilldownQueries": {},
        "_otherCoreFacetFilters": {},
        "_rankQueries": {},
        "_matches": {
            "coreA->coreB": [
                {"core": "coreA", "uniqueKey": "A"},
                {"core": "coreB", "key": "B"},
            ]
        },
        "_unites": [],
        "_sortKeys": [{"sortBy": "S", "sortDescending": True}],
        "_start": 0,
        "_stop": 10,
        "_rankQueryScoreRatio": 0.75,
        "_clusteringConfig": {"clusteringEps": 0.2},
    }
    cq = ComposedQuery.from_dict(wire)
    assert cq.result_from == "coreA"
    assert cq.start == 0 and cq.stop == 10
    assert cq.queries["coreA"] == Q.term("M", "true")
    assert cq.filter_queries["coreA"] == [Q.term("Q", "true"), Q.term("U", "true")]
    assert cq.key_name("coreA", "coreB") == "A"
    assert cq.key_name("coreB", "coreA") == "B"
    assert cq.rank_query_score_ratio == 0.75
    assert cq.clustering_config == {"clusteringEps": 0.2}

    # to_dict reproduces the wire shape (incl. the uniqueKey/key split),
    # and a second from_dict is a fixpoint
    d2 = cq.to_dict()
    assert d2["_matches"] == wire["_matches"]
    assert d2["_queries"] == wire["_queries"]
    assert d2["_filterQueries"] == wire["_filterQueries"]
    assert d2["_sortKeys"] == wire["_sortKeys"]
    assert d2["cores"] == ["coreA", "coreB"]
    assert ComposedQuery.from_dict(d2).to_dict() == d2


def test_wire_dict_round_trip_edge_cases():
    """ADVICE r5: an EXPLICIT ratio of 0.5 survives the round-trip, a
    non-JSON relational filter string raises the reference's ValueError
    (composedquery.py:217-221), and wire-named cores referenced by no
    query are kept."""
    import pytest as _pytest

    wire = {
        "resultsFrom": "coreA",
        "cores": ["coreA", "coreB", "coreGhost"],
        "_queries": {"coreA": Q.term("M", "true").to_dict()},
        "_matches": {
            "coreA->coreB": [
                {"core": "coreA", "uniqueKey": "A"},
                {"core": "coreB", "key": "B"},
            ]
        },
        "_rankQueryScoreRatio": 0.5,
    }
    cq = ComposedQuery.from_dict(wire)
    d = cq.to_dict()
    assert d["_rankQueryScoreRatio"] == 0.5  # explicit default survives
    assert "coreGhost" in d["cores"]  # unreferenced wire core kept
    assert ComposedQuery.from_dict(d).to_dict() == d
    # never-set ratio stays off the wire
    assert "_rankQueryScoreRatio" not in ComposedQuery.from_dict(
        {k: v for k, v in wire.items() if k != "_rankQueryScoreRatio"}
    ).to_dict()

    bad = dict(wire, _relationalFilterJson="{not json")
    with _pytest.raises(ValueError, match="can not be parsed as JSON"):
        ComposedQuery.from_dict(bad)


def test_composed_query_wire_match_validation():
    """addMatch validation parity (composedquery.py:119-132): the
    resultsFrom side must declare uniqueKey, and a match not touching
    the result core is rejected."""
    base = {
        "resultsFrom": "coreA",
        "_matches": {
            "coreA->coreB": [
                {"core": "coreA", "key": "A"},  # key, not uniqueKey
                {"core": "coreB", "key": "B"},
            ]
        },
    }
    with pytest.raises(ValueError, match="uniqueKey"):
        ComposedQuery.from_dict(base)
    foreign = {
        "resultsFrom": "coreX",
        "_matches": {
            "coreA->coreB": [
                {"core": "coreA", "uniqueKey": "A"},
                {"core": "coreB", "key": "B"},
            ]
        },
    }
    with pytest.raises(ValueError, match="resultsFromCore"):
        ComposedQuery.from_dict(foreign)


def test_composed_query_from_wire_executes(cores):
    """A join query built ONLY from the wire dict executes identically
    to the directly-constructed ComposedQuery (testJoinQuery,
    MultiLuceneTest.java:~150)."""
    wire = {
        "resultsFrom": "coreA",
        "_queries": {
            "coreA": {"type": "MatchAllDocsQuery"},
            "coreB": {"type": "TermQuery", "term": {"field": "N", "value": "true"}},
        },
        "_matches": {
            "coreA->coreB": [
                {"core": "coreA", "uniqueKey": "A"},
                {"core": "coreB", "key": "B"},
            ]
        },
    }
    cq = ComposedQuery.from_dict(wire)
    r, got = ids(cores, cq)
    assert r.total == 4
    assert set(got) == {"A-M", "A-MU", "A-MQ", "A-MQU"}


def test_composed_query_wire_unite_and_relational(cores):
    """Unite + relationalFilterJson arrive on the wire exactly as the
    reference emits them ('A'/'B' pair lists; a JSON *string*)."""
    import json

    rf = {
        "type": "RelationalLuceneQuery",
        "core": "coreB", "collectKeyName": "B", "filterKeyName": "B",
        "query": {"type": "TermQuery", "term": {"field": "O", "value": "true"}},
    }
    wire = {
        "resultsFrom": "coreA",
        "_queries": {"coreA": {"type": "MatchAllDocsQuery"}},
        "_matches": {
            "coreA->coreB": [
                {"core": "coreA", "uniqueKey": "A"},
                {"core": "coreB", "key": "B"},
            ]
        },
        "_unites": [
            {
                "A": ["coreA", {"type": "TermQuery",
                                 "term": {"field": "Q", "value": "true"}}],
                "B": ["coreB", {"type": "TermQuery",
                                 "term": {"field": "N", "value": "true"}}],
            }
        ],
        "_relationalFilterJson": json.dumps(rf),
    }
    cq = ComposedQuery.from_dict(wire)
    assert len(cq.unites) == 1 and cq.unites[0].query_a == Q.term("Q", "true")
    assert cq.relational_filter == rf
    # round-trip keeps the JSON-string form
    assert json.loads(cq.to_dict()["_relationalFilterJson"]) == rf
    r, got = ids(cores, cq)
    # unite(coreA Q=true, coreB N=true) AND relational filter (O=true):
    # keys {3,4,5,6,7,8} & {5,7,9,11} -> {5, 7} -> A-M, A-MQ
    assert set(got) == {"A-M", "A-MQ"}


def test_composed_query_suggestion_request(cores):
    """The reference forwards _suggestionRequest into the result core's
    QueryData (ComposedQuery.java:107-108), so a composed response
    carries spellcheck suggestions computed on the result core
    (Lucene.java:334-340)."""
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("Q", "true")})
    cq.suggestion_request = dict(suggests=["treu"], count=2, field="M")
    r, got = ids(cores, cq)
    assert r.total == 4
    assert r.suggestions == {"treu": ["true"]}
    # and via the wire dict (asDict key _suggestionRequest)
    cq2 = ComposedQuery.from_dict(cq.to_dict())
    assert cq2.suggestion_request == cq.suggestion_request
    r2 = execute_composed(cores, cq2)
    assert r2.suggestions == {"treu": ["true"]}


def test_composed_jobs_carry_composed_tags(spark, cores, spark_route):
    """Every Spark job of execute_composed names its operator under
    ``composed``: the result core's page and facets (on the Spark route
    of search()), the other core's join facets and the exported keys."""
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("Q", "true")})
    cq.add_facet("coreA", {"fieldname": "cat_M"})
    cq.add_facet("coreB", {"fieldname": "cat_N", "maxTerms": 10})
    cq.add_match("coreA", "A", "coreB", "B")
    j0 = _jobs(spark)
    execute_composed(cores, cq, export_key="A")
    tags = set(_job_descriptions(spark, j0))
    assert {"composed:search:page", "composed:search:facets",
            "composed:facets", "composed:keys"} <= tags, tags
    assert all(t and t.startswith("composed:") for t in tags), tags
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_exclude_filter_keeps_null_keys(cores):
    """An exclude filter keeps the result docs that have no key: no key
    set holds a null (the anti-join of the Spark route)."""
    cq = ComposedQuery("coreA")
    cq.add_exclude_filter_query("coreC", Q.term("R", "true"))
    cq.add_match("coreA", "C", "coreC", "C2")
    r, got = ids(cores, cq)
    # coreC R=true has C2=12: only A-MU (C=12) goes; six docs have no C
    assert r.total == 7
    assert set(got) == {"A", "A-U", "A-Q", "A-QU", "A-M", "A-MQ", "A-MQU"}


def test_empty_key_set(cores):
    """An other-core query with no hits filters every result doc out;
    as an exclude filter it removes none."""
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("N", "no_such_value"))
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert (r.total, got) == (0, [])
    cq = ComposedQuery("coreA")
    cq.add_exclude_filter_query("coreB", Q.term("N", "no_such_value"))
    cq.add_match("coreA", "A", "coreB", "B")
    r, got = ids(cores, cq)
    assert r.total == 8


@pytest.fixture(scope="module")
def string_key_core(spark, build_store):
    """A core whose key K holds coreA's integer keys as strings."""
    df = spark.createDataFrame(
        [(0, "5", "yes"), (1, "7", "yes"), (2, "8", "no")],
        "doc_id long, K string, F string",
    )
    return build_store(df, id_col="doc_id", keyword_cols=["F"])


def test_mismatched_key_types_fall_back(spark, cores, string_key_core):
    """String keys of another core filter integer keys of the result
    core as Spark's join coerces them; the driver route has no such
    coercion and leaves the query to the Spark route."""
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreS", Q.term("F", "yes"))
    cq.add_match("coreA", "A", "coreS", "K")
    j0 = _jobs(spark)
    r, got = ids({**cores, "coreS": string_key_core}, cq)
    assert _jobs(spark) > j0
    assert r.total == 2 and set(got) == {"A-M", "A-MQ"}


def test_other_core_drilldown_falls_back(spark, cores):
    """An other core's drilldown query (a DrillDown clause, which has no
    driver form) is answered on the Spark route."""
    cq = ComposedQuery("coreA")
    cq.set_core_query("coreB", Q.term("O", "true"))
    cq.add_drilldown_query("coreB", "cat_N", ["true"])
    cq.add_match("coreA", "A", "coreB", "B")
    j0 = _jobs(spark)
    r, got = ids(cores, cq)
    assert _jobs(spark) > j0
    # coreB N=true and O=true: keys 5, 7 and 9
    assert r.total == 2 and set(got) == {"A-M", "A-MQ"}


def test_key_filters_run_no_job(spark, built_cores):
    """Other-core core queries, filter queries and exclude filter queries
    (terms and match-all) over small cores are answered on the driver
    route: no Spark job."""
    cq = ComposedQuery("coreA", queries={"coreA": Q.term("M", "true")})
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_filter_query("coreC", Q.matchall())
    cq.add_exclude_filter_query("coreB", Q.term("T", "C"))
    cq.add_facet("coreA", {"fieldname": "cat_Q"})
    cq.add_match("coreA", "A", "coreB", "B")
    cq.add_match("coreA", "C", "coreC", "C2")
    j0 = _jobs(spark)
    r, got = ids(built_cores, cq)
    assert _jobs(spark) == j0
    # M=true, a B key with N=true (5 to 9) but not T=C (7), a C key in
    # coreC (12)
    assert r.total == 1 and got == ["A-MU"]
    assert r.drilldownData == [{"fieldname": "cat_Q", "terms": [{"term": "false", "count": 1}]}]
