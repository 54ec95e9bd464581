"""Single-core fixture goldens recast from LuceneTest.java (F4/F5 in
FIXTURES.md): facet counts incl. maxTerms=0, sorting, boost ordering,
prefix search ordering."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from meresco_lucene_spark.query.executor import hits, search
from meresco_lucene_spark.query.ir import SHOULD, Q


@pytest.fixture(scope="module")
def facet_idx(spark, build_store):
    # LuceneTest.java:174-231: 3 docs with two facet fields
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "field1": ["id0", "id1", "id2"],
            "facet_field2": ["first item0", "first item1", "first item2"],
            "facet_field3": ["second item", "other value", "second item"],
        }
    )
    ix = build_store(
        spark.createDataFrame(pdf),
        id_col="doc_id",
        keyword_cols=["field1"],
        facet_fields={
            "facet-field2": ["facet_field2"],
            "facet-field3": ["facet_field3"],
        },
    )
    return ix


def test_facets_golden(facet_idx):
    r = search(
        facet_idx,
        Q.matchall(),
        facets=[
            {"fieldname": "facet-field2", "maxTerms": 10},
            {"fieldname": "facet-field3", "maxTerms": 10},
        ],
    )
    f2, f3 = r.drilldownData
    assert {(t["term"], t["count"]) for t in f2["terms"]} == {
        ("first item0", 1), ("first item1", 1), ("first item2", 1),
    }
    assert f3["terms"] == [
        {"term": "second item", "count": 2},
        {"term": "other value", "count": 1},
    ]


def test_facet_max_terms_zero_unlimited(facet_idx):
    """maxTerms=0 => unlimited (Lucene.java facet semantics)."""
    r = search(
        facet_idx, Q.matchall(), facets=[{"fieldname": "facet-field2", "maxTerms": 0}]
    )
    assert len(r.drilldownData[0]["terms"]) == 3


def test_boost_changes_ranking(spark, build_store):
    """LuceneTest boost: a SHOULD clause with a higher boost outranks."""
    pdf = pd.DataFrame(
        {"doc_id": [0, 1], "text": ["aap noot mies", "vuur water mies"]}
    )
    ix = build_store(
        spark.createDataFrame(pdf), id_col="doc_id", text_cols=["text"]
    )
    q = Q.boolean(
        (SHOULD, Q.term("text", "aap", boost=10.0)),
        (SHOULD, Q.term("text", "vuur")),
    )
    r = search(ix, q)
    assert [h.id for h in r.hits] == [0, 1]
    q = Q.boolean(
        (SHOULD, Q.term("text", "aap")),
        (SHOULD, Q.term("text", "vuur", boost=10.0)),
    )
    r = search(ix, q)
    assert [h.id for h in r.hits] == [1, 0]


def test_prefix_search_counts(spark, build_store):
    """Lucene.java:629-666 prefixSearch returns (term, docFreq) ordered
    by count desc (client _lucene.py:132-143)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["value0 value1", "value1 value2", "value1"],
        }
    )
    ix = build_store(
        spark.createDataFrame(pdf), id_col="doc_id", text_cols=["text"]
    )
    got = [
        (r["term"], r["df"])
        for r in ix.term_stats_for("text")
        .filter(F.col("term").startswith("value"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .collect()
    ]
    assert got == [("value1", 3), ("value0", 1), ("value2", 1)]
