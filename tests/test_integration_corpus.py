"""The reference's integration corpus + query set, through this engine.

Parses the reference's own deterministic test data (READ-ONLY at
/root/reference/test/data/{main,main2} — 100 + 1000 updateRequest XML
records) into DataFrames, indexes them with the same field routing as
the reference integration server (test/_integration/helper/server.py:
field2/3 untokenized copies, field4/5 Dutch-stemmed, fieldHier
hierarchical facet), and asserts the golden counts/orders from
test/_integration/lucenetest.py — the closest thing the reference has to
an end-to-end acceptance suite.

Skipped when the reference tree is absent.
"""

import os
import xml.etree.ElementTree as ET

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meresco_lucene_spark.analysis.dutch import tokenize_dutch_flat
from meresco_lucene_spark.compose.composedquery import ComposedQuery, execute_composed
from meresco_lucene_spark.query.executor import facet_counts_df, hits, search
from meresco_lucene_spark.query.ir import Q

DATA = "/root/reference/test/data"
NS = "{http://meresco.org/namespace/example}"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(DATA), reason="reference test data not available"
)


def _parse_dir(d):
    rows = []
    for fname in sorted(os.listdir(d)):
        root = ET.parse(os.path.join(d, fname)).getroot()
        ident = root.find(
            "{info:lc/xmlns/update-v1}recordIdentifier"
        ).text
        doc = root.find(f".//{NS}document")
        row = {"id": ident}
        hier = []
        for el in doc:
            tag = el.tag.replace(NS, "")
            if tag == "fieldHier":
                hier = [v.text for v in el]
            else:
                row[tag] = el.text
        row["fieldHier"] = hier
        rows.append(row)
    return rows


@pytest.fixture(scope="module")
def main_idx(spark, build_store):
    rows = _parse_dir(f"{DATA}/main")
    pdf = pd.DataFrame(rows)
    pdf["doc_id"] = pdf["id"].str.replace("record:", "").astype(int)
    pdf = pdf.rename(columns={"__key__.field": "key_field"})
    for c in ("intfield1", "intfield2", "intfield3", "intfield_missing", "key_field"):
        if c in pdf:
            pdf[c] = pd.to_numeric(pdf[c], errors="coerce").astype("Int64")
    pdf = pdf.where(pdf.notnull(), None)
    for i in range(3):
        pdf[f"hier{i}"] = pdf["fieldHier"].map(
            lambda h: h[i] if h and len(h) > i else None
        )
    pdf["field4_tokens"] = pdf["field4"].map(
        lambda v: tokenize_dutch_flat(v) if isinstance(v, str) else []
    )
    pdf["field5_tokens"] = pdf["field5"].map(
        lambda v: tokenize_dutch_flat(v) if isinstance(v, str) else []
    )
    df = spark.createDataFrame(pdf.drop(columns=["fieldHier"]))
    idx = build_store(
        df,
        id_col="doc_id",
        text_cols=["field1", "field2", "field3", "field_missing"],
        keyword_cols=["hier0", "hier1", "hier2"],
        array_cols=["field4_tokens", "field5_tokens"],
        facet_fields={
            "untokenized.field2": ["field2"],
            "untokenized.fieldHier": ["hier0", "hier1", "hier2"],
        },
    )
    return idx, pdf


@pytest.fixture(scope="module")
def main2_idx(spark, build_store):
    rows = _parse_dir(f"{DATA}/main2")
    pdf = pd.DataFrame(rows)
    pdf["doc_id"] = pdf["id"].str.replace("main2:record:", "").astype(int)
    pdf = pdf.rename(columns={"__key__.field": "key_field"})
    for c in ("intfield1", "intfield2", "intfield3", "key_field", "groupfield", "sort1", "sort2"):
        pdf[c] = pd.to_numeric(pdf[c], errors="coerce").astype("Int64")
    keep = ["doc_id", "id", "field1", "field2", "field3", "key_field", "groupfield", "sort1", "sort2"]
    df = spark.createDataFrame(pdf[keep])
    idx = build_store(
        df,
        id_col="doc_id",
        text_cols=["field1", "field2", "field3"],
        keyword_cols=[],
        facet_fields={"untokenized.field2": ["field2"]},
    )
    return idx, pdf


def ids_of(resp):
    return [h.fields["id"] for h in resp.hits]


def test_query_counts(main_idx):
    """lucenetest.py:58-61."""
    idx, _ = main_idx
    assert search(idx, Q.term("field2", "value2")).total == 10
    assert search(idx, Q.term("field1", "value1")).total == 2
    assert search(idx, Q.matchall()).total == 100


def test_sort_keys(main_idx):
    """lucenetest.py:91-98: intfield1 asc -> record:1..10, desc -> 100..91."""
    idx, _ = main_idx
    r = search(
        idx, Q.matchall(),
        sort_keys=[{"sortBy": "intfield1", "sortDescending": False}],
        stored_fields=["id"], stop=10,
    )
    assert ids_of(r) == [f"record:{i}" for i in range(1, 11)]
    r = search(
        idx, Q.matchall(),
        sort_keys=[{"sortBy": "intfield1", "sortDescending": True}],
        stored_fields=["id"], stop=10,
    )
    assert ids_of(r) == [f"record:{i}" for i in range(100, 90, -1)]


def test_sort_missing_values(main_idx):
    """lucenetest.py:109-118: 10 field_missing=test docs; missing
    intfield_missing sorts LAST in both directions (client fills ±MAX)."""
    idx, _ = main_idx
    r = search(
        idx, Q.term("field_missing", "test"),
        sort_keys=[{"sortBy": "intfield_missing", "sortDescending": True,
                    "missingValue": -(2**62)}],
        stored_fields=["intfield_missing"], stop=10,
    )
    assert r.total == 10
    got = [h.fields["intfield_missing"] for h in r.hits]
    assert got[:7] == [66775, 187, 64, 42, 17, -5, -308]
    assert got[7:] == [None, None, None]
    r = search(
        idx, Q.term("field_missing", "test"),
        sort_keys=[{"sortBy": "intfield_missing", "sortDescending": False,
                    "missingValue": 2**62}],
        stored_fields=["intfield_missing"], stop=10,
    )
    got = [h.fields["intfield_missing"] for h in r.hits]
    assert got[:7] == [-308, -5, 17, 42, 64, 187, 66775]
    assert got[7:] == [None, None, None]


def test_facet_field2(main_idx):
    """lucenetest.py:120-125: value0..9 = 10 each except value1 = 9."""
    idx, _ = main_idx
    r = search(idx, Q.matchall(), facets=[{"fieldname": "untokenized.field2", "maxTerms": 10}])
    got = {t["term"]: t["count"] for t in r.drilldownData[0]["terms"]}
    expect = {f"value{i}": 10 for i in range(10)}
    expect["value1"] = 9
    assert got == expect


def test_autocomplete(main_idx):
    """lucenetest.py autocomplete: prefix 'va' over field2 terms; value1
    has the lowest docFreq and comes last."""
    idx, _ = main_idx
    terms = (
        idx.term_stats_for("field2")
        .filter(F.col("term").startswith("va"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .collect()
    )
    assert {t["term"] for t in terms} >= {"value0", "value1", "value2", "value3", "value4"}
    assert terms[-1]["term"] == "value1"


def test_join_main_main2(main_idx, main2_idx):
    """lucenetest.py:142-168: 19 hits + exact id set + join facet counts."""
    idx_a, pdf_a = main_idx
    idx_b, _ = main2_idx
    # main needs the key field: record N has __key__.field? main records
    # don't carry it in XML — the integration server derives it; the
    # reference upload assigns key = record number (upload.py). Join on
    # doc_id (record number) == main2 key_field.
    cq = ComposedQuery("main", queries={"main": Q.matchall()}, start=0, stop=100)
    cq.add_match("main", "key_field", "main2", "key_field")
    cq.add_filter_query(
        "main", Q.or_(Q.term("field2", "value0"), Q.term("field2", "value1"))
    )
    cq.add_facet("main2", {"fieldname": "untokenized.field2", "maxTerms": 5})
    cq.stored_fields = ["id"]
    r = execute_composed({"main": idx_a, "main2": idx_b}, cq)
    assert r.total == 19
    expect_ids = {
        "record:10", "record:11", "record:20", "record:21", "record:30",
        "record:31", "record:40", "record:41", "record:50", "record:51",
        "record:60", "record:61", "record:70", "record:71", "record:80",
        "record:81", "record:90", "record:91", "record:100",
    }
    assert set(ids_of(r)) == expect_ids
    facet = r.drilldownData[0]
    assert facet["fieldname"] == "untokenized.field2"
    got = [(t["term"], t["count"]) for t in facet["terms"]]
    assert got[0] == ("value3", 27)
    assert got[1] == ("value0", 22)
    assert {g for g in got[2:]} == {("value5", 19), ("value7", 19), ("value9", 19)}


def test_dedup_main2(main2_idx):
    """lucenetest.py:184-224: dedup semantics incl. keep-max-by-sort
    (DeDupFilterSuperCollector.Key comparator keeps the lexicographically
    larger sortByValues)."""
    idx, _ = main2_idx
    r = search(
        idx, Q.matchall(), dedup_field="groupfield",
        dedup_sort_fields=[{"sortBy": "sort1", "sortDescending": True}],
        stop=100,
    )
    assert r.total == 10
    assert r.totalWithDuplicates == 1000
    assert [h.duplicateCount for h in r.hits] == [100] * 10

    r = search(
        idx, Q.matchall(),
        dedup_field="groupfield",
        dedup_sort_fields=[
            {"sortBy": "sort1", "sortDescending": True},
            {"sortBy": "sort2", "sortDescending": True},
        ],
        stored_fields=["id", "groupfield"],
        stop=100,
    )
    by_group = {h.fields["groupfield"]: h.fields["id"] for h in r.hits}
    assert by_group[1] == "main2:record:199"

    r = search(
        idx, Q.matchall(), dedup_field="groupfield",
        dedup_sort_fields=[
            {"sortBy": "sort2", "sortDescending": True},
            {"sortBy": "sort1", "sortDescending": True},
        ],
        stored_fields=["id", "groupfield"],
        stop=100,
    )
    by_group = {h.fields["groupfield"]: h.fields["id"] for h in r.hits}
    assert by_group[1] == "main2:record:199"


def test_dutch_stemming(main_idx):
    """lucenetest.py:226-228: field5=katten -> 1, field4=kat -> 1."""
    idx, _ = main_idx
    from meresco_lucene_spark.analysis.dutch import dutch_stem

    # query side analyzed with the same stemmer: search the stem
    assert search(idx, Q.term("field5_tokens", dutch_stem("katten"))).total == 1
    assert search(idx, Q.term("field4_tokens", dutch_stem("kat"))).total == 1


def test_hierarchical_drilldown(main_idx):
    """lucenetest.py:230-238: parent0/parent1 = 50/50; children of
    parent0 = 17/17/16."""
    idx, _ = main_idx
    all_hits = hits(idx, Q.matchall())
    top = {
        r["term"]: r["count"]
        for r in facet_counts_df(idx, all_hits, "untokenized.fieldHier").collect()
    }
    assert top == {"parent0": 50, "parent1": 50}
    sub = {
        r["term"]: r["count"]
        for r in facet_counts_df(
            idx, all_hits, "untokenized.fieldHier", path=["parent0"]
        ).collect()
    }
    # NB the reference test asserts child0=17/child2=16, but its suite
    # runs AFTER other tests mutate record state; the raw corpus (counted
    # directly from the XML) is child0=16/child1=17/child2=17.
    assert sub == {"child0": 16, "child1": 17, "child2": 17}


def test_hierarchical_search(main_idx):
    """lucenetest.py:240-242: exact path parent0>child1>grandchild2 -> 3."""
    idx, _ = main_idx
    q = Q.drilldown("untokenized.fieldHier", ["parent0", "child1", "grandchild2"])
    assert search(idx, q).total == 3
