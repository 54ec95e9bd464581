"""Dutch stemming analyzer (Snowball algorithm + reference token-stream
shape). The integration golden is field5=katten / field4=kat both
matching a doc that contains the other form
(test/_integration/lucenetest.py:226-228)."""

import pandas as pd
import pytest

from meresco_lucene_spark.analysis.dutch import (
    dutch_stem,
    tokenize_dutch_flat,
    tokenize_dutch_text,
)
from meresco_lucene_spark.query.executor import hits
from meresco_lucene_spark.query.ir import Q


@pytest.mark.parametrize(
    "word,stem",
    [
        ("katten", "kat"),
        ("kat", "kat"),
        ("boeken", "boek"),
        ("lopen", "lop"),
        ("lichamelijk", "licham"),
        ("boot", "bot"),
        ("huizen", "huiz"),
        ("appels", "appel"),
        ("verjaardag", "verjaardag"),
        # regions are computed once on the original word, so the 'lijk'
        # left after heden->heid->'' starts before R2 and survives
        ("heerlijkheden", "heerlijk"),
    ],
)
def test_stem_goldens(word, stem):
    assert dutch_stem(word) == stem


def test_keyword_repeat_dedup_shape():
    # KeywordRepeat emits original+stem; RemoveDuplicates collapses equals
    assert tokenize_dutch_text("de katten") == [["de"], ["katten", "kat"]]
    assert tokenize_dutch_flat("De katten lopen") == [
        "de", "katten", "kat", "lopen", "lop",
    ]


def test_dutch_cols_builder_param(spark, build_store):
    """dutch_cols on a store build applies the stemming analyzer
    directly (no manual token column)."""
    pdf = pd.DataFrame({"doc_id": [1, 2], "field5": ["hond en kat", "de katten"]})
    idx = build_store(
        spark.createDataFrame(pdf), id_col="doc_id", dutch_cols=["field5"]
    )
    got = {r["doc_id"] for r in hits(idx, Q.term("field5", "kat")).collect()}
    assert got == {1, 2}


def test_stemmed_field_matches_both_forms(spark, build_store):
    """field indexed with Dutch stemming: query 'katten' and 'kat' both
    match; a doc containing 'kat' matches query 'katten' too."""
    from meresco_lucene_spark.analysis.dutch import tokenize_dutch_udf
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "field4": ["de katten zijn weg", "een kat liep"]}
    )
    df = spark.createDataFrame(pdf).withColumn(
        "field4_tokens", tokenize_dutch_udf(F.col("field4"))
    )
    idx = build_store(
        df, id_col="doc_id", array_cols=["field4_tokens"]
    )
    # stemmed query side: analyze the query term the same way
    got_kat = {r["doc_id"] for r in hits(idx, Q.term("field4_tokens", "kat")).collect()}
    assert got_kat == {1, 2}
    got_katten = {
        r["doc_id"] for r in hits(idx, Q.term("field4_tokens", "katten")).collect()
    }
    assert got_katten == {1}  # exact original form still searchable
