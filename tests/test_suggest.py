"""Suggestion subsystem goldens recast from
SuggestionIndexTest.java:160-205 and suggestionindexcomponent.py re-rank."""

import pandas as pd
import pytest

from meresco_lucene_spark.suggest import (
    build_suggestion_store,
    rank_suggestions,
    suggest,
    value_ngrams,
)


def test_value_ngrams_golden():
    # SuggestionIndexTest.java:170-172
    assert value_ngrams("lord of", trigram=True) == [
        "$lo", "lor", "ord", "rd$", "$of", "of$",
    ]
    assert value_ngrams("lo", trigram=False) == ["$l", "lo", "o$"]


@pytest.fixture(scope="module")
def si(spark, tmp_path_factory):
    # SuggestionIndexTest.testSuggestionIndex fixture
    pdf = pd.DataFrame(
        {
            "rec": ["identifier", "identifier"],
            "key": [1, 1],
            "title": ["Lord of the rings", "Fellowship of the ring"],
        }
    )
    df = spark.createDataFrame(pdf)
    return build_suggestion_store(
        df, "title", str(tmp_path_factory.mktemp("sugg")), key_col="key"
    )


def _suggestions(si, value, trigram=False):
    return [r["suggestion"] for r in suggest(si, value, trigram).collect()]


def test_suggest_prefix_l(si):
    # "l" -> Lord of the rings (bigram); nothing under trigram
    assert _suggestions(si, "l") == ["Lord of the rings"]
    assert _suggestions(si, "l", trigram=True) == []


def test_suggest_words(si):
    assert _suggestions(si, "lord") == ["Lord of the rings"]
    assert _suggestions(si, "lord of") == ["Lord of the rings"]
    assert set(_suggestions(si, "of the")) == {
        "Lord of the rings",
        "Fellowship of the ring",
    }
    assert _suggestions(si, "fel") == ["Fellowship of the ring"]


def test_shingle_record_index(spark, tmp_path):
    """G1 shingle records (SuggestionIndex.java:234-244 shingles +
    SuggestionIndexTest.java:158-159 golden): with shingle_values=True
    every word shingle of a title is its own suggestion value, so a
    partial input completes to sub-phrases, and shorter shingles
    outrank longer ones (length norms)."""
    pdf = pd.DataFrame(
        {"rec": ["identifier"], "key": [1], "title": ["Lord of the rings"]}
    )
    s = build_suggestion_store(
        spark.createDataFrame(pdf), "title", str(tmp_path / "sugg"),
        key_col="key", shingle_values=True,
    )
    vals = {r["suggestion"] for r in s.values.select("suggestion").collect()}
    assert vals == {
        "lord", "lord of", "lord of the", "lord of the rings",
        "of", "of the", "of the rings", "the", "the rings", "rings",
    }
    got = _suggestions(s, "lo")
    # every lord-prefixed shingle matches the '$l' bigram; shortest first
    assert got[0] == "lord"
    assert "lord of the rings" in got
    # all shingles carry the source record's key
    keys = {tuple(r["keys"]) for r in s.values.collect()}
    assert keys == {(1,)}


def test_suggestion_store_reopen_and_swap(spark, tmp_path):
    """Durable suggestion index: build -> reopen from disk -> same
    suggestions; then an atomic rebuild-and-swap (G5,
    SuggestionIndex.java:132-158) replaces the live dir with new values."""
    from meresco_lucene_spark.suggest import (
        open_suggestion_store,
        swap_suggestion_store,
    )

    live = str(tmp_path / "sugg")
    v1 = spark.createDataFrame(
        pd.DataFrame({"key": [1, 1], "title": ["harry", "hallo"]})
    )
    build_suggestion_store(v1, "title", live, key_col="key")
    si = open_suggestion_store(spark, live)  # fresh reopen, disk only
    assert _suggestions(si, "ha") == ["hallo", "harry"]

    v2 = spark.createDataFrame(
        pd.DataFrame({"key": [2, 2], "title": ["harbor", "hazel"]})
    )
    swap_suggestion_store(v2, "title", live, key_col="key")
    si2 = open_suggestion_store(spark, live)
    assert _suggestions(si2, "ha") == ["hazel", "harbor"]  # shorter ranks first


def test_swap_generation_grace(spark, tmp_path):
    """Generation-dir swap: a reader opened BEFORE the swap keeps a
    working on-disk snapshot (parquet paths resolve at action time, so
    the old generation must survive on disk); a second swap ages the
    oldest generation out of the one-generation grace window."""
    import os

    from meresco_lucene_spark.suggest import (
        open_suggestion_store,
        swap_suggestion_store,
    )

    live = str(tmp_path / "sugg")
    v1 = spark.createDataFrame(pd.DataFrame({"key": [1], "title": ["harry"]}))
    swap_suggestion_store(v1, "title", live, key_col="key")
    old_reader = open_suggestion_store(spark, live)

    v2 = spark.createDataFrame(pd.DataFrame({"key": [2], "title": ["hazel"]}))
    swap_suggestion_store(v2, "title", live, key_col="key")
    # pointer flipped for new opens...
    assert _suggestions(open_suggestion_store(spark, live), "ha") == ["hazel"]
    # ...while the pre-swap handle still serves its snapshot
    assert _suggestions(old_reader, "ha") == ["harry"]
    assert sorted(os.listdir(live))[:2] == ["CURRENT", "gen-0"]

    v3 = spark.createDataFrame(pd.DataFrame({"key": [3], "title": ["harbor"]}))
    swap_suggestion_store(v3, "title", live, key_col="key")
    gens = sorted(e for e in os.listdir(live) if e.startswith("gen-"))
    assert gens == ["gen-1", "gen-2"]  # gen-0 aged out of the grace window


def test_ranking_shorter_value_wins(spark, tmp_path):
    """SuggestionIndexTest.testRanking: 'lo' ranks 'Lord magic' (shorter,
    fewer ngrams -> higher BM25 tf-norm) above 'Lord of the rings'."""
    pdf = pd.DataFrame(
        {
            "rec": ["i1", "i1", "i2", "i3", "i4"],
            "key": [1, 1, 2, 3, 4],
            "title": [
                "Lord of the rings", "Lord magic", "Lord of the rings",
                "Lord magic", "Lord magic",
            ],
        }
    )
    s = build_suggestion_store(
        spark.createDataFrame(pdf), "title", str(tmp_path / "sugg"), key_col="key"
    )
    got = suggest(s, "lo").collect()
    assert [r["suggestion"] for r in got] == ["Lord magic", "Lord of the rings"]
    assert got[0]["score"] > got[1]["score"]


def test_key_filter(si):
    import pandas as pd

    other_keys = si.values.sparkSession.createDataFrame(
        pd.DataFrame({"k": [99]})
    )
    assert (
        suggest(si, "lord", key_filter=other_keys).count() == 0
    )
    good_keys = si.values.sparkSession.createDataFrame(pd.DataFrame({"k": [1]}))
    assert _suggestions(si, "lord") == [
        r["suggestion"] for r in suggest(si, "lord", key_filter=good_keys).collect()
    ]


def test_rerank_formula(si):
    """sortScore = distanceScore * score^2 * 2*matchScore with
    distanceScore = max(0, -ln(lev+1)/4 + 1)."""
    import math

    sugg = suggest(si, "lord of the rings")
    ranked = rank_suggestions(sugg, "lord of the rings").collect()
    assert ranked[0]["suggestion"] == "Lord of the rings"
    top = ranked[0]
    lev = 0  # exact match after lowercase
    expect_ds = max(0.0, -math.log(lev + 1) / 4 + 1)
    assert abs(top["distanceScore"] - expect_ds) < 1e-6
    assert top["matchScore"] == 4
    assert abs(top["sortScore"] - expect_ds * top["score"] ** 2 * 8) < 1e-4
