"""Analyzer goldens, recast from the reference's MerescoStandardAnalyzer
semantics (analysis/MerescoStandardAnalyzer.java:53-60: tokenize ->
ASCII-fold -> lowercase; index and query side agree) and the suggestion
analyzers (ShingleAnalyzer.java:46-51, NGramAnalyzer.java:50-79)."""

from meresco_lucene_spark.analysis.tokenizer import (
    ascii_fold,
    char_ngrams,
    shingles,
    tokenize_text,
)


def test_lowercase_and_split():
    assert tokenize_text("Hello, World!") == ["hello", "world"]


def test_ascii_fold():
    assert ascii_fold("café Ünïcodé") == "cafe Unicode"
    assert tokenize_text("Café CRÈME") == ["cafe", "creme"]


def test_underscores_and_digits_kept():
    assert tokenize_text("sym_12_3 foo2bar") == ["sym_12_3", "foo2bar"]


def test_empty_and_punct_only():
    assert tokenize_text("") == []
    assert tokenize_text("!!! ... ---") == []


def test_shingles_min2_max3():
    # ShingleAnalyzer contract: unigrams kept, plus 2..3-grams,
    # position-major (Lucene ShingleFilter emission order).
    toks = ["a", "b", "c"]
    out = shingles(toks, 1, 3)
    assert out == ["a", "a b", "a b c", "b", "b c", "c"]


def test_shingles_reference_golden():
    # SuggestionIndexTest.java:158-159: index.shingles("Lord of the rings")
    out = shingles(tokenize_text("Lord of the rings"), 2, 4)
    assert out == [
        "lord", "lord of", "lord of the", "lord of the rings",
        "of", "of the", "of the rings",
        "the", "the rings",
        "rings",
    ]


def test_char_ngrams_bounded():
    # NGramAnalyzer: '$word$' boundary-marked 2/3-grams.
    assert char_ngrams("ab", 2, 3) == ["$a", "ab", "b$", "$ab", "ab$"]


def test_tokenize_expr_matches_python(spark):
    """The JVM translate()-based tokenizer must agree with the Python
    tokenizer on ASCII, accents, digits, underscores, punctuation."""
    import pandas as pd

    from meresco_lucene_spark.analysis.tokenizer import tokenize_expr

    texts = [
        "Hello, World!",
        "café Ünïcodé CRÈME brûlée",
        "",
        "sym_1 sym_2 sym_1",
        "a-b_c.d e|f",
        "ÀÉÎÕÜ àéîõü ñÑ çÇ",
        "tabs\tand\nnewlines",
    ]
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    got = [r[0] for r in df.select(tokenize_expr("t")).collect()]
    assert got == [tokenize_text(t) for t in texts]


def test_quantize_expr_matches_numpy(spark):
    import pandas as pd

    from meresco_lucene_spark.query.bm25 import quantize_dl, quantize_dl_expr

    vals = list(range(0, 300)) + [1000, 4095, 4096, 65535, 10**6, 2**30]
    df = spark.createDataFrame(pd.DataFrame({"dl": vals}))
    got = [r[0] for r in df.select(quantize_dl_expr("dl")).collect()]
    import numpy as np

    assert got == quantize_dl(np.array(vals)).tolist()


def test_tokenize_udf_matches_python(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from meresco_lucene_spark.analysis.tokenizer import tokenize_udf

    texts = ["Hello, World!", "café Ünïcodé", "", "sym_1 sym_2 sym_1"]
    df = spark.createDataFrame(pd.DataFrame({"t": texts}))
    got = [r[0] for r in df.select(tokenize_udf(F.col("t"))).collect()]
    assert got == [tokenize_text(t) for t in texts]
