"""Text analysis: the engine's standard analyzer, as a vectorized Arrow UDF.

Reference semantics (public Lucene + reference source):
``MerescoStandardAnalyzer`` = ClassicTokenizer -> ClassicFilter ->
ASCIIFoldingFilter -> LowerCaseFilter
(reference: analysis/MerescoStandardAnalyzer.java:53-60).

The new engine's standard analyzer keeps the observable contract —
*tokenize, ASCII-fold, lowercase, index and query sides agree* — with a
deterministic word-character tokenizer ``[a-z0-9_]+`` over the folded,
lowercased text. The exact same rule is expressible in DuckDB
(``regexp_extract_all(lower(strip_accents(text)), '[a-z0-9_]+')``), which
is what makes every full-text operator oracle-checkable.

Suggestion-stack analyzers (reference suggestion/ShingleAnalyzer.java:46-51
and suggestion/NGramAnalyzer.java:50-79) map to :func:`shingles` (word
shingles min..max) and :func:`char_ngrams` ($-bounded char bi/tri-grams).

No per-row Python UDFs: :func:`tokenize_udf` is an Arrow-batched pandas
UDF; the regex scan runs through pandas' C string machinery per batch.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meresco_lucene_spark.columns import sql_literal

TOKEN_RE = re.compile(r"[a-z0-9_]+")
# DuckDB-equivalent tokenizer expression for oracle SQL generation.
DUCKDB_TOKENIZE = "regexp_extract_all(lower(strip_accents({col})), '[a-z0-9_]+')"


def ascii_fold(text: str) -> str:
    """Fold accented chars to ASCII (NFKD, drop combining marks).

    Mirrors the observable behavior of Lucene's ASCIIFoldingFilter for
    the common Latin accents (and DuckDB's strip_accents)."""
    if text.isascii():
        return text
    return "".join(
        c for c in unicodedata.normalize("NFKD", text) if not unicodedata.combining(c)
    )


def tokenize_text(text: str) -> list[str]:
    """Single-string tokenize (test/oracle-side mirror of the UDF)."""
    return TOKEN_RE.findall(ascii_fold(text).lower())


def _tokenize_series(s: pd.Series) -> pd.Series:
    s = s.fillna("")
    # Fast path: batches are usually pure ASCII; only fold the rows that need it.
    non_ascii = ~s.map(str.isascii)
    if non_ascii.any():
        s = s.copy()
        s[non_ascii] = s[non_ascii].map(ascii_fold)
    return s.str.lower().str.findall(TOKEN_RE)


@F.pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(s: pd.Series) -> pd.Series:
    """content:string -> array<string> of analyzed tokens (Arrow-batched)."""
    return _tokenize_series(s)


def _build_accent_map() -> tuple[str, str]:
    """(accented, plain) char pairs derived from the SAME ascii_fold used
    by the Python tokenizer, so the JVM translate()-based tokenizer is
    fold-identical by construction for all single-char Latin folds."""
    src, dst = [], []
    for cp in range(0x00C0, 0x0250):
        c = chr(cp)
        f = ascii_fold(c)
        if f != c and len(f) == 1 and f.isascii():
            src.append(c)
            dst.append(f)
    return "".join(src), "".join(dst)


_ACCENT_SRC, _ACCENT_DST = _build_accent_map()


def tokenize_sql(col: str) -> str:
    """JVM-side tokenizer, as the SQL text of an expression over the SQL
    expression ``col``: identical contract to :func:`tokenize_udf`
    (fold -> lower -> [a-z0-9_]+ runs) but pure Catalyst expressions —
    whole-stage codegen, no Python workers in the scan. This is the
    build hot path; the pandas UDF remains for exotic multi-char folds
    (none exist in the NFKD single-char range covered here). Written as
    SQL so a build plans it in one py4j call, not one per function.

    Fold BEFORE lowering: some accented uppercase chars lowercase to
    multi-codepoint strings (e.g. U+0130), which would misalign the
    translate() src/dst pairing."""
    src, dst = sql_literal(_ACCENT_SRC), sql_literal(_ACCENT_DST)
    return f"regexp_extract_all(lower(translate({col}, {src}, {dst})), '[a-z0-9_]+', 0)"


def tokenize_expr(col: str) -> Column:
    """:func:`tokenize_sql` over the column named ``col``."""
    return F.expr(tokenize_sql(f"`{col}`"))


def shingles(tokens: list[str], min_size: int = 2, max_size: int = 4) -> list[str]:
    """Word shingles min..max joined by single spaces, POSITION-MAJOR:
    at each token position emit the unigram (Lucene's ShingleFilter keeps
    them by default) then the 2..max_size-grams starting there.

    Contract of the reference's ShingleAnalyzer
    (suggestion/ShingleAnalyzer.java:46-51); order golden from
    SuggestionIndexTest.java:158-159: shingles('lord of the rings', 2, 4)
    = [lord, lord of, lord of the, lord of the rings, of, of the,
       of the rings, the, the rings, rings]."""
    out: list[str] = []
    lo = max(min_size, 2)
    for i in range(len(tokens)):
        out.append(tokens[i])
        for n in range(lo, max_size + 1):
            if i + n <= len(tokens):
                out.append(" ".join(tokens[i : i + n]))
    return out


def char_ngrams(term: str, min_n: int = 2, max_n: int = 3) -> list[str]:
    """$-bounded char n-grams per word, per NGramAnalyzer.java:50-79:
    each word is wrapped as ``$word$`` then char 2/3-grams are emitted."""
    out: list[str] = []
    for word in term.split():
        bounded = f"${word}$"
        for n in range(min_n, max_n + 1):
            for i in range(len(bounded) - n + 1):
                out.append(bounded[i : i + n])
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def shingles_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda t: shingles(list(t)))


@F.pandas_udf(T.ArrayType(T.StringType()))
def char_ngrams_udf(terms: pd.Series) -> pd.Series:
    return terms.map(lambda t: char_ngrams(t))
