"""Exact Lucene-8 BM25 scoring semantics, as Catalyst column expressions.

Lucene 8.x BM25 (public semantics; reference pins Lucene 8.9.0 via
build.sh:28 and defaults to BM25Similarity in LuceneSettings.java:53):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfNorm   = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score    = boost * idf * tfNorm

Notes on parity (SURVEY.md §1.4):
- the classic ``(k1+1)`` numerator factor is GONE in Lucene 8 (it is a
  monotonic rescale, ranks unchanged) — we follow Lucene 8;
- ``avgdl = sumTotalTermFreq / docCount``;
- Lucene quantizes ``dl`` through the SmallFloat int4 norm encoding at
  index time. For bit-parity with a Lucene index we store both the raw
  ``dl`` and the quantized ``norm_dl = int4_decode(int4_encode(dl))`` in
  doc_stats and let the caller pick (``quantized=True`` reproduces
  Lucene; ``False`` is the oracle-friendly exact-length variant);
- BooleanQuery score = sum of matching scoring-clause scores;
- tie-break = ascending doc id.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def small_float_int4_encode(values: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat.intToByte4: lossy monotone uint -> 1 byte.

    Values < 8 are exact; larger values keep a 3-bit mantissa (plus the
    implicit high bit) and a 5-bit exponent field (shift+1)."""
    v = np.asarray(values, dtype=np.int64)
    if (v < 0).any():
        raise ValueError("norms must be non-negative")
    bitlen = np.zeros(v.shape, dtype=np.int64)
    x = v.copy()
    for s in (32, 16, 8, 4, 2, 1):
        mask = x >= (1 << s)
        bitlen[mask] += s
        x[mask] >>= s
    bitlen = bitlen + 1  # floor(log2)+1 for v>0; v==0 handled below
    bitlen[v == 0] = 0
    shift = np.maximum(bitlen - 4, 0)
    encoded = np.where(
        bitlen < 4,
        v,
        ((v >> shift) & 0x07) | ((shift + 1) << 3),
    )
    return np.minimum(encoded, 255).astype(np.int64)


def small_float_int4_decode(encoded: np.ndarray) -> np.ndarray:
    """Lucene SmallFloat.byte4ToInt."""
    e = np.asarray(encoded, dtype=np.int64)
    bits = e & 0x07
    shift = (e >> 3) - 1
    return np.where(shift < 0, bits, (bits | 0x08) << np.maximum(shift, 0)).astype(np.int64)


def quantize_dl(dl: np.ndarray) -> np.ndarray:
    """dl -> the document length Lucene's BM25 actually sees after the
    norm byte round-trip."""
    return small_float_int4_decode(small_float_int4_encode(dl))


def quantize_dl_sql(dl: str) -> str:
    """JVM-twin of :func:`quantize_dl` (SmallFloat int4 round-trip), as
    the SQL text of an expression over the SQL expression ``dl``: bit
    length via length(bin(x)) is exact (no floating log), so this
    matches the numpy version bit-for-bit.
    quantized = ((dl >> shift) & 7 | 8) << shift, shift = bitlen - 4."""
    shift = f"(length(bin({dl})) - 4)"
    return (
        f"CASE WHEN {dl} < 8 THEN {dl} "
        f"ELSE shiftleft(((shiftright({dl}, {shift}) & 7) | 8), {shift}) END"
    )


def quantize_dl_expr(dl: str) -> Column:
    """:func:`quantize_dl_sql` over the column named ``dl``."""
    return F.expr(quantize_dl_sql(f"`{dl}`"))


def idf_expr(df_col: Column, n_docs: Column | int) -> Column:
    n = F.lit(n_docs) if not isinstance(n_docs, Column) else n_docs
    return F.log(
        F.lit(1.0)
        + (n.cast("double") - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def tf_norm_expr(
    tf_col: Column,
    dl_col: Column,
    avgdl: Column | float,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> Column:
    a = F.lit(avgdl) if not isinstance(avgdl, Column) else avgdl
    denom = tf_col + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * dl_col.cast("double") / a
    )
    return tf_col.cast("double") / denom


def bm25_score_expr(
    tf_col: Column,
    df_col: Column,
    dl_col: Column,
    n_docs: Column | int,
    avgdl: Column | float,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    boost: float = 1.0,
) -> Column:
    score = idf_expr(df_col, n_docs) * tf_norm_expr(tf_col, dl_col, avgdl, k1, b)
    if boost != 1.0:
        score = score * F.lit(boost)
    return score


def bm25_score_numpy(
    tf: np.ndarray,
    df: np.ndarray,
    dl: np.ndarray,
    n_docs: int,
    avgdl: float,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
    boost: float = 1.0,
    idf: np.ndarray | float | None = None,
) -> np.ndarray:
    """Numpy twin of :func:`bm25_score_expr`, in its operation order.

    ``idf``: the terms' idf when the caller has it (the driver route of
    query/driver.py takes it from the JVM's ``StrictMath.log``, which
    Spark's ``log`` is; numpy's ``log`` differs from it in the last bit
    for some arguments). ``b=0`` gives the omitted-norms form
    ``tf / (tf + k1)`` bit for bit."""
    if idf is None:
        idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    tfn = tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
    score = idf * tfn
    return score if boost == 1.0 else score * boost


# ---------------------------------------------------------------------------
# TermFrequencySimilarity (reference search/TermFrequencySimilarity.java:40-58):
# score = min(tf, 1000) / 1000 * boost, norms disabled. Used by fixture coreC.
# ---------------------------------------------------------------------------

def term_frequency_score_expr(tf_col: Column, boost: float = 1.0) -> Column:
    return F.least(tf_col.cast("double"), F.lit(1000.0)) / F.lit(1000.0) * F.lit(boost)


def term_frequency_score_numpy(tf: np.ndarray, boost: float = 1.0) -> np.ndarray:
    """Numpy twin of :func:`term_frequency_score_expr`."""
    return np.minimum(tf, 1000.0) / 1000.0 * boost
