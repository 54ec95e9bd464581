"""Deterministic synthetic source-code corpus (BASELINE.json input_hint).

Schema: (repo string, path string, commit string, lang string,
content string) — the Iceberg source-code table shape the north rule
mandates. Generation is pure and seeded: row i is a function of (seed, i)
only, so the same (seed, n_rows) always yields byte-identical content —
the per-row sha256(content) invariant is checkable against a manifest
(and re-checkable after any repartition/resume).

Content mixes hot terms ('import', 'return', 'def', ...) at Zipfian
frequency with unique identifiers sym_{i}_{j}, guaranteeing the skewed
hot-term posting lists the salted sharding in index/store.py exists
for (SURVEY.md §7.3).

Generation is distributed: spark.range(n) -> mapInPandas with
numpy-vectorized token sampling; no driver-side loops, scales linearly
with partitions.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

LANGS = ["py", "java", "js", "go", "rs", "c"]
EXT = {l: l for l in LANGS}

HOT_TERMS = [
    "import", "return", "def", "class", "public", "static", "void", "self",
    "function", "const", "let", "var", "func", "struct", "impl", "fn",
    "include", "int", "for", "while", "if", "else", "true", "false", "none",
    "null", "new", "this", "print", "len", "range", "str", "list", "dict",
    "map", "err", "error", "nil", "type", "interface", "package", "module",
    "export", "async", "await", "try", "except", "catch", "finally", "raise",
]
# Zipf-ish weights: w_k ∝ 1/(k+1)
_W = 1.0 / (np.arange(len(HOT_TERMS)) + 1.0)
HOT_P = _W / _W.sum()

MEAN_TOKENS = 120


_HOT_CUM = np.cumsum(HOT_P)
_HOT_ARR = np.array(HOT_TERMS, dtype=object)


def _make_rows(seed: int, ids: np.ndarray) -> pd.DataFrame:
    n = len(ids)
    repos = np.array([f"org{i % 7}/repo{i % 101}" for i in ids])
    langs = np.array([LANGS[i % len(LANGS)] for i in ids])
    paths = np.array(
        [f"src/dir{i % 13}/file{i}.{EXT[LANGS[i % len(LANGS)]]}" for i in ids]
    )
    commits = np.array(
        [
            hashlib.sha1(f"{repos[j]}|{paths[j]}|{ids[j]}".encode()).hexdigest()
            for j in range(n)
        ]
    )
    contents = []
    for i in ids:
        # Counter-based Philox per row id: order- and partition-independent.
        rng = np.random.Generator(np.random.Philox(key=seed, counter=int(i)))
        n_tok = int(rng.integers(MEAN_TOKENS // 2, MEAN_TOKENS * 3 // 2 + 1))
        hot_mask = rng.random(n_tok) < 0.7
        hot_idx = np.searchsorted(_HOT_CUM, rng.random(n_tok), side="right")
        toks = _HOT_ARR[np.minimum(hot_idx, len(HOT_TERMS) - 1)].copy()
        for k in np.flatnonzero(~hot_mask):
            toks[k] = f"sym_{i}_{k}"
        lines = [" ".join(toks[s : s + 8]) for s in range(0, n_tok, 8)]
        contents.append("\n".join(lines))
    return pd.DataFrame(
        {
            "repo": repos,
            "path": paths,
            "commit": commits,
            "lang": langs,
            "content": contents,
        }
    )


def synthesize_corpus(
    spark: SparkSession, n_rows: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus of n_rows source files with a
    stable doc_id = row index (pure function of (repo, path, commit)
    ordering by construction — SURVEY.md §7.3 'stable doc_ids')."""
    base = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy()
            out = _make_rows(seed, ids)
            out.insert(0, "doc_id", ids)
            yield out

    return base.mapInPandas(
        gen,
        schema="doc_id long, repo string, path string, commit string, lang string, content string",
    )


def content_for_row(seed: int, i: int) -> str:
    """Driver-side single-row regeneration (manifest/spot checks)."""
    return _make_rows(seed, np.array([i]))["content"].iloc[0]


def manifest_sha256(seed: int, ids: list[int]) -> dict[int, str]:
    """Expected sha256(content) per row id, computed independently of
    Spark — the per-row invariant from BASELINE.json input_hint."""
    return {
        int(i): hashlib.sha256(content_for_row(seed, int(i)).encode()).hexdigest()
        for i in ids
    }
