#!/usr/bin/env python3
"""Capture .explain("formatted") for the round-6 touched queries.

Usage: python3 tools/capture_plans.py <repo_root> <suffix> <out_dir>
  repo_root: tree whose engine to load (round-start checkout for
             "before", the working tree for "after")
  suffix:    "before" | "after"
  out_dir:   where <query>_<suffix>.txt files land

Runs over sf0.01 (small, deterministic); the plan SHAPE (Exchange count,
join strategy, Python-eval nodes, pushed filters) is what the files are
for, not timings.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

repo, suffix, out_dir = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)
os.makedirs(out_dir, exist_ok=True)

from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.driver.memory", "8g")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.host", "127.0.0.1")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

from meresco_lucene_spark import entry_queries  # noqa: E402

SF = "/root/testdata/sf0.01"

NAMES = [
    "term_bm25_top10",
    "bool_must_top10",
    "bool_should_top10",
    "phrase_match",
    "facet_lang",
    "dedup_by_lang",
    "prefix_search_terms",
    "similar_documents",
    "seg_term_bm25_top10",
    "seg_bool_must_top10",
    "seg_phrase_match",
    "seg_facet_lang",
    "inc_term_bm25_top10",
    "inc_phrase_match",
    "inc_bool_must_top10",
    "inc_facet_lang",
]


def dump(name: str, df) -> None:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(buf.getvalue())
    print("captured", name, flush=True)


for name in NAMES:
    try:
        dump(name, entry_queries.QUERIES[name](spark, SF))
    except Exception as exc:  # noqa: BLE001
        print("FAILED", name, exc, flush=True)

# wand paths over a single-field store (the bench's wand_* heads)
try:
    import tempfile

    from meresco_lucene_spark.corpus import synthesize_corpus
    from meresco_lucene_spark.index.store import (
        build_index_store,
        open_persistent_index,
    )

    corpus = synthesize_corpus(spark, 2000, seed=42).persist()
    corpus.count()
    d = tempfile.mkdtemp(prefix="mls_plan_seg_")
    build_index_store(corpus, d, text_cols=["content"], n_shards=8, salt_buckets=4)
    corpus.unpersist()
    seg = open_persistent_index(spark, d)
    dump("wand_term_top10", seg.term_topk("content", "import", 10))
    dump("wand_or_top10", seg.or_topk("content", ["import", "struct"], 10))
    dump("wand_and_top10", seg.and_topk("content", ["import", "return"], 10))
except Exception as exc:  # noqa: BLE001
    print("FAILED wand", exc, flush=True)
print("done", flush=True)
