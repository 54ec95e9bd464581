#!/usr/bin/env python3
"""Round-6 optimization profiling harness (bench.py is FROZEN; extra
measurements live here, cited from OPTIMIZATION_r06.md).

Modes:
  python3 bench_extra.py segments   # per-stage timing of build_segments
  python3 bench_extra.py store      # per-stage timing of build_index_store
  python3 bench_extra.py inc        # per-commit timing of the incremental path
  python3 bench_extra.py queries    # noop-sink isolation of the query entries
  python3 bench_extra.py wand       # wand or/and path timing
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_CORPUS = int(os.environ.get("MLS_BENCH_CORPUS_ROWS", "20000"))


def get_spark():
    from meresco_lucene_spark.session import get_spark as gs

    return gs(
        app_name="mls-bench-extra",
        cores=CORES,
        shuffle_partitions=CORES,
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def t(label, fn):
    t0 = time.time()
    out = fn()
    print(f"  {label}: {time.time() - t0:.3f}s", flush=True)
    return out


def profile_segments(spark):
    from meresco_lucene_spark.corpus import synthesize_corpus
    from meresco_lucene_spark.index.segments import build_segments

    corpus = synthesize_corpus(spark, N_CORPUS, seed=42).persist()
    corpus.count()
    for rep in range(2):
        d = tempfile.mkdtemp(prefix="mls_prof_seg_")
        t0 = time.time()
        build_segments(corpus, d, n_shards=32, salt_buckets=8)
        print(f"build_segments rep{rep}: {time.time() - t0:.3f}s", flush=True)
        shutil.rmtree(d, ignore_errors=True)
    corpus.unpersist()


def profile_store(spark):
    from meresco_lucene_spark.index.store import build_index_store

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for rep in range(2):
        d = tempfile.mkdtemp(prefix="mls_prof_store_")
        t0 = time.time()
        build_index_store(
            docs, d, id_col="doc_id", text_cols=["text"],
            keyword_cols=["lang", "source"],
            facet_fields={"lang": ["lang"], "langsrc": ["lang", "source"]},
        )
        print(f"build_index_store rep{rep}: {time.time() - t0:.3f}s", flush=True)
        shutil.rmtree(d, ignore_errors=True)


def profile_inc(spark):
    from pyspark.sql import functions as F

    from meresco_lucene_spark.index.incremental import IncrementalIndexStore
    from meresco_lucene_spark.query.executor import hits
    from meresco_lucene_spark.query.ir import Q

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    third = max(n_docs // 3, 1)
    for rep in range(2):
        d = tempfile.mkdtemp(prefix="mls_prof_inc_")
        inc = IncrementalIndexStore(
            spark, d, text_cols=["text"], keyword_cols=["lang", "source"]
        )
        for j, lo in enumerate((0, third, 2 * third)):
            hi = lo + third if lo < 2 * third else 1 << 60
            t(f"rep{rep} commit{j}", lambda lo=lo, hi=hi: inc.commit_batch(
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            ))
        t(f"rep{rep} upsert", lambda: inc.commit_batch(
            docs.filter(F.col("doc_id") < max(n_docs // 10, 1)).withColumn(
                "text", F.concat(F.col("text"), F.lit(" zzupdated"))
            )
        ))
        t(f"rep{rep} term_query", lambda: hits(inc.open(), Q.term("text", "spark"))
          .orderBy(F.col("score").desc(), F.col("doc_id").asc())
          .limit(10).collect())
        shutil.rmtree(d, ignore_errors=True)


def profile_queries(spark):
    from meresco_lucene_spark import entry_queries

    names = [
        "term_bm25_top10", "bool_must_top10", "bool_should_top10",
        "phrase_match", "facet_lang", "dedup_by_lang", "prefix_search_terms",
        "similar_documents",
        "seg_term_bm25_top10", "seg_bool_must_top10", "seg_phrase_match",
        "seg_facet_lang",
    ]
    # warm the caches (index build + store build) outside timing
    entry_queries.get_index(spark, SF_DIR)
    entry_queries.get_persistent_index(spark, SF_DIR)
    for _ in range(3):
        for name in names:
            fn = entry_queries.QUERIES[name]
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            print(f"  {name}: {time.time() - t0:.3f}s", flush=True)


def profile_wand(spark):
    from meresco_lucene_spark.corpus import synthesize_corpus
    from meresco_lucene_spark.index.segments import build_segments

    corpus = synthesize_corpus(spark, N_CORPUS, seed=42).persist()
    corpus.count()
    d = tempfile.mkdtemp(prefix="mls_prof_wand_")
    seg = build_segments(corpus, d, n_shards=32, salt_buckets=8)
    corpus.unpersist()
    for _ in range(3):
        t("term_topk(import)", lambda: seg.term_topk("import", 10).collect())
        t("or_topk(import,struct)", lambda: seg.or_topk(["import", "struct"], 10).collect())
        t("and_topk(import,return)", lambda: seg.and_topk(["import", "return"], 10).collect())
    shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "segments"
    spark = get_spark()
    {
        "segments": profile_segments,
        "store": profile_store,
        "inc": profile_inc,
        "queries": profile_queries,
        "wand": profile_wand,
    }[mode](spark)
