"""Production entry point: ``spark-submit --py-files mls.zip submit_job.py``.

The north rule ships the engine as ``spark-submit --py-files`` onto a
multi-executor cluster. This script is that job: it imports the engine
ONLY from the shipped zip (it lives outside the package on purpose —
run it from any cwd), synthesizes the deterministic source-code corpus
(BASELINE.json input_hint shape), builds a single-field term-sharded
persistent store of its content, reopens it, runs BM25 top-k queries
over it, verifies the per-row sha256(content) invariant on a sample,
and prints ONE JSON line so a scheduler (or tests/test_spark_submit.py)
can assert on the result.

Usage:
  spark-submit --master local[4] --py-files /tmp/mls.zip \
      tools/submit_job.py --n 800 --out /tmp/seg_store --seed 42
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=800)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    ap.add_argument("--term", default="import")
    ap.add_argument("--or-terms", default="return,struct")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--n-shards", type=int, default=4)
    ap.add_argument("--sha-sample", type=int, default=25)
    args = ap.parse_args()

    # Engine modules resolve from --py-files (this file is NOT inside
    # the package; a bare checkout without the zip would fail here).
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from meresco_lucene_spark.corpus import manifest_sha256, synthesize_corpus
    from meresco_lucene_spark.index.store import (
        build_index_store,
        open_persistent_index,
    )
    from meresco_lucene_spark.session import session_defaults, shuffle_partitions_for

    # The engine's session defaults, under whatever the submit's --conf
    # flags set. Those flags live in spark-submit's JVM, so connect to it
    # first: only then is SparkConf() backed by the JVM's conf (before,
    # it is an empty Python dict). Shuffle partitions follow the
    # cluster's task slots unless --conf sets them.
    SparkContext._ensure_initialized()
    submitted = SparkConf()
    defaults = session_defaults()
    missing = {k: v for k, v in defaults.items() if not submitted.contains(k)}
    spark = SparkSession.builder.appName("mls_submit_job").config(map=missing).getOrCreate()
    if not submitted.contains("spark.sql.shuffle.partitions"):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions_for(spark.sparkContext.defaultParallelism)),
        )
    try:
        corpus = synthesize_corpus(spark, args.n, seed=args.seed)

        shutil.rmtree(args.out, ignore_errors=True)
        build_index_store(
            corpus, args.out, text_cols=["content"], n_shards=args.n_shards,
            salt_buckets=4,
        )
        idx = open_persistent_index(spark, args.out)

        def topk(df):
            return [
                [int(r["doc_id"]), round(float(r["score"]), 6)]
                for r in df.orderBy(
                    F.col("score").desc(), F.col("doc_id").asc()
                ).collect()
            ]

        term_top = topk(idx.term_topk("content", args.term, k=args.k))
        or_terms = [t for t in args.or_terms.split(",") if t]
        or_top = topk(idx.or_topk("content", or_terms, k=args.k))

        # Per-row content sha256 invariant (input_hint): Spark-side
        # hashes vs the driver-side manifest on an even-spread sample.
        sample_ids = list(range(0, args.n, max(args.n // args.sha_sample, 1)))
        expected = manifest_sha256(args.seed, sample_ids)
        got = {
            int(r["doc_id"]): r["h"]
            for r in corpus.filter(F.col("doc_id").isin(sample_ids))
            .select("doc_id", F.sha2(F.col("content"), 256).alias("h"))
            .collect()
        }
        sha_ok = got == expected

        lineage = spark.read.parquet(f"{args.out}/lineage")
        print(
            json.dumps(
                {
                    "n": args.n,
                    "seed": args.seed,
                    "n_shards_built": lineage.select("shard").distinct().count(),
                    "term": args.term,
                    "term_topk": term_top,
                    "or_terms": or_terms,
                    "or_topk": or_top,
                    "sha_ok": sha_ok,
                    "sha_checked": len(sample_ids),
                    "conf": {
                        k: spark.conf.get(k)
                        for k in [*defaults, "spark.sql.shuffle.partitions"]
                    },
                }
            ),
            flush=True,
        )
        return 0 if sha_ok else 2
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
