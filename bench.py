#!/usr/bin/env python3
"""Benchmark harness: index-build throughput + headline query latencies.

Default mode (driver contract): run at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; print ONE JSON line:
  {"metric": ..., "value": <total suite sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>,
   "segment_docs_per_sec": ..., "store_docs_per_sec": ...}

``segment_build_corpus`` and the ``wand_*`` heads build and query a
single-field store (``build_index_store(text_cols=["content"])``) of
the synthesized source-code corpus.

Scaling mode (BASELINE.md evidence): ``python3 bench.py --scaling [n]``
runs the identical single-field store build at two parallelism levels
(local[2] vs local[8]) in fresh JVMs and prints throughput + efficiency
(= (thr_4N / thr_N) / 4) as one JSON line.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR_DEFAULT = "/root/testdata/sf0.1"


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def build_spark(cores: int):
    from meresco_lucene_spark.session import get_spark

    return get_spark(
        app_name="mls-bench",
        cores=cores,
        shuffle_partitions=cores,
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def timed(fn) -> tuple[float, object]:
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def run_suite(spark, sf_dir: str, n_corpus: int) -> dict:
    """Interleaved best-of-N suite (VERDICT r2 #8): this sandbox's CPU
    delivery is bursty (2-4× run-to-run), so a single-run record can
    misstate the engine by 2×. Builds run MLS_BENCH_BUILD_REPEATS passes
    (default 2) and queries MLS_BENCH_REPEATS passes (default 3),
    interleaved pass-wise so one noisy-neighbor window can't hit every
    repeat of the same entry; `queries` carries the per-entry BEST and
    `runs` the full spread, so readers can see the noise."""
    import shutil
    import tempfile

    from meresco_lucene_spark import entry_queries
    from meresco_lucene_spark.corpus import synthesize_corpus
    from meresco_lucene_spark.index.store import build_index_store

    q_rep = int(os.environ.get("MLS_BENCH_REPEATS", "3"))
    b_rep = int(os.environ.get("MLS_BENCH_BUILD_REPEATS", "2"))
    runs: dict[str, list[float]] = {}

    def rec(name: str, t: float) -> None:
        runs.setdefault(name, []).append(round(t, 3))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    corpus = synthesize_corpus(spark, n_corpus, seed=42).persist()
    corpus.count()
    seg_dir = os.path.join(tempfile.gettempdir(), f"mls_bench_seg_{os.getpid()}")
    store_dir = os.path.join(tempfile.gettempdir(), f"mls_bench_store_{os.getpid()}")

    # --- builds, interleaved passes --------------------------------------
    seg = None
    for _ in range(b_rep):
        shutil.rmtree(seg_dir, ignore_errors=True)
        t, seg = timed(
            lambda: build_index_store(
                corpus, seg_dir, text_cols=["content"], n_shards=32, salt_buckets=8
            )
        )
        rec("segment_build_corpus", t)

        # the 100 TB path: tokenize exactly once at build; store queries
        # below reopen the handle over parquet — zero session-cached state
        shutil.rmtree(store_dir, ignore_errors=True)
        t, _ = timed(
            lambda: build_index_store(
                docs,
                store_dir,
                id_col="doc_id",
                text_cols=["text"],
                keyword_cols=["lang", "source"],
                facet_fields={"lang": ["lang"], "langsrc": ["lang", "source"]},
            )
        )
        rec("store_build_documents", t)

        # incremental refresh cost: the same docs as 3 append commits
        # (each tokenizes only its batch) + one union-reader term query
        from pyspark.sql import functions as F

        from meresco_lucene_spark.index.incremental import IncrementalIndexStore
        from meresco_lucene_spark.query.executor import hits
        from meresco_lucene_spark.query.ir import Q

        inc_dir = os.path.join(
            tempfile.gettempdir(), f"mls_bench_inc_{os.getpid()}"
        )
        shutil.rmtree(inc_dir, ignore_errors=True)
        third = max(n_docs // 3, 1)

        def _inc_commits():
            inc = IncrementalIndexStore(
                spark, inc_dir, text_cols=["text"], keyword_cols=["lang", "source"]
            )
            for lo in (0, third, 2 * third):
                hi = lo + third if lo < 2 * third else 1 << 60
                inc.commit_batch(
                    docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                )
            return inc

        t, inc = timed(_inc_commits)
        rec("inc_three_commits", t)
        # refresh cost of an UPDATE batch (delete-then-add): re-commit 10%
        # of the ids with changed text — the liveness tombstone path
        t, _ = timed(
            lambda: inc.commit_batch(
                docs.filter(F.col("doc_id") < max(n_docs // 10, 1)).withColumn(
                    "text", F.concat(F.col("text"), F.lit(" zzupdated"))
                )
            )
        )
        rec("inc_upsert_commit", t)
        # union reader over 4 generations WITH live tombstones in the plan
        t, _ = timed(
            lambda: hits(inc.open(), Q.term("text", "spark"))
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(10)
            .collect()
        )
        rec("inc_term_query", t)
        shutil.rmtree(inc_dir, ignore_errors=True)

    # the documents entries below read this store instead of building one
    entry_queries._BUILT[(*entry_queries._cache_key(spark, sf_dir), "store")] = store_dir

    # --- queries, interleaved passes -------------------------------------
    heads = [
        "term_bm25_top10",
        "bool_must_top10",
        "bool_should_top10",
        "phrase_match",
        "facet_lang",
        "dedup_by_lang",
        "prefix_search_terms",
        "similar_documents",
    ]
    store_heads = [
        "seg_term_bm25_top10",
        "seg_bool_must_top10",
        "seg_phrase_match",
        "seg_facet_lang",
    ]
    for _ in range(q_rep):
        for name in heads:
            fn = entry_queries.QUERIES[name]
            t, _ = timed(lambda fn=fn: fn(spark, sf_dir).collect())
            rec(name, t)
        t, _ = timed(lambda: seg.term_topk("content", "import", 10).collect())
        rec("wand_term_top10", t)
        t, _ = timed(lambda: seg.term_topk("content", "struct", 10).collect())
        rec("wand_term_top10_mid", t)
        t, _ = timed(lambda: seg.or_topk("content", ["import", "struct"], 10).collect())
        rec("wand_or_top10", t)
        t, _ = timed(lambda: seg.and_topk("content", ["import", "return"], 10).collect())
        rec("wand_and_top10", t)
        for name in store_heads:
            fn = entry_queries.QUERIES[name]
            t, _ = timed(lambda fn=fn: fn(spark, sf_dir).collect())
            rec(f"store_{name[4:]}", t)

    corpus.unpersist()
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(store_dir, ignore_errors=True)

    queries = {name: min(ts) for name, ts in runs.items()}
    total = round(sum(queries.values()), 3)
    return {
        "metric": "index_build_plus_query_suite",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "runs": runs,
        "repeats": {"build": b_rep, "query": q_rep},
        "timing": "per-entry best of interleaved passes (bursty-host hygiene)",
        "sf": _sf_of(sf_dir),
        "n_documents": n_docs,
        "n_corpus": n_corpus,
        "segment_docs_per_sec": round(n_corpus / queries["segment_build_corpus"], 1),
        "store_docs_per_sec": round(n_docs / queries["store_build_documents"], 1),
        "inc_commit_docs_per_sec": round(n_docs / queries["inc_three_commits"], 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR_DEFAULT)
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_corpus = int(os.environ.get("MLS_BENCH_CORPUS_ROWS", str(int(200_000 * _sf_of(sf_dir)))))
    n_corpus = max(n_corpus, 1000)
    spark = build_spark(cores)
    out = run_suite(spark, sf_dir, n_corpus)
    print(json.dumps(out))


def scaling_child(cores: int, n_corpus: int) -> None:
    """One measurement at a given parallelism: the single-field store
    build (docs/sec) plus a pure-JVM hardware-calibration microbench (an
    embarrassingly parallel xxhash aggregation) run in the same JVM —
    the calibration measures what THIS host actually delivers at that
    thread count (vCPU oversubscription / turbo effects), so job scaling
    can be normalized against the hardware ceiling.

    The PLAN is pinned across parallelism levels: shuffle partitions and
    shard count are fixed (32) at both N and 4N cores, so the two runs
    execute the identical task graph and only the executor thread count
    differs — the cluster analogy (same partitioning, more executors).
    Letting shuffle partitions track the core count made the low-core
    run aggregate in 2 oversized, spilling partitions, measuring the
    spill, not the scaling."""
    from meresco_lucene_spark.session import get_spark

    spark = get_spark(
        app_name="mls-bench-scaling",
        cores=cores,
        shuffle_partitions=32,
        driver_memory=os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from meresco_lucene_spark.corpus import synthesize_corpus
    from meresco_lucene_spark.index.store import build_index_store

    # calibration (warmup + measure)
    spark.range(10**7).agg(F.expr("bit_xor(xxhash64(id))")).collect()
    t0 = time.time()
    spark.range(10**10, numPartitions=cores * 4).agg(
        F.expr("bit_xor(xxhash64(id))")
    ).collect()
    calib = time.time() - t0

    seg_dir = os.path.join(tempfile.gettempdir(), f"mls_scale_seg_{cores}_{os.getpid()}")
    shutil.rmtree(seg_dir, ignore_errors=True)
    corpus = synthesize_corpus(spark, n_corpus, seed=42, partitions=32).persist()
    corpus.count()
    t0 = time.time()
    build_index_store(
        corpus, seg_dir, text_cols=["content"], n_shards=32, salt_buckets=8
    )
    dt = time.time() - t0
    shutil.rmtree(seg_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "cores": cores,
                "secs": round(dt, 2),
                "docs_per_sec": round(n_corpus / dt, 1),
                "calib_secs": round(calib, 2),
            }
        )
    )


def _run_child(cores: int, n_corpus: int) -> dict:
    p = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--scaling-child",
            str(cores),
            str(n_corpus),
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    lines = [l for l in p.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"scaling child local[{cores}] produced no JSON:\n{p.stdout}\n{p.stderr[-2000:]}"
        )
    r = json.loads(lines[-1])
    print(f"local[{cores}]: {r}", file=sys.stderr)
    return r


def scaling_main(n_corpus: int, lo: int = 2, hi: int = 8, repeats: int = 3) -> dict:
    """Interleaved lo/hi repeats (this sandbox's CPU delivery is bursty;
    best-of-N per level filters noisy-neighbor slowdowns), then report
    raw + hardware-normalized efficiency."""
    runs: dict[int, list[dict]] = {lo: [], hi: []}
    for _ in range(repeats):
        for cores in (lo, hi):
            runs[cores].append(_run_child(cores, n_corpus))
    best = {c: max(rs, key=lambda r: r["docs_per_sec"]) for c, rs in runs.items()}
    thr_n, thr_4n = best[lo]["docs_per_sec"], best[hi]["docs_per_sec"]
    job_speedup = thr_4n / thr_n
    hw_speedup = min(r["calib_secs"] for r in runs[lo]) / min(
        r["calib_secs"] for r in runs[hi]
    )
    # same-rep (back-to-back) pairs: the honest unit on this host — both
    # levels of a rep run inside the same measurement window.
    pair_eff = [
        round((runs[hi][i]["docs_per_sec"] / runs[lo][i]["docs_per_sec"]) / (hi / lo), 3)
        for i in range(len(runs[lo]))
    ]
    out = {
        "n_corpus": n_corpus,
        f"docs_per_sec_local{lo}": thr_n,
        f"docs_per_sec_local{hi}": thr_4n,
        "job_speedup": round(job_speedup, 3),
        "hardware_ceiling_speedup": round(hw_speedup, 3),
        "scaling_efficiency_raw": round(job_speedup / (hi / lo), 3),
        "scaling_efficiency_vs_hardware": round(job_speedup / hw_speedup, 3),
        "same_rep_pair_efficiency": pair_eff,
        "all_runs": {str(c): rs for c, rs in runs.items()},
    }
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling":
        scaling_main(int(sys.argv[2]) if len(sys.argv) > 2 else 40_000)
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-child":
        scaling_child(int(sys.argv[2]), int(sys.argv[3]))
    else:
        main()
