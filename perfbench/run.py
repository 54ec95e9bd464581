#!/usr/bin/env python3
"""The engine benchmark: one workload per process, in a fresh Spark JVM.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The run measures for ``--seconds``
(search_mix finishes the deck of queries it is in), checks every answer
against an oracle computed from the generated inputs, and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones;
``--trace 1`` wraps the engine's public functions in spans and reports
the per-layer metrics instead. The line before it holds the details:
input statistics, the tail percentile and its sample count, the error
rate and, traced, the end-to-end metric each layer metric maps to.

Everything the run writes (Spark local dirs, temp files, index stores)
lives under ``.bench_tmp/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# metric -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "commit_p50_ms": "ms",
    "ingest_docs_per_s": "docs/s",
    "build_docs_per_s": "docs/s",
    "store_bytes_per_input_byte": "ratio",
    "spark_jobs_per_op": "count",
    "input_bytes_per_op": "bytes",
    "shuffle_bytes_per_op": "bytes",
    "peak_rss_mb": "MiB",
}
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the highest percentile that
    has at least TAIL_BEYOND samples above it. A run with fewer than
    4 * TAIL_BEYOND samples keeps a quarter of them (at least one) above
    it instead, so the tail never falls to the median and is never the
    single slowest sample, whose run-to-run spread is the widest."""
    xs = sorted(samples)
    n = len(xs)
    beyond = min(TAIL_BEYOND, max(1, n // 4))
    rank = max(1, n - beyond)  # 1-based rank with `beyond` samples above
    return xs[rank - 1], 100.0 * rank / n, n


def end_to_end(workload: str, st, status, rss_mb: float) -> tuple[dict, dict]:
    from perfbench.sparkstats import SparkCounts

    med = statistics.median
    queries = [o.seconds for o in st.ops if o.kind == "query"]
    unit_kind = "commit" if workload == "ingest_refresh" else "query"
    units = sum(1 for o in st.ops if o.kind == unit_kind)
    total = SparkCounts()
    for o in st.ops:
        if o.kind in ("query", "commit"):
            total.add(status.counts(o.wm0, o.wm1))
    tail_v, tail_p, n = tail(queries)
    # the set-up load is the run's only store build, on a cold JVM, as a
    # user's first build in a new process is
    build_s = st.setup_build
    if workload == "ingest_refresh":
        commit_s = med(st.commit_seconds)
        ingest = st.writer_docs / st.writer_seconds
    else:
        # search_mix writes only in set-up: each store build is one commit
        commit_s = build_s
        ingest = st.docs_per_build / st.setup_load
    values = {
        "setup_s": st.setup_load + st.setup_once,
        "query_p50_ms": med(queries) * 1e3,
        "query_tail_ms": tail_v * 1e3,
        "commit_p50_ms": commit_s * 1e3,
        "ingest_docs_per_s": ingest,
        "build_docs_per_s": st.docs_per_build / build_s,
        "store_bytes_per_input_byte": st.store_bytes / st.input_bytes,
        "spark_jobs_per_op": total.jobs / units,
        "input_bytes_per_op": total.input_bytes / units,
        "shuffle_bytes_per_op": total.shuffle_bytes / units,
        "peak_rss_mb": rss_mb,
    }
    details = {
        "query_tail_percentile": tail_p,
        "query_samples": n,
        "query_ms": [[o.cls, round(o.seconds * 1e3, 1)] for o in st.ops if o.kind == "query"],
        "operations_per_unit": unit_kind,
        "units": units,
        "setup_load_s": st.setup_load,
        "setup_build_s": st.setup_build,
        "setup_once_s": st.setup_once,
    }
    return values, details


def _span_cost_s(watermark) -> float:
    """Cost of opening and closing one span, measured on a scratch
    tracer: the tracing overhead added to every wrapped call."""
    from perfbench.trace import Tracer

    t = Tracer(watermark)
    n = 500
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("calibrate", "bench"):
            pass
    return (time.perf_counter() - t0) / n


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the checkout root, not this directory: the engine and the perfbench
    # package import from there, and perfbench/trace.py must not shadow
    # the standard library's trace module
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]
    try:
        import meresco_lucene_spark  # noqa: F401  the engine under test
        from perfbench import layers, workloads
        from perfbench.sparkstats import bench_session, peak_rss_mb, stop_session
        from perfbench.trace import Tracer
    except ImportError as e:
        print(f"cannot import the engine or the benchmark: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts first: no perf-data file
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    spark = None
    try:
        spark = bench_session(work, max(1, len(os.sched_getaffinity(0)) // 2))
        client = workloads.Client(spark, os.path.join(work, "stores"), args.seed, args.seconds)
        tracer = None
        if args.trace:
            tracer = Tracer(client.status.watermark)
            tracer.install()
            client.tracer = tracer
        st = workloads.WORKLOADS[args.workload](client).run()
        client.status.collect()
        rss = peak_rss_mb(spark)
        e2e, details = end_to_end(args.workload, st, client.status, rss)
        attempted = len(st.ops)
        failed = sum(1 for o in st.ops if not o.ok)
        details.update(
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
            inputs=st.input_stats,
            error_rate=failed / attempted,
        )
        if args.trace:
            values = layers.layer_values(tracer, client.status, st, _span_cost_s(client.status.watermark))
            metrics = {k: {"value": values[k], "unit": layers.LAYER_METRICS[k][0]} for k in layers.LAYER_METRICS}
            details["traced_end_to_end"] = e2e
            details["layer_map"] = {k: m[2] for k, m in layers.LAYER_METRICS.items()}
            details["spans"] = tracer.dump()
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_tmp"))
        except OSError:
            pass
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
