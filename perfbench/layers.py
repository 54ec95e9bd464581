"""Per-layer metrics of a traced run, and the end-to-end metric each
one should move (written down before any change is measured)."""

from __future__ import annotations

import statistics

from perfbench.sparkstats import SparkCounts
from perfbench.trace import LAYERS

QUERY_CLASSES = (
    "term_hot", "term_mid", "term_rare", "and", "or",
    "phrase", "prefix", "facet", "sort_page", "dedup",
)
WAND_KINDS = ("term", "or", "and")
SM, IR = "search_mix", "ingest_refresh"

# metric -> (unit, better, [(end-to-end metric, workload), ...])
LAYER_METRICS: dict[str, tuple[str, str, list[tuple[str, str]]]] = {
    "core.addDocument_us": ("us", "lower", [("ingest_docs_per_s", IR)]),
    "core.commit_ms": ("ms", "lower", [("commit_p50_ms", IR)]),
    "core.commit_jobs": ("count", "lower", [("commit_p50_ms", IR)]),
    "core.executeQuery_ms": ("ms", "lower", [("query_p50_ms", IR)]),
    "core.executeQuery_jobs": ("count", "lower", [("query_p50_ms", IR)]),
    "index.incremental.commit_batch_ms": ("ms", "lower", [("commit_p50_ms", IR)]),
    "index.incremental.commit_batch_jobs": ("count", "lower", [("commit_p50_ms", IR)]),
    "index.incremental.maybe_merge_ms": ("ms", "lower", [("ingest_docs_per_s", IR), ("query_tail_ms", IR)]),
    "index.incremental.merges": ("count", "lower", [("ingest_docs_per_s", IR), ("query_tail_ms", IR)]),
    "index.incremental.merge_jobs": ("count", "lower", [("ingest_docs_per_s", IR), ("query_tail_ms", IR)]),
    "index.incremental.open_ms": ("ms", "lower", [("query_p50_ms", IR)]),
    "index.incremental.generations": ("count", "lower", [("query_p50_ms", IR)]),
    "index.incremental.tombstone_bytes": ("bytes", "lower", [("store_bytes_per_input_byte", IR)]),
    "index.store.build_ms": ("ms", "lower", [("build_docs_per_s", SM), ("setup_s", SM)]),
    "index.store.build_jobs": ("count", "lower", [("build_docs_per_s", SM), ("setup_s", SM), ("commit_p50_ms", IR)]),
    "index.store.build_cpu_s": ("s", "lower", [("build_docs_per_s", SM), ("setup_s", SM)]),
    "index.store.build_shuffle_bytes": ("bytes", "lower", [("build_docs_per_s", SM), ("setup_s", SM)]),
    "index.store.build_offcpu_s": ("s", "lower", [("build_docs_per_s", SM), ("setup_s", SM)]),
    "index.store.build_parallelism": ("ratio", "higher", [("build_docs_per_s", SM), ("setup_s", SM)]),
    "index.store.bytes_on_disk": ("bytes", "lower", [("store_bytes_per_input_byte", SM)]),
    "index.store.open_ms": ("ms", "lower", [("query_p50_ms", SM)]),
    "query.executor.facet_counts_ms": ("ms", "lower", [("query_p50_ms", SM)]),
    "compose.execute_composed_ms": ("ms", "lower", [("query_tail_ms", SM)]),
    "compose.jobs": ("count", "lower", [("query_tail_ms", SM)]),
    "query.cql.parse_us": ("us", "lower", [("query_p50_ms", SM)]),
    "trace.query_p50_ms": ("ms", "lower", [("query_p50_ms", SM), ("query_p50_ms", IR)]),
    "trace.span_cost_us": ("us", "lower", [("query_p50_ms", SM)]),
    "trace.spans_per_op": ("count", "lower", [("query_p50_ms", SM)]),
}
_Q = [("query_p50_ms", SM), ("query_tail_ms", SM), ("spark_jobs_per_op", SM), ("input_bytes_per_op", SM)]
for _c in QUERY_CLASSES:
    LAYER_METRICS[f"query.executor.search_ms.{_c}"] = ("ms", "lower", _Q)
    LAYER_METRICS[f"query.executor.jobs.{_c}"] = ("count", "lower", _Q)
    LAYER_METRICS[f"query.executor.input_bytes.{_c}"] = ("bytes", "lower", _Q)
    LAYER_METRICS[f"query.executor.offcpu_s.{_c}"] = ("s", "lower", _Q)
for _k in WAND_KINDS:
    LAYER_METRICS[f"index.wand.topk_ms.{_k}"] = ("ms", "lower", [("query_p50_ms", SM)])
    LAYER_METRICS[f"index.wand.jobs.{_k}"] = ("count", "lower", [("query_p50_ms", SM)])
_ALL = [("query_p50_ms", SM), ("commit_p50_ms", IR)]
for _l in LAYERS:
    LAYER_METRICS[f"self_s.{_l}"] = ("s", "lower", _ALL)
    LAYER_METRICS[f"spark.tasks.{_l}"] = ("count", "lower", _ALL)
    LAYER_METRICS[f"spark.executor_cpu_s.{_l}"] = ("s", "lower", _ALL)
    LAYER_METRICS[f"spark.executor_run_s.{_l}"] = ("s", "lower", _ALL)
    LAYER_METRICS[f"spark.spill_bytes.{_l}"] = ("bytes", "lower", _ALL)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def layer_values(tracer, status, state, span_cost_s: float) -> dict[str, float]:
    """Every LAYER_METRICS value of one traced run; a layer the workload
    never called reads 0. Call after status.collect()."""
    spans = tracer.spans
    ops = state.ops
    by_name: dict[str, list[int]] = {}
    timed: dict[str, list[int]] = {}  # spans inside a timed operation
    for i, sp in enumerate(spans):
        by_name.setdefault(sp.name, []).append(i)
        if sp.op is not None:
            timed.setdefault(sp.name, []).append(i)

    def secs(name):
        return [spans[i].seconds for i in timed.get(name, ())]

    def jobs(idx):
        return [spans[i].wm1 - spans[i].wm0 for i in idx]

    def counts(idx):
        return [status.counts(spans[i].wm0, spans[i].wm1) for i in idx]

    v: dict[str, float] = {}
    v["core.addDocument_us"] = _mean(secs("LuceneCore.addDocument")) * 1e6
    for short, name in (("commit", "LuceneCore.commit"), ("executeQuery", "LuceneCore.executeQuery")):
        v[f"core.{short}_ms"] = _median(secs(name)) * 1e3
        v[f"core.{short}_jobs"] = _mean(jobs(timed.get(name, ())))
    inc = "IncrementalIndexStore."
    v["index.incremental.commit_batch_ms"] = _median(secs(inc + "commit_batch")) * 1e3
    v["index.incremental.commit_batch_jobs"] = _mean(jobs(timed.get(inc + "commit_batch", ())))
    v["index.incremental.maybe_merge_ms"] = _median(secs(inc + "maybe_merge")) * 1e3
    merges = timed.get(inc + "partial_merge", []) + timed.get(inc + "force_merge", [])
    v["index.incremental.merges"] = float(len(merges))
    v["index.incremental.merge_jobs"] = float(sum(jobs(merges)))
    v["index.incremental.open_ms"] = _median(secs(inc + "open")) * 1e3
    v["index.incremental.generations"] = _mean(
        [spans[i].attrs["generations"] for i in timed.get(inc + "open", ())]
    )
    v["index.incremental.tombstone_bytes"] = float(state.tombstone_bytes)

    # store builds the client started itself (search_mix set-up) or, in
    # ingest_refresh, where every build runs inside a commit, those of
    # the timed commits
    builds = [i for i in by_name.get("build_index_store", ()) if spans[i].parent is None]
    builds = builds or timed.get("build_index_store", [])
    bc = counts(builds)
    v["index.store.build_ms"] = _median([spans[i].seconds for i in builds]) * 1e3
    v["index.store.build_jobs"] = _mean(jobs(builds))
    v["index.store.build_cpu_s"] = _median([c.cpu_s for c in bc])
    v["index.store.build_shuffle_bytes"] = _median([c.shuffle_bytes for c in bc])
    v["index.store.build_offcpu_s"] = _median([c.run_s - c.cpu_s for c in bc])
    v["index.store.build_parallelism"] = _median(
        [c.run_s / spans[i].seconds for c, i in zip(bc, builds)]
    )
    v["index.store.bytes_on_disk"] = float(state.store_bytes)
    v["index.store.open_ms"] = _median([spans[i].seconds for i in by_name.get("open_persistent_index", ())]) * 1e3

    # query classes: searches run by a timed operation of that class
    for cls in QUERY_CLASSES:
        idx = [i for i in timed.get("search", ()) if ops[spans[i].op].cls == cls]
        cc = counts(idx)
        v[f"query.executor.search_ms.{cls}"] = _median([spans[i].seconds for i in idx]) * 1e3
        v[f"query.executor.jobs.{cls}"] = _mean(jobs(idx))
        v[f"query.executor.input_bytes.{cls}"] = _mean([c.input_bytes for c in cc])
        v[f"query.executor.offcpu_s.{cls}"] = _mean([c.run_s - c.cpu_s for c in cc])
    v["query.executor.facet_counts_ms"] = _median(secs("facet_counts")) * 1e3

    # WAND top-k returns a lazy frame; the client's collect runs it, so the
    # client's operation is the span around the call into index.wand
    for kind in WAND_KINDS:
        wops = [o for o in ops if o.cls == "wand" and o.tag == kind]
        v[f"index.wand.topk_ms.{kind}"] = _median([o.seconds for o in wops]) * 1e3
        v[f"index.wand.jobs.{kind}"] = _mean([o.wm1 - o.wm0 for o in wops])
    v["compose.execute_composed_ms"] = _median(secs("execute_composed")) * 1e3
    v["compose.jobs"] = _mean(jobs(timed.get("execute_composed", ())))
    v["query.cql.parse_us"] = _mean(secs("cql_to_query")) * 1e6

    selfs = tracer.self_seconds()
    own = tracer.own_jobs()
    for layer in LAYERS:
        v[f"self_s.{layer}"] = selfs[layer]
        tot = SparkCounts()
        for i, sp in enumerate(spans):
            if sp.layer == layer:
                for j in own[i]:
                    tot.add(status.counts(j, j + 1))
        v[f"spark.tasks.{layer}"] = float(tot.tasks)
        v[f"spark.executor_cpu_s.{layer}"] = tot.cpu_s
        v[f"spark.executor_run_s.{layer}"] = tot.run_s
        v[f"spark.spill_bytes.{layer}"] = float(tot.spill_bytes)

    v["trace.query_p50_ms"] = _median([o.seconds for o in ops if o.kind == "query"]) * 1e3
    in_ops = [sp for sp in spans if sp.op is not None]
    v["trace.spans_per_op"] = len(in_ops) / max(len(ops), 1)
    v["trace.span_cost_us"] = span_cost_s * 1e6
    return v
