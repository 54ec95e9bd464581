"""Tests of the benchmark itself: seeded inputs, the answer oracle
against the engine on a tiny corpus, and the metric names it prints.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import re

from perfbench import inputs, layers, oracle, run, workloads
from perfbench.sparkstats import StatusReader
from perfbench.trace import Tracer

BENCH = os.path.join(run.ROOT, "BENCHMARK.json")


def _stream(seed):
    gen = inputs.CorpusGen(seed)
    docs = gen.corpus(200)
    bands = inputs.term_bands(inputs.term_dfs(docs))
    return (
        docs,
        gen.repo_rows(),
        inputs.query_stream(seed, bands, 3 * inputs.DECK_SIZE),
        inputs.ingest_cycles(seed, len(docs), 5, 20),
        [gen.doc(i, v) for c in inputs.ingest_cycles(seed, len(docs), 2, 20) for i, v in c["adds"]],
    )


def test_same_seed_same_inputs():
    assert _stream(7) == _stream(7)
    assert _stream(7) != _stream(8)


def test_query_stream_deals_whole_decks():
    gen = inputs.CorpusGen(3)
    bands = inputs.term_bands(inputs.term_dfs(gen.corpus(200)))
    stream = inputs.query_stream(3, bands, 2 * inputs.DECK_SIZE)
    want = sorted(c for c, k in inputs.QUERY_DECK for _ in range(k))
    for d in range(2):
        deck = stream[d * inputs.DECK_SIZE : (d + 1) * inputs.DECK_SIZE]
        assert sorted(s["cls"] for s in deck) == want


def test_ingest_cycles_touch_live_docs_only():
    live = set(range(100))
    for c in inputs.ingest_cycles(5, 100, 6, 20, n_deletes=3):
        ups = {i for i, v in c["adds"] if v > 0}
        assert ups <= live and set(c["deletes"]) <= live
        assert not ups & set(c["deletes"])
        live |= {i for i, _ in c["adds"]}
        live -= set(c["deletes"])


def test_tail_percentile():
    assert run.tail([3.0]) == (3.0, 100.0, 1)
    assert run.tail([4.0, 1.0, 3.0, 2.0, 6.0, 5.0]) == (5.0, 500 / 6, 6)
    assert run.tail([float(i) for i in range(1, 16)]) == (12.0, 80.0, 15)
    xs = [float(i) for i in range(1, 41)]
    assert run.tail(xs) == (30.0, 75.0, 40)
    assert run.tail([float(i) for i in range(1, 81)]) == (70.0, 87.5, 80)


def test_oracle_agrees_with_engine(spark, tmp_path):
    """Every search_mix query class on a tiny seed: the engine's answer
    matches the oracle's exactly (scores to 1e-6)."""
    from meresco_lucene_spark.index import store
    import pandas as pd

    seed = 5
    gen = inputs.CorpusGen(seed)
    docs = gen.corpus(150)
    df = spark.createDataFrame(pd.DataFrame([inputs.doc_row(d) for d in docs]))
    store.build_index_store(
        df,
        str(tmp_path / "code"),
        text_cols=["content"],
        keyword_cols=["lang", "repo"],
        facet_fields={"lang": ["lang"], "repo": ["repo"]},
    )
    client = workloads.Client(spark, str(tmp_path), seed, 1.0)
    sm = workloads.SearchMix(client)
    ix = store.open_persistent_index(spark, str(tmp_path / "code"))
    cores = {"code": ix, "repos": sm._repo_store(gen)}
    bands = inputs.term_bands(inputs.term_dfs(docs))
    orc = oracle.Oracle({d.doc_id: d for d in docs})
    licenses = {r["repo"]: r["license"] for r in gen.repo_rows()}
    for spec in inputs.query_stream(seed, bands, inputs.DECK_SIZE):
        want = orc.answer(spec, licenses)
        got = sm._call(spec, ix, cores)
        assert oracle.check(got, want) == [], spec


def test_oracle_check_flags_wrong_answers():
    docs = {d.doc_id: d for d in inputs.CorpusGen(1).corpus(50)}
    orc = oracle.Oracle(docs)
    spec = {"cls": "term_hot", "terms": [inputs.HOT_TERMS[0]]}
    want = orc.answer(spec)
    got = {"total": want["total"], "top": list(want["top"])}
    assert oracle.check(got, want) == []
    assert oracle.check({**got, "total": got["total"] + 1}, want) == ["total"]
    d, s = got["top"][0]
    assert oracle.check({**got, "top": [(d, s + 1e-3)] + got["top"][1:]}, want) == ["top"]


def _bench():
    with open(BENCH) as f:
        return json.load(f)


def test_printed_metric_names_match_benchmark_json():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        k: v[:2] for k, v in layers.LAYER_METRICS.items()
    }
    # the values a run computes carry exactly these names
    st = workloads.RunState(
        ops=[
            workloads.Op("query", "term_hot", 1.0, 0, 0, True),
            workloads.Op("commit", "commit", 1.0, 0, 0, True),
        ],
        setup_load=2.0, setup_build=1.0, docs_per_build=10,
        store_bytes=5, input_bytes=10, commit_seconds=[1.0],
        writer_seconds=1.0, writer_docs=1,
    )
    status = StatusReader(None)
    for w in workloads.WORKLOADS:
        values, _ = run.end_to_end(w, st, status, 1.0)
        assert set(values) == set(run.END_TO_END)
    tracer = Tracer(lambda: 0)
    assert set(layers.layer_values(tracer, status, st, 1e-6)) == set(layers.LAYER_METRICS)


def test_benchmark_json_within_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in b[k]]
    assert all(name.match(n) for n in names) and len(names) == len(set(names))
    assert all(unit.match(m["unit"]) for k in ("end_to_end", "per_layer") for m in b[k])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in b["end_to_end"])
    assert 1 <= len(b["per_layer"]) <= 128 and 2 <= len(b["workloads"]) <= 8
