"""Posting blocks are native Parquet list columns decoded by the JVM.

A query's block decode is a ``posexplode`` projection, so no Python
evaluation node appears in a term, boolean, phrase or prefix plan, and
Catalyst drops the ``positions`` column from the scan of every query
that does not need it. Stores and generations open from their recorded
schemas without inference jobs. The job counts of a multi-generation
term query and of an add+delete commit are pinned."""

import math
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq
import pytest

from meresco_lucene_spark.core import LuceneCore
from meresco_lucene_spark.index import store as store_mod
from meresco_lucene_spark.index.incremental import IncrementalIndexStore
from meresco_lucene_spark.index.store import PersistentIndex, build_index_store
from meresco_lucene_spark.query.executor import hits, search
from meresco_lucene_spark.query.ir import MUST_NOT, SHOULD, Q

WORDS = ["spark", "join", "table", "scan", "fast", "slow", "rare"]
CFG = dict(text_cols=["text"], keyword_cols=["lang"], facet_fields={"lang": ["lang"]})
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonMapInArrow")

QUERIES = {
    "term": Q.term("text", "spark"),
    "boolean": Q.boolean(
        (SHOULD, Q.term("text", "spark")),
        (SHOULD, Q.term("text", "join")),
        (MUST_NOT, Q.term("text", "slow")),
    ),
    "phrase": Q.phrase("text", "spark", "join"),
    "prefix": Q.prefix("text", "sp"),
}


def _docs(n=40):
    rows = [
        (i, " ".join(WORDS[(i * k + k) % len(WORDS)] for k in range(1, 5 + i % 3)),
         ["py", "go"][i % 2])
        for i in range(n)
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang"])


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """A one-generation store and a three-generation reader (adds,
    upserts, deletes)."""
    root = tmp_path_factory.mktemp("columnar")
    pdf = _docs()
    df = spark.createDataFrame(pdf)
    store = build_index_store(df, str(root / "store"), n_shards=2, **CFG)
    inc = IncrementalIndexStore(spark, str(root / "inc"), n_shards=2, **CFG)
    inc.commit_batch(df)
    upserts = pdf[pdf.doc_id % 4 == 0].assign(text="spark join upserted")
    inc.commit_batch(spark.createDataFrame(upserts))
    inc.delete([1, 2, 7])
    multi = inc.open()
    assert len(multi.gens) == 3
    return {"store": store, "multigen": multi}


@pytest.fixture(params=["store", "multigen"])
def ix(request, indexes):
    return indexes[request.param]


@pytest.fixture()
def no_handle_caches(monkeypatch):
    """Open stores afresh, as a new process would."""
    monkeypatch.setattr(store_mod, "_PINDEX_CACHE", {})


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _executed_plan(spark, frame) -> str:
    """The executed physical plan of ``frame``, with metadata strings
    (ReadSchema) unabbreviated."""
    frame.collect()
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        return frame._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)


def _postings_read_schemas(plan: str) -> list[str]:
    return [
        ln.split("ReadSchema: ", 1)[1]
        for ln in plan.splitlines()
        if "ReadSchema: " in ln and "doc_ids" in ln
    ]


@pytest.mark.parametrize("name", list(QUERIES))
def test_no_python_node_in_query_plans(spark, ix, name):
    plan = _executed_plan(spark, hits(ix, QUERIES[name]))
    assert _postings_read_schemas(plan), plan
    for node in PYTHON_NODES:
        assert node not in plan, f"{node} in the {name} plan"


@pytest.mark.parametrize("name", ["term", "boolean", "phrase"])
def test_positions_scanned_only_for_phrases(spark, ix, name):
    schemas = _postings_read_schemas(_executed_plan(spark, hits(ix, QUERIES[name])))
    assert schemas
    with_positions = ["positions" in s for s in schemas]
    if name == "phrase":
        assert any(with_positions), schemas
    else:
        assert not any(with_positions), schemas


def test_distinct_doc_ids_are_delta_binary_packed(spark, tmp_path):
    """Postings are written by the Parquet v2 writer: doc ids that do not
    repeat (no dictionary pays off) fall back to DELTA_BINARY_PACKED."""
    df = spark.createDataFrame([(i, f"unique{i}") for i in range(64)], "doc_id long, text string")
    build_index_store(df, str(tmp_path / "ix"), text_cols=["text"], n_shards=1)
    files = list((tmp_path / "ix" / "postings").rglob("*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: md.row_group(0).column(i)
            for i in range(md.num_columns)
        }
        assert "DELTA_BINARY_PACKED" in cols["doc_ids.list.element"].encodings


def test_open_runs_no_spark_job(spark, indexes, no_handle_caches):
    """Schemas come from meta.json and tombstones have a fixed schema:
    opening a store or a multi-generation reader and defining every
    table frame starts no job."""
    j0 = _jobs(spark)
    fresh = PersistentIndex(spark, indexes["store"].out_dir)
    frames = [fresh.forward, fresh.field_lengths, fresh.term_stats, fresh.blocks]
    reopened = IncrementalIndexStore(spark, indexes["multigen"].root).open()
    frames += [reopened.forward, reopened.postings_for("text"), reopened.live_lengths()]
    assert all(f.columns for f in frames)
    assert _jobs(spark) == j0


# Spark jobs measured after the change (4 cores, 4 shuffle partitions;
# before it: 4, 4 and 13). A term search() on the three-generation
# reader is the tombstone broadcast and the observed page collect, on a
# warm reader and on a freshly opened one alike: df is the sum of the
# generations' term-dictionary entries, read on the driver, and no
# generation table needs a schema-inference job. A LuceneCore commit
# with one add and one delete is the one bounded collect of the store's
# driver route: the deleted identifier is hashed without a job, and the
# driver writes the store and the tombstones (11 jobs before, when the
# distributed build and a Spark tombstone write ran every commit).
MULTIGEN_TERM_JOBS = 2
MULTIGEN_OPEN_TERM_JOBS = 2
ADD_DELETE_COMMIT_JOBS = 1


def test_multigen_term_query_job_count(spark, indexes, no_handle_caches, spark_route):
    multi = indexes["multigen"]
    q = Q.term("text", "spark")
    search(multi, q)  # warm
    j0 = _jobs(spark)
    search(multi, q)
    assert _jobs(spark) - j0 <= MULTIGEN_TERM_JOBS
    j0 = _jobs(spark)
    search(IncrementalIndexStore(spark, multi.root).open(), q)
    assert _jobs(spark) - j0 <= MULTIGEN_OPEN_TERM_JOBS


def test_add_delete_commit_job_count(spark, tmp_path):
    core = LuceneCore(spark, str(tmp_path), name="core", n_shards=2)
    core.addDocument({"text": "spark join", "lang": "py"}, identifier="a")
    core.addDocument({"text": "slow table", "lang": "go"}, identifier="b")
    core.commit()
    core.addDocument({"text": "fast scan", "lang": "py"}, identifier="c")
    core.delete(identifier="a")
    j0 = _jobs(spark)
    core.commit()
    assert _jobs(spark) - j0 <= ADD_DELETE_COMMIT_JOBS
    got = core.executeQuery(Q.matchall())
    assert sorted(h.id for h in got.hits) == ["b", "c"]


# ------------------------------------------------ generations vs. job counts


def _fields(text, lang):
    return [
        {"type": "TextField", "name": "text", "value": text},
        {"type": "FacetField", "name": "lang", "value": lang},
    ]


def _core_with_gens(spark, root, n_gens):
    """A LuceneCore whose reader holds ``n_gens`` generations: a base
    commit, then commits of new docs, upserts and a delete, and last a
    delete-only commit. Returns the core and every committed version
    (identifier, tokens, lang, live)."""
    core = LuceneCore(spark, root, name="core", n_shards=2, segments_per_tier=100)
    versions = {}  # identifier -> its versions, newest last

    def add(i, text):
        ident = f"d{i}"
        lang = ["py", "go", "rs"][i % 3]
        core.addDocument(_fields(text, lang), identifier=ident)
        versions.setdefault(ident, []).append([text.split(), lang, True])
        for old in versions[ident][:-1]:
            old[2] = False

    def delete(i):
        core.delete(identifier=f"d{i}")
        versions[f"d{i}"][-1][2] = False

    for i in range(24):
        add(i, " ".join(WORDS[(i * k + k) % len(WORDS)] for k in range(1, 4 + i % 3)))
    core.commit()
    for c in range(1, n_gens - 1):
        for i in range(24 + 3 * c, 27 + 3 * c):
            add(i, f"fast scan new{c} " + WORDS[i % len(WORDS)])
        add(c, f"spark upserted{c} table")
        delete(5 * c + 2)
        core.commit()
    delete(n_gens + 10)
    core.commit()
    reader = core.reader()
    assert len(reader.gens) == n_gens
    return core, [(i, *v) for i, vs in versions.items() for v in vs]


def _recomputed(versions, terms):
    """BM25 hits of an OR over ``terms`` on the live docs, with N, avgdl
    and df over every committed version (dead docs count until merge),
    plus the live hits' lang counts."""
    n = len(versions)
    avgdl = sum(len(toks) for _, toks, _, _ in versions) / n
    df = {t: sum(t in toks for _, toks, _, _ in versions) for t in terms}
    scores, langs = {}, Counter()
    for ident, toks, lang, live in versions:
        matched = [t for t in terms if t in toks]
        if not live or not matched:
            continue
        s = 0.0
        for t in matched:
            tf = toks.count(t)
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * len(toks) / avgdl))
        scores[ident] = s
        langs[lang] += 1
    return scores, langs


# Spark jobs of a LuceneCore executeQuery on a freshly opened reader on
# the Spark route (4 cores, 4 shuffle partitions). Before one scan per table per query,
# at 2 / 4 / 6 generations: the OR 4 / 7 / 9 and the term query with a
# lang facet 9 / 15 / 25. After, at every generation count: the OR is
# the tombstone broadcast, the per-doc score sum's shuffle, the forward
# broadcast of the identifier join and the page collect; the facet query
# is the drilldown (tombstone and hit-set broadcasts, two shuffles, the
# collect) and the page (tombstone and forward broadcasts, the collect).
# On the driver route both run no job at any generation count.
MULTIGEN_OR_JOBS = 4
MULTIGEN_FACET_JOBS = 8
MULTIGEN_DRIVER_JOBS = 0


@pytest.mark.parametrize("n_gens", [2, 6])
def test_multigen_query_jobs_do_not_grow_with_generations(spark, tmp_path, n_gens, each_route):
    core, versions = _core_with_gens(spark, str(tmp_path), n_gens)
    live = [v for v in versions if v[3]]
    terms = ["rare", "table", "upserted1"]
    cases = [
        (Q.or_(*(Q.term("text", t) for t in terms)), terms, (), MULTIGEN_OR_JOBS),
        (Q.term("text", "spark"), ["spark"],
         [{"fieldname": "lang", "maxTerms": 10}], MULTIGEN_FACET_JOBS),
    ]
    for route in each_route():
        for q, qterms, facets, pinned in cases:
            core._reader = None  # a fresh snapshot, as after a commit
            j0 = _jobs(spark)
            resp = core.executeQuery(q, stop=1000, facets=facets)
            if route == "driver":
                pinned = MULTIGEN_DRIVER_JOBS
            assert _jobs(spark) - j0 == pinned, (route, n_gens, q.to_dict())
            want, langs = _recomputed(versions, qterms)
            assert resp.total == len(want) and len(want) > 0
            got = {h.id: h.score for h in resp.hits}
            assert got.keys() == want.keys()
            for d, sc in want.items():
                assert got[d] == pytest.approx(sc, rel=1e-12), (route, d)
            if facets:
                counts = {t["term"]: t["count"] for t in resp.drilldownData[0]["terms"]}
                assert counts == dict(langs)
    assert len(live) < len(versions)
