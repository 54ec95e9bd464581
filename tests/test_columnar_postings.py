"""Posting blocks are native Parquet list columns decoded by the JVM.

A query's block decode is a ``posexplode`` projection, so no Python
evaluation node appears in a term, boolean, phrase or prefix plan, and
Catalyst drops the ``positions`` column from the scan of every query
that does not need it. Stores and generations open from their recorded
schemas without inference jobs. The job counts of a multi-generation
term query and of an add+delete commit are pinned."""

import pandas as pd
import pyarrow.parquet as pq
import pytest

from meresco_lucene_spark.core import LuceneCore
from meresco_lucene_spark.index import incremental as inc_mod
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
    """Open stores and tombstones afresh, as a new process would."""
    monkeypatch.setattr(store_mod, "_PINDEX_CACHE", {})
    monkeypatch.setattr(inc_mod, "_TOMB_CACHE", {})


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
    frames += [reopened.forward, reopened.postings_for("text"), reopened.lengths_for("text")]
    assert all(f.columns for f in frames)
    assert _jobs(spark) == j0


# Spark jobs measured after the change (4 cores, 4 shuffle partitions;
# before it: 4, 4 and 13). A term search() on the three-generation
# reader is the tombstone broadcast and the observed page collect, on a
# warm reader and on a freshly opened one alike: df is the sum of the
# generations' term-dictionary entries, read on the driver, and no
# generation table needs a schema-inference job. A LuceneCore commit
# with one add and one delete is the store build's jobs plus the
# tombstone write, with no separate hash job.
MULTIGEN_TERM_JOBS = 2
MULTIGEN_OPEN_TERM_JOBS = 2
ADD_DELETE_COMMIT_JOBS = 11


def test_multigen_term_query_job_count(spark, indexes, no_handle_caches):
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
