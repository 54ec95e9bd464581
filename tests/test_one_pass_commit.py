"""A commit ships its batch to the JVM once, as Arrow, and tokenizes it
in one pass.

The batch frame of ``LuceneCore.commit`` plans as a local relation,
so no scan of it needs a Python worker, and its deleted identifiers
are hashed on the driver without a job. ``occurrence_frames``
tokenizes every indexed column in one projection; its occurrence and
field-length rows are checked against hand-computed sets, and a store
build writes one ``field_lengths`` file per input partition, not one
per field and partition."""

import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F
from test_driver_route import _job_descriptions

from meresco_lucene_spark.core import LuceneCore
from meresco_lucene_spark.index import store as store_mod
from meresco_lucene_spark.index.builder import occurrence_frames
from meresco_lucene_spark.index.incremental import IncrementalIndexStore
from meresco_lucene_spark.index.store import build_index_store

SCHEMA = "doc_id long, text string, kw string, arr array<string>, nl string"
SPEC = dict(
    text_cols=["text"], keyword_cols=["kw"], array_cols=["arr"], dutch_cols=["nl"]
)


@pytest.fixture(scope="module")
def batch(spark):
    """Doc 1 has every field, with a null element in its array; doc 2
    has empty text, an empty array and nulls elsewhere; doc 3 has null
    text; doc 4 has 17 text tokens, whose quantized dl is 16."""
    rows = [
        (1, "Fast fast Table", "py", ["ab", None, "cd"], "de katten"),
        (2, "", None, [], None),
        (3, None, "go", ["ab"], "lopen"),
        (4, " ".join(["w"] * 17), None, None, ""),
    ]
    return spark.createDataFrame(rows, SCHEMA)


# (field, term, doc_id, pos)
OCCURRENCES = {
    ("text", "fast", 1, 0), ("text", "fast", 1, 1), ("text", "table", 1, 2),
    ("kw", "py", 1, 0),
    ("arr", "ab", 1, 0), ("arr", "cd", 1, 2),
    ("nl", "de", 1, 0), ("nl", "katten", 1, 1), ("nl", "kat", 1, 2),
    ("kw", "go", 3, 0),
    ("arr", "ab", 3, 0),
    ("nl", "lopen", 3, 0), ("nl", "lop", 3, 1),
} | {("text", "w", 4, p) for p in range(17)}
# (field, doc_id) -> dl; a null keyword has no row, a null array
# element counts in dl
DL = {
    ("text", 1): 3, ("text", 2): 0, ("text", 3): 0, ("text", 4): 17,
    ("kw", 1): 1, ("kw", 3): 1,
    ("arr", 1): 3, ("arr", 2): 0, ("arr", 3): 1, ("arr", 4): 0,
    ("nl", 1): 3, ("nl", 2): 0, ("nl", 3): 2, ("nl", 4): 0,
}
NORM_DL = {k: (16 if dl == 17 else dl) for k, dl in DL.items()}


@pytest.mark.parametrize("dl_col", ["dl", "norm_dl"])
def test_occurrence_frames_hand_computed(batch, dl_col):
    occ, lengths = occurrence_frames(batch, "doc_id", dl_col=dl_col, **SPEC)
    assert occ.columns == ["field", "term", "doc_id", "pos", "_dl"]
    dls = DL if dl_col == "dl" else NORM_DL
    assert {tuple(r) for r in occ.collect()} == {
        (*o, dls[(o[0], o[2])]) for o in OCCURRENCES
    }
    rows = lengths.collect()
    assert len(rows) == len(DL)
    assert {(r.field, r.doc_id): (r.dl, r.norm_dl) for r in rows} == {
        k: (DL[k], NORM_DL[k]) for k in DL
    }


def test_store_build_writes_one_lengths_file_per_input_partition(spark, tmp_path, monkeypatch):
    """The distributed route writes the lengths table without a shuffle
    (a bound of 0 keeps the build off the driver route)."""
    monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
    pdf = pd.DataFrame(
        [(i, f"doc {i} text", ["py", "go"][i % 2], f"t{i % 3}") for i in range(40)],
        columns=["doc_id", "text", "lang", "tag"],
    )
    df = spark.createDataFrame(pdf)
    n_parts = df.rdd.getNumPartitions()
    assert n_parts > 1
    build_index_store(
        df, str(tmp_path / "store"), n_shards=2,
        text_cols=["text"], keyword_cols=["lang", "tag"],
    )
    files = glob.glob(str(tmp_path / "store" / "field_lengths" / "part-*.parquet"))
    assert len(files) == n_parts


def _plan(frame) -> str:
    return frame._jdf.queryExecution().executedPlan().toString()


def test_commit_frames_are_local_relations(spark, tmp_path, monkeypatch):
    """The batch frame of a commit plans as a local table scan, not as a
    scan of a pickled Python RDD, and its deletes reach the store as
    ids hashed on the driver, not as a frame."""
    core = LuceneCore(spark, str(tmp_path), name="core", n_shards=2)
    core.addDocument({"text": "spark join", "n": 3}, identifier="a")
    core.addDocument({"text": "slow table"}, identifier="b")
    core.commit()
    core.addDocument({"text": "fast scan", "n": 5}, identifier="c")
    core.delete(identifier="a")
    seen = {}
    real = IncrementalIndexStore.commit_batch

    def spy(self, df, *args, **kwargs):
        seen["adds"], seen["dels"] = df, kwargs
        return real(self, df, *args, **kwargs)

    monkeypatch.setattr(IncrementalIndexStore, "commit_batch", spy)
    core.commit()
    plan = _plan(seen["adds"])
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert seen["dels"] == {"delete_ids": core._hash_ids(["a"])}
    assert sorted(h.id for h in core.executeQuery({"type": "MatchAllDocsQuery"}).hits) == [
        "b", "c"
    ]
    direct = core._frame({"d": {"text": ("text", "x"), "n": ("long", None)}})
    assert "LocalTableScan" in _plan(direct) and "ExistingRDD" not in _plan(direct)
    assert direct.select("n").first()[0] is None


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


# Spark jobs of a warm similarDocuments call on 4 cores (7 before the
# seed identifier was hashed in a folded local relation instead of a job).
SIMILAR_DOCUMENTS_JOBS = 6


def test_similar_documents_hashes_identifier_without_a_job(spark, tmp_path):
    core = LuceneCore(spark, str(tmp_path), name="mlt", n_shards=2)
    for i in range(25):
        extra = " zzrare" if i in (1, 2) else ""
        core.addDocument(
            identifier=f"id:{i}",
            fields=[{"type": "TextField", "name": "body",
                     "value": f"common words doc{i}{extra}"}],
        )
    core.commit()
    core.similarDocuments("id:1")  # warm the reader
    j0 = _jobs(spark)
    hashed = core._hash_ids(["id:1", "id:2"])
    assert _jobs(spark) == j0
    assert hashed == [
        r[0] for r in spark.createDataFrame([("id:1",), ("id:2",)], "i string")
        .select(F.xxhash64("i")).collect()
    ]
    j0 = _jobs(spark)
    r = core.similarDocuments("id:1")
    assert "id:2" in [h.id for h in r.hits]
    assert _jobs(spark) - j0 <= SIMILAR_DOCUMENTS_JOBS
    assert set(_job_descriptions(spark, j0)) == {"mlt:page"}
