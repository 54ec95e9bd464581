"""A store build whose rows fit runs on the driver.

``build_index_store`` (first builds, generation commits and merges
alike) collects the build's occurrence, length and forward rows in one
bounded Spark job; when they fit ``DRIVER_BUILD_ROWS``, the driver
encodes them with the same ``_encode`` as the distributed route and
writes the tables with pyarrow. Both routes build the same store, with
or without lineage and on a resume, the bound decides the route, every
driver-written table reads back under its recorded schema, a build or
commit killed at any table write leaves no openable half-store, merges
write their tombstones on the driver, and every job of a build or
commit carries a stage tag."""

import datetime
import decimal
import json
import os

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType
from test_store import _store_logical_content

from meresco_lucene_spark.core import LuceneCore
from meresco_lucene_spark.index import store as store_mod
from meresco_lucene_spark.index.builder import occurrence_frames
from meresco_lucene_spark.index.incremental import IncrementalIndexStore
from meresco_lucene_spark.index.store import (
    PersistentIndex,
    build_index_store,
    open_persistent_index,
)
from meresco_lucene_spark.query.executor import search
from meresco_lucene_spark.query.ir import Q

WORDS = ["spark", "join", "table", "scan", "fast", "slow", "rare", "hash"]
CFG = dict(text_cols=["text"], keyword_cols=["lang"], facet_fields={"lang": ["lang"]})
TABLES = ("forward", "field_lengths", "term_stats", "postings")


def _batch(spark, lo=0, hi=40, tag=""):
    rows = [
        (i, " ".join(WORDS[(i * k + k) % len(WORDS)] for k in range(1, 4 + i % 5)) + tag,
         ["py", "go", "rs"][i % 3])
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))


def _job_descriptions(spark, since):
    """The ``spark.job.description`` of every job with id >= ``since``."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    status = sc.statusStore()
    out = []
    for jid in range(since, sc.dagScheduler().numTotalJobs()):
        d = status.job(jid).description()
        out.append(d.get() if d.isDefined() else None)
    return out


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _recorded_term_stats_matches_spark(dist_dir):
    """The term_stats schema meta.json records is the one Spark's
    aggregation wrote, nullability included (read from a file footer of
    a distributed-route store)."""
    with open(os.path.join(dist_dir, "meta.json")) as f:
        recorded = StructType.fromJson(json.load(f)["schemas"]["term_stats"])
    tdir = os.path.join(dist_dir, "term_stats")
    part = next(f for f in sorted(os.listdir(tdir)) if f.endswith(".parquet"))
    written = pq.read_schema(os.path.join(tdir, part))
    return [(f.name, f.nullable) for f in recorded] == [
        (f.name, f.nullable) for f in written
    ]


def _content(spark, out_dir):
    """Everything a reader sees of a store: the block-level postings
    digest, the rows of the other three tables and meta.json without
    its snapshot id."""
    ix = PersistentIndex(spark, out_dir)
    meta = dict(ix.meta)
    meta.pop("snapshot")
    rows = {
        t: sorted(map(tuple, ix._table(t).collect()))
        for t in ("forward", "field_lengths", "term_stats")
    }
    return _store_logical_content(spark, out_dir), rows, meta


@pytest.mark.parametrize(
    "settings",
    [{}, dict(n_shards=3, salt_buckets=2, hot_df_fraction=0.3, block_size=4)],
    ids=["auto", "salted"],
)
def test_routes_build_equal_stores(spark, tmp_path, monkeypatch, settings):
    """Both routes build the same store, whether the build is resumable
    (``lineage=True``) or not; a resumable first build takes the driver
    route and records no lineage, and a resume over a complete
    driver-built store (no lineage rows) re-encodes it on the driver to
    the same store."""
    df = _batch(spark)
    driver, dist = str(tmp_path / "driver"), str(tmp_path / "dist")
    resumable, dist_resumable = str(tmp_path / "resumable"), str(tmp_path / "dist_resumable")
    j0 = _jobs(spark)
    build_index_store(df, driver, lineage=False, **CFG, **settings)
    assert _job_descriptions(spark, j0) == ["build:collect"]
    j0 = _jobs(spark)
    build_index_store(df, resumable, lineage=True, **CFG, **settings)
    assert _job_descriptions(spark, j0) == ["build:collect"]
    assert not os.path.exists(os.path.join(resumable, "lineage"))
    with monkeypatch.context() as m:
        m.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
        build_index_store(df, dist, lineage=False, **CFG, **settings)
        build_index_store(df, dist_resumable, lineage=True, **CFG, **settings)
    assert pq.read_table(os.path.join(dist_resumable, "lineage")).num_rows > 0
    got, want = _content(spark, driver), _content(spark, dist)
    assert _recorded_term_stats_matches_spark(dist)
    assert got[0] == want[0]
    assert got[1] == want[1]
    assert got[2] == want[2]
    if settings:
        assert {h[0] for h in got[0]} == {0, 1, 2}
        assert max(r[5] for r in got[1]["term_stats"]) == 2  # a salted term
    # one file per table, published without Spark's markers
    for t in ("forward", "field_lengths", "term_stats"):
        assert [f.endswith(".parquet") for f in os.listdir(os.path.join(driver, t))] == [True]
    assert _content(spark, resumable) == want
    assert _content(spark, dist_resumable) == want
    j0 = _jobs(spark)
    build_index_store(df, resumable, resume=True, run_id="again", **CFG, **settings)
    assert _job_descriptions(spark, j0) == ["build:collect"]
    assert _content(spark, resumable) == want


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_first_build_jobs_carry_stage_tags(spark, tmp_path, monkeypatch, route):
    """The jobs of a resumable first build: the one bounded collect on
    the driver route; on the distributed route the collect that
    overflows, then one job per build stage."""
    if route == "distributed":
        monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
    j0 = _jobs(spark)
    build_index_store(_batch(spark), str(tmp_path / "store"), **CFG)
    tags = _job_descriptions(spark, j0)
    if route == "driver":
        assert tags == ["build:collect"]
    else:
        assert set(tags) == {
            "build:collect",
            "build:occurrences",
            "build:forward",
            "build:field_lengths",
            "build:term_stats",
            "build:encode",
        }, tags
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


# The driver route's publish points, in the order a build reaches them.
PUBLISH_POINTS = ["forward", "field_lengths", "term_stats", "postings", "meta.json"]


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    """What a reader sees of an uninterrupted build of ``_batch``."""
    out = str(tmp_path_factory.mktemp("uninterrupted"))
    build_index_store(_batch(spark), out, **CFG)
    return _content(spark, out)


@pytest.mark.parametrize("over", ["first", "rebuild"])
@pytest.mark.parametrize("point", PUBLISH_POINTS)
def test_driver_build_killed_at_each_publish(
    spark, tmp_path, monkeypatch, uninterrupted, point, over
):
    """A driver-route build killed at any table publish, or at the
    meta.json publish, leaves a store that refuses to open, whether it
    was the first build at its path or a rebuild over an older store
    (whose meta.json the build withdrew before touching a table). A
    resume (after a first build) or a rebuild then gives the store of an
    uninterrupted build."""
    df = _batch(spark)
    out = str(tmp_path / "store")
    if over == "rebuild":
        build_index_store(_batch(spark, 10, 50, tag=" old"), out, **CFG)
        assert open_persistent_index(spark, out).n_docs == 40

    def killed(*args, **kwargs):
        raise OSError("killed")

    real = store_mod.publish_parquet

    def publish(tbl, table_dir, **kwargs):
        name = os.path.basename(table_dir)
        if point in (name, os.path.basename(os.path.dirname(table_dir))):
            killed()
        return real(tbl, table_dir, **kwargs)

    with monkeypatch.context() as m:
        if point == "meta.json":
            m.setattr(store_mod.COMMITTER, "publish_file", killed)
        else:
            m.setattr(store_mod, "publish_parquet", publish)
        with pytest.raises(OSError, match="killed"):
            build_index_store(df, out, **CFG)
    with pytest.raises(FileNotFoundError):
        open_persistent_index(spark, out)
    build_index_store(df, out, resume=over == "first", **CFG)
    assert _content(spark, out) == uninterrupted


def test_interrupted_distributed_rebuild_refuses_to_open(spark, tmp_path, monkeypatch):
    """A distributed rebuild withdraws the older store's meta.json before
    its first write, so one killed before its meta.json publish leaves a
    store that refuses to open instead of the old meta.json over new
    tables."""
    out = str(tmp_path / "store")
    build_index_store(_batch(spark, 0, 30), out, **CFG)

    def killed(*args, **kwargs):
        raise OSError("killed")

    with monkeypatch.context() as m:
        m.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
        m.setattr(store_mod.COMMITTER, "publish_file", killed)
        with pytest.raises(OSError, match="killed"):
            build_index_store(_batch(spark, 10, 45, tag=" new"), out, **CFG)
    with pytest.raises(FileNotFoundError):
        open_persistent_index(spark, out)


def test_merge_routes_build_equal_stores(spark, tmp_path, monkeypatch):
    """The merge feed (decoded postings, no re-tokenizing) gives the same
    merged store on both routes."""
    merged = {}
    for route, bound in (("driver", store_mod.DRIVER_BUILD_ROWS), ("dist", 0)):
        monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", bound)
        inc = IncrementalIndexStore(spark, str(tmp_path / route), n_shards=2, **CFG)
        inc.commit_batch(_batch(spark, 0, 30))
        inc.commit_batch(_batch(spark, 20, 45, tag=" merged"), delete_ids=[3, 4])
        gen = inc.force_merge()
        merged[route] = _content(spark, str(tmp_path / route / f"gen-{gen:06d}" / "store"))
    assert _recorded_term_stats_matches_spark(str(tmp_path / "dist" / f"gen-{gen:06d}" / "store"))
    assert merged["driver"] == merged["dist"]
    assert len(merged["driver"][1]["forward"]) == 43


def test_bound_decides_the_route(spark, tmp_path, monkeypatch):
    """A batch of bound + 1 occurrences takes the distributed route; one
    whose collected rows (occurrences, lengths and forward rows) number
    exactly the bound stays on the driver."""
    df = _batch(spark, 0, 30)
    occ, lengths = occurrence_frames(df, "doc_id", text_cols=["text"], keyword_cols=["lang"])
    n_occ, n_rows = occ.count(), occ.count() + lengths.count() + df.count()
    monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", n_occ - 1)
    j0 = _jobs(spark)
    build_index_store(df, str(tmp_path / "over"), lineage=False, **CFG)
    assert "build:encode" in _job_descriptions(spark, j0)
    monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", n_rows)
    j0 = _jobs(spark)
    build_index_store(df, str(tmp_path / "fits"), lineage=False, **CFG)
    assert _job_descriptions(spark, j0) == ["build:collect"]


def test_driver_tables_read_back_under_recorded_schema(spark, tmp_path):
    """Every table the driver writes is read by spark.read.parquet with
    exactly the schema meta.json records, and the forward rows round-trip
    every column type of the input."""
    df = spark.createDataFrame(
        [
            (i, f"spark row{i}", ["py", "go"][i % 2], i * 0.5, i % 2 == 0,
             datetime.datetime(2024, 1, 1 + i, 12, 30, tzinfo=datetime.timezone.utc),
             datetime.date(2024, 2, 1 + i), [f"t{i}", "shared"],
             decimal.Decimal(f"{i}.25"), {"k": i})
            for i in range(12)
        ],
        "doc_id long, text string, lang string, score double, flag boolean, "
        "ts timestamp, day date, tags array<string>, price decimal(10,2), "
        "counts map<string,int>",
    )
    out = str(tmp_path / "store")
    ix = build_index_store(
        df, out, lineage=False, text_cols=["text"], keyword_cols=["lang"],
        array_cols=["tags"],
    )
    assert not os.path.exists(os.path.join(out, "forward", "_SUCCESS"))
    for t in TABLES:
        recorded = StructType.fromJson(ix.meta["schemas"][t])
        inferred = spark.read.parquet(os.path.join(out, t)).schema
        assert {f.name: f.dataType for f in inferred} == {
            f.name: f.dataType for f in recorded
        }, t
        assert spark.read.schema(recorded).parquet(os.path.join(out, t)).count() > 0, t
    assert sorted(ix.forward.collect()) == sorted(df.collect())


def _answers(reader):
    return {
        name: (r.total, sorted(h.id for h in r.hits))
        for name, r in {
            "term": search(reader, Q.term("text", "spark")),
            "new": search(reader, Q.term("text", "killed")),
            "all": search(reader, Q.matchall(), stop=100),
        }.items()
    }


def test_commit_killed_between_table_writes(spark, tmp_path, monkeypatch):
    """A commit that dies after the driver wrote one table and before the
    next leaves no visible trace: the store reopens to the previous
    snapshot's answers, and the next commit replaces the dead generation."""
    root = str(tmp_path / "inc")
    inc = IncrementalIndexStore(spark, root, n_shards=2, **CFG)
    inc.commit_batch(_batch(spark, 0, 30))
    before = _answers(inc.open())
    written = []
    real = store_mod.publish_parquet

    def dying(tbl, table_dir, **kwargs):
        written.append(os.path.basename(table_dir))
        if len(written) == 2:
            raise OSError("killed")
        return real(tbl, table_dir, **kwargs)

    monkeypatch.setattr(store_mod, "publish_parquet", dying)
    with pytest.raises(OSError, match="killed"):
        inc.commit_batch(_batch(spark, 20, 40, tag=" killed"), delete_ids=[1])
    monkeypatch.undo()
    assert written == ["forward", "field_lengths"]
    dead = os.path.join(root, "gen-000001")
    assert os.listdir(os.path.join(dead, "store", "forward"))
    assert not os.path.exists(os.path.join(dead, "_COMMITTED"))
    assert _answers(IncrementalIndexStore(spark, root).open()) == before

    inc.commit_batch(_batch(spark, 20, 40, tag=" killed"), delete_ids=[1])
    after = _answers(inc.open())
    assert after["new"][0] == 20 and after["all"][0] == 39
    assert sorted(os.listdir(root)) == ["_config.json", "gen-000000", "gen-000001"]


def _tombstone_ids(gen_dir):
    return sorted(pq.read_table(os.path.join(gen_dir, "tombstones")).column("doc_id").to_pylist())


def test_merges_write_tombstones_on_the_driver(spark, tmp_path, monkeypatch):
    """A partial merge that fits the driver route runs no Spark job: its
    feed (the suffix's live postings, lengths and forward rows) and its
    tombstones (the suffix's live ids and its tombstones) are read and
    written with pyarrow. A fold of delete-only generations runs no job
    either. Both give the same merged store, tombstones and answers as
    the distributed route with Spark-written tombstones."""
    merged = {}
    for route, bound in (("driver", store_mod.DRIVER_BUILD_ROWS), ("dist", 0)):
        monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", bound)
        root = tmp_path / route
        inc = IncrementalIndexStore(spark, str(root), n_shards=2, **CFG)
        inc.commit_batch(_batch(spark, 0, 30))
        inc.commit_batch(_batch(spark, 20, 26, tag=" upserted"), delete_ids=[3])
        inc.commit_batch(_batch(spark, 40, 45, tag=" new"), delete_ids=[21, 5])
        j0 = _jobs(spark)
        gen = inc.partial_merge(1)
        tags = _job_descriptions(spark, j0)
        if route == "driver":
            assert tags == [], tags
        gen_dir = str(root / f"gen-{gen:06d}")
        store = _store_logical_content(spark, os.path.join(gen_dir, "store"))
        tombs = _tombstone_ids(gen_dir)
        assert tombs == sorted({3, 5, 21} | set(range(20, 26)) | set(range(40, 45)))
        d1, d2 = inc.delete([7]), inc.delete([8, 9])
        j0 = _jobs(spark)
        folded = inc._fold_tombstone_gens([d1, d2])
        if route == "driver":
            assert _jobs(spark) == j0
        folded_tombs = _tombstone_ids(str(root / f"gen-{folded:06d}"))
        assert folded_tombs == [7, 8, 9]
        merged[route] = (store, tombs, folded_tombs, _answers(inc.open()))
    assert merged["driver"] == merged["dist"]


@pytest.mark.parametrize("route", ["driver", "distributed"])
def test_commit_jobs_carry_stage_tags(spark, tmp_path, monkeypatch, route):
    """Every Spark job of an add+delete LuceneCore.commit names its stage:
    the one bounded collect on the driver route; the build's stages and
    the tombstone write on the distributed route."""
    core = LuceneCore(spark, str(tmp_path), name="core", n_shards=2)
    core.addDocument({"text": "spark join", "lang": "py"}, identifier="a")
    core.addDocument({"text": "slow table", "lang": "go"}, identifier="b")
    core.commit()
    core.addDocument({"text": "fast scan", "lang": "py"}, identifier="c")
    core.delete(identifier="a")
    if route == "distributed":
        monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
    j0 = _jobs(spark)
    core.commit()
    tags = _job_descriptions(spark, j0)
    if route == "driver":
        assert tags == ["commit:build:collect"]
    else:
        assert all(t and t.startswith("commit:") for t in tags), tags
        assert {
            "commit:build:collect",
            "commit:build:occurrences",
            "commit:build:forward",
            "commit:build:field_lengths",
            "commit:build:term_stats",
            "commit:build:encode",
            "commit:tombstones",
        } <= set(tags), tags
    assert sorted(h.id for h in core.executeQuery(Q.matchall()).hits) == ["b", "c"]
    # the calling thread's description is restored
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None

