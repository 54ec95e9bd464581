"""The persistent store's sharded posting blocks on a single-field store
of the synthesized source-code corpus: top-k rank identity,
salted-shard fan-in, lineage completeness, crash-resume identity and
auto-sharding (SURVEY.md §7.2 items 3/4/7/11)."""

import collections
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from meresco_lucene_spark.corpus import synthesize_corpus
from meresco_lucene_spark.index import store as store_mod
from meresco_lucene_spark.index.store import auto_n_shards, build_index_store
from meresco_lucene_spark.query.bm25 import bm25_score_numpy

N_DOCS = 400
N_SHARDS = 8
SALTS = 4
FIELD = "content"


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    """The distributed route's store, lineage included (a bound of 0
    keeps the build off the driver route)."""
    out = str(tmp_path_factory.mktemp("segs") / "idx")
    corpus = synthesize_corpus(spark, N_DOCS, seed=42, partitions=4).persist()
    corpus.count()
    with pytest.MonkeyPatch.context() as m:
        m.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
        ix = build_index_store(
            corpus, out, text_cols=[FIELD], n_shards=N_SHARDS, salt_buckets=SALTS,
            block_size=32,
        )
    yield ix
    corpus.unpersist()


def term_blocks(ix, term):
    return ix.blocks.filter((F.col("field") == FIELD) & (F.col("term") == term))


def term_row(ix, term):
    return ix.term_stats.filter(
        (F.col("field") == FIELD) & (F.col("term") == term)
    ).collect()[0]


def exhaustive_scores(ix, term):
    """(doc_id, score) of every posting of ``term``, scored in numpy from
    the decoded postings, the field_lengths table and term_stats."""
    post = ix.postings_for(FIELD).filter(F.col("term") == term).toPandas()
    if not len(post):
        return []
    lengths = ix.field_lengths.filter(F.col("field") == FIELD)
    dls = lengths.toPandas().set_index("doc_id")["dl"]
    st = ix.field_stats(FIELD)
    s = bm25_score_numpy(
        post["tf"].to_numpy(float),
        float(term_row(ix, term)["df"]),
        dls.loc[post["doc_id"]].to_numpy(float),
        st.n_docs,
        st.avgdl,
    )
    return list(zip(post["doc_id"].astype(int), s))


def exhaustive_topk(ix, terms, mode="or", k=10):
    totals: dict[int, float] = collections.defaultdict(float)
    matched: dict[int, int] = collections.defaultdict(int)
    for t in set(terms):
        for d, s in exhaustive_scores(ix, t):
            totals[d] += s
            matched[d] += 1
    n_terms = len(set(terms))
    items = [
        (d, s) for d, s in totals.items() if mode == "or" or matched[d] == n_terms
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return [(d, round(s, 9)) for d, s in items[:k]]


def rows(frame):
    return [(r.doc_id, round(r.score, 9)) for r in frame.collect()]


@pytest.mark.parametrize("term", ["import", "return", "def", "self", "fn", "int", "nosuchterm"])
def test_wand_rank_identity(seg, term):
    """Top-k must be rank- AND score-identical to exhaustive scoring
    (SURVEY §7.2 item 7)."""
    assert rows(seg.term_topk(FIELD, term, 10)) == exhaustive_topk(seg, [term])


@pytest.mark.parametrize(
    "terms",
    [
        ["import", "return"],
        ["def", "self", "fn"],
        ["import", "nosuchterm"],
        ["import", "import"],
    ],
)
def test_or_topk_rank_identity(seg, terms):
    assert rows(seg.or_topk(FIELD, terms, 10)) == exhaustive_topk(seg, terms, "or")


@pytest.mark.parametrize(
    "terms", [["import", "return"], ["def", "int", "self"], ["import", "import"]]
)
def test_and_topk_rank_identity(seg, terms):
    assert rows(seg.and_topk(FIELD, terms, 10)) == exhaustive_topk(seg, terms, "and")


def test_and_topk_missing_term_empty(seg):
    assert seg.and_topk(FIELD, ["import", "nosuchterm"], 10).count() == 0


def test_hot_term_salted(seg):
    """df >= 5% of docs => postings spread over salt_buckets shards."""
    r = term_row(seg, "import")
    assert r["n_salts"] == SALTS
    declared = {(r["base_shard"] + s) % N_SHARDS for s in range(SALTS)}
    shards = {x["shard"] for x in term_blocks(seg, "import").select("shard").collect()}
    assert len(shards) > 1  # actually spread on disk, not just declared
    assert shards <= declared


def test_hot_term_pool_group_bound(seg):
    """Hot-term stress (VERDICT r2 next-round #1): the encode groups by
    shard, so no single task may receive more than one salt shard's
    worth of a hot term's blocks. 'import' appears in ~every doc
    (df ≈ N); assert its blocks split into SALTS groups with no group
    holding more than ~1/SALTS of them (2× slack for salt unevenness)."""
    per_group = term_blocks(seg, "import").groupBy("term", "shard").count().collect()
    assert len(per_group) == SALTS
    total = sum(r["count"] for r in per_group)
    assert max(r["count"] for r in per_group) <= max(2 * total / SALTS, 1)


def test_rare_term_single_shard(seg):
    rare = (
        seg.term_stats.filter((F.col("field") == FIELD) & (F.col("df") == 1))
        .select("term", "base_shard", "n_salts")
        .limit(1)
        .collect()
    )
    assert rare, "corpus should contain unique sym_* terms"
    t = rare[0]
    assert t["n_salts"] == 1
    shards = {x["shard"] for x in term_blocks(seg, t["term"]).select("shard").collect()}
    assert shards == {t["base_shard"]}


def test_term_meta_dedupes_terms(seg):
    """A term listed twice yields one metadata entry (and one block scan)."""
    meta = seg._term_meta(FIELD, ["import", "def", "import", "def"])
    assert list(meta) == ["import", "def"]


def test_fan_in_counts(seg):
    """Decoded postings across salted shards == df (no loss, no dupes)."""
    for term in ["import", "def"]:
        dft = term_row(seg, term)["df"]
        decoded = seg.postings_for(FIELD).filter(F.col("term") == term)
        assert decoded.count() == dft
        assert decoded.select("doc_id").distinct().count() == dft


def test_lineage_complete(spark, seg):
    lin = spark.read.parquet(os.path.join(seg.out_dir, "lineage"))
    rows_ = lin.collect()
    assert {r["shard"] for r in rows_} == set(range(N_SHARDS))
    # postings accounted: sum over shards == total postings rows
    total = sum(r["n_postings"] for r in rows_)
    assert total == seg.blocks.agg(F.sum("doc_count")).collect()[0][0]


def logical_content(spark, out_dir):
    """Block-level content of a store's postings table: (shard, field,
    term, block_id) with a digest of each block's doc_ids, tfs, dls and
    positions, so two stores match only if every block holds the same
    postings in the same shard with the same block boundaries."""
    digest = F.sha2(F.to_json(F.struct("doc_ids", "tfs", "dls", "positions")), 256)
    rows = (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .select("shard", "field", "term", "block_id", digest.alias("h"))
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def test_crash_resume_identical(spark, tmp_path, monkeypatch):
    """Kill-and-rerun (SURVEY §7.2 item 11) on the distributed route.
    Lineage is written after data, so a crash leaves a shard without its
    lineage row: shard 1 is lost with its row (crash before lineage),
    shard 2 is partially written with no row (crash mid-write). Resume
    must rebuild exactly the missing shards and reproduce identical
    logical content."""
    monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
    corpus = synthesize_corpus(spark, 150, seed=9, partitions=2).persist()
    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    kw = dict(text_cols=[FIELD], n_shards=4, salt_buckets=2, block_size=16)
    build_index_store(corpus, a_dir, **kw)
    golden = logical_content(spark, a_dir)

    shutil.copytree(a_dir, b_dir)
    lin = pq.read_table(os.path.join(b_dir, "lineage")).to_pandas()
    keep = lin[~lin["shard"].isin([1, 2])]
    shutil.rmtree(os.path.join(b_dir, "lineage"))
    os.makedirs(os.path.join(b_dir, "lineage"))
    pq.write_table(
        pa.Table.from_pandas(keep, preserve_index=False),
        os.path.join(b_dir, "lineage", "part-0.parquet"),
    )
    shutil.rmtree(os.path.join(b_dir, "postings", "shard=1"))
    files2 = glob.glob(os.path.join(b_dir, "postings", "shard=2", "*.parquet"))
    assert files2
    os.remove(files2[0])

    build_index_store(corpus, b_dir, resume=True, run_id="resume1", **kw)
    assert logical_content(spark, b_dir) == golden
    lin_b = spark.read.parquet(os.path.join(b_dir, "lineage"))
    assert {r["shard"] for r in lin_b.collect()} == {0, 1, 2, 3}
    # resumed shards tagged with the new run_id
    resumed = {r["shard"] for r in lin_b.filter(F.col("run_id") == "resume1").collect()}
    assert resumed == {1, 2}
    corpus.unpersist()


def test_resume_noop_when_complete(spark, tmp_path, monkeypatch):
    """Resume over a complete distributed build rebuilds nothing
    (lineage rows keep their original run_id)."""
    monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
    corpus = synthesize_corpus(spark, 60, seed=3, partitions=2)
    d = str(tmp_path / "c")
    kw = dict(text_cols=[FIELD], n_shards=2, salt_buckets=2)
    build_index_store(corpus, d, run_id="orig", **kw)
    golden = logical_content(spark, d)
    build_index_store(corpus, d, resume=True, run_id="second", **kw)
    assert logical_content(spark, d) == golden
    lin = spark.read.parquet(os.path.join(d, "lineage"))
    assert {r["run_id"] for r in lin.collect()} == {"orig"}


def test_lineage_observation_matches_readback(spark, tmp_path, monkeypatch):
    """Small builds compute lineage rows as write-riding Observation
    aggregates instead of a read-back job; the rows must be IDENTICAL
    (schema and values) to the read-back aggregation they replace. Both
    builds take the distributed route, the one that records lineage."""
    monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)
    corpus = synthesize_corpus(spark, 80, seed=5, partitions=4)
    a = str(tmp_path / "obs")
    b = str(tmp_path / "readback")
    kw = dict(text_cols=[FIELD], n_shards=4, salt_buckets=2, block_size=16)
    build_index_store(corpus, a, **kw)
    monkeypatch.setattr(store_mod, "LINEAGE_OBS_MAX_SHARDS", 0)
    build_index_store(corpus, b, **kw)

    def lineage_rows(d):
        df = spark.read.parquet(os.path.join(d, "lineage"))
        assert df.columns == [
            "shard", "n_terms", "term_min", "term_max", "n_blocks",
            "n_postings", "bytes", "content_xxh64_sum", "run_id",
        ]
        return sorted(map(tuple, df.collect()))

    assert lineage_rows(a) == lineage_rows(b)


def test_auto_n_shards_bounds():
    """Memory bound: occurrences/n_shards * OCC_ROW_BYTES <= target
    whenever the 65536 cap doesn't bind; the floor keeps sizable corpora
    on all cores but is itself capped so a tiny build (an incremental
    batch commit) isn't padded with near-empty shards."""
    assert auto_n_shards(1_000, floor=8) == 1  # tiny: one real shard
    assert auto_n_shards(20_000, floor=8) == 1  # still under 64k occ/shard
    assert auto_n_shards(300_000, floor=8) == 5  # ceil(300k/65536)
    assert auto_n_shards(1_000_000, floor=8) == 8  # floor binds
    for occ in (10**7, 10**9, 10**11):
        n = auto_n_shards(occ, floor=8)
        if n < 65536:
            assert occ / n * store_mod.OCC_ROW_BYTES <= store_mod.ENCODE_TARGET_BYTES
    assert auto_n_shards(10**13, floor=8) == 65536


def test_auto_sharded_build_queries_identically(spark, tmp_path):
    """n_shards=None derives the shard count from the occurrence count;
    results match an explicit build and meta records the derived value."""
    corpus = synthesize_corpus(spark, 60, seed=3, partitions=4)
    a = build_index_store(corpus, str(tmp_path / "auto"), text_cols=[FIELD])
    b = build_index_store(
        corpus, str(tmp_path / "fixed"), text_cols=[FIELD], n_shards=4,
        salt_buckets=2, block_size=16,
    )
    assert a.meta["n_shards"] == auto_n_shards(
        a.meta["field_stats"][FIELD]["sum_dl"], spark.sparkContext.defaultParallelism
    )
    assert rows(a.term_topk(FIELD, "import", 10)) == rows(b.term_topk(FIELD, "import", 10))


def test_lineage_term_range(spark, seg):
    """Lineage rows carry the shard's term range alongside counts/bytes/
    content hash (the north rule's per-partition lineage shape)."""
    lin = {r["shard"]: r for r in spark.read.parquet(os.path.join(seg.out_dir, "lineage")).collect()}
    bounds = (
        seg.blocks.groupBy("shard")
        .agg(F.min("term").alias("lo"), F.max("term").alias("hi"))
        .collect()
    )
    for r in bounds:
        assert lin[r["shard"]]["term_min"] == r["lo"]
        assert lin[r["shard"]]["term_max"] == r["hi"]
