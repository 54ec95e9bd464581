"""Compressed segment store: WAND rank-identity, salted sharding fan-in,
lineage completeness, crash-resume identity (SURVEY.md §7.2 items 3/4/7/11)."""

import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from meresco_lucene_spark.corpus import synthesize_corpus
from meresco_lucene_spark.index.segments import SegmentIndex, build_segments
from meresco_lucene_spark.query.bm25 import bm25_score_numpy

N_DOCS = 400
N_SHARDS = 8
SALTS = 4


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("segs") / "idx")
    corpus = synthesize_corpus(spark, N_DOCS, seed=42, partitions=4).persist()
    corpus.count()
    s = build_segments(
        corpus, out, n_shards=N_SHARDS, salt_buckets=SALTS, block_size=32
    )
    yield s
    corpus.unpersist()


def exhaustive_topk(spark, seg, term, k=10):
    post = seg.term_postings(term).toPandas()
    if not len(post):
        return []
    docs = spark.read.parquet(os.path.join(seg.out_dir, "docs")).toPandas().set_index("doc_id")
    dft = seg.term_stats.filter(F.col("term") == term).collect()[0]["df"]
    s = bm25_score_numpy(
        post["tf"].to_numpy(float),
        float(dft),
        docs.loc[post["doc_id"], "dl"].to_numpy(float),
        seg.meta["n_docs"],
        seg.meta["avgdl"],
    )
    ranked = sorted(zip(s, post["doc_id"]), key=lambda x: (-x[0], x[1]))[:k]
    return [(int(d), round(float(sc), 9)) for sc, d in ranked]


@pytest.mark.parametrize("term", ["import", "return", "def", "self", "fn", "int", "nosuchterm"])
def test_wand_rank_identity(spark, seg, term):
    """Block-max WAND must be rank- AND score-identical to exhaustive
    scoring (SURVEY §7.2 item 7)."""
    got = [(r.doc_id, round(r.score, 9)) for r in seg.term_topk(term, 10).collect()]
    assert got == exhaustive_topk(spark, seg, term, 10)


def exhaustive_multi_topk(spark, seg, terms, mode, k=10):
    import collections

    totals: dict[int, float] = collections.defaultdict(float)
    matched: dict[int, int] = collections.defaultdict(int)
    for t in set(terms):
        for d, s in exhaustive_scores(spark, seg, t):
            totals[d] += s
            matched[d] += 1
    n_terms = len(set(terms))
    items = [
        (d, s)
        for d, s in totals.items()
        if mode == "or" or matched[d] == n_terms
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return [(d, round(s, 9)) for d, s in items[:k]]


def exhaustive_scores(spark, seg, term):
    import os as _os

    post = seg.term_postings(term).toPandas()
    if not len(post):
        return []
    docs = spark.read.parquet(_os.path.join(seg.out_dir, "docs")).toPandas().set_index("doc_id")
    from pyspark.sql import functions as F

    dft = seg.term_stats.filter(F.col("term") == term).collect()[0]["df"]
    s = bm25_score_numpy(
        post["tf"].to_numpy(float),
        float(dft),
        docs.loc[post["doc_id"], "dl"].to_numpy(float),
        seg.meta["n_docs"],
        seg.meta["avgdl"],
    )
    return list(zip(post["doc_id"].astype(int), s))


@pytest.mark.parametrize(
    "terms",
    [["import", "return"], ["def", "self", "fn"], ["import", "nosuchterm"]],
)
def test_or_topk_rank_identity(spark, seg, terms):
    got = [(r.doc_id, round(r.score, 9)) for r in seg.or_topk(terms, 10).collect()]
    assert got == exhaustive_multi_topk(spark, seg, terms, "or")


@pytest.mark.parametrize("terms", [["import", "return"], ["def", "int", "self"]])
def test_and_topk_rank_identity(spark, seg, terms):
    got = [(r.doc_id, round(r.score, 9)) for r in seg.and_topk(terms, 10).collect()]
    assert got == exhaustive_multi_topk(spark, seg, terms, "and")


def test_and_topk_missing_term_empty(spark, seg):
    assert seg.and_topk(["import", "nosuchterm"], 10).count() == 0


@pytest.mark.parametrize("op", ["or", "and"])
def test_multi_topk_wand_path_rank_identity(spark, seg, op, monkeypatch):
    """Pin the block-max WAND pipeline (pool -> θ -> candidate rescore):
    with EXHAUSTIVE_CAP lowered to 0 the small-posting-set exhaustive
    shortcut is disabled, so this covers the pruned path the shortcut
    would otherwise hide on test-sized corpora."""
    import meresco_lucene_spark.index.wand as wand

    monkeypatch.setattr(wand, "EXHAUSTIVE_CAP", 0)
    terms = ["import", "return"]
    fn = seg.or_topk if op == "or" else seg.and_topk
    got = [(r.doc_id, round(r.score, 9)) for r in fn(terms, 10).collect()]
    assert got == exhaustive_multi_topk(spark, seg, terms, op)


def test_or_topk_dominating_doc(spark, tmp_path, monkeypatch):
    """Regression for the θ invariant: one doc dominating BOTH term
    top-k pools. The old pooled-k-th θ could exceed the true k-th total
    (the same doc occupied several pool slots); θ is now the k-th
    largest per-doc SUM, which is a valid lower bound by construction.
    Rank identity must hold for every k. (EXHAUSTIVE_CAP pinned to 0 so
    the θ machinery actually runs on this tiny corpus.)"""
    import pandas as pd

    import meresco_lucene_spark.index.wand as wand

    monkeypatch.setattr(wand, "EXHAUSTIVE_CAP", 0)
    rows = [(0, "aaa bbb " * 20)]
    rows += [(i, "aaa filler words here") for i in range(1, 7)]
    rows += [(i, "bbb filler words here") for i in range(7, 13)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "content"]))
    out = str(tmp_path / "dom")
    s = build_segments(df, out, n_shards=4, salt_buckets=2, block_size=4)
    for k in (1, 2, 3, 5, 12):
        got = [(r.doc_id, round(r.score, 9)) for r in s.or_topk(["aaa", "bbb"], k).collect()]
        assert got == exhaustive_multi_topk(spark, s, ["aaa", "bbb"], "or", k), k


def test_hot_term_salted(seg):
    """df >= 5% of docs => postings spread over salt_buckets shards."""
    assert len(seg.term_shards("import")) == SALTS
    shards = (
        seg.blocks_for_term("import").select("shard").distinct().collect()
    )
    assert len(shards) > 1  # actually spread on disk, not just declared


def test_hot_term_pool_group_bound(seg):
    """Hot-term stress (VERDICT r2 next-round #1): the WAND pool groups
    by (term, shard), so no single task may receive more than one salt
    shard's worth of a hot term's blocks. 'import' appears in ~every doc
    (df ≈ N); assert its blocks split into SALTS groups with no group
    holding more than ~1/SALTS of them (2× slack for salt unevenness)."""
    per_group = (
        seg.blocks_for_term("import")
        .groupBy("term", "shard")
        .count()
        .collect()
    )
    assert len(per_group) == SALTS
    total = sum(r["count"] for r in per_group)
    assert max(r["count"] for r in per_group) <= max(2 * total / SALTS, 1)


def test_rare_term_single_shard(spark, seg):
    rare = (
        seg.term_stats.filter(F.col("df") == 1).select("term").limit(1).collect()
    )
    assert rare, "corpus should contain unique sym_* terms"
    t = rare[0]["term"]
    assert len(seg.term_shards(t)) == 1


def test_term_meta_dedupes_terms(seg):
    """A term listed twice yields one metadata row (and one block scan)."""
    rows = seg._term_meta(["import", "def", "import", "def"])
    assert [r["term"] for r in rows] == ["import", "def"]


def test_fan_in_counts(spark, seg):
    """Decoded postings across salted shards == df (no loss, no dupes)."""
    for term in ["import", "def"]:
        dft = seg.term_stats.filter(F.col("term") == term).collect()[0]["df"]
        decoded = seg.term_postings(term)
        assert decoded.count() == dft
        assert decoded.select("doc_id").distinct().count() == dft


def test_lineage_complete(spark, seg):
    lin = spark.read.parquet(os.path.join(seg.out_dir, "lineage"))
    rows = lin.collect()
    assert {r["shard"] for r in rows} == set(range(N_SHARDS))
    # postings accounted: sum over shards == total postings rows
    total = sum(r["n_postings"] for r in rows)
    flat_total = seg.postings.agg(F.sum("doc_count")).collect()[0][0]
    assert total == flat_total


def _logical_content(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "postings"))
    def digest(c):
        return F.sha2(F.array_join(F.col(c).cast("array<string>"), ","), 256)

    rows = df.select(
        "shard", "term", "block_id",
        digest("doc_ids").alias("dh"),
        digest("tfs").alias("th"),
        digest("dls").alias("lh"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def test_crash_resume_identical(spark, tmp_path):
    """Kill-and-rerun (SURVEY §7.2 item 11): wipe two shards — one with
    its lineage row removed (simulating commit-then-crash is NOT possible:
    lineage is written after data; so we simulate crash-before-lineage by
    deleting both data+lineage for one shard, and crash-mid-write by
    leaving a partial shard dir with no lineage row). Resume must rebuild
    exactly the missing shards and reproduce identical logical content."""
    corpus = synthesize_corpus(spark, 150, seed=9, partitions=2).persist()
    a_dir = str(tmp_path / "a")
    b_dir = str(tmp_path / "b")
    build_segments(corpus, a_dir, n_shards=4, salt_buckets=2, block_size=16)
    golden = _logical_content(spark, a_dir)

    shutil.copytree(a_dir, b_dir)
    # crash scenario 1: shard=1 fully lost along with its lineage row
    # crash scenario 2: shard=2 partially written, lineage row missing
    lin = pq.read_table(os.path.join(b_dir, "lineage")).to_pandas()
    keep = lin[~lin["shard"].isin([1, 2])]
    shutil.rmtree(os.path.join(b_dir, "lineage"))
    os.makedirs(os.path.join(b_dir, "lineage"))
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pandas(keep, preserve_index=False),
        os.path.join(b_dir, "lineage", "part-0.parquet"),
    )
    shutil.rmtree(os.path.join(b_dir, "postings", "shard=1"))
    # shard=2: delete one of its files to simulate partial write
    files2 = glob.glob(os.path.join(b_dir, "postings", "shard=2", "*.parquet"))
    assert files2
    os.remove(files2[0])

    seg_b = build_segments(
        corpus, b_dir, n_shards=4, salt_buckets=2, block_size=16, resume=True,
        run_id="resume1",
    )
    assert _logical_content(spark, b_dir) == golden
    lin_b = spark.read.parquet(os.path.join(b_dir, "lineage"))
    assert {r["shard"] for r in lin_b.collect()} == {0, 1, 2, 3}
    # resumed shards tagged with the new run_id
    resumed = {r["shard"] for r in lin_b.filter(F.col("run_id") == "resume1").collect()}
    assert resumed == {1, 2}
    corpus.unpersist()


def test_resume_noop_when_complete(spark, tmp_path):
    """Resume over a complete build rebuilds nothing (lineage rows keep
    their original run_id)."""
    corpus = synthesize_corpus(spark, 60, seed=3, partitions=2)
    d = str(tmp_path / "c")
    build_segments(corpus, d, n_shards=2, salt_buckets=2, run_id="orig")
    golden = _logical_content(spark, d)
    build_segments(corpus, d, n_shards=2, salt_buckets=2, resume=True, run_id="second")
    assert _logical_content(spark, d) == golden
    lin = spark.read.parquet(os.path.join(d, "lineage"))
    assert {r["run_id"] for r in lin.collect()} == {"orig"}


def test_lineage_observation_matches_readback(spark, tmp_path, monkeypatch):
    """r6: small builds compute lineage rows as write-riding Observation
    aggregates instead of a read-back job; the rows must be IDENTICAL
    (schema and values) to the read-back aggregation they replace."""
    import os

    from meresco_lucene_spark.index import segments as seg_mod

    corpus = synthesize_corpus(spark, 80, seed=5, partitions=4)
    a = str(tmp_path / "obs")
    b = str(tmp_path / "readback")
    build_segments(corpus, a, n_shards=4, salt_buckets=2, block_size=16)
    monkeypatch.setattr(seg_mod, "LINEAGE_OBS_MAX_SHARDS", 0)
    build_segments(corpus, b, n_shards=4, salt_buckets=2, block_size=16)

    def rows(d):
        df = spark.read.parquet(os.path.join(d, "lineage"))
        assert df.columns == [
            "shard", "n_terms", "term_min", "term_max", "n_blocks",
            "n_postings", "bytes", "content_xxh64_sum", "run_id",
        ]
        return sorted(map(tuple, df.collect()))

    assert rows(a) == rows(b)


def test_auto_n_shards_bounds():
    """Memory bound: occurrences/n_shards * OCC_ROW_BYTES <= target
    whenever the 65536 cap doesn't bind; the floor keeps sizable corpora
    on all cores but is itself capped so a tiny build (an incremental
    batch commit) isn't padded with near-empty shards."""
    from meresco_lucene_spark.index.segments import (
        ENCODE_TARGET_BYTES,
        OCC_ROW_BYTES,
        auto_n_shards,
    )

    assert auto_n_shards(1_000, floor=8) == 1  # tiny: one real shard
    assert auto_n_shards(20_000, floor=8) == 1  # still under 64k occ/shard
    assert auto_n_shards(300_000, floor=8) == 5  # ceil(300k/65536)
    assert auto_n_shards(1_000_000, floor=8) == 8  # floor binds
    for occ in (10**7, 10**9, 10**11):
        n = auto_n_shards(occ, floor=8)
        if n < 65536:
            assert occ / n * OCC_ROW_BYTES <= ENCODE_TARGET_BYTES
    assert auto_n_shards(10**13, floor=8) == 65536


def test_auto_sharded_build_queries_identically(spark, tmp_path):
    """n_shards=None derives the shard count; results match an explicit
    build and meta records the derived value."""
    corpus = synthesize_corpus(spark, 60, seed=3, partitions=4)
    a = build_segments(corpus, str(tmp_path / "auto"))
    b = build_segments(
        corpus, str(tmp_path / "fixed"), n_shards=4, salt_buckets=2, block_size=16
    )
    from meresco_lucene_spark.index.segments import auto_n_shards

    assert a.meta["n_shards"] == auto_n_shards(
        a.meta["sum_dl"], spark.sparkContext.defaultParallelism
    )
    ra = [(r.doc_id, round(r.score, 9)) for r in a.term_topk("import", 10).collect()]
    rb = [(r.doc_id, round(r.score, 9)) for r in b.term_topk("import", 10).collect()]
    assert ra == rb


@pytest.mark.parametrize("op", ["or", "and"])
def test_multi_topk_fallback_above_broadcast_cap(spark, seg, op, monkeypatch):
    """Both rescore paths must stay rank-identical when the candidate
    set exceeds CANDIDATE_BROADCAST_CAP and the pruned broadcast path
    falls back to the full-scan semi-join."""
    import meresco_lucene_spark.index.wand as wand

    monkeypatch.setattr(wand, "CANDIDATE_BROADCAST_CAP", 0)
    monkeypatch.setattr(wand, "EXHAUSTIVE_CAP", 0)
    terms = ["import", "return"]
    fn = seg.or_topk if op == "or" else seg.and_topk
    got = [(r.doc_id, round(r.score, 9)) for r in fn(terms, 10).collect()]
    assert got == exhaustive_multi_topk(spark, seg, terms, op)


def test_lineage_term_range(spark, seg):
    """Lineage rows carry the shard's term range alongside counts/bytes/
    content hash (the north rule's per-partition lineage shape)."""
    import os

    lin = spark.read.parquet(os.path.join(seg.out_dir, "lineage"))
    rows = {r["shard"]: r for r in lin.collect()}
    post = spark.read.parquet(os.path.join(seg.out_dir, "postings"))
    bounds = {
        r["shard"]: (r["lo"], r["hi"])
        for r in post.groupBy("shard")
        .agg(F.min("term").alias("lo"), F.max("term").alias("hi"))
        .collect()
    }
    for shard, (lo, hi) in bounds.items():
        assert rows[shard]["term_min"] == lo
        assert rows[shard]["term_max"] == hi
