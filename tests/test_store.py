"""Persistent index store: the full query surface served from disk.

Parity contract: every operator of query/executor.py over a
PersistentIndex reopened from disk must match an independent reference
— hand-computed postings and the pure-Python exhaustive scorer of
tests/exhaustive.py — for term/bool/phrase/prefix/range/facets/sort/
dedup, with zero re-tokenization on reopen (the reference's durable
commit -> search contract, Lucene.java:920-945, :899-907)."""

import io
from collections import defaultdict
from contextlib import redirect_stdout

import pandas as pd
import pytest
from pyspark.sql import functions as F

from exhaustive import Exhaustive
from meresco_lucene_spark.analysis.tokenizer import tokenize_text
from meresco_lucene_spark.index import store as store_mod
from meresco_lucene_spark.index.store import PersistentIndex, build_index_store
from meresco_lucene_spark.query.executor import facet_counts_df, hits, search
from meresco_lucene_spark.query.ir import FILTER, MUST, MUST_NOT, SHOULD, Q

DOCS = [
    (0, "spark fast spark join", "py", 3),
    (1, "slow join table", "py", 1),
    (2, "spark table scan scan scan", "java", 5),
    (3, "join the fast table", "go", None),
    (4, "unique_term spark", "py", 2),
    (5, "fast fast fast join spark", None, 4),
]


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("store") / "idx")
    pdf = pd.DataFrame(DOCS, columns=["doc_id", "text", "lang", "stars"])
    df = spark.createDataFrame(pdf)
    kwargs = dict(
        id_col="doc_id",
        text_cols=["text"],
        keyword_cols=["lang"],
        facet_fields={"lang": ["lang"]},
    )
    build_index_store(df, out, n_shards=4, **kwargs)
    exact = Exhaustive(pdf, ["text"], ["lang"], facet_fields={"lang": ["lang"]})
    disk = PersistentIndex(spark, out)  # REOPEN: fresh handle, disk only
    return exact, disk


def _hits(ix, q):
    return {r["doc_id"]: r["score"] for r in hits(ix, q).collect()}


def _assert_scores(got, want, q=None):
    assert got.keys() == want.keys(), q
    for d, s in want.items():
        assert got[d] == pytest.approx(s, rel=1e-12), (q, d)


def test_postings_match_hand_computed(stores):
    _, disk = stores
    positions = defaultdict(list)  # (term, doc_id) -> positions
    dls = {}
    for d, text, _, _ in DOCS:
        toks = tokenize_text(text)
        dls[d] = len(toks)
        for p, t in enumerate(toks):
            positions[(t, d)].append(p)
    assert {
        (r["term"], r["doc_id"]): (r["tf"], r["_bdl"], list(r["positions"]))
        for r in disk.postings_for("text").collect()
    } == {(t, d): (len(ps), dls[d], ps) for (t, d), ps in positions.items()}
    lengths = disk.field_lengths.filter(F.col("field") == "text")
    assert {r["doc_id"]: r["dl"] for r in lengths.collect()} == dls
    df, cf = defaultdict(int), defaultdict(int)
    for (t, _), ps in positions.items():
        df[t] += 1
        cf[t] += len(ps)
    assert sorted(map(tuple, disk.term_stats_for("text").collect())) == sorted(
        (t, df[t], cf[t]) for t in df
    )


QUERIES = [
    Q.term("text", "spark"),
    Q.term("text", "spark", boost=2.5),
    Q.and_(Q.term("text", "spark"), Q.term("text", "join")),
    Q.or_(Q.term("text", "scan"), Q.term("text", "unique_term")),
    Q.not_(Q.term("text", "join"), Q.term("text", "slow")),
    Q.boolean((MUST, Q.term("text", "spark")), (FILTER, Q.term("lang", "py"))),
    Q.boolean((SHOULD, Q.term("text", "fast")), (MUST_NOT, Q.term("text", "scan"))),
    Q.phrase("text", "fast", "table"),
    Q.phrase("text", "spark", "fast", "spark"),
    Q.prefix("text", "sca"),
    Q.range("stars", lower=2, upper=5, include_lower=True, include_upper=False),
    Q.matchall(),
    Q.drilldown("lang", ["py"]),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_query_surface_parity(stores, qi):
    exact, disk = stores
    q = QUERIES[qi]
    _assert_scores(_hits(disk, q), exact.evaluate(q), q.to_dict())


def test_search_facets_sort_dedup_from_disk(stores):
    exact, disk = stores
    r = search(
        disk,
        query=Q.term("text", "join"),  # docs 0, 1 (py), 3 (go), 5 (no lang)
        facets=[{"fieldname": "lang", "maxTerms": 10}],
        dedup_field="lang",
        stored_fields=["lang", "stars"],
        sort_keys=[{"sortBy": "score", "sortDescending": True}],
    )
    scores = exact.evaluate(Q.term("text", "join"))
    best_py = min((0, 1), key=lambda d: (-scores[d], d))
    kept = sorted((best_py, 3, 5), key=lambda d: (-scores[d], d))
    fields = {0: ("py", 3), 1: ("py", 1), 3: ("go", None), 5: (None, 4)}
    assert (r.total, r.totalWithDuplicates) == (3, 4)
    assert r.drilldownData == [
        {"fieldname": "lang", "terms": [{"term": "py", "count": 2}, {"term": "go", "count": 1}]}
    ]
    assert [h.id for h in r.hits] == kept
    assert [h.duplicateCount for h in r.hits] == [2 if d == best_py else 1 for d in kept]
    for h in r.hits:
        assert h.score == pytest.approx(scores[h.id], rel=1e-12)
        lang, stars = fields[h.id]
        assert h.fields["lang"] == lang
        assert pd.isna(h.fields["stars"]) if stars is None else h.fields["stars"] == stars
    counts = facet_counts_df(disk, hits(disk, Q.matchall()), "lang").collect()
    assert [tuple(c) for c in counts] == [("py", 3), ("go", 1), ("java", 1)]


def test_term_filter_pushed_to_parquet_scan(stores):
    """The decode is a projection: a term equality above it must reach
    the parquet scan as a PushedFilter — only the query term's blocks
    are read and decoded."""
    _, disk = stores
    p = disk.postings_for("text").filter(F.col("term") == "spark")
    buf = io.StringIO()
    with redirect_stdout(buf):
        p.explain(True)
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("term" in ln and "spark" in ln for ln in pushed), pushed


def test_reopen_zero_retokenization(spark, stores, monkeypatch):
    """Opening + querying a store must never tokenize: poison the
    tokenizer module and run a full search from a fresh handle."""
    _, disk = stores

    def _boom(*a, **k):
        raise AssertionError("tokenizer invoked on reopened store")

    from meresco_lucene_spark.analysis import tokenizer

    monkeypatch.setattr(tokenizer, "tokenize_expr", _boom)
    monkeypatch.setattr(tokenizer, "tokenize_sql", _boom)
    monkeypatch.setattr(tokenizer, "tokenize_udf", _boom)
    fresh = PersistentIndex(spark, disk.out_dir)
    r = search(fresh, Q.term("text", "spark"), stop=3)
    assert r.total == 4 and len(r.hits) == 3


def _assert_topk(rows, exact, q, k):
    """``rows`` (doc_id, score) are the exact top-k of ``q``: the same
    docs in (score desc, doc_id asc) order, with the same scores."""
    want = sorted(exact.evaluate(q).items(), key=lambda ds: (-ds[1], ds[0]))[:k]
    got = [(r["doc_id"], r["score"]) for r in rows]
    assert [d for d, _ in got] == [d for d, _ in want], q.to_dict()
    for (_, s), (_, w) in zip(got, want):
        assert s == pytest.approx(w, rel=1e-12)


@pytest.mark.parametrize("spark_route", [False, True])
def test_store_wand_rank_identity(stores, spark_route, monkeypatch):
    """The store's top-k (term/or/and_topk) must be rank- AND
    score-identical to the exact executor evaluation, on the driver
    route and (spark_route) on the Spark route that answers a top-k
    whose postings exceed DRIVER_QUERY_POSTINGS."""
    if spark_route:
        monkeypatch.setattr(store_mod, "DRIVER_QUERY_POSTINGS", -1)
    exact, disk = stores
    for term in ("spark", "fast", "unique_term", "nosuchterm"):
        rows = disk.term_topk("text", term, 4).collect()
        _assert_topk(rows, exact, Q.term("text", term), 4)
    rows = disk.or_topk("text", ["spark", "join"], 4).collect()
    _assert_topk(rows, exact, Q.or_(Q.term("text", "spark"), Q.term("text", "join")), 4)
    rows = disk.and_topk("text", ["spark", "join"], 4).collect()
    _assert_topk(rows, exact, Q.and_(Q.term("text", "spark"), Q.term("text", "join")), 4)
    assert disk.and_topk("text", ["spark", "nosuchterm"], 4).count() == 0
    # keyword field (omit_norms): dl=1/avgdl=1 collapses to tf/(tf+k1)
    _assert_topk(disk.term_topk("lang", "py", 5).collect(), exact, Q.term("lang", "py"), 5)


def _jobs(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_wand_term_meta_memo(spark, stores, monkeypatch):
    """A handle looks each present (field, term) up in term_stats once,
    on the driver without a Spark job: a repeated term_topk runs no Spark
    job (the driver route answers it), a batch of terms is one read of
    the missing ones, a term absent from one field is not taken as present because another
    field has it, and absent terms are not kept (the memo is bounded by
    the term dictionary)."""
    _, disk = stores
    reads = []  # the (field, terms) of each term_stats read
    read_table = store_mod.pq.read_table

    def recording_read(path, **kw):
        # the driver route reads postings files through the same module
        if str(path).endswith("term_stats"):
            (_, _, fld), (_, _, terms) = kw["filters"]
            reads.append((fld, list(terms)))
        return read_table(path, **kw)

    monkeypatch.setattr(store_mod.pq, "read_table", recording_read)
    ix = PersistentIndex(spark, disk.out_dir)  # fresh handle, empty memo
    first = ix.term_topk("text", "spark", 4).collect()
    j0 = _jobs(spark)
    assert ix.term_topk("text", "spark", 4).collect() == first
    assert _jobs(spark) - j0 == 0
    assert reads == [("text", ["spark"])]

    j0 = _jobs(spark)
    assert list(ix._term_meta("text", ["join", "spark", "join"])) == ["join", "spark"]
    assert _jobs(spark) - j0 == 0
    assert reads[1:] == [("text", ["join"])]  # only "join" was missing
    assert list(ix._term_meta("lang", ["py", "spark"])) == ["py"]
    assert _jobs(spark) - j0 == 0
    assert reads[2:] == [("lang", ["py", "spark"])]
    j0 = _jobs(spark)
    assert list(ix._term_meta("text", ["py", "spark", "join"])) == ["spark", "join"]
    assert _jobs(spark) - j0 == 0
    assert reads[3:] == [("text", ["py"])]  # ("text", "py") was not looked up yet
    assert ("text", "py") not in ix._meta_memo
    assert ("lang", "spark") not in ix._meta_memo
    j0 = _jobs(spark)
    assert list(ix._term_meta("text", ["py", "spark"])) == ["spark"]
    assert _jobs(spark) - j0 == 0
    assert reads[4:] == [("text", ["py"])]  # an absent term is looked up again
    assert ix.term_topk("lang", "spark", 4).count() == 0
    assert ix.and_topk("text", ["spark", "py"], 4).count() == 0
    assert {r["doc_id"] for r in ix.term_topk("lang", "py", 5).collect()} == {0, 1, 4}


def test_composed_queries_over_persistent_cores(spark, tmp_path):
    """Multi-core composed queries run unchanged over PersistentIndex
    cores reopened from disk (MultiLuceneTest.java testJoinQuery golden:
    coreA docs whose A-key has a coreB doc with N=true)."""
    from meresco_lucene_spark.compose.composedquery import (
        ComposedQuery,
        execute_composed,
    )

    a_rows = [(0, "A", 1, "false"), (1, "A-U", 2, "false"),
              (2, "A-Q", 3, "false"), (3, "A-QU", 4, "false"),
              (4, "A-M", 5, "true"), (5, "A-MU", 6, "true"),
              (6, "A-MQ", 7, "true"), (7, "A-MQU", 8, "true")]
    b_rows = [(0, 5, "true"), (1, 6, "true"), (2, 7, "true"), (3, 8, "true"),
              (4, 9, "true"), (5, 10, "false")]
    a = spark.createDataFrame(
        pd.DataFrame(a_rows, columns=["doc_id", "id", "A", "M"])
    )
    b = spark.createDataFrame(pd.DataFrame(b_rows, columns=["doc_id", "B", "N"]))
    build_index_store(a, str(tmp_path / "coreA"), keyword_cols=["M", "id"], n_shards=4)
    build_index_store(b, str(tmp_path / "coreB"), keyword_cols=["N"], n_shards=4)
    cores = {
        "coreA": PersistentIndex(spark, str(tmp_path / "coreA")),
        "coreB": PersistentIndex(spark, str(tmp_path / "coreB")),
    }
    cq = ComposedQuery("coreA", queries={"coreA": Q.matchall()})
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r = execute_composed(cores, cq)
    assert r.total == 4
    assert {h.id for h in r.hits} == {4, 5, 6, 7}  # A-M, A-MU, A-MQ, A-MQU


def test_store_array_cols_and_term_frequency_similarity(spark, tmp_path):
    """Stores persist pre-tokenized array fields (the suggestion ngram
    shape) and the TermFrequency similarity setting survives reopen
    (search/TermFrequencySimilarity.java:40-58: score = tf/1000 * boost)."""
    rows = [(1, ["$a", "ab", "b$", "ab"]), (2, ["$a", "zz"])]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "bigram"]))
    out = str(tmp_path / "arr")
    build_index_store(
        df, out, array_cols=["bigram"], similarity="TermFrequency", n_shards=2
    )
    disk = PersistentIndex(spark, out)
    assert disk.similarity == "TermFrequency"
    got = {r["doc_id"]: round(r["score"], 9)
           for r in hits(disk, Q.term("bigram", "ab")).collect()}
    assert got == {1: round(2 / 1000, 9)}
    got = {r["doc_id"]: round(r["score"], 9)
           for r in hits(disk, Q.term("bigram", "$a", boost=3.0)).collect()}
    assert got == {1: 0.003, 2: 0.003}


def _store_logical_content(spark, out_dir):
    """Block-level content of the postings table: (shard, field, term,
    block_id) with a digest of each block's doc_ids, tfs, dls and
    positions, so a resume must rebuild the same blocks in the same
    shards, not only the same decoded postings."""
    digest = F.sha2(F.to_json(F.struct("doc_ids", "tfs", "dls", "positions")), 256)
    rows = (
        spark.read.parquet(f"{out_dir}/postings")
        .select("shard", "field", "term", "block_id", digest.alias("h"))
        .collect()
    )
    return sorted(tuple(r) for r in rows)


def test_store_crash_resume_identical(spark, tmp_path, monkeypatch):
    """Kill-and-rerun for the persistent store (same lineage contract as
    segments) on the distributed route: wipe one shard fully
    (data+lineage) and leave another partially written with no lineage
    row; resume must re-encode exactly the missing shards and reproduce
    identical logical content."""
    import glob
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F2

    monkeypatch.setattr(store_mod, "DRIVER_BUILD_ROWS", 0)

    pdf = pd.DataFrame(
        {
            "doc_id": range(150),
            "text": [f"alpha beta w{i} w{i%7} gamma" for i in range(150)],
        }
    )
    df = spark.createDataFrame(pdf)
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index_store(df, a_dir, text_cols=["text"], n_shards=4, block_size=16)
    golden = _store_logical_content(spark, a_dir)

    shutil.copytree(a_dir, b_dir)
    lin = pq.read_table(f"{b_dir}/lineage").to_pandas()
    keep = lin[~lin["shard"].isin([1, 2])]
    shutil.rmtree(f"{b_dir}/lineage")
    import os

    os.makedirs(f"{b_dir}/lineage")
    pq.write_table(
        pa.Table.from_pandas(keep, preserve_index=False),
        f"{b_dir}/lineage/part-0.parquet",
    )
    shutil.rmtree(f"{b_dir}/postings/shard=1")
    files2 = glob.glob(f"{b_dir}/postings/shard=2/*.parquet")
    assert files2
    os.remove(files2[0])

    build_index_store(
        df, b_dir, text_cols=["text"], n_shards=4, block_size=16,
        resume=True, run_id="resume1",
    )
    assert _store_logical_content(spark, b_dir) == golden
    lin_b = spark.read.parquet(f"{b_dir}/lineage")
    assert {r["shard"] for r in lin_b.collect()} == {0, 1, 2, 3}
    resumed = {
        r["shard"] for r in lin_b.filter(F2.col("run_id") == "resume1").collect()
    }
    assert resumed == {1, 2}
    # resume over a complete store is a no-op (original run_ids kept)
    build_index_store(
        df, b_dir, text_cols=["text"], n_shards=4, block_size=16,
        resume=True, run_id="resume2",
    )
    lin_b2 = spark.read.parquet(f"{b_dir}/lineage")
    assert "resume2" not in {r["run_id"] for r in lin_b2.collect()}
    assert _store_logical_content(spark, b_dir) == golden


def test_hot_term_salting_splits_blocks(spark, tmp_path):
    """A term over the hot-df threshold spreads across salt_buckets
    shards; postings still decode identically."""
    n = 60
    pdf = pd.DataFrame(
        {"doc_id": range(n), "text": ["common filler" if i % 2 else "common alone" for i in range(n)]}
    )
    out = str(tmp_path / "hot")
    build_index_store(
        spark.createDataFrame(pdf), out, text_cols=["text"],
        n_shards=8, salt_buckets=4, hot_df_fraction=0.5, block_size=8,
    )
    disk = PersistentIndex(spark, out)
    shards = {
        r["shard"]
        for r in disk.blocks.filter(F.col("term") == "common").select("shard").collect()
    }
    assert len(shards) == 4  # salted across salt_buckets shards
    got = {
        r["doc_id"]: r["tf"]
        for r in disk.postings_for("text").filter(F.col("term") == "common").collect()
    }
    assert got == {i: 1 for i in range(n)}


def test_pin_build_config_resume_keeps_shard_mapping(tmp_path):
    """ADVICE r3: auto n_shards floors at the session's parallelism, so
    a resume on a different cluster would re-derive a different value
    and mix two shard mappings. The pinned _build_config.json wins on
    resume; a conflicting explicit n_shards is an error."""
    import pytest as _pytest

    from meresco_lucene_spark.index.store import pin_build_config

    n, s = pin_build_config(str(tmp_path), False, None, 8, lambda: 7)
    assert (n, s) == (7, 7)
    # "different cluster": derive would now say 13 — pinned value wins
    assert pin_build_config(str(tmp_path), True, None, 8, lambda: 13) == (7, 7)
    # explicit n_shards matching the pin is fine; a conflict raises
    assert pin_build_config(str(tmp_path), True, 7, 8, lambda: 13) == (7, 7)
    with _pytest.raises(ValueError, match="shard mapping"):
        pin_build_config(str(tmp_path), True, 13, 8, lambda: 13)
    # a FRESH (non-resume) build re-pins
    assert pin_build_config(str(tmp_path), False, 4, 8, lambda: 99) == (4, 4)
