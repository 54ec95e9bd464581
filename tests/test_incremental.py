"""Incremental commits (index/incremental.py): Lucene's segment model —
per-batch generation stores, liveness tombstones, stats-include-deleted
until merge, copy-don't-reanalyze force_merge."""

import os

import pytest
from pyspark.sql import functions as F

from meresco_lucene_spark.index.incremental import (
    IncrementalIndexStore,
    MultiGenIndex,
    _commit_marker,
)
from meresco_lucene_spark.index.store import build_index_store
from meresco_lucene_spark.query.executor import hits, search
from meresco_lucene_spark.query.ir import MUST, SHOULD, Q

SF = "/root/testdata/sf0.001"

CFG = dict(text_cols=["text"], keyword_cols=["lang"], n_shards=4)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") < 90
    ).select("doc_id", "text", "lang").persist()


def _scores(idx, q):
    return {
        (r["doc_id"], round(r["score"], 6)) for r in hits(idx, q).collect()
    }


def test_append_commits_equal_oneshot_build(spark, docs, tmp_path):
    """Three append-only commits must answer every query identically to
    a single one-shot store build over the same rows (disjoint batches:
    summed df/cf/n_docs/avgdl equal the global ones exactly)."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        inc.commit_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        )
    multi = inc.open()
    assert len(multi.gens) == 3

    one = build_index_store(docs, str(tmp_path / "one"), **CFG)
    for q in (
        Q.term("text", "import"),
        Q.boolean(
            (MUST, Q.term("text", "import")), (MUST, Q.term("text", "return"))
        ),
        Q.phrase("text", "def", "main"),
        Q.prefix("text", "im"),
    ):
        assert _scores(multi, q) == _scores(one, q)
    assert multi.num_docs() == one.num_docs()
    st_m, st_o = multi.field_stats("text"), one.field_stats("text")
    assert (st_m.n_docs, st_m.sum_dl) == (st_o.n_docs, st_o.sum_dl)


def test_update_supersedes_older_version(spark, docs, tmp_path):
    """An id re-committed in a later batch stops matching its OLD terms
    and starts matching the new ones; scoring stats keep counting the
    superseded version until merge (Lucene: deletes don't shrink
    docFreq)."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    b1 = docs.filter(F.col("doc_id") < 20)
    inc.commit_batch(b1)
    upd = spark.createDataFrame(
        [(5, "zzunique replacement body", "en")], "doc_id long, text string, lang string"
    )
    inc.commit_batch(upd)
    multi = inc.open()

    assert {r["doc_id"] for r in hits(multi, Q.term("text", "zzunique")).collect()} == {5}
    old_terms = {r["doc_id"] for r in hits(multi, Q.term("text", "import")).collect()}
    assert 5 not in old_terms
    # forward serves exactly one (the latest) row for the updated id
    fwd = multi.forward.filter(F.col("doc_id") == 5).collect()
    assert len(fwd) == 1 and "zzunique" in fwd[0]["text"]
    # stats include the superseded version: 20 originals + 1 update
    assert multi.field_stats("text").n_docs == 21


def test_delete_then_readd(spark, docs, tmp_path):
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 10))
    inc.delete([3])
    multi = inc.open()
    assert 3 not in {r["doc_id"] for r in multi.forward.select("doc_id").collect()}
    readd = spark.createDataFrame(
        [(3, "resurrected zzalive content", "en")],
        "doc_id long, text string, lang string",
    )
    inc.commit_batch(readd)
    multi = inc.open()
    assert {r["doc_id"] for r in hits(multi, Q.term("text", "zzalive")).collect()} == {3}


def test_force_merge_equals_fresh_build_on_live_state(spark, docs, tmp_path):
    """After updates + deletes, force_merge folds to ONE generation whose
    results AND scores equal a fresh one-shot build over the live rows
    (post-merge stats drop dead docs, the Lucene merge semantics) —
    without re-tokenizing (merge re-encodes decoded postings)."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 30))
    upd = spark.createDataFrame(
        [(7, "zzmerged replacement text", "en")],
        "doc_id long, text string, lang string",
    )
    inc.commit_batch(upd)
    inc.delete([11])
    inc.force_merge()
    multi = inc.open()
    assert len(multi.gens) == 1

    live = docs.filter((F.col("doc_id") < 30) & ~F.col("doc_id").isin(7, 11)).unionByName(upd)
    fresh = build_index_store(live, str(tmp_path / "fresh"), **CFG)
    for q in (
        Q.term("text", "import"),
        Q.term("text", "zzmerged"),
        Q.boolean(
            (SHOULD, Q.term("text", "import")), (SHOULD, Q.term("text", "return"))
        ),
        Q.phrase("text", "def", "main"),
    ):
        assert _scores(multi, q) == _scores(fresh, q)
    st_m, st_f = multi.field_stats("text"), fresh.field_stats("text")
    assert (st_m.n_docs, st_m.sum_dl) == (st_f.n_docs, st_f.sum_dl)


def test_multigen_term_filter_pushdown(spark, docs, tmp_path):
    """The 100 TB contract of the multi-generation reader: a term filter
    must reach the parquet scan (below the decode projection and the
    liveness anti-join) — a query touches only its term's blocks in each
    generation, never a full scan — and that one scan reads every
    generation's blocks."""
    import io
    from contextlib import redirect_stdout

    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 30))
    inc.commit_batch(docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60)))
    inc.delete([5])  # force a tombstone frame into the plan
    multi = inc.open()
    plan_df = multi.postings_for("text").filter(F.col("term") == "import")
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    scans = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "term" in ln]
    # one postings scan for all generations, carrying the term filter
    assert len(scans) == 1 and "EqualTo(term,import)" in scans[0], plan
    leaves = plan_df._jdf.queryExecution().sparkPlan().collectLeaves()
    files = [
        f.getPath().toString()
        for i in range(leaves.length())
        if leaves.apply(i).nodeName().startswith("Scan parquet")
        for p in _iter(leaves.apply(i).selectedPartitions().filePartitionIterator())
        for f in _iter(p.files())
    ]
    assert {"gen-000000", "gen-000001"} <= {
        seg for f in files for seg in f.split("/") if seg.startswith("gen-")
    }, files


def _iter(jit):
    while jit.hasNext():
        yield jit.next()


def test_maybe_merge_tiered_trigger(spark, docs, tmp_path):
    """maybe_merge is the TieredMergePolicy trigger: below the tier size
    it does nothing; above it, generations fold to one and visible
    results are unchanged."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    for lo in range(0, 30, 10):
        inc.commit_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10))
        )
    assert inc.maybe_merge(segments_per_tier=4) is None
    before = _scores(inc.open(), Q.term("text", "import"))
    assert inc.maybe_merge(segments_per_tier=2) is not None
    multi = inc.open()
    assert len(multi.gens) == 1
    # append-only history: merge changes no stats, so scores identical
    assert _scores(multi, Q.term("text", "import")) == before


def test_merge_drops_corpus_sized_tombstones(spark, docs, tmp_path):
    """After a merge garbage-collects the old generations, the merged
    generation's own tombstones (one per live doc — corpus-sized) mask
    nothing and must be gone: steady-state reads carry NO liveness
    anti-join and the tombstone broadcast is bounded by un-merged
    volume, never corpus size."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 20))
    inc.commit_batch(docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)))
    inc.force_merge()
    multi = inc.open()
    assert multi._tombstones is None
    assert multi.num_docs() == 40
    # and a post-merge commit starts a fresh, batch-bounded tombstone set
    upd = spark.createDataFrame(
        [(3, "zzpostmerge text", "en")], "doc_id long, text string, lang string"
    )
    inc.commit_batch(upd)
    multi = inc.open()
    assert multi._tombstones.count() == 1


def test_as_of_snapshot_read(spark, docs, tmp_path):
    """open(as_of=N) pins the state after commit N: later updates and
    deletes are invisible to the snapshot while the live reader sees
    them — the commit-point analog."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    g0 = inc.commit_batch(docs.filter(F.col("doc_id") < 20))
    upd = spark.createDataFrame(
        [(5, "zzlater replacement", "en")], "doc_id long, text string, lang string"
    )
    inc.commit_batch(upd)
    inc.delete([7])

    snap = inc.open(as_of=g0)
    live = inc.open()
    assert snap.num_docs() == 20
    assert {r["doc_id"] for r in hits(snap, Q.term("text", "zzlater")).collect()} == set()
    assert 7 in {r["doc_id"] for r in snap.forward.select("doc_id").collect()}
    assert {r["doc_id"] for r in hits(live, Q.term("text", "zzlater")).collect()} == {5}
    assert 7 not in {r["doc_id"] for r in live.forward.select("doc_id").collect()}


def test_random_op_sequences_match_dict_model(spark, tmp_path):
    """Model check: random interleavings of add/update/delete/merge —
    including the size-tiered PARTIAL merge (maybe_merge, round 5: delta
    -suffix fold + delete-only-suffix tombstone fold) — must leave the
    store's visible state equal to a plain dict applying the same ops
    (seeded, 3 sequences x 12 ops; Spark builds are the cost ceiling,
    not the example count). Each sequence ends with force_merge and a
    score comparison against a FRESH one-shot build of the model state:
    after a full merge, stats cover live docs only, so scores must be
    bit-equal to a from-scratch store."""
    import random

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        root = str(tmp_path / f"inc{seed}")
        inc = IncrementalIndexStore(spark, root, **CFG)
        model: dict[int, str] = {}
        # a first commit so tombstones have something to mask
        first = {i: f"w{seed} base{i} doc" for i in range(4)}
        inc.commit_batch(
            spark.createDataFrame(
                [(k, v, "en") for k, v in first.items()],
                "doc_id long, text string, lang string",
            )
        )
        model.update(first)
        for step in range(12):
            op = rng.choice(["add", "update", "delete", "merge", "tier"])
            if op == "merge":
                inc.force_merge()
            elif op == "tier":
                # partial-merge trigger at the smallest tier: exercises
                # the dominant-base skip, the delta-suffix fold, and the
                # delete-only-suffix tombstone fold on random states
                inc.maybe_merge(segments_per_tier=2)
            elif op == "delete":
                if not model:
                    continue
                victim = rng.choice(sorted(model))
                inc.delete([victim])
                del model[victim]
            else:
                if op == "add" or not model:
                    did = max(model, default=-1) + 1
                else:
                    did = rng.choice(sorted(model))
                text = f"w{seed} s{step} tok{rng.randrange(5)} doc{did}"
                inc.commit_batch(
                    spark.createDataFrame(
                        [(did, text, "en")], "doc_id long, text string, lang string"
                    )
                )
                model[did] = text
        got = {
            r["doc_id"]: r["text"] for r in inc.open().forward.collect()
        }
        assert got == model, f"seed {seed}"
        # every live doc matches the shared token EXACTLY ONCE (lists,
        # not sets — the round-3 length-read bug duplicated upserted
        # hits and a set comparison collapsed the duplicates)
        q = Q.term("text", f"w{seed}")
        ids = [r["doc_id"] for r in hits(inc.open(), q).collect()]
        assert sorted(ids) == sorted(set(ids)), f"seed {seed}: duplicate hits"
        assert set(ids) == set(model)
        # endpoint: full merge == fresh one-shot build, SCORES included
        # (live-only stats after the fold, whatever merge path got here)
        inc.force_merge()
        merged_scores = {
            r["doc_id"]: round(r["score"], 9)
            for r in hits(inc.open(), q).collect()
        }
        fresh = IncrementalIndexStore(spark, str(tmp_path / f"fresh{seed}"), **CFG)
        if model:
            fresh.commit_batch(
                spark.createDataFrame(
                    [(k, v, "en") for k, v in sorted(model.items())],
                    "doc_id long, text string, lang string",
                )
            )
            fresh_scores = {
                r["doc_id"]: round(r["score"], 9)
                for r in hits(fresh.open(), q).collect()
            }
        else:
            fresh_scores = {}
        assert merged_scores == fresh_scores, f"seed {seed}"


def test_composed_query_over_incremental_core(spark, tmp_path, build_store):
    """Interface interchangeability: a MultiGenIndex (built from two
    commits, one row updated) is a drop-in core for the multi-core
    composed-query algebra — same semi-join answer as the single-store
    cores in test_composed.py::test_join_query."""
    from pyspark.sql import types as T

    from meresco_lucene_spark.compose.composedquery import (
        ComposedQuery,
        execute_composed,
    )
    from tests.test_composed import A_ROWS, B_ROWS, _schema

    lng, s = T.LongType(), T.StringType()
    a_schema = _schema(
        [("doc_id", lng), ("id", s), ("A", lng), ("C", lng),
         ("M", s), ("Q", s), ("U", s), ("S", s)]
    )
    a = spark.createDataFrame(A_ROWS, a_schema)
    inc = IncrementalIndexStore(
        spark,
        str(tmp_path / "coreA"),
        keyword_cols=["M", "Q", "U", "S"],
        n_shards=2,
    )
    inc.commit_batch(a.filter(F.col("doc_id") < 4))
    inc.commit_batch(a.filter(F.col("doc_id") >= 4))
    # re-commit doc 0 unchanged (an upsert) so liveness is exercised
    inc.commit_batch(a.filter(F.col("doc_id") == 0))
    core_a = inc.open()
    assert len(core_a.gens) == 3

    b = spark.createDataFrame(
        B_ROWS,
        _schema([("doc_id", lng), ("id", s), ("B", lng), ("D", lng),
                 ("N", s), ("O", s), ("P", s), ("T", s), ("intField", lng)]),
    )
    core_b = build_store(b, id_col="doc_id", keyword_cols=["N", "O", "P", "T"])

    cq = ComposedQuery("coreA", queries={"coreA": Q.matchall()})
    cq.set_core_query("coreB", Q.term("N", "true"))
    cq.add_match("coreA", "A", "coreB", "B")
    r = execute_composed({"coreA": core_a, "coreB": core_b}, cq)
    lookup = {row[0]: row[1] for row in A_ROWS}
    assert r.total == 4
    assert {lookup[h.id] for h in r.hits} == {"A-M", "A-MU", "A-MQ", "A-MQU"}


def test_uncommitted_generation_invisible(spark, docs, tmp_path):
    """A crashed commit (gen dir without _COMMITTED) must not surface;
    the next commit WIPES the debris and reuses its number (single
    writer), so half-written dirs never leak on disk."""
    root = str(tmp_path / "inc")
    inc = IncrementalIndexStore(spark, root, **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 10))
    os.makedirs(os.path.join(root, "gen-000001", "store"), exist_ok=True)  # crash debris
    multi = inc.open()
    assert multi.gens == [0]
    g = inc.commit_batch(docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)))
    assert g == 1  # debris wiped, number reused
    assert os.path.exists(
        _commit_marker(os.path.join(root, "gen-000001"))
    )
    assert inc.open().num_docs() == 20


def test_upsert_hit_multiplicity_and_live_dl_scores(spark, tmp_path):
    """Regression for the round-3 wrong-answer bug: after an upsert the
    updated doc was returned TWICE per query (term AND phrase) with one
    stale-dl score, because a length read skipped the liveness filter
    while the executor joined postings to lengths on bare doc_id. The
    postings now carry their own dl. Asserts hit MULTIPLICITY (lists,
    never sets) and the exact live-dl BM25 score. Reference contract: one norm per live doc,
    dead docs never match (delete-then-add, Lucene.java:166-171)."""
    import numpy as np

    from meresco_lucene_spark.query.bm25 import bm25_score_numpy

    rows = [(i, f"alpha beta unique{i} filler word", "en") for i in range(8)]
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(
        spark.createDataFrame(rows, "doc_id long, text string, lang string")
    )
    # upsert doc 5: still matches "alpha beta", but with a much longer
    # body so the stale (short) dl would produce a visibly different score
    new_text = "alpha beta " + " ".join(f"pad{j}" for j in range(20))
    inc.commit_batch(
        spark.createDataFrame(
            [(5, new_text, "en")], "doc_id long, text string, lang string"
        )
    )
    multi = inc.open()

    # exactly one live posting of the doc, carrying the live dl
    dl_rows = (
        multi.postings_for("text")
        .filter((F.col("doc_id") == 5) & (F.col("term") == "alpha"))
        .collect()
    )
    assert len(dl_rows) == 1, f"duplicate postings: {dl_rows}"
    live_dl = dl_rows[0]["_bdl"]
    assert live_dl > 5  # the LIVE (long) version, not the stale one

    for q in (Q.term("text", "alpha"), Q.phrase("text", "alpha", "beta")):
        got = [(r["doc_id"], r["score"]) for r in hits(multi, q).collect()]
        ids = [d for d, _ in got]
        assert sorted(ids) == sorted(set(ids)), f"duplicate hits: {got}"
        assert set(ids) == set(range(8))

    # exact live-dl score for the upserted doc (stats include the dead
    # version until merge: n_docs=9, df counts both generations)
    st = multi.field_stats("text")
    df_alpha = {
        r["term"]: r["df"] for r in multi.term_stats_for("text").collect()
    }["alpha"]
    assert df_alpha == 9
    expected = float(
        bm25_score_numpy(
            np.array([1.0]), np.array([float(df_alpha)]),
            np.array([float(live_dl)]),
            st.n_docs, st.sum_dl / st.n_docs, k1=multi.k1, b=multi.b,
        )[0]
    )
    got5 = [
        r["score"]
        for r in hits(multi, Q.term("text", "alpha")).collect()
        if r["doc_id"] == 5
    ]
    assert len(got5) == 1
    assert abs(got5[0] - expected) < 1e-9


def test_partial_merge_leaves_base_untouched(spark, docs, tmp_path):
    """Size-tiered merge (round 5): with a dominant base generation and
    many small deltas, maybe_merge folds ONLY the delta suffix — the
    base gen dir is not rewritten (at 100 TB, merge cost must track the
    delta volume, not the corpus). Results match the pre-merge reader:
    same matched docs, upserts supersede, deletes stay dead."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 60))  # base: 60 docs
    for lo in range(60, 78, 3):  # six 3-doc delta commits
        inc.commit_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 3))
        )
    # one upsert (supersedes a base doc) + one delete inside the deltas
    inc.commit_batch(
        docs.filter(F.col("doc_id") == 5).withColumn(
            "text", F.concat(F.col("text"), F.lit(" zzpartial"))
        )
    )
    inc.delete([7])
    base_dir = os.path.join(str(tmp_path / "inc"), "gen-000000")
    base_mtime = os.path.getmtime(base_dir)
    before_docs = {
        r["doc_id"] for r in inc.open().forward.select("doc_id").collect()
    }

    merged = inc.maybe_merge(segments_per_tier=8)  # 9 gens > 8 -> merge
    assert merged is not None
    multi = inc.open()
    assert multi.gens[0] == 0, "base generation was folded"
    assert os.path.getmtime(base_dir) == base_mtime, "base dir rewritten"
    assert len(multi.gens) == 2  # base + one merged delta gen
    after_docs = {
        r["doc_id"] for r in multi.forward.select("doc_id").collect()
    }
    assert after_docs == before_docs
    assert 7 not in after_docs  # delete survives the merge
    zz = {r["doc_id"] for r in hits(multi, Q.term("text", "zzpartial")).collect()}
    assert zz == {5}  # upserted version is the live one
    # the superseded base copy of doc 5 stays masked (no duplicate hits)
    from collections import Counter

    got = Counter(
        r["doc_id"] for r in hits(multi, Q.term("text", "import")).collect()
    )
    assert all(c == 1 for c in got.values())


def test_delete_only_suffix_never_reencodes_base(spark, docs, tmp_path):
    """Pure-delete workload (round-5 regression): a dominant base plus
    nine tombstone-only commits must fold the TOMBSTONE SETS into one
    tombstone-only generation — never force_merge the base (a zero-size
    gen satisfies `0 >= 2*0`, so without the size>0 guard the dominance
    walk ran through the zeros and re-encoded the whole corpus)."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 60))  # base: 60 docs
    for d in range(9):  # nine delete-only commits
        inc.delete([d])
    base_dir = os.path.join(str(tmp_path / "inc"), "gen-000000")
    base_mtime = os.path.getmtime(base_dir)

    merged = inc.maybe_merge(segments_per_tier=8)  # 10 gens > 8 -> merge
    assert merged is not None
    multi = inc.open()
    assert multi.gens == [0, merged], "expected base + one folded tomb gen"
    assert os.path.getmtime(base_dir) == base_mtime, "base dir rewritten"
    assert not os.path.isdir(
        os.path.join(str(tmp_path / "inc"), f"gen-{merged:06d}", "store")
    ), "folded generation must be tombstone-only (no re-encoded store)"
    live = {r["doc_id"] for r in multi.forward.select("doc_id").collect()}
    assert live == set(range(9, 60)), "all nine deletes survive the fold"


def test_partial_merge_crash_window_heals(spark, docs, tmp_path, monkeypatch):
    """A crash between the merged gen's _COMMITTED marker and the suffix
    deletions leaves a bigger-but-consistent store (the merged gen's
    tombstones mask every folded copy); the next write garbage-collects
    the folded dirs via the merge's merged_from metadata."""
    import shutil as _shutil

    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 60))
    for lo in (60, 64, 68):
        inc.commit_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 4))
        )
    before = _scores(inc.open(), Q.term("text", "import"))

    real_rmtree = _shutil.rmtree
    monkeypatch.setattr(
        "meresco_lucene_spark.index.incremental.shutil.rmtree",
        lambda *a, **k: None,  # crash-simulate: deletions never happen
    )
    merged = inc.partial_merge(start_gen=1)
    monkeypatch.undo()
    assert merged is not None
    # transient state: folded gens still on disk, results CONSISTENT
    leftover = [g for g in inc._gens() if 1 <= g <= 3]
    assert leftover == [1, 2, 3]
    mid = _scores(inc.open(), Q.term("text", "import"))
    assert {d for d, _ in mid} == {d for d, _ in before}  # no duplicates
    # next write heals: merged_from dirs are garbage-collected
    inc.commit_batch(
        docs.filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 82))
    )
    assert [g for g in inc._gens() if 1 <= g <= 3] == []
    after = {d for d, _ in _scores(inc.open(), Q.term("text", "import"))}
    assert after >= {d for d, _ in before if d != 7}


def test_partial_merge_stats_follow_lucene_semantics(spark, docs, tmp_path):
    """After a partial merge, dead docs' df/cf vanish for the MERGED
    suffix only; the untouched base generation keeps counting its dead
    docs until its own merge — exactly Lucene's per-segment rule."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), **CFG)
    inc.commit_batch(docs.filter(F.col("doc_id") < 60))
    inc.commit_batch(
        docs.filter((F.col("doc_id") >= 60) & (F.col("doc_id") < 70))
    )
    # upsert doc 60 within the delta era: its old delta version is dead
    inc.commit_batch(
        docs.filter(F.col("doc_id") == 60).withColumn(
            "text", F.concat(F.col("text"), F.lit(" zzstats"))
        )
    )
    n_before = inc.open().field_stats("text").n_docs  # counts the dead copy
    merged = inc.partial_merge(start_gen=1)
    assert merged is not None
    st = inc.open().field_stats("text")
    # the merged suffix dropped exactly the one dead copy of doc 60
    assert st.n_docs == n_before - 1


# ------------------------------------ generation tag and merge feeds

TAG_WORDS = ["spark", "join", "table", "scan", "fast", "slow", "rare", "deep"]


def _tag_rows(ids, salt=""):
    return [
        (i, f"{TAG_WORDS[i % 8]} {TAG_WORDS[(3 * i + 1) % 8]} w{i} {salt}".strip(),
         ["py", "go"][i % 2])
        for i in ids
    ]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _live_ids(reader):
    return sorted(r["doc_id"] for r in reader.forward.select("doc_id").collect())


def _text_of(reader, doc_id):
    return reader.forward.filter(F.col("doc_id") == doc_id).collect()


def _merged_digest(spark, inc, gen):
    from tests.test_store import _store_logical_content

    return _store_logical_content(
        spark, os.path.join(inc.root, f"gen-{gen:06d}", "store")
    )


def _fresh_digest(spark, tmp_path, name, rows):
    """Blocks are a pure function of the live postings: a store built
    from the live rows directly has the merged store's blocks."""
    from tests.test_store import _store_logical_content

    out = str(tmp_path / name)
    build_index_store(_frame(spark, rows), out, **CFG)
    return _store_logical_content(spark, out)


def test_generation_tag_and_merge_feeds_under_a_gen_named_dir(spark, tmp_path):
    """Each row's generation comes from its file path, matched below the
    store root: a root inside a directory named like a generation must
    not be taken for one. Liveness then holds across a tombstone-only
    generation, a fold of tombstone-only generations, and the
    live_occurrences / live_lengths feeds of partial_merge and
    force_merge, whose stores hold the blocks of the live rows."""
    inc = IncrementalIndexStore(spark, str(tmp_path / "gen-000042" / "inc"), **CFG)
    live = {r[0]: r for r in _tag_rows(range(30))}
    inc.commit_batch(_frame(spark, list(live.values())))
    batch = _tag_rows(range(30, 40)) + _tag_rows([3, 4], "upserted")
    inc.commit_batch(_frame(spark, batch))
    live.update({r[0]: r for r in batch})
    inc.delete([5, 31])
    inc.delete([6])
    for i in (5, 31, 6):
        del live[i]
    reader = inc.open()
    assert reader.gens == [0, 1, 2, 3]
    assert _live_ids(reader) == sorted(live)
    assert {r["text"] for r in _text_of(reader, 3)} == {live[3][1]}
    got = sorted(r["doc_id"] for r in hits(reader, Q.term("text", "upserted")).collect())
    assert got == [3, 4]

    folded = inc._fold_tombstone_gens([2, 3])
    assert inc._gens() == [0, 1, folded]
    tomb = spark.read.parquet(os.path.join(inc.root, f"gen-{folded:06d}", "tombstones"))
    assert sorted(r["doc_id"] for r in tomb.collect()) == [5, 6, 31]
    assert _live_ids(inc.open()) == sorted(live)

    suffix = _tag_rows(range(40, 45)) + _tag_rows([35], "again")
    inc.commit_batch(_frame(spark, suffix))
    start = inc._gens()[-1]
    inc.commit_batch(_frame(spark, _tag_rows([41], "later")), delete_ids=[42])
    suffix_live = {r[0]: r for r in suffix}
    suffix_live.update({r[0]: r for r in _tag_rows([41], "later")})
    del suffix_live[42]
    live.update(suffix_live)
    merged = inc.partial_merge(start)
    assert _merged_digest(spark, inc, merged) == _fresh_digest(
        spark, tmp_path, "suffix", list(suffix_live.values())
    )
    assert _live_ids(inc.open()) == sorted(live)

    merged = inc.force_merge()
    assert inc._gens() == [merged]
    assert _merged_digest(spark, inc, merged) == _fresh_digest(
        spark, tmp_path, "all", list(live.values())
    )
    reader = inc.open()
    assert _live_ids(reader) == sorted(live)
    assert reader.field_stats("text").n_docs == len(live)


def test_wide_scan_adds_no_listing_job(spark, tmp_path, spark_route):
    """A Spark-route term query whose one postings scan spans more leaf
    dirs than Spark's parallel-listing threshold lists them on the
    driver: it runs as many jobs as a one-dir query, and the threshold
    is left as it was."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    inc = IncrementalIndexStore(spark, str(tmp_path / "inc"), text_cols=["text"], n_shards=8)
    for g in range(5):
        inc.commit_batch(_frame(spark, _tag_rows(range(20 * g, 20 * g + 20))))
    inc.delete([7])
    reader = inc.open()
    terms = [f"w{i}" for i in range(100)]
    wide = sum(len(s.term_shards("text", terms)) for s in reader.stores.values())
    assert wide > int(spark.conf.get(key))
    threshold = spark.conf.get(key)

    def jobs(q):
        j0 = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
        assert search(reader, q, stop=200).total > 0
        return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs() - j0

    def or_(ts):
        return Q.or_(*(Q.term("text", t) for t in ts))

    jobs(or_(["w1", "w2"]))  # warm: the tombstone relation
    narrow = jobs(or_(["w1", "w2"]))
    assert jobs(or_(terms)) == narrow
    assert spark.conf.get(key) == threshold
