"""Streaming ingest: micro-batch = commit (reference S8 policy),
upsert/delete semantics (Lucene.java:166-181), searcher refresh."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from meresco_lucene_spark.query.executor import hits
from meresco_lucene_spark.query.ir import Q
from meresco_lucene_spark.streaming.ingest import IngestSink, stream_ingest

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)


def _batch(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "_deleted"]), SCHEMA)


def test_upsert_and_delete_batches(spark, tmp_path):
    sink = IngestSink(spark, str(tmp_path / "state"))
    sink.process_batch(
        _batch(spark, [(1, "hello world", None), (2, "spark engine", None)]), 0
    )
    state = sink.current_state()
    assert state.count() == 2

    # epoch 1: update doc 1 (updateDocument = replace), add doc 3
    sink.process_batch(
        _batch(spark, [(1, "hello updated", None), (3, "third doc", None)]), 1
    )
    state = sink.current_state()
    assert state.count() == 3
    assert (
        state.filter(F.col("doc_id") == 1).collect()[0]["text"] == "hello updated"
    )

    # epoch 2: delete doc 2
    sink.process_batch(_batch(spark, [(2, None, True)]), 2)
    state = sink.current_state()
    assert {r["doc_id"] for r in state.collect()} == {1, 3}

    # searcher refresh: new index reflects latest commit
    idx = sink.searchable_store(str(tmp_path / "store"), text_cols=["text"])
    assert idx.num_docs() == 2
    got = {r["doc_id"] for r in hits(idx, Q.term("text", "updated")).collect()}
    assert got == {1}
    assert hits(idx, Q.term("text", "world")).count() == 0  # old version gone


def test_delete_where_query(spark, tmp_path):
    """S4 deleteDocuments(query): predicate-based delete as one commit."""
    sink = IngestSink(spark, str(tmp_path / "state"))
    sink.process_batch(
        _batch(
            spark,
            [(1, "keep me", None), (2, "drop me", None), (3, "drop me too", None)],
        ),
        0,
    )
    n = sink.delete_where(F.col("text").startswith("drop"), epoch_id=1)
    assert n == 2
    state = sink.current_state()
    assert {r["doc_id"] for r in state.collect()} == {1}
    # deleting nothing is a no-op commit
    assert sink.delete_where(F.col("text") == "absent", epoch_id=2) == 0


def test_delete_where_epoch_safety(spark, tmp_path):
    """Epoch defaults to max(existing)+1; a colliding explicit epoch is
    rejected instead of clobbering a committed snapshot."""
    sink = IngestSink(spark, str(tmp_path / "state"))
    sink.process_batch(
        _batch(spark, [(1, "drop a", None), (2, "drop b", None), (3, "keep", None)]), 5
    )
    # auto epoch = 6 (max existing 5 + 1)
    assert sink.delete_where(F.col("text").startswith("drop")) == 2
    assert os.path.isdir(str(tmp_path / "state" / "epoch=6"))
    assert {r["doc_id"] for r in sink.current_state().collect()} == {3}
    with pytest.raises(ValueError, match="already committed"):
        sink.delete_where(F.col("text") == "keep", epoch_id=5)


def test_commit_to_persistent_store(spark, tmp_path):
    """Commit -> durable on-disk snapshot: ingest + update + delete, then
    materialize a persistent store and query it from a FRESH handle
    (reference commit -> refresh, durable across sessions)."""
    from meresco_lucene_spark.index.store import PersistentIndex

    sink = IngestSink(spark, str(tmp_path / "state"))
    sink.process_batch(
        _batch(spark, [(1, "alpha beta", None), (2, "beta gamma", None)]), 0
    )
    sink.process_batch(_batch(spark, [(1, "alpha delta", None)]), 1)  # update
    sink.process_batch(_batch(spark, [(2, None, True)]), 2)  # delete
    sink.searchable_store(str(tmp_path / "store"), text_cols=["text"])

    fresh = PersistentIndex(spark, str(tmp_path / "store"))
    assert fresh.num_docs() == 1
    assert {r["doc_id"] for r in hits(fresh, Q.term("text", "delta")).collect()} == {1}
    # doc 1's old version ("alpha beta") replaced, doc 2 ("beta gamma") deleted
    assert hits(fresh, Q.term("text", "beta")).count() == 0
    assert hits(fresh, Q.term("text", "gamma")).count() == 0
    assert {r["doc_id"] for r in hits(fresh, Q.term("text", "alpha")).collect()} == {1}


def test_streaming_foreachbatch_end_to_end(spark, tmp_path):
    """Drive a real Structured Streaming query from a file source; each
    micro-batch lands as one commit."""
    src = tmp_path / "in"
    src.mkdir()
    _batch(spark, [(10, "alpha beta", None), (11, "beta gamma", None)]).write.mode(
        "append"
    ).parquet(str(src))

    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    sink, query = stream_ingest(
        stream,
        str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
        assert sink.current_state().count() == 2

        _batch(spark, [(12, "gamma delta", None)]).write.mode("append").parquet(
            str(src)
        )
        query.processAllAvailable()
        state = sink.current_state()
        assert {r["doc_id"] for r in state.collect()} == {10, 11, 12}
    finally:
        query.stop()

    idx = sink.searchable_store(str(tmp_path / "store"), text_cols=["text"])
    assert {r["doc_id"] for r in hits(idx, Q.term("text", "gamma")).collect()} == {11, 12}


def test_stream_ingest_incremental(spark, tmp_path):
    """Micro-batches commit straight into the incremental store: each
    batch tokenizes only itself, updates supersede, deletes tombstone,
    and the MultiGenIndex answers after every commit."""
    from meresco_lucene_spark.streaming.ingest import stream_ingest_incremental

    src = tmp_path / "in"
    src.mkdir()
    _batch(spark, [(1, "alpha beta", None), (2, "beta gamma", None)]).write.mode(
        "append"
    ).parquet(str(src))

    stream = spark.readStream.schema(SCHEMA).parquet(str(src))
    store, query = stream_ingest_incremental(
        stream,
        str(tmp_path / "inc"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        text_cols=["text"],
        n_shards=2,
    )
    try:
        query.processAllAvailable()
        idx = store.open()
        assert {r["doc_id"] for r in hits(idx, Q.term("text", "beta")).collect()} == {1, 2}

        # batch 2: update doc 1, delete doc 2
        _batch(spark, [(1, "alpha delta", None), (2, None, True)]).write.mode(
            "append"
        ).parquet(str(src))
        query.processAllAvailable()
    finally:
        query.stop()

    idx = store.open()
    assert len(idx.gens) == 2
    assert {r["doc_id"] for r in hits(idx, Q.term("text", "delta")).collect()} == {1}
    assert hits(idx, Q.term("text", "gamma")).count() == 0  # doc 2 deleted
    assert hits(idx, Q.term("text", "beta")).count() == 0  # doc 1 superseded
    # merge folds to one generation, results unchanged
    store.force_merge()
    idx = store.open()
    assert len(idx.gens) == 1
    assert {r["doc_id"] for r in hits(idx, Q.term("text", "delta")).collect()} == {1}


def test_stream_ingest_auto_merge(spark, tmp_path):
    """auto_merge_tier folds generations during steady-state ingest:
    after 3 micro-batch commits with tier=2, reads see one generation
    and all docs."""
    from meresco_lucene_spark.streaming.ingest import stream_ingest_incremental

    src = tmp_path / "in"
    src.mkdir()
    for i in range(3):
        _batch(spark, [(10 + i, f"word{i} shared", None)]).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    store, query = stream_ingest_incremental(
        stream,
        str(tmp_path / "inc"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        auto_merge_tier=2,
        text_cols=["text"],
        n_shards=2,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    idx = store.open()
    assert len(idx.gens) <= 2  # the 3rd commit crossed the tier -> folded
    assert {r["doc_id"] for r in hits(idx, Q.term("text", "shared")).collect()} == {
        10,
        11,
        12,
    }


def test_versioned_updates_stateful(spark, tmp_path):
    """applyInPandasWithState CDC versioning: versions increase per id
    ACROSS micro-batches (state persists), identical re-sends are
    suppressed, new ids start at version 0."""
    from meresco_lucene_spark.streaming.stateful import versioned_updates

    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    ).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    out = versioned_updates(stream, state_ttl_ms=0)  # NoTimeout: deterministic
    q = (
        out.writeStream.format("memory")
        .queryName("vu")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: identical re-send of doc 1 -> suppressed
        spark.createDataFrame([(1, "alpha")], "doc_id long, text string").write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        # batch 3: changed doc 1 + new doc 3
        spark.createDataFrame(
            [(1, "alpha2"), (3, "gamma")], "doc_id long, text string"
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        (r["doc_id"], r["version"]): r["text"]
        for r in spark.sql("SELECT * FROM vu").collect()
    }
    assert rows == {
        (1, 0): "alpha",
        (2, 0): "beta",
        (1, 1): "alpha2",  # state persisted across batches; dup dropped
        (3, 0): "gamma",
    }


def test_windowed_event_counts_watermarked(spark, tmp_path):
    """Watermarked tumbling windows: the streaming aggregation over a
    file source matches the plain batch groupBy on the same events."""
    from meresco_lucene_spark.streaming.stateful import windowed_event_counts

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(500)
    src = tmp_path / "ev"
    events.write.parquet(str(src))

    stream = spark.readStream.schema(events.schema).parquet(str(src))
    q = (
        windowed_event_counts(stream, window="1 day", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("wec")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # append mode only emits windows the watermark has closed; every
    # emitted row must agree with the batch truth
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM wec").collect()
    }
    truth = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in (
            events.withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(
                F.window("ts", "1 day").alias("w"), "event_type"
            )
            .agg(F.count("*").cast("long").alias("n"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n")
        ).collect()
    }
    assert set(got).issubset(set(truth))
    for k, v in got.items():
        assert truth[k] == v


def test_ingest_compact(spark, tmp_path):
    """Epoch compaction: N commits fold into one epoch with identical
    current_state (upserts applied, tombstoned ids gone)."""
    import os

    sink = IngestSink(spark, str(tmp_path / "state"))
    sink.process_batch(
        spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string"), 0
    )
    sink.process_batch(
        spark.createDataFrame([(2, "b2"), (3, "c")], "doc_id long, text string"), 1
    )
    sink.process_batch(
        spark.createDataFrame(
            [(1, True)], "doc_id long, _deleted boolean"
        ), 2
    )
    before = sorted(
        map(tuple, sink.current_state().select("doc_id", "text").collect())
    )
    assert before == [(2, "b2"), (3, "c")]
    folded = sink.compact()
    assert folded == 3
    assert sink._existing_epochs() == [3]
    after = sorted(
        map(tuple, sink.current_state().select("doc_id", "text").collect())
    )
    assert after == before
    # reads after compact touch exactly one epoch dir
    assert len(
        [e for e in os.listdir(sink.state_dir) if e.startswith("epoch=")]
    ) == 1


def test_stream_ingest_incremental_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed epoch (here: the whole
    stream re-run with a FRESH checkpoint against the same store root)
    must not re-commit batches as duplicate generations that would
    double-count df/cf/n_docs until a merge (ADVICE r3)."""
    from meresco_lucene_spark.streaming.ingest import stream_ingest_incremental

    src = tmp_path / "in"
    src.mkdir()
    _batch(spark, [(1, "alpha beta", None), (2, "beta gamma", None)]).write.mode(
        "append"
    ).parquet(str(src))

    def run(ckpt):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        store, query = stream_ingest_incremental(
            stream,
            str(tmp_path / "inc"),
            checkpoint_dir=str(tmp_path / ckpt),
            text_cols=["text"],
            n_shards=2,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return store

    store = run("ckpt1")
    idx = store.open()
    assert len(idx.gens) == 1 and idx.num_docs() == 2
    # replay: fresh checkpoint redelivers epoch 0 against the same root
    store = run("ckpt2")
    idx = store.open()
    assert len(idx.gens) == 1, "replayed epoch committed a duplicate generation"
    assert idx.num_docs() == 2
    assert idx.field_stats("text").n_docs == 2  # stats not double-counted


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState (the _versioner contract:
    exists / get / update / hasTimedOut / setTimeoutDuration)."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)
        self.exists = True

    def setTimeoutDuration(self, ms):
        pass

    def remove(self):
        self.exists = False
        self._v = None


def test_versioner_seq_column_orders_within_batch():
    """ADVICE r3: without a sequence column, several updates for one id
    inside one micro-batch get arbitrary version order. With seq_col the
    key's rows are sorted before hashing/versioning — deterministic
    regardless of pandas chunk order — and no-op suppression applies in
    that order."""
    from meresco_lucene_spark.streaming.stateful import _versioner

    fn = _versioner(0, seq_col="_seq")
    st = _FakeGroupState()
    # arrival order c, a, b; sequence says a(1) -> b(2) -> b again(3) -> c(4)
    pdf = pd.DataFrame(
        {"text": ["c", "a", "b", "b"], "_seq": [4, 1, 2, 3], "doc_id": [9] * 4}
    )
    out = pd.concat(list(fn((9,), iter([pdf]), st)))
    assert list(zip(out["version"], out["text"])) == [(0, "a"), (1, "b"), (2, "c")]
    # state carries across batches: a later identical resend is a no-op
    pdf2 = pd.DataFrame({"text": ["c"], "_seq": [5], "doc_id": [9]})
    out2 = pd.concat(list(fn((9,), iter([pdf2]), st)))
    assert len(out2) == 0
    # and a real edit continues the version sequence
    pdf3 = pd.DataFrame({"text": ["d"], "_seq": [6], "doc_id": [9]})
    out3 = pd.concat(list(fn((9,), iter([pdf3]), st)))
    assert list(zip(out3["version"], out3["text"])) == [(3, "d")]


def test_delete_where_no_match_leaves_no_trace(spark, tmp_path):
    """ADVICE r4: a no-match delete_where must never expose an empty
    epoch even transiently — the write lands in a temp dir and is only
    renamed into epoch=N when nonzero — and must not re-read the data it
    just wrote (row count rides the write as an Observation)."""
    sink = IngestSink(spark, str(tmp_path / "state"))
    sink.process_batch(_batch(spark, [(1, "keep", None)]), 0)
    assert sink.delete_where(F.col("text") == "absent") == 0
    entries = os.listdir(str(tmp_path / "state"))
    assert [e for e in entries if e.startswith("epoch=")] == ["epoch=0"]
    assert not [e for e in entries if e.startswith("_tmp_epoch")]
    assert sink.epochs == [0]  # no-match epoch not added to the in-memory list
    # and a matching delete still works through the rename path
    assert sink.delete_where(F.col("text") == "keep") == 1
    assert sink.current_state().count() == 0


def test_stream_epoch_recorded_inside_commit(spark, tmp_path):
    """ADVICE r4: the replay watermark is recorded INSIDE the generation
    commit (gen _meta.json, written before _COMMITTED), so a crash
    between commit_batch and the side-file write cannot re-commit the
    batch on replay. Simulated by deleting the side file outright: the
    gen metadata alone must still dedupe the replayed epoch."""
    from meresco_lucene_spark.streaming.ingest import stream_ingest_incremental

    src = tmp_path / "in"
    src.mkdir()
    _batch(spark, [(1, "alpha beta", None), (2, "beta gamma", None)]).write.mode(
        "append"
    ).parquet(str(src))

    def run(ckpt):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        store, query = stream_ingest_incremental(
            stream,
            str(tmp_path / "inc"),
            checkpoint_dir=str(tmp_path / ckpt),
            text_cols=["text"],
            n_shards=2,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return store

    store = run("ckpt1")
    assert store.last_stream_epoch() == 0  # durably inside the gen dir
    # crash-between-the-two simulation: the side-file record is GONE
    os.remove(str(tmp_path / "inc" / "_last_stream_epoch"))
    store = run("ckpt2")  # fresh checkpoint redelivers epoch 0
    idx = store.open()
    assert len(idx.gens) == 1, "replayed epoch became a duplicate generation"
    assert idx.field_stats("text").n_docs == 2


def test_fresh_checkpoint_behind_watermark_raises(spark, tmp_path):
    """ADVICE r4: pointing a FRESH-checkpoint stream at a store whose
    watermark is ahead by more than redelivery can explain must raise —
    silently skipping would lose every batch up to the watermark."""
    from meresco_lucene_spark.streaming.ingest import stream_ingest_incremental

    src = tmp_path / "in"
    src.mkdir()

    def run(ckpt):
        stream = spark.readStream.schema(SCHEMA).parquet(str(src))
        store, query = stream_ingest_incremental(
            stream,
            str(tmp_path / "inc"),
            checkpoint_dir=str(tmp_path / ckpt),
            text_cols=["text"],
            n_shards=2,
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        return store

    # two files, two micro-batches -> watermark reaches epoch 1
    _batch(spark, [(1, "alpha", None)]).write.mode("append").parquet(str(src))
    _batch(spark, [(2, "beta", None)]).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    store, query = stream_ingest_incremental(
        stream,
        str(tmp_path / "inc"),
        checkpoint_dir=str(tmp_path / "ckpt1"),
        text_cols=["text"],
        n_shards=2,
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert store.last_stream_epoch() == 1
    # fresh checkpoint: everything lands in ONE batch numbered 0 < 1
    with pytest.raises(Exception, match="FRESH checkpoint"):
        run("ckpt2")


def test_force_merge_carries_stream_watermark(spark, tmp_path):
    """force_merge deletes the old gen dirs; the merged generation must
    carry the max stream epoch forward so the watermark never regresses."""
    from meresco_lucene_spark.index.incremental import IncrementalIndexStore

    store = IncrementalIndexStore(
        spark, str(tmp_path / "inc"), text_cols=["text"], n_shards=2
    )
    store.commit_batch(
        _batch(spark, [(1, "alpha", None)]).drop("_deleted"),
        meta={"stream_epoch": 0},
    )
    store.commit_batch(
        _batch(spark, [(2, "beta", None)]).drop("_deleted"),
        meta={"stream_epoch": 1},
    )
    assert store.last_stream_epoch() == 1
    store.force_merge()
    assert store.last_stream_epoch() == 1
