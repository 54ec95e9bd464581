"""The benchmark's workloads, driven by one closed-loop client.

One process drives one client: the next operation starts only after the
previous one returns, and the benchmark starts no threads of its own.
Each workload sets itself up once (generate inputs, load the index on
the fresh JVM, one warm-up pass); set-up time covers all three, so work
moved into loading or warm-up shows. One set-up per run, not several:
the cold load is most of a run's fixed cost, and a run must stay near a
minute so that a comparison can afford dozens of fresh-JVM runs.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd

from perfbench import inputs, oracle
from perfbench.sparkstats import StatusReader

MIN_CYCLES = 2
SEARCH_DOCS = 3000
INGEST_BASE_DOCS = 500
INGEST_BATCH = 50
INGEST_DELETES = 2
SEGMENTS_PER_TIER = 8


@dataclass
class Op:
    kind: str  # "query", "commit", "check"
    cls: str
    seconds: float
    wm0: int
    wm1: int
    ok: bool
    tag: str = ""  # the WAND kind of a "wand" query


@dataclass
class RunState:
    """What one workload run measured, for run.py to turn into metrics."""

    ops: list[Op] = field(default_factory=list)
    setup_load: float = 0.0
    setup_build: float = 0.0
    setup_once: float = 0.0
    docs_per_build: int = 0
    store_bytes: int = 0
    input_bytes: int = 0
    input_stats: dict = field(default_factory=dict)
    commit_seconds: list[float] = field(default_factory=list)
    writer_seconds: float = 0.0
    writer_docs: int = 0
    tombstone_bytes: int = 0


class Client:
    """The closed-loop client: runs operations one at a time, times them,
    remembers the Spark job ids each one started, and checks answers."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.status = StatusReader(spark)
        self.state = RunState()

    def run_op(self, kind: str, cls: str, fn, want=None, tag: str = "") -> Op:
        """Time ``fn()``; compare its normalised answer with ``want`` (a
        callable returning the list of mismatching fields, or None). An
        operation that raises or answers wrongly counts as failed."""
        if self.tracer is not None:
            self.tracer.op = len(self.state.ops)
        wm0 = self.status.watermark()
        t0 = time.perf_counter()
        ok = True
        got = None
        try:
            got = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        secs = time.perf_counter() - t0
        wm1 = self.status.watermark()
        if self.tracer is not None:
            self.tracer.op = None
        if ok and want is not None:
            bad = want(got)
            if bad:
                print(f"wrong answer: {kind} {cls}: {bad}", file=sys.stderr)
                ok = False
        op = Op(kind, cls, secs, wm0, wm1, ok, tag)
        self.state.ops.append(op)
        return op


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ----------------------------------------------------------------- search_mix


def _search_answer(spec: dict, resp) -> dict:
    out = {"total": resp.total, "top": [(h.id, h.score) for h in resp.hits]}
    if spec["cls"] == "facet":
        out["facet"] = [[(t["term"], t["count"]) for t in dd["terms"]] for dd in resp.drilldownData]
    elif spec["cls"] == "sort_page":
        out["page"] = [h.id for h in resp.hits]
    elif spec["cls"] == "dedup":
        out["total_with_dupes"] = resp.totalWithDuplicates
        out["groups"] = {h.id: h.duplicateCount for h in resp.hits}
    return out


class SearchMix:
    """Read-only: one store of SEARCH_DOCS code documents (with positions)
    and a 40-document repo store for the composed join; a seeded stream of
    term, boolean, phrase, prefix, facet, sort/dedup, WAND top-k and
    composed queries, some as CQL strings."""

    name = "search_mix"

    def __init__(self, client: Client):
        self.c = client

    def _load(self):
        from meresco_lucene_spark.index import store

        gen = inputs.CorpusGen(self.c.seed)
        docs = gen.corpus(SEARCH_DOCS)
        out = os.path.join(self.c.work_dir, "code")
        df = self.c.spark.createDataFrame(pd.DataFrame([inputs.doc_row(d) for d in docs]))
        t0 = time.perf_counter()
        store.build_index_store(
            df,
            out,
            text_cols=["content"],
            keyword_cols=["lang", "repo"],
            facet_fields={"lang": ["lang"], "repo": ["repo"]},
        )
        build = time.perf_counter() - t0
        return gen, docs, out, store.open_persistent_index(self.c.spark, out), build

    def _repo_store(self, gen: inputs.CorpusGen):
        """The second store of the composed join: repo -> license."""
        from meresco_lucene_spark.index import store

        out = os.path.join(self.c.work_dir, "repos")
        df = self.c.spark.createDataFrame(pd.DataFrame(gen.repo_rows()))
        store.build_index_store(df, out, keyword_cols=["repo", "license"])
        return store.open_persistent_index(self.c.spark, out)

    def _call(self, spec: dict, ix, cores: dict):
        """The engine call of one query spec, returning a normalised
        answer."""
        from meresco_lucene_spark.compose import composedquery
        from meresco_lucene_spark.query import cql, executor
        from meresco_lucene_spark.query.ir import Q

        cls, terms = spec["cls"], spec.get("terms", [])
        if cls == "wand":
            if spec["kind"] == "term":
                frame = ix.term_topk("content", terms[0], k=oracle.TOP)
            elif spec["kind"] == "or":
                frame = ix.or_topk("content", terms, k=oracle.TOP)
            else:
                frame = ix.and_topk("content", terms, k=oracle.TOP)
            rows = sorted(((r["doc_id"], r["score"]) for r in frame.collect()), key=lambda r: (-r[1], r[0]))
            return {"top": rows}
        if cls == "composed":
            cq = composedquery.ComposedQuery("code", queries={"code": Q.term("content", terms[0])})
            cq.set_core_query("repos", Q.term("license", spec["license"]))
            cq.add_match("code", "repo", "repos", "repo")
            return _search_answer(spec, composedquery.execute_composed(cores, cq))
        if cls in ("and", "or"):
            if spec["cql"]:
                op = " AND " if cls == "and" else " OR "
                q = cql.cql_to_query(op.join(f"content={t}" for t in terms))
            else:
                clause = Q.and_ if cls == "and" else Q.or_
                q = clause(*(Q.term("content", t) for t in terms))
        elif cls == "phrase":
            q = Q.phrase("content", *terms)
        elif cls == "prefix":
            q = Q.prefix("content", spec["prefix"])
        else:
            q = Q.term("content", terms[0])
        kw = {}
        if cls == "facet":
            kw["facets"] = [{"fieldname": dim, "maxTerms": oracle.TOP} for dim in inputs.FACET_DIMS]
        elif cls == "sort_page":
            kw.update(sort_keys=[{"sortBy": "stars", "sortDescending": True}], start=10, stop=20)
        elif cls == "dedup":
            kw["dedup_field"] = "repo"
        return _search_answer(spec, executor.search(ix, q, **kw))

    def run(self) -> RunState:
        c, st = self.c, self.c.state
        t0 = time.perf_counter()
        gen, docs, out, ix, st.setup_build = self._load()
        st.setup_load = time.perf_counter() - t0
        t0 = time.perf_counter()
        cores = {"code": ix, "repos": self._repo_store(gen)}
        dfs = inputs.term_dfs(docs)
        bands = inputs.term_bands(dfs)
        # warm-up: one query of each code path (the term bands share one,
        # as do AND and OR)
        warm = {inputs.WARM_GROUP.get(s["cls"], s["cls"]): s
                for s in inputs.query_stream(c.seed + 1, bands, inputs.DECK_SIZE)}
        for spec in warm.values():
            self._call(spec, ix, cores)
        st.setup_once = time.perf_counter() - t0

        # answers: untimed, from the generated token lists only
        orc = oracle.Oracle({d.doc_id: d for d in docs})
        licenses = {r["repo"]: r["license"] for r in gen.repo_rows()}
        stream = inputs.query_stream(c.seed, bands, 50 * inputs.DECK_SIZE)
        wants = [orc.answer(s, licenses) for s in stream[: inputs.DECK_SIZE]]

        st.docs_per_build = len(docs)
        st.input_stats = inputs.input_stats(docs, dfs, bands)
        st.input_bytes = st.input_stats["text_bytes"]
        st.store_bytes = _du(out)
        deadline = time.perf_counter() + c.seconds
        i = 0
        while i % inputs.DECK_SIZE or time.perf_counter() < deadline:
            spec = stream[i]
            if i == len(wants):
                wants += [orc.answer(s, licenses) for s in stream[i : i + inputs.DECK_SIZE]]
            want = wants[i]
            c.run_op(
                "query",
                spec["cls"],
                lambda spec=spec: self._call(spec, ix, cores),
                want=lambda got, want=want: oracle.check(got, want),
                tag=spec.get("kind", ""),
            )
            i += 1
        return st


# ------------------------------------------------------------- ingest_refresh


def _core_fields(d: inputs.Doc) -> list[dict]:
    return [
        {"type": "TextField", "name": "content", "value": d.content},
        {"type": "StringField", "name": "repo", "value": d.repo},
        {"type": "FacetField", "name": "lang", "value": d.lang},
    ]


class IngestRefresh:
    """Writes beside reads through the LuceneCore facade: each cycle adds
    INGEST_BATCH documents (80% new identifiers, 20% upserts), deletes a
    few, commits, and runs one read-your-write query and one facet query.
    Every commit is a new snapshot, so no snapshot-keyed cache can hit."""

    name = "ingest_refresh"

    def __init__(self, client: Client):
        self.c = client

    def _load(self):
        from meresco_lucene_spark.core import LuceneCore

        gen = inputs.CorpusGen(self.c.seed)
        docs = gen.corpus(INGEST_BASE_DOCS)
        core = LuceneCore(
            self.c.spark,
            os.path.join(self.c.work_dir, "ingest"),
            name="code",
            commit_count=10**9,
            segments_per_tier=SEGMENTS_PER_TIER,
        )
        for d in docs:
            core.addDocument(identifier=d.identifier, fields=_core_fields(d))
        t0 = time.perf_counter()
        core.commit()
        return gen, docs, core, time.perf_counter() - t0

    def _cycle(self, core, gen, live: dict, cycle: dict, facet_term: str) -> None:
        """One timed write+read cycle; ``live`` (doc_id -> Doc) follows
        the state after the commit."""
        c = self.c
        adds = [gen.doc(i, v) for i, v in cycle["adds"]]
        old = {d.doc_id: live[d.doc_id] for d in adds if d.doc_id in live}
        deleted = [live[i] for i in cycle["deletes"]]

        def write():
            for d in adds:
                core.addDocument(identifier=d.identifier, fields=_core_fields(d))
            for d in deleted:
                core.delete(identifier=d.identifier)
            t0 = time.perf_counter()
            core.commit()
            c.state.commit_seconds.append(time.perf_counter() - t0)

        op = c.run_op("commit", "commit", write)
        c.state.writer_seconds += op.seconds
        c.state.writer_docs += len(adds)
        for d in adds:
            live[d.doc_id] = d
        for d in deleted:
            del live[d.doc_id]

        # a new doc's and an upserted doc's unique symbols must match; the
        # upserted doc's old-only symbol and deleted docs' symbols must not
        new = next(d for d in adds if d.doc_id not in old and _symbols(d))
        up = next(d for d in adds if d.doc_id in old and _symbols(d) and _symbols(old[d.doc_id]))
        gone = [old[up.doc_id], deleted[0]]
        read, want = self._probe(core, [new, up], gone)
        c.run_op("query", "read_your_write", read, want=want)
        read, want = self._facet(core, facet_term, live)
        c.run_op("query", "facet", read, want=want)

    @staticmethod
    def _facet(core, term: str, live: dict):
        """A term query with the lang facet on the snapshot the probe
        opened: match count and facet counts over the live documents."""
        from meresco_lucene_spark.query.ir import Q

        def read():
            r = core.executeQuery(
                Q.term("content", term), facets=[{"fieldname": "lang", "maxTerms": oracle.TOP}]
            )
            return {"total": r.total, "facet": [(t["term"], t["count"]) for t in r.drilldownData[0]["terms"]]}

        def want(got):
            match = [d.lang for d in live.values() if term in d.tokens]
            bad = [] if got["total"] == len(match) else ["total"]
            if got["facet"] != oracle.facet_counts(match):
                bad.append("facet")
            return bad

        return read, want

    @staticmethod
    def _probe(core, present: list, gone: list):
        """An OR over one unique symbol of each doc: the docs in
        ``present`` must be the hits, those in ``gone`` not."""
        from meresco_lucene_spark.query.ir import Q

        terms = [s[0] for s in map(_symbols, present + gone) if s]
        query = Q.or_(*(Q.term("content", t) for t in terms))

        def read():
            r = core.executeQuery(query)
            return {"ids": sorted(h.id for h in r.hits), "total": r.total}

        def want(got):
            bad = [] if got["total"] == len(present) else ["total"]
            if got["ids"] != sorted(d.identifier for d in present):
                bad.append("visibility")
            return bad

        return read, want

    def run(self) -> RunState:
        c, st = self.c, self.c.state
        t0 = time.perf_counter()
        gen, docs, core, st.setup_build = self._load()
        st.setup_load = time.perf_counter() - t0
        live = {d.doc_id: d for d in docs}
        dfs = inputs.term_dfs(docs)
        bands = inputs.term_bands(dfs)
        facet_terms = bands["hot"][: inputs.HOT_PICKS]
        t0 = time.perf_counter()
        # warm-up: one probe and one facet query
        self._probe(core, [d for d in docs[:4] if _symbols(d)], [])[0]()
        self._facet(core, facet_terms[-1], live)[0]()
        st.setup_once = time.perf_counter() - t0

        st.docs_per_build = INGEST_BASE_DOCS
        st.input_stats = inputs.input_stats(docs, dfs, bands)
        cycles = inputs.ingest_cycles(c.seed, INGEST_BASE_DOCS, 100, INGEST_BATCH, INGEST_DELETES)
        deadline = time.perf_counter() + c.seconds
        k = 0
        while k < MIN_CYCLES or time.perf_counter() < deadline:
            self._cycle(core, gen, live, cycles[k], facet_terms[k % len(facet_terms)])
            k += 1
        c.run_op("check", "numDocs", core.numDocs, want=lambda n: [] if n == len(live) else ["numDocs"])
        root = os.path.join(c.work_dir, "ingest", "code")
        st.store_bytes = _du(root)
        st.input_bytes = sum(len(d.content) for d in live.values())
        st.tombstone_bytes = sum(
            _du(os.path.join(root, g, "tombstones"))
            for g in os.listdir(root)
            if os.path.isdir(os.path.join(root, g, "tombstones"))
        )
        return st


def _symbols(d: inputs.Doc) -> list[str]:
    """The document's unique symbols (df 1 in every corpus)."""
    return [t for t in d.tokens if t.startswith("sym")]


WORKLOADS = {w.name: w for w in (SearchMix, IngestRefresh)}
