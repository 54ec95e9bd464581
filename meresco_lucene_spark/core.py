"""LuceneCore — the reference's per-core ``Lucene`` API in one class.

A user of the reference talks to a core through the client `Lucene`
class (meresco/lucene/_lucene.py:75-170) whose calls become HTTP posts
to the Java server (Lucene.java:166-349). This facade collapses that
client+server pair into one in-process object over the incremental
store, so reference call sites port almost verbatim:

    core = LuceneCore(spark, "/data/core", name="main")
    core.addDocument(identifier="id1",
                     fields=[{"type": "TextField", "name": "title",
                              "value": "fast table engines"}])
    core.commit()
    r = core.executeQuery({"type": "TermQuery",
                           "term": {"field": "title", "value": "fast"}})
    r.hits[0].id  # -> "id1"

Semantics preserved (and where they live):
  addDocument  = updateDocument: delete-then-add by identifier
                 (Lucene.java:166-171); buffered until commitCount ops
                 or an explicit commit() (commit policy,
                 Lucene.java:183-214, LuceneSettings commitCount)
  delete       = by identifier (Lucene.java:173-176) or by query
                 (Lucene.java:178-181)
  executeQuery = query/filterQueries/facets/sortKeys/start/stop/dedup/
                 storedFields/suggestionRequest in one pass
                 (Lucene.java:247-349) — executor.search does the work
  prefixSearch / fieldnames / drilldownFieldnames / similarDocuments /
  numDocs      = Lucene.java:629-666, :763-774, :818-846

Identifiers are strings (the reference's ``__id__`` term); internally
doc_id = xxhash64(identifier) — deterministic across sessions, and the
identifier itself is stored and indexed as a keyword field, so
``Q.term("__id__", identifier)`` filters work as in the reference.
(A 64-bit hash collision would alias two identifiers; at reference
corpus scales the probability is negligible, and the store keys on the
hash exactly once per identifier.)

Field-type mapping (reference fieldregistry.py:171-232):
  TextField                        -> analyzed text column
  StringField / NoTermsFrequencyField / KeyField -> keyword column
  IntField/LongField/IntPoint/LongPoint/NumericField -> long column
  DoubleField/DoublePoint          -> double column
  FacetField                       -> keyword column + single-level dim
The column spec is derived from the FIRST commit and pinned beside the
store config (field typing is fixed at creation, like the reference's
field registry), so later sessions reopen with the identical schema.

Deliberately driver-bound (parity-faithful, documented): the write
buffer lives on the driver like the reference's in-process document
queue — bulk loads should go through streaming/ingest.py or
commit_batch(DataFrame) directly, not one addDocument per row.
"""

from __future__ import annotations

import json
import os
from typing import Any, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from meresco_lucene_spark.index.incremental import (
    IncrementalIndexStore,
    MultiGenIndex,
)
from meresco_lucene_spark.query.executor import (
    Hit,
    LuceneResponse,
    collect_page,
    mlt_seed_doc,
    search,
    similar_documents_df,
)
from meresco_lucene_spark.query.ir import Q

_DELETED = object()

_TEXT_TYPES = {"TextField"}
_KEYWORD_TYPES = {"StringField", "NoTermsFrequencyField", "KeyField"}
_LONG_TYPES = {"IntField", "LongField", "IntPoint", "LongPoint", "NumericField"}
_DOUBLE_TYPES = {"DoubleField", "DoublePoint"}
_FACET_TYPES = {"FacetField"}
_LATLON_TYPES = {"LatLonField"}

ID_FIELD = "__id__"


def _facet_depth(kind: str) -> int:
    """'facet' -> 1, 'facet:N' -> N."""
    return int(kind.split(":", 1)[1]) if ":" in kind else 1


def _facet_level_cols(name: str, depth: int) -> list[str]:
    """Forward-table columns of a hierarchical facet dim: level 0 keeps
    the bare field name (depth-1 compatible), deeper levels get
    dot-suffixed siblings."""
    return [name] + [f"{name}.lvl{i}" for i in range(1, depth)]


class LuceneCore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str = "core",
        commit_count: int = 1000,
        segments_per_tier: int = 8,
        **settings: Any,
    ):
        """``settings`` go to the store build (k1/b/similarity/quantized/
        n_shards...) — the reference's LuceneSettings surface. The store
        lives under root/name, one dir per core like the reference's
        per-core index dirs."""
        self.spark = spark
        self.name = name
        self.root = os.path.join(root, name)
        os.makedirs(self.root, exist_ok=True)
        self.commit_count = commit_count
        self.segments_per_tier = segments_per_tier
        self._settings = dict(settings)
        # last-write-wins op buffer: identifier -> field dict | _DELETED
        self._buffer: dict[str, Any] = {}
        self._fields_path = os.path.join(self.root, "_core_fields.json")
        self._fields_spec: dict[str, str] | None = None
        if os.path.exists(self._fields_path):
            with open(self._fields_path) as f:
                self._fields_spec = json.load(f)
        self._store: IncrementalIndexStore | None = None
        self._reader: MultiGenIndex | None = None

    # ------------------------------------------------------------ writes
    def addDocument(
        self, fields: Sequence[dict] | dict, identifier: str | None = None
    ) -> None:
        """fields: the reference wire format — a list of
        {"type", "name", "value"} dicts (FieldRegistry.createField
        output) — or a plain {name: value} dict (types inferred from the
        pinned spec / python types). identifier=None gets a synthetic
        one (the reference allows identifier-less adds)."""
        if identifier is None:
            identifier = f"_anon:{len(self._buffer)}:{os.urandom(4).hex()}"
        self._buffer[str(identifier)] = self._normalize_fields(fields)
        if len(self._buffer) >= self.commit_count:
            self.commit()

    def delete(self, identifier: str | None = None, luceneQuery=None) -> None:
        """Delete by identifier, or by query (deleteDocuments(query),
        Lucene.java:178-181). Query deletes commit pending ops first,
        then tombstone every matching id in ONE frame-path commit: the
        matched ids flow from the filtered snapshot scan straight into
        the tombstone parquet write (IncrementalIndexStore.
        delete_matching) — no driver collect, so a query matching a
        large fraction of a 100 TB corpus cannot OOM the driver."""
        if identifier is not None:
            self._buffer[str(identifier)] = _DELETED
            if len(self._buffer) >= self.commit_count:
                self.commit()
            return
        if luceneQuery is None:
            raise ValueError("specify either 'identifier' or 'luceneQuery'")
        self.commit()
        reader = self._open()
        if reader is None:
            return
        from meresco_lucene_spark.query.executor import hits

        matched = hits(reader, self._as_q(luceneQuery)).select("doc_id")
        self._ensure_store().delete_matching(matched)
        self._reader = None

    def commit(self) -> int | None:
        """Flush the op buffer as ONE durable generation commit (adds
        upsert, deletes tombstone), then run the tiered-merge trigger —
        the searchable-snapshot refresh (Lucene.java:920-945)."""
        if not self._buffer:
            return None
        adds = {i: f for i, f in self._buffer.items() if f is not _DELETED}
        dels = [i for i, f in self._buffer.items() if f is _DELETED]
        # Buffered ops survive a failed commit: the reference's
        # addDocument+commit cycle never drops accepted ops on an
        # IndexWriter failure, so the buffer is cleared only after
        # commit_batch has durably returned (a _frame validation error or
        # a transient write failure leaves every op re-committable).
        store = self._ensure_store(samples=list(adds.values()) if adds else None)
        adds_df = self._frame(adds) if adds else None
        del_ids = self._hash_ids(dels) if dels else None
        gen = store.commit_batch(adds_df, delete_ids=del_ids)
        self._buffer.clear()
        store.maybe_merge(segments_per_tier=self.segments_per_tier)
        self._reader = None
        return gen

    # ------------------------------------------------------------- reads
    def executeQuery(
        self,
        luceneQuery,
        start: int | None = None,
        stop: int | None = None,
        facets: Sequence[dict] | None = None,
        sortKeys: Sequence[dict] | None = None,
        filterQueries: Sequence | None = None,
        excludeQueries: Sequence | None = None,
        suggestionRequest: dict | None = None,
        dedupField: str | None = None,
        dedupSortField=None,
        storedFields: Sequence[str] | None = None,
        clustering: bool = False,
        clusterConfig=None,
        **kwargs: Any,
    ) -> LuceneResponse:
        """The reference's one-pass query (client _lucene.py:97-130 →
        Lucene.java:247-349). luceneQuery / filterQueries entries are Q
        nodes or reference JSON query dicts. Hit.id is the string
        identifier, as the reference returns. clustering=True returns
        ClusterHit-shaped hits (topTerms/topDocs per representative,
        Lucene.java:365-414) using clusterConfig or a default
        single-strategy config over the core's first text field."""
        reader = self._open()
        if reader is None:
            return LuceneResponse(total=0, hits=[])
        if clustering:
            return self._clustered(
                reader, luceneQuery, filterQueries, excludeQueries,
                start or 0, 10 if stop is None else stop, clusterConfig,
            )
        dedup_sort = []
        if dedupSortField:
            dedup_sort = [
                dedupSortField
                if isinstance(dedupSortField, dict)
                else {"sortBy": dedupSortField, "sortDescending": True}
            ]
        stored = list(storedFields or [])
        resp = search(
            reader,
            self._as_q(luceneQuery),
            filter_queries=[self._as_q(q) for q in (filterQueries or [])],
            exclude_queries=[self._as_q(q) for q in (excludeQueries or [])],
            start=start or 0,
            stop=10 if stop is None else stop,
            sort_keys=sortKeys,
            facets=facets or (),
            dedup_field=dedupField,
            dedup_sort_fields=dedup_sort,
            stored_fields=[*stored, ID_FIELD],
        )
        for h in resp.hits:
            h.id = h.fields.pop(ID_FIELD, h.id)
        if suggestionRequest:
            resp.suggestions = self._suggest(reader, suggestionRequest)
        return resp

    def prefixSearch(
        self, fieldname: str, prefix: str, showCount: bool = False, limit: int = 10
    ) -> LuceneResponse:
        """Top terms by docFreq under a prefix (Lucene.java:629-666;
        client sorts by count desc, _lucene.py:132-143)."""
        reader = self._open()
        if reader is None:
            return LuceneResponse(total=0, hits=[])
        rows = (
            reader.term_stats_for(fieldname)
            .filter(F.col("term").startswith(prefix))
            .orderBy(F.col("df").desc(), F.col("term").asc())
            .limit(limit)
            .collect()
        )
        out = [
            (r["term"], int(r["df"])) if showCount else r["term"] for r in rows
        ]
        return LuceneResponse(total=len(out), hits=out)

    def fieldnames(self) -> LuceneResponse:
        reader = self._open()
        names = reader.fieldnames() if reader else []
        return LuceneResponse(total=len(names), hits=names)

    def drilldownFieldnames(self, path=None, limit: int = 50) -> LuceneResponse:
        """Registered drilldown dims; with a path, the next level's
        values (Lucene.java:763-774 flattened over facet_fields)."""
        reader = self._open()
        if reader is None:
            return LuceneResponse(total=0, hits=[])
        if not path:
            names = sorted(reader.facet_fields)[:limit]
            return LuceneResponse(total=len(names), hits=names)
        dim, rest = path[0], list(path[1:])
        cols = reader.facet_fields.get(dim, [dim])
        if len(rest) >= len(cols):
            return LuceneResponse(total=0, hits=[])
        from meresco_lucene_spark.columns import qcol

        fwd = reader.forward
        for c, v in zip(cols, rest):
            fwd = fwd.filter(qcol(c) == v)
        level = cols[len(rest)]
        vals = [
            r[0]
            for r in fwd.filter(qcol(level).isNotNull())
            .select(qcol(level))
            .distinct()
            .orderBy(qcol(level))
            .limit(limit)
            .collect()
        ]
        return LuceneResponse(total=len(vals), hits=vals)

    def similarDocuments(
        self,
        identifier: str,
        max_freq: float = 0.1,
        start: int = 0,
        stop: int = 10,
    ) -> LuceneResponse:
        """MLT by identifier (Lucene.java:818-846): rare-term overlap
        ranking via the shared operator; hits carry identifiers.
        max_freq is the reference's CommonTermsQuery maxFreq cutoff —
        note it admits NO terms on corpora smaller than ~1/max_freq
        docs (df <= max_freq*N < 1), exactly as in the reference.
        Like the reference (which delegates to executeQuery and its
        default page), hits are the [start, stop) page while total is
        the full candidate count — the driver never materializes more
        than one page."""
        reader = self._open()
        if reader is None:
            return LuceneResponse(total=0, hits=[])
        doc_id = self._hash_ids([identifier])[0]
        field = None
        if self._fields_spec:
            field = next(
                (n for n, k in self._fields_spec.items() if k == "text"), None
            )
        if field is None:
            field = next(
                (f for f in reader.fieldnames() if f != ID_FIELD), None
            )
        if field is None:
            return LuceneResponse(total=0, hits=[])
        # k=None: the candidate frame is UNLIMITED so total counts every
        # candidate and paging works past row 10 (ADVICE r5); the page
        # is a TakeOrderedAndProject (never a full sort) whose collect
        # also counts the candidates — every candidate is a live doc,
        # so the forward join keeps each exactly once.
        sim = similar_documents_df(
            reader, doc_id, field, max_freq=max_freq, k=None
        )
        totals, rows = collect_page(
            sim.join(reader.forward.select("doc_id", ID_FIELD), "doc_id"),
            [F.col("shared_terms").desc(), F.col("doc_id").asc()],
            start,
            stop,
        )
        hits_out = [
            Hit(id=r[ID_FIELD], score=float(r["shared_terms"])) for r in rows
        ]
        return LuceneResponse(total=totals["n"], hits=hits_out)

    def numDocs(self) -> int:
        """LIVE doc count (the reference's IndexWriter.numDocs excludes
        deletions — unlike MultiGenIndex.num_docs(), which keeps
        counting dead docs because pre-merge SCORING does). O(1) after
        the first call per snapshot: served from the persisted
        per-snapshot count (MultiGenIndex.live_doc_count), metadata-only
        when the snapshot carries no tombstones — the reference's
        numDocs is O(1) reader metadata too."""
        reader = self._open()
        return reader.live_doc_count() if reader else 0

    def coreInfo(self):
        return {"name": self.name, "numDocs": self.numDocs()}

    # --------------------------------------------------------- internals
    def _ensure_store(
        self, samples: list[dict] | None = None
    ) -> IncrementalIndexStore:
        if self._store is not None:
            return self._store
        if os.path.exists(os.path.join(self.root, "_config.json")):
            self._store = IncrementalIndexStore(self.spark, self.root)
            return self._store
        if self._fields_spec is None:
            if not samples:
                raise ValueError("first commit must contain at least one add")
            # The pinned spec is the UNION of fields across every add in
            # the first commit (a heterogeneous first batch — doc 1
            # lacking an optional field present on doc 2 — must not pin a
            # too-narrow spec to disk); conflicting kinds for one name
            # are a real schema error and raise before anything persists.
            spec: dict[str, str] = {}
            for flds in samples:
                for name, (kind, _) in flds.items():
                    prev = spec.get(name)
                    if prev is not None and prev != kind:
                        if prev.startswith("facet") and kind.startswith("facet"):
                            # hierarchical facet paths may vary in depth
                            # across docs; the spec pins the MAX depth
                            kind = max(prev, kind, key=_facet_depth)
                        else:
                            raise ValueError(
                                f"conflicting field kinds for {name!r} in "
                                f"the first commit: {prev!r} vs {kind!r}"
                            )
                    spec[name] = kind
            self._fields_spec = spec
            tmp = self._fields_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._fields_spec, f)
            os.replace(tmp, self._fields_path)
        # analyzer setting: the reference's LuceneSettings analyzer dict
        # (lucenesettings.py:58-70): MerescoStandardAnalyzer (default)
        # or MerescoDutchStemmingAnalyzer with per-field stemmingFields —
        # those text fields go through the Dutch keyword-repeat stemmer
        # (analysis/dutch.py), so both the original and stemmed forms
        # are searchable, as in the reference.
        settings = dict(self._settings)
        analyzer = settings.pop("analyzer", None) or {}
        stemming: list[str] = []
        atype = analyzer.get("type", "MerescoStandardAnalyzer")
        if atype == "MerescoDutchStemmingAnalyzer":
            stemming = list(analyzer.get("stemmingFields", ()))
        elif atype != "MerescoStandardAnalyzer":
            # lucenesettings.py:70 raises the same way
            raise ValueError(f"No support for type {atype}")
        text_cols = [
            n
            for n, k in self._fields_spec.items()
            if k == "text" and n not in stemming
        ]
        dutch_cols = [
            n
            for n, k in self._fields_spec.items()
            if k == "text" and n in stemming
        ]
        keyword_cols = [ID_FIELD] + [
            n for n, k in self._fields_spec.items() if k == "keyword"
        ]
        facet_dims: dict[str, list[str]] = {}
        for n, k in self._fields_spec.items():
            if k.startswith("facet"):
                levels = _facet_level_cols(n, _facet_depth(k))
                facet_dims[n] = levels
                keyword_cols.extend(levels)
        if dutch_cols:
            settings["dutch_cols"] = dutch_cols
        self._store = IncrementalIndexStore(
            self.spark,
            self.root,
            text_cols=text_cols,
            keyword_cols=keyword_cols,
            facet_fields=facet_dims,
            **settings,
        )
        return self._store

    def _open(self) -> MultiGenIndex | None:
        if self._reader is None:
            try:
                self._reader = self._ensure_store().open()
            except ValueError:  # no committed generation yet
                return None
        return self._reader

    def _normalize_fields(self, fields) -> dict[str, tuple[str, Any]]:
        """-> {name: (kind, value)} with kind in text/keyword/long/
        double/facet."""
        out: dict[str, tuple[str, Any]] = {}
        if isinstance(fields, dict):
            for name, value in fields.items():
                kind = (
                    self._fields_spec.get(name)
                    if self._fields_spec
                    else None
                )
                if kind is None:
                    kind = (
                        "long"
                        if isinstance(value, int) and not isinstance(value, bool)
                        else "double"
                        if isinstance(value, float)
                        else "text"
                    )
                if kind.startswith("facet"):
                    value = (
                        tuple(str(v) for v in value)
                        if isinstance(value, (list, tuple))
                        else (str(value),)
                    )
                    kind = "facet" if len(value) == 1 else f"facet:{len(value)}"
                out[name] = (kind, value)
            return out
        for fd in fields:
            t, name = fd["type"], fd["name"]
            value = fd.get("value")  # FacetField may carry "path" instead
            if t in _TEXT_TYPES:
                kind = "text"
            elif t in _KEYWORD_TYPES:
                kind = "keyword"
            elif t in _LONG_TYPES:
                kind, value = "long", int(value)
            elif t in _DOUBLE_TYPES:
                kind, value = "double", float(value)
            elif t in _FACET_TYPES:
                # the reference wire format carries a PATH array for
                # hierarchical facets (DocumentStringToDocument.java:
                # 145-152 reads "path"; fields2lucenedoc.py:84 sends a
                # list); a plain "value" is a depth-1 path
                path = fd.get("path", value)
                if isinstance(path, (list, tuple)):
                    path = tuple(str(v) for v in path)
                else:
                    path = (str(path),)
                kind = "facet" if len(path) == 1 else f"facet:{len(path)}"
                out[name] = (kind, path)
                continue
            elif t in _LATLON_TYPES:
                # DocumentStringToDocument.java:153-157: value [lat, lon]
                lat, lon = value
                out[name] = ("latlon", (float(lat), float(lon)))
                continue
            else:
                raise ValueError(f"unsupported field type {t!r}")
            out[name] = (kind, value)
        return out

    def _frame(self, adds: dict[str, dict]):
        spec = self._fields_spec or {}
        for ident, flds in adds.items():
            for name, (kind, _) in flds.items():
                if name not in spec:
                    raise ValueError(
                        f"field {name!r} not in the core's pinned field set "
                        f"{sorted(spec)} (field typing is fixed at core "
                        "creation, like the reference registry)"
                    )
                pinned = spec[name]
                if kind.startswith("facet") and pinned.startswith("facet"):
                    if _facet_depth(kind) > _facet_depth(pinned):
                        raise ValueError(
                            f"facet path for {name!r} deeper than the "
                            f"pinned dim ({_facet_depth(kind)} > "
                            f"{_facet_depth(pinned)} levels)"
                        )
        sql_type = {"text": "string", "keyword": "string",
                    "long": "long", "double": "double"}
        # one column per scalar field; a hierarchical facet (kind
        # 'facet:N') expands to its N level columns
        cols: list[tuple[str, str, tuple[str, int | None]]] = []
        for n, k in spec.items():
            if k.startswith("facet"):
                for i, c in enumerate(_facet_level_cols(n, _facet_depth(k))):
                    cols.append((c, "string", (n, i)))
            elif k == "latlon":
                # the executor's DistanceQuery convention: a pair of
                # <field>_lat / <field>_lon double columns
                cols.append((f"{n}_lat", "double", (n, 0)))
                cols.append((f"{n}_lon", "double", (n, 1)))
            else:
                cols.append((n, sql_type[k], (n, None)))
        schema = f"`{ID_FIELD}` string, " + ", ".join(
            f"`{c}` {t}" for c, t, _ in cols
        )

        def cell(flds: dict, src: tuple[str, int | None]):
            n, lvl = src
            if n not in flds:
                return None
            v = flds[n][1]
            if lvl is None:
                return v
            return v[lvl] if lvl < len(v) else None

        rows = [
            tuple([ident] + [cell(flds, src) for _, _, src in cols])
            for ident, flds in adds.items()
        ]
        return self.spark.createDataFrame(rows, schema).withColumn(
            "doc_id", F.xxhash64(F.col(f"`{ID_FIELD}`"))
        )

    def _hash_ids(self, identifiers: list[str]) -> list[int]:
        if not identifiers:
            return []
        df = self.spark.createDataFrame(
            [(i,) for i in identifiers], f"{ID_FIELD} string"
        )
        return [
            r[0] for r in df.select(F.xxhash64(F.col(ID_FIELD))).collect()
        ]

    def _as_q(self, q) -> Q:
        return Q.from_dict(q) if isinstance(q, dict) else q

    def _clustered(
        self, reader, luceneQuery, filterQueries, excludeQueries,
        start: int, stop: int, clusterConfig,
    ) -> LuceneResponse:
        """The reference's clusterTopDocsResponse walk
        (Lucene.java:365-414): cluster the stop+clusterMoreRecords top
        slice, then emit one ClusterHit per unseen score-ordered doc —
        the cluster's PageRank representative with topTerms and
        identifier-resolved topDocs, plain hits for noise docs."""
        from meresco_lucene_spark.query.clustering import (
            ClusterConfig,
            ClusterStrategy,
            cluster_top_docs_strategies,
        )
        from meresco_lucene_spark.query.executor import scored_hits_df

        if clusterConfig is None:
            field = next(
                (n for n, k in (self._fields_spec or {}).items() if k == "text"),
                None,
            )
            if field is None:
                raise ValueError("clustering needs a clusterConfig or a text field")
            clusterConfig = ClusterConfig(cluster_more_records=100).add_strategy(
                ClusterStrategy(clustering_eps=0.4, clustering_min_points=1)
                .add_field(field, 1.0)
            )
        h = scored_hits_df(
            reader,
            self._as_q(luceneQuery),
            filter_queries=[self._as_q(q) for q in (filterQueries or [])],
            exclude_queries=[self._as_q(q) for q in (excludeQueries or [])],
        ).persist()
        try:
            total = h.count()
            clusters = cluster_top_docs_strategies(
                reader, h, clusterConfig, stop=stop - start, total_hits=total
            )
            cluster_of = {
                ds.doc_id: c for c in clusters for ds in c.topDocs
            }
            slice_rows = (
                h.orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(stop + clusterConfig.cluster_more_records)
                .collect()
            )
        finally:
            h.unpersist()
        ids = {r["doc_id"] for r in slice_rows}
        idmap = {
            r["doc_id"]: r[ID_FIELD]
            for r in reader.forward.select("doc_id", ID_FIELD)
            .filter(F.col("doc_id").isin(list(ids)))
            .collect()
        }
        # Walk the full slice from index 0 maintaining `seen` (the
        # reference's seen-set walk over the whole topDocs slice,
        # Lucene.java:365-414): with start > 0 a cluster whose first
        # member ranked before `start` must be SKIPPED on this page, not
        # re-emitted under a later member as a duplicate representative.
        seen: set[int] = set()
        emitted = 0  # deduplicated entries walked so far (page offset)
        hits_out: list[Hit] = []
        for row in slice_rows:
            if len(hits_out) >= stop - start:
                break
            d = row["doc_id"]
            if d in seen:
                continue
            cl = cluster_of.get(d)
            if cl is None:
                rep = d
                seen.add(d)
            else:
                rep = cl.topDocs[0].doc_id
                seen.update(ds.doc_id for ds in cl.topDocs)
            emitted += 1
            if emitted <= start:
                continue
            hit = Hit(id=idmap.get(rep, rep), score=float(row["score"]))
            if cl is not None:
                hit.topTerms = cl.topTerms
                hit.topDocs = [
                    {"identifier": idmap.get(ds.doc_id, ds.doc_id),
                     "score": ds.score}
                    for ds in cl.topDocs
                ]
            hits_out.append(hit)
        return LuceneResponse(total=total, hits=hits_out)

    def reader(self) -> MultiGenIndex | None:
        """The core's current searchable snapshot (None before the first
        commit) — the handle MultiLuceneSpark feeds to the composed-query
        executor, and the escape hatch to the full DataFrame surface."""
        return self._open()

    def _suggest(self, reader, req: dict) -> dict[str, list[str]]:
        """Delegates to the shared DirectSpellChecker analog
        (suggest.spellcheck_suggest — see its docstring for the three
        modes and the one-job plan)."""
        from meresco_lucene_spark.suggest import spellcheck_suggest

        return spellcheck_suggest(reader, req)


class MultiLuceneSpark:
    """The reference's MultiLucene observable (multilucene.py:39-75):
    routes single-core queries to a named core and composed (cross-core)
    queries to the key-join executor. Holds LuceneCore handles the way
    the reference holds per-core HTTP connections.

        multi = MultiLuceneSpark({"coreA": a, "coreB": b}, default_core="coreA")
        multi.executeQuery(Q.term("f", "v"))              # default core
        multi.executeQuery(core="coreB", luceneQuery=q)   # routed
        multi.executeComposedQuery(cq)                    # MultiLucene.java:100-193
    """

    def __init__(self, cores: dict[str, LuceneCore], default_core: str):
        if default_core not in cores:
            raise ValueError(f"default core {default_core!r} not in cores")
        self.cores = dict(cores)
        self.default_core = default_core

    def executeQuery(self, luceneQuery=None, core: str | None = None, **kwargs):
        return self.cores[core or self.default_core].executeQuery(
            luceneQuery, **kwargs
        )

    def executeComposedQuery(self, query, export_key: str | None = None):
        """Single-core fast path when only the result core participates
        (multilucene.py:53-61 delegates likewise); otherwise the full
        key-join algebra over every core's current snapshot. `query` may
        be a ComposedQuery or the reference's asDict() wire dict."""
        from meresco_lucene_spark.compose.composedquery import (
            ComposedQuery,
            execute_composed,
        )

        if isinstance(query, dict):
            query = ComposedQuery.from_dict(query)

        readers = {}
        for name, c in self.cores.items():
            r = c.reader()
            if r is not None:
                readers[name] = r
        if query.result_from not in readers:
            return LuceneResponse(total=0, hits=[])
        return execute_composed(readers, query, export_key=export_key)

    def coreInfo(self):
        return [c.coreInfo() for c in self.cores.values()]
