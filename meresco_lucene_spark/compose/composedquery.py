"""Composed (multi-core) queries: the reference's cross-core relational
algebra over integer key fields, restated as semi/anti/union joins.

Execution order mirrors MultiLucene.multipleCoreQuery
(MultiLucene.java:100-193):
  1. filterKeys: unite key-set unions + other-core filter-query key sets
  2. coreQueries: each other core's main query -> key set, ANDed in
  3. rank queries -> per-key score frames, blended into result scores
     (AggregateScoreSuperCollector.java:140-159:
      score = (1-ratio)*own + ratio*prod(1 + other(key)), absent key -> 0)
  4. excludeFilterKeys -> anti-joins
  5. result-core query with all key filters, facets, sort, pagination
  6. join facets: other-core facet counts restricted to keys collected
     from the result hits (MultiLucene.java:171-186)

Deviation from the reference, documented: ScoreSuperCollector keeps an
arbitrary doc's score when several docs share a key (last-write-wins
per segment, first-nonzero on merge, ScoreSuperCollector.java:66-93);
we define it as max(score) per key — deterministic, and identical on
the reference's fixtures where rank-core keys are unique.

All key frames are tiny relative to the corpus ("bitsets" in the
reference) -> every key join is broadcast; Catalyst turns the chains
into broadcast semi/anti joins with no extra shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import TYPE_CHECKING, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meresco_lucene_spark.columns import qcol
from meresco_lucene_spark.query.executor import (
    LuceneResponse,
    drilldown_data,
    hits,
    search,
)
from meresco_lucene_spark.query.ir import Q

if TYPE_CHECKING:
    from meresco_lucene_spark.index.builder import InvertedIndex
    from meresco_lucene_spark.compose.relational import RQ


@dataclass
class Unite:
    core_a: str
    query_a: Q
    core_b: str
    query_b: Q


@dataclass
class ComposedQuery:
    """Mirror of the reference client's ComposedQuery
    (meresco/lucene/composedquery.py:36-146)."""

    result_from: str
    start: int = 0
    stop: int = 10
    queries: dict[str, Q] = dc_field(default_factory=dict)
    filter_queries: dict[str, list[Q]] = dc_field(default_factory=dict)
    exclude_filter_queries: dict[str, list[Q]] = dc_field(default_factory=dict)
    rank_queries: dict[str, Q] = dc_field(default_factory=dict)
    facets: dict[str, list[dict]] = dc_field(default_factory=dict)
    drilldown_queries: dict[str, list[tuple[str, list[str]]]] = dc_field(
        default_factory=dict
    )
    other_core_facet_filters: dict[str, list[Q]] = dc_field(default_factory=dict)
    unites: list[Unite] = dc_field(default_factory=list)
    matches: dict[tuple[str, str], str] = dc_field(default_factory=dict)
    # None = never explicitly set (resolves to the reference default 0.5
    # at execute time); tracking this lets to_dict emit the key whenever
    # the wire/client SET a ratio — including an explicit 0.5, which the
    # old !=0.5 check silently dropped on round-trip (ADVICE r5)
    rank_query_score_ratio: float | None = None
    sort_keys: list[dict] = dc_field(default_factory=list)
    dedup_field: str | None = None
    dedup_sort_fields: list[dict] = dc_field(default_factory=list)
    stored_fields: list[str] = dc_field(default_factory=list)
    relational_filter: "RQ | None" = None
    # wire-fidelity extras (round-tripped; consumed by the facade layer
    # where applicable — execute_composed itself has no suggest/cluster
    # stage, mirroring MultiLucene.java which doesn't either)
    suggestion_request: dict | None = None
    clustering: bool = False
    clustering_config: dict | None = None
    unqualified_term_fields: list | None = None
    # as-declared match specs, keyed by the (coreA, coreB) direction the
    # client registered — kept so to_dict() reproduces the exact
    # uniqueKey/key spec split the reference's asDict() emits
    match_specs: dict[tuple[str, str], tuple[dict, dict]] = dc_field(
        default_factory=dict
    )

    def add_match(self, core_a: str, key_a: str, core_b: str, key_b: str) -> None:
        """composedquery.py:119-132 addMatch: declare the key field each
        side of a core pair joins on."""
        self.matches[(core_a, core_b)] = key_a
        self.matches[(core_b, core_a)] = key_b
        if (core_a, core_b) not in self.match_specs:
            # the reference requires the resultsFrom side to declare
            # uniqueKey; the foreign side declares key (addMatch
            # validation, composedquery.py:119-132)
            def spec(core: str, key: str) -> dict:
                kind = "uniqueKey" if core == self.result_from else "key"
                return {"core": core, kind: key}

            self.match_specs[(core_a, core_b)] = (
                spec(core_a, key_a),
                spec(core_b, key_b),
            )

    def key_name(self, core: str, other: str) -> str:
        """Key field of `core` in the match between core and other.

        ComposedQuery.java:276-284: when core == other and no (core, core)
        match exists, the FIRST registered match for that core wins."""
        if (core, other) in self.matches:
            return self.matches[(core, other)]
        if core == other:
            for (a, _b), key in self.matches.items():
                if a == core:
                    return key
        raise KeyError(f"no match declared between {core} and {other}")

    def set_core_query(self, core: str, query: Q) -> None:
        self.queries[core] = query

    def add_filter_query(self, core: str, query: Q) -> None:
        self.filter_queries.setdefault(core, []).append(query)

    def add_exclude_filter_query(self, core: str, query: Q) -> None:
        self.exclude_filter_queries.setdefault(core, []).append(query)

    def add_rank_query(self, core: str, query: Q) -> None:
        self.rank_queries[core] = query

    def add_facet(self, core: str, facet: dict) -> None:
        self.facets.setdefault(core, []).append(facet)

    def add_drilldown_query(self, core: str, dim: str, path: list[str]) -> None:
        self.drilldown_queries.setdefault(core, []).append((dim, path))

    def add_unite(self, core_a: str, query_a: Q, core_b: str, query_b: Q) -> None:
        """Max one unite (composedquery.py:134-140)."""
        if self.unites:
            raise ValueError("only one unite supported (reference parity)")
        self.unites.append(Unite(core_a, query_a, core_b, query_b))

    # --------------------------------------------------- wire round-trip
    @staticmethod
    def from_dict(dct: dict) -> "ComposedQuery":
        """Accept the reference's ComposedQuery HTTP wire shape — the
        exact dict its ``asDict()`` emits and ``fromDict()`` accepts
        (composedquery.py:243-258) — decoding Lucene query dicts via
        :meth:`Q.from_dict`. Values that are already :class:`Q` (or any
        non-dict placeholder) pass through untouched, matching the
        reference's opaque-query behavior."""

        def dec(v):
            return Q.from_dict(v) if isinstance(v, dict) else v

        cq = ComposedQuery(result_from=dct["resultsFrom"])
        for core, qd in (dct.get("_queries") or {}).items():
            cq.queries[core] = dec(qd)
        for wire_key, target in (
            ("_filterQueries", cq.filter_queries),
            ("_excludeFilterQueries", cq.exclude_filter_queries),
            ("_otherCoreFacetFilters", cq.other_core_facet_filters),
        ):
            for core, qs in (dct.get(wire_key) or {}).items():
                target[core] = [dec(q) for q in qs]
        for core, qd in (dct.get("_rankQueries") or {}).items():
            cq.rank_queries[core] = dec(qd)
        for core, fs in (dct.get("_facets") or {}).items():
            cq.facets[core] = list(fs)
        for core, dds in (dct.get("_drilldownQueries") or {}).items():
            cq.drilldown_queries[core] = [
                (dd[0], list(dd[1])) for dd in dds
            ]
        for pair, specs in (dct.get("_matches") or {}).items():
            spec_a, spec_b = (dict(s) for s in specs)
            # wire keys arrive '->'-joined (asDict); tuples accepted too
            del pair
            found_result = False
            for spec in (spec_a, spec_b):
                if spec["core"] == cq.result_from:
                    found_result = True
                    if "uniqueKey" not in spec:
                        raise ValueError(
                            "Match for result core '%s' must have a "
                            "uniqueKey specification." % cq.result_from
                        )
            if not found_result:
                raise ValueError(
                    "Match that does not include resultsFromCore ('%s') "
                    "not yet supported" % cq.result_from
                )
            cq.add_match(
                spec_a["core"], spec_a.get("uniqueKey", spec_a.get("key")),
                spec_b["core"], spec_b.get("uniqueKey", spec_b.get("key")),
            )
            cq.match_specs[(spec_a["core"], spec_b["core"])] = (spec_a, spec_b)
        for u in dct.get("_unites") or []:
            cq.add_unite(u["A"][0], dec(u["A"][1]), u["B"][0], dec(u["B"][1]))
        if dct.get("_start") is not None:
            cq.start = int(dct["_start"])
        if dct.get("_stop") is not None:
            cq.stop = int(dct["_stop"])
        cq.sort_keys = list(dct.get("_sortKeys") or [])
        cq.dedup_field = dct.get("_dedupField")
        dsf = dct.get("_dedupSortField")
        cq.dedup_sort_fields = (
            list(dsf) if isinstance(dsf, (list, tuple)) else ([dsf] if dsf else [])
        )
        cq.stored_fields = list(dct.get("_storedFields") or [])
        if dct.get("_rankQueryScoreRatio") is not None:
            cq.rank_query_score_ratio = float(dct["_rankQueryScoreRatio"])
        cq.suggestion_request = dct.get("_suggestionRequest")
        cq.clustering = bool(dct.get("_clustering") or False)
        cq.clustering_config = dct.get("_clusteringConfig")
        cq.unqualified_term_fields = dct.get("_unqualifiedTermFields")
        rfj = dct.get("_relationalFilterJson") or dct.get("relationalFilter")
        if rfj:
            import json as _json

            # validate() parity (reference composedquery.py:217-221): a
            # non-JSON string raises ValueError with the reference's
            # message, not a bare JSONDecodeError
            if isinstance(rfj, str):
                try:
                    rfd = _json.loads(rfj)
                except ValueError:
                    raise ValueError(
                        "Value '%s' for 'relationalFilterJson' can not "
                        "be parsed as JSON." % rfj
                    )
            else:
                rfd = rfj
            cq.relational_filter = rfd  # execute decodes via RQ.from_dict
        # cores the wire named but no query references — keep them so
        # from_dict(to_dict()) is a fixpoint (the reference carries the
        # client-supplied cores list as-is)
        cq.wire_cores = set(dct.get("cores") or ())
        return cq

    def to_dict(self) -> dict:
        """Inverse of :meth:`from_dict` — the reference ``asDict()`` wire
        shape (vars()-style underscore keys, '->'-joined match keys,
        Unite as ``{'A': [core, query], 'B': [core, query]}``), so a
        ComposedQuery built here can be POSTed to a reference service."""

        def enc(q):
            return q.to_dict() if isinstance(q, Q) else q

        cores = {self.result_from}
        cores.update(getattr(self, "wire_cores", ()))
        cores.update(self.queries)
        cores.update(self.filter_queries)
        cores.update(self.exclude_filter_queries)
        cores.update(self.rank_queries)
        cores.update(self.facets)
        cores.update(self.drilldown_queries)
        cores.update(self.other_core_facet_filters)
        for u in self.unites:
            cores.update((u.core_a, u.core_b))
        for sk in self.sort_keys:
            cores.add(sk.get("core", self.result_from))
        d: dict = {
            "resultsFrom": self.result_from,
            "cores": sorted(cores),
            "_queries": {c: enc(q) for c, q in self.queries.items()},
            "_filterQueries": {
                c: [enc(q) for q in qs] for c, qs in self.filter_queries.items()
            },
            "_excludeFilterQueries": {
                c: [enc(q) for q in qs]
                for c, qs in self.exclude_filter_queries.items()
            },
            "_rankQueries": {c: enc(q) for c, q in self.rank_queries.items()},
            "_facets": {c: list(fs) for c, fs in self.facets.items()},
            "_drilldownQueries": {
                c: [[dim, list(path)] for dim, path in dds]
                for c, dds in self.drilldown_queries.items()
            },
            "_otherCoreFacetFilters": {
                c: [enc(q) for q in qs]
                for c, qs in self.other_core_facet_filters.items()
            },
            "_matches": {
                "->".join(pair): [dict(a), dict(b)]
                for pair, (a, b) in self.match_specs.items()
            },
            "_unites": [
                {"A": [u.core_a, enc(u.query_a)], "B": [u.core_b, enc(u.query_b)]}
                for u in self.unites
            ],
            "_sortKeys": list(self.sort_keys),
            "_start": self.start,
            "_stop": self.stop,
        }
        if self.dedup_field is not None:
            d["_dedupField"] = self.dedup_field
        if self.dedup_sort_fields:
            d["_dedupSortField"] = list(self.dedup_sort_fields)
        if self.stored_fields:
            d["_storedFields"] = list(self.stored_fields)
        if self.rank_query_score_ratio is not None:
            d["_rankQueryScoreRatio"] = self.rank_query_score_ratio
        if self.suggestion_request is not None:
            d["_suggestionRequest"] = self.suggestion_request
        if self.clustering:
            d["_clustering"] = True
        if self.clustering_config is not None:
            d["_clusteringConfig"] = self.clustering_config
        if self.unqualified_term_fields is not None:
            d["_unqualifiedTermFields"] = self.unqualified_term_fields
        if self.relational_filter is not None:
            import json as _json

            rf = self.relational_filter
            rfd = rf if isinstance(rf, dict) else rf.to_dict()
            d["_relationalFilterJson"] = _json.dumps(rfd)
        return d


def _query_with_drilldowns(cq: ComposedQuery, core: str) -> Q | None:
    """luceneQueryForCore (MultiLucene.java:270-276): fold the core's
    drilldown queries into its main query as FILTER clauses."""
    q = cq.queries.get(core)
    dds = cq.drilldown_queries.get(core, [])
    if not dds:
        return q
    clauses = [("MUST", q)] if q is not None else [("MUST", Q.matchall())]
    for dim, path in dds:
        clauses.append(("FILTER", Q.drilldown(dim, list(path))))
    return Q.boolean(*clauses)


def collect_keys(index: "InvertedIndex", query: Q | None, key_field: str) -> DataFrame:
    """KeySuperCollector (search/join/KeySuperCollector.java:35-62): the
    distinct key set of docs matching the query."""
    h = hits(index, query or Q.matchall()).select("doc_id")
    return (
        index.forward.join(h, "doc_id", "left_semi")
        .filter(qcol(key_field).isNotNull())
        .select(qcol(key_field).alias("key"))
        .distinct()
    )


def execute_composed(
    cores: dict[str, "InvertedIndex"],
    cq: ComposedQuery,
    export_key: str | None = None,
) -> LuceneResponse:
    result_core = cq.result_from
    result_idx = cores[result_core]
    other_cores = [c for c in cores if c != result_core and _core_used(cq, c)]

    # ---- 1. filterKeys (MultiLucene.java:195-233) -----------------------
    key_filters: list[tuple[DataFrame, str, bool]] = []
    unite_sets: dict[str, DataFrame] = {}
    if cq.relational_filter is not None:
        from meresco_lucene_spark.compose.relational import RQ

        rf = cq.relational_filter
        if isinstance(rf, dict):  # reference wire shape accepted as-is
            rf = RQ.from_dict(rf)
        ks = rf.collect_keys(cores)
        key_name = cq.key_name(result_core, result_core)
        key_filters.append((ks.keys, key_name, ks.inverted))
    for u in cq.unites:
        result_key = cq.key_name(
            u.core_a if result_core == u.core_a else u.core_b,
            u.core_b if result_core == u.core_a else u.core_a,
        )
        ka = collect_keys(cores[u.core_a], u.query_a, cq.key_name(u.core_a, u.core_b))
        kb = collect_keys(cores[u.core_b], u.query_b, cq.key_name(u.core_b, u.core_a))
        merged = ka.unionByName(kb).distinct()
        if result_key in unite_sets:
            merged = unite_sets[result_key].unionByName(merged).distinct()
        unite_sets[result_key] = merged
    for name, ks in unite_sets.items():
        key_filters.append((ks, name, False))

    result_plain_filters: list[Q] = []
    for core, qs in cq.filter_queries.items():
        if core == result_core:
            # Filters on the result core need no key indirection.
            result_plain_filters.extend(qs)
            continue
        for fq in qs:
            collected = collect_keys(cores[core], fq, cq.key_name(core, result_core))
            key_filters.append((collected, cq.key_name(result_core, core), False))

    # ---- 2. coreQueries (MultiLucene.java:279-290) ----------------------
    for core in other_cores:
        q = _query_with_drilldowns(cq, core)
        if q is not None:
            collected = collect_keys(cores[core], q, cq.key_name(core, result_core))
            key_filters.append((collected, cq.key_name(result_core, core), False))

    # ---- 4. excludeFilterKeys (MultiLucene.java:235-252) ----------------
    for core, qs in cq.exclude_filter_queries.items():
        for eq in qs:
            collected = collect_keys(cores[core], eq, cq.key_name(core, result_core))
            key_filters.append((collected, cq.key_name(result_core, core), True))

    # ---- 3. rank queries -> blended scoring -----------------------------
    score_adjust = None
    rank_frames: list[tuple[str, DataFrame]] = []
    for core, rq in cq.rank_queries.items():
        # Rank queries may target the result core itself
        # (MultiLuceneTest.java testMultipleRankQuery): the key falls back
        # to the core's first declared match key.
        other_key = cq.key_name(core, result_core)
        result_key = cq.key_name(result_core, core)
        scores = (
            hits(cores[core], rq)
            .join(
                cores[core].forward.select(
                    "doc_id", qcol(other_key).alias("key")
                ),
                "doc_id",
            )
            .filter(F.col("key").isNotNull())
            .groupBy("key")
            .agg(F.max("score").alias("_other_score"))
        )
        rank_frames.append((result_key, scores))
    if rank_frames:
        ratio = (
            0.5
            if cq.rank_query_score_ratio is None
            else cq.rank_query_score_ratio
        )
        # Reference chains one AggregateScoreSuperCollector per result key
        # name (MultiLucene.java:300-321): within a key name the (1+s)
        # factors multiply; across key names the blend formula nests.
        # HashMap iteration order is replaced by sorted key names here.
        groups: dict[str, list[int]] = {}
        for i, (result_key, _scores) in enumerate(rank_frames):
            groups.setdefault(result_key, []).append(i)

        def score_adjust(h: DataFrame) -> DataFrame:
            score = F.col("score")
            for result_key in sorted(groups):
                factor = F.lit(1.0)
                for i in groups[result_key]:
                    scores = rank_frames[i][1]
                    keyed = result_idx.forward.select(
                        "doc_id", F.col(result_key).alias(f"_k{i}")
                    )
                    h = h.join(keyed, "doc_id", "left").join(
                        F.broadcast(
                            scores.withColumnRenamed("key", f"_k{i}")
                            .withColumnRenamed("_other_score", f"_os{i}")
                        ),
                        f"_k{i}",
                        "left",
                    )
                    factor = factor * (
                        F.lit(1.0) + F.coalesce(F.col(f"_os{i}"), F.lit(0.0))
                    )
                score = F.lit(1.0 - ratio) * score + F.lit(ratio) * factor
            return h.select("doc_id", score.alias("score"))

    # ---- 4b. join sort (J7/C9, MultiLucene.java:145-156): sort keys that
    # name another core resolve through the key mapping — the other
    # core's (key, value) pairs are joined onto the result forward table
    # as synthetic sort columns. Duplicate keys take min(value)
    # (deterministic; the reference's JoinSortCollector keeps an
    # arbitrary doc's slot).
    sort_keys = list(cq.sort_keys or [])
    if any("core" in sk for sk in sort_keys):
        import dataclasses

        aug = result_idx.forward
        resolved: list[dict] = []
        for i, sk in enumerate(sort_keys):
            if "core" not in sk:
                resolved.append(sk)
                continue
            other = sk["core"]
            result_key = cq.key_name(result_core, other)
            other_key = cq.key_name(other, result_core)
            syn = f"_joinsort_{i}"
            vals = (
                cores[other].forward.filter(qcol(sk["sortBy"]).isNotNull())
                .groupBy(qcol(other_key))
                .agg(F.min(qcol(sk["sortBy"])).alias(syn))
                .withColumnRenamed(other_key, result_key)
            )
            aug = aug.join(F.broadcast(vals), result_key, "left")
            resolved.append({**{k: v for k, v in sk.items() if k != "core"}, "sortBy": syn})
        result_idx = dataclasses.replace(result_idx, forward=aug)
        sort_keys = resolved

    # ---- 5. result-core query -------------------------------------------
    result_query = _query_with_drilldowns(cq, result_core) or Q.matchall()
    response = search(
        result_idx,
        result_query,
        filter_queries=result_plain_filters,
        key_filters=key_filters,
        start=cq.start,
        stop=cq.stop,
        sort_keys=sort_keys or None,
        facets=cq.facets.get(result_core, []),
        dedup_field=cq.dedup_field,
        dedup_sort_fields=cq.dedup_sort_fields,
        stored_fields=cq.stored_fields,
        score_adjust=score_adjust,
    )

    # ---- 6. join facets + export keys (MultiLucene.java:171-190) --------
    needs_hit_keys = export_key is not None or any(
        cq.facets.get(c) for c in other_cores
    )
    if needs_hit_keys:
        from meresco_lucene_spark.query.executor import scored_hits_df

        all_hits = scored_hits_df(
            result_idx,
            result_query,
            filter_queries=result_plain_filters,
            key_filters=key_filters,
        )
        for core in other_cores:
            facet_list = cq.facets.get(core)
            if not facet_list:
                continue
            result_key = cq.key_name(result_core, core)
            other_key = cq.key_name(core, result_core)
            hit_keys = (
                result_idx.forward.join(all_hits.select("doc_id"), "doc_id", "left_semi")
                .filter(qcol(result_key).isNotNull())
                .select(qcol(result_key).alias("key"))
                .distinct()
            )
            other_idx = cores[core]
            restricted = other_idx.forward.join(
                F.broadcast(hit_keys.withColumnRenamed("key", other_key)),
                other_key,
                "left_semi",
            ).select("doc_id")
            extra_filters = [
                q
                for q in [cq.queries.get(core)]
                + cq.other_core_facet_filters.get(core, [])
                if q is not None
            ]
            fh = restricted
            for fq in extra_filters:
                fh = fh.join(hits(other_idx, fq).select("doc_id"), "doc_id", "left_semi")
            response.drilldownData.extend(drilldown_data(other_idx, fh, facet_list))
        if export_key is not None:
            keys = (
                result_idx.forward.join(all_hits.select("doc_id"), "doc_id", "left_semi")
                .filter(qcol(export_key).isNotNull())
                .select(qcol(export_key).alias("key"))
                .distinct()
            )
            response.keys = sorted(r["key"] for r in keys.collect())
    if cq.suggestion_request:
        # the reference forwards _suggestionRequest into the result
        # core's QueryData (ComposedQuery.java:107-108), so a composed
        # response carries spellcheck suggestions computed there
        # (Lucene.java:334-340)
        from meresco_lucene_spark.suggest import spellcheck_suggest

        response.suggestions = spellcheck_suggest(
            result_idx, cq.suggestion_request
        )
    return response


def _core_used(cq: ComposedQuery, core: str) -> bool:
    return (
        core in cq.queries
        or core in cq.filter_queries
        or core in cq.rank_queries
        or core in cq.facets
        or core in cq.exclude_filter_queries
        or any(core in (u.core_a, u.core_b) for u in cq.unites)
    )
