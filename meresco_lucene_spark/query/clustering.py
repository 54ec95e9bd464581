"""Result clustering (reference O14): DBSCAN over term-frequency vectors
with generalized-Jaccard distance, cluster members ranked by PageRank
over the doc-term bipartite graph.

Faithful to the reference algorithms:
- distance = 1 - Σ min(x_i, y_i) / Σ max(x_i, y_i)
  (search/GeneralizedJaccardDistance.java:36-53)
- DBSCAN with commons-math semantics: neighbors exclude the point,
  core if |neighbors| >= minPoints, noise stays unclustered
  (MerescoClusterer.finish, :100-106)
- eps interpolated by result density:
  eps = clamp(eps0 * (totalHits - sliceSize) / clusterMoreRecords, 0, eps0)
  (search/InterpolateEpsilon.java:30-35)
- PageRank: bipartite doc-term graph, edge weight = tf; 5 iterations of
  PR0 <- (1-0.85) + 0.85 * Σ_edges neighbor.PR0/neighbor.edges * w
  with initial rank 1/node_count (search/PageRank.java:32-161,
  MerescoClusterer.java:137).

Like the reference, clustering operates on the top (stop +
clusterMoreRecords) slice — a driver-side numpy computation over at most
a few hundred docs, NOT a corpus-scale job. The term-vector fetch is the
only distributed step.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from meresco_lucene_spark.index.store import PersistentIndex

DAMPING = 0.85
PAGERANK_ITERATIONS = 5


def interpolate_epsilon(
    total_hits: int, slice_size: int, clustering_eps: float, cluster_more_records: int
) -> float:
    if cluster_more_records <= 0:
        return clustering_eps
    eps = clustering_eps * (total_hits - slice_size) / cluster_more_records
    return max(min(eps, clustering_eps), 0.0)


def generalized_jaccard_distance_matrix(vectors: np.ndarray) -> np.ndarray:
    """Pairwise 1 - Σmin/Σmax over non-negative row vectors."""
    n = vectors.shape[0]
    out = np.zeros((n, n))
    for i in range(n):
        mins = np.minimum(vectors[i], vectors).sum(axis=1)
        maxs = np.maximum(vectors[i], vectors).sum(axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            d = 1.0 - np.where(maxs > 0, mins / maxs, 0.0)
        out[i] = d
    return out


def dbscan(dist: np.ndarray, eps: float, min_points: int) -> list[list[int]]:
    """commons-math3 DBSCANClusterer semantics (neighbors exclude self)."""
    n = dist.shape[0]
    UNVISITED, NOISE = -2, -1
    labels = np.full(n, UNVISITED)
    cluster_id = 0
    for p in range(n):
        if labels[p] != UNVISITED:
            continue
        neighbors = [q for q in range(n) if q != p and dist[p, q] <= eps]
        if len(neighbors) < min_points:
            labels[p] = NOISE
            continue
        labels[p] = cluster_id
        seeds = list(neighbors)
        k = 0
        while k < len(seeds):
            q = seeds[k]
            k += 1
            if labels[q] == NOISE:
                labels[q] = cluster_id
            if labels[q] != UNVISITED:
                continue
            labels[q] = cluster_id
            q_neighbors = [r for r in range(n) if r != q and dist[q, r] <= eps]
            if len(q_neighbors) >= min_points:
                seeds.extend(q_neighbors)
        cluster_id += 1
    return [list(np.flatnonzero(labels == c)) for c in range(cluster_id)]


def pagerank_bipartite(
    doc_vectors: np.ndarray, iterations: int = PAGERANK_ITERATIONS
) -> tuple[np.ndarray, np.ndarray]:
    """Reference PageRank over the doc-term bipartite graph.

    doc_vectors: (n_docs, n_terms) tf matrix; an edge exists where tf>0
    with weight tf. Returns (doc_ranks, term_ranks)."""
    n_docs, n_terms = doc_vectors.shape
    w = doc_vectors.astype(float)
    has_edge = w > 0
    # node degree = number of incident edges (countEdge per edge)
    doc_deg = has_edge.sum(axis=1).astype(float)
    term_deg = has_edge.sum(axis=0).astype(float)
    term_active = term_deg > 0
    node_count = n_docs + int(term_active.sum())
    pr_docs = np.full(n_docs, 1.0 / node_count)
    pr_terms = np.where(term_active, 1.0 / node_count, 0.0)
    for _ in range(iterations):
        # propagate: doc receives from terms, term receives from docs
        with np.errstate(divide="ignore", invalid="ignore"):
            from_terms = w @ np.where(term_deg > 0, pr_terms / term_deg, 0.0)
            from_docs = w.T @ np.where(doc_deg > 0, pr_docs / doc_deg, 0.0)
        pr_docs = (1.0 - DAMPING) + DAMPING * from_terms
        pr_terms = np.where(term_active, (1.0 - DAMPING) + DAMPING * from_docs, 0.0)
    return pr_docs, pr_terms


@dataclass
class ClusterField:
    """(fieldname, weight, filterValue) — reference ClusterField.java:37-87."""

    fieldname: str
    weight: float
    filter_value: str | None = None


@dataclass
class ClusterStrategy:
    """One DBSCAN strategy over a weighted multi-field term vector
    (reference ClusterStrategy.java:34-92)."""

    clustering_eps: float
    clustering_min_points: int
    fields: list["ClusterField"] = None

    def __post_init__(self):
        if self.fields is None:
            self.fields = []

    def add_field(
        self, fieldname: str, weight: float, filter_value: str | None = None
    ) -> "ClusterStrategy":
        # reference drops zero-weight fields (ClusterStrategy.java:47-51)
        if weight != 0.0:
            self.fields.append(ClusterField(fieldname, weight, filter_value))
        return self

    @property
    def n_filters(self) -> int:
        return sum(1 for f in self.fields if f.filter_value is not None)


@dataclass
class ClusterConfig:
    """clusterMoreRecords + strategy list (reference ClusterConfig.java:37-87)."""

    cluster_more_records: int = 0
    strategies: list["ClusterStrategy"] = None

    def __post_init__(self):
        if self.strategies is None:
            self.strategies = []

    def add_strategy(self, strategy: ClusterStrategy) -> "ClusterConfig":
        self.strategies.append(strategy)
        return self


@dataclass
class DocScore:
    doc_id: int
    score: float


@dataclass
class TermScore:
    term: str
    score: float


@dataclass
class MerescoCluster:
    topDocs: list[DocScore]
    topTerms: list[TermScore]


def cluster_top_docs_strategies(
    index: PersistentIndex,
    hits_df: DataFrame,
    config: ClusterConfig,
    stop: int = 10,
    total_hits: int | None = None,
) -> list[MerescoCluster]:
    """Multi-strategy, multi-field clustering — the full reference
    semantics (MerescoClusterer.java:52-237):

    - strategies sorted by number of field filters DESC (stable); each
      doc is collected by the FIRST strategy it matches (:94-97, the
      comparator at :75-80);
    - a strategy matches when every filter_value appears among the doc's
      terms of that field (missing field with a filter => fail,
      termVector :216-235 FilterConditionFailed);
    - the doc vector is the reference's combineToSelf chain: the first
      present field's weight is applied only when a second field joins
      (createVector :196-214 — single-field vectors stay unscaled);
    - term ordinals are GLOBAL across fields (one BytesRefHash, :126),
      so equal terms in different fields share a vector entry;
    - per-strategy eps is interpolated with the shared
      cluster_more_records (InterpolateEpsilon.java:30-35), then DBSCAN
      per strategy; clusters of all strategies are concatenated
      (finish() :99-106) and each ranked by PageRank.

    Distributed step = ONE postings fetch (union over the strategies'
    fields, semi-joined to the top slice); everything after operates on
    the <= stop+cluster_more_records slice driver-side, like the
    reference."""
    slice_size = stop + config.cluster_more_records
    top = (
        hits_df.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(slice_size)
        .select("doc_id")
    )
    fieldnames = sorted({f.fieldname for s in config.strategies for f in s.fields})
    if not fieldnames or not config.strategies:
        return []
    parts = None
    for fld in fieldnames:
        p = (
            index.postings_for(fld)
            .join(top, "doc_id", "left_semi")
            .select("field", "term", "doc_id", "tf")
        )
        parts = p if parts is None else parts.unionByName(p)
    rows = parts.collect()
    if not rows:
        return []
    top_ids = [r["doc_id"] for r in top.collect()]

    # global term ordinal space (term string only, shared across fields)
    ords: dict[str, int] = {}
    by_doc_field: dict[tuple[int, str], dict[int, float]] = {}
    for r in rows:
        o = ords.setdefault(r["term"], len(ords))
        by_doc_field.setdefault((r["doc_id"], r["field"]), {})[o] = float(r["tf"])
    terms_by_ord = [None] * len(ords)
    for t, o in ords.items():
        terms_by_ord[o] = t
    n_terms = len(ords)

    strategies = sorted(
        config.strategies, key=lambda s: -s.n_filters
    )  # stable, most filters first

    def _vector_for(doc: int, strat: ClusterStrategy) -> np.ndarray | None:
        vector = None
        vector_weight = 1.0
        for cf in strat.fields:
            tv = by_doc_field.get((doc, cf.fieldname))
            if cf.filter_value is not None:
                fo = ords.get(cf.filter_value)
                if tv is None or fo is None or fo not in tv:
                    return None  # FilterConditionFailed
            if tv is None:
                continue
            v = np.zeros(n_terms)
            for o, tf in tv.items():
                v[o] = tf
            if vector is None:
                vector = v
                vector_weight = cf.weight
            else:
                vector = vector_weight * vector + cf.weight * v
                vector_weight = 1.0
        return vector

    assigned: list[list[tuple[int, np.ndarray]]] = [[] for _ in strategies]
    for doc in top_ids:
        for si, strat in enumerate(strategies):
            v = _vector_for(doc, strat)
            if v is not None:
                assigned[si].append((doc, v))
                break

    n_hits = total_hits if total_hits is not None else hits_df.count()
    out: list[MerescoCluster] = []
    for si, strat in enumerate(strategies):
        if not assigned[si]:
            continue
        eps = interpolate_epsilon(
            n_hits, slice_size, strat.clustering_eps, config.cluster_more_records
        )
        docs = [d for d, _ in assigned[si]]
        vectors = np.vstack([v for _, v in assigned[si]])
        dist = generalized_jaccard_distance_matrix(vectors)
        for members in dbscan(dist, eps, strat.clustering_min_points):
            sub = vectors[members]
            pr_docs, pr_terms = pagerank_bipartite(sub)
            doc_order = np.argsort(-pr_docs, kind="stable")
            term_order = np.argsort(-pr_terms, kind="stable")
            out.append(
                MerescoCluster(
                    topDocs=[
                        DocScore(int(docs[members[i]]), float(pr_docs[i]))
                        for i in doc_order
                    ],
                    topTerms=[
                        TermScore(terms_by_ord[j], float(pr_terms[j]))
                        for j in term_order
                        if pr_terms[j] > 0
                    ],
                )
            )
    return out


def cluster_top_docs(
    index: PersistentIndex,
    hits_df: DataFrame,
    field: str,
    stop: int = 10,
    clustering_eps: float = 0.4,
    min_points: int = 1,
    cluster_more_records: int = 100,
    total_hits: int | None = None,
) -> list[MerescoCluster]:
    """Cluster the top (stop + clusterMoreRecords) hits by their `field`
    term vectors. Returns clusters with PageRank-ranked docs + terms."""
    slice_size = stop + cluster_more_records
    top = (
        hits_df.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(slice_size)
        .select("doc_id")
    )
    rows = (
        index.postings_for(field)
        .join(top, "doc_id", "left_semi")
        .select("doc_id", "term", "tf")
        .collect()
    )
    if not rows:
        return []
    doc_ids = sorted({r["doc_id"] for r in rows})
    terms = sorted({r["term"] for r in rows})
    doc_pos = {d: i for i, d in enumerate(doc_ids)}
    term_pos = {t: i for i, t in enumerate(terms)}
    vectors = np.zeros((len(doc_ids), len(terms)))
    for r in rows:
        vectors[doc_pos[r["doc_id"]], term_pos[r["term"]]] = r["tf"]

    n_hits = total_hits if total_hits is not None else hits_df.count()
    eps = interpolate_epsilon(
        n_hits, slice_size, clustering_eps, cluster_more_records
    )
    dist = generalized_jaccard_distance_matrix(vectors)
    clusters = dbscan(dist, eps, min_points)

    out: list[MerescoCluster] = []
    for members in clusters:
        sub = vectors[members]
        pr_docs, pr_terms = pagerank_bipartite(sub)
        doc_order = np.argsort(-pr_docs, kind="stable")
        term_order = np.argsort(-pr_terms, kind="stable")
        out.append(
            MerescoCluster(
                topDocs=[
                    DocScore(int(doc_ids[members[i]]), float(pr_docs[i]))
                    for i in doc_order
                ],
                topTerms=[
                    TermScore(terms[j], float(pr_terms[j]))
                    for j in term_order
                    if pr_terms[j] > 0
                ],
            )
        )
    return out
