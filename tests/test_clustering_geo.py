"""O14 clustering (DBSCAN + PageRank) + Q8 geo distance queries."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from meresco_lucene_spark.query.clustering import (
    cluster_top_docs,
    dbscan,
    generalized_jaccard_distance_matrix,
    interpolate_epsilon,
    pagerank_bipartite,
)
from meresco_lucene_spark.query.executor import hits
from meresco_lucene_spark.query.ir import Q


def test_generalized_jaccard_golden():
    # GeneralizedJaccardDistance.java: 1 - sum_min/sum_max
    v = np.array([[1.0, 2.0, 0.0], [1.0, 0.0, 2.0]])
    d = generalized_jaccard_distance_matrix(v)
    assert abs(d[0, 1] - (1 - 1 / 5)) < 1e-12
    assert d[0, 0] == 0.0


def test_interpolate_epsilon_golden():
    # InterpolateEpsilon.java:30-35
    assert interpolate_epsilon(100, 50, 0.4, 100) == pytest.approx(0.4 * 50 / 100)
    assert interpolate_epsilon(1000, 50, 0.4, 100) == 0.4  # clamped to eps
    assert interpolate_epsilon(40, 50, 0.4, 100) == 0.0  # clamped to 0


def test_dbscan_two_clusters_and_noise():
    # 5 points: {0,1} close, {2,3} close, 4 isolated
    d = np.array(
        [
            [0.0, 0.1, 0.9, 0.9, 0.9],
            [0.1, 0.0, 0.9, 0.9, 0.9],
            [0.9, 0.9, 0.0, 0.1, 0.9],
            [0.9, 0.9, 0.1, 0.0, 0.9],
            [0.9, 0.9, 0.9, 0.9, 0.0],
        ]
    )
    clusters = dbscan(d, eps=0.2, min_points=1)
    assert sorted(map(sorted, clusters)) == [[0, 1], [2, 3]]


def test_pagerank_hub_wins():
    # doc 0 shares terms with everything (hub); ranks first
    v = np.array(
        [
            [1.0, 1.0, 1.0],
            [1.0, 0.0, 0.0],
            [0.0, 1.0, 0.0],
        ]
    )
    pr_docs, pr_terms = pagerank_bipartite(v)
    assert pr_docs[0] == max(pr_docs)
    assert pr_terms.shape == (3,)


@pytest.fixture(scope="module")
def cluster_idx(spark, build_store):
    rows = [
        (0, "apple banana cherry"),
        (1, "apple banana cherry date"),
        (2, "apple banana"),
        (3, "metal iron copper"),
        (4, "metal iron copper zinc"),
        (5, "unrelated solitary words"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ix = build_store(df, id_col="doc_id", text_cols=["text"])
    return ix


def test_cluster_top_docs(cluster_idx):
    h = hits(cluster_idx, Q.matchall())
    clusters = cluster_top_docs(
        cluster_idx, h, "text", stop=10, clustering_eps=0.6, min_points=1,
        cluster_more_records=0,
    )
    sets = sorted(sorted(d.doc_id for d in c.topDocs) for c in clusters)
    assert [0, 1, 2] in sets
    assert [3, 4] in sets
    fruit = next(c for c in clusters if {d.doc_id for d in c.topDocs} == {0, 1, 2})
    # doc 1 has the most terms/edges -> highest PageRank representative
    assert fruit.topDocs[0].doc_id == 1
    top_terms = [t.term for t in fruit.topTerms[:3]]
    assert set(top_terms) <= {"apple", "banana", "cherry", "date"}


# ------------------------------------------------------------------ Q8 geo


@pytest.fixture(scope="module")
def geo_idx(spark, build_store):
    rows = [
        (0, "amsterdam", 52.37, 4.90),
        (1, "utrecht", 52.09, 5.12),
        (2, "rotterdam", 51.92, 4.48),
        (3, "paris", 48.86, 2.35),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "name", "loc_lat", "loc_lon"])
    )
    ix = build_store(df, id_col="doc_id", keyword_cols=["name"])
    return ix


def test_distance_query(geo_idx):
    # 50 km around Amsterdam: Utrecht yes (~35km), Rotterdam ~57km no
    q = Q.distance("loc", 52.37, 4.90, 50_000)
    got = {r["doc_id"] for r in hits(geo_idx, q).collect()}
    assert got == {0, 1}
    # 500 km: everything but... Paris is ~430km -> included
    q = Q.distance("loc", 52.37, 4.90, 500_000)
    assert hits(geo_idx, q).count() == 4


def test_distance_query_dict_roundtrip():
    q = Q.from_dict(
        {"type": "DistanceQuery", "field": "loc", "lat": 52.0, "lon": 4.0, "maxDistance": 1000}
    )
    assert q.type == "DistanceQuery" and q.value == (52.0, 4.0) and q.lower == 1000
