"""Multi-field / multi-strategy clustering goldens recast from
LuceneTest.java:687-750 (testClusteringOnVectorsMultipleStrategies) and
:877-948 (testClusterOnMultipleFields)."""

import pandas as pd
import pytest

from meresco_lucene_spark.query.clustering import (
    ClusterConfig,
    ClusterStrategy,
    cluster_top_docs_strategies,
)
from meresco_lucene_spark.query.executor import hits
from meresco_lucene_spark.query.ir import Q


def _clusters_as_id_sets(clusters):
    return sorted(
        (sorted(d.doc_id for d in c.topDocs) for c in clusters), key=len
    )


def test_multiple_strategies_golden(spark, build_store):
    """LuceneTest.java:687-750: three doc groups, three strategies (two
    filtered); each doc lands in the FIRST matching strategy (most
    filters first) -> clusters of sizes [2, 3, 5] with exact members."""
    rows = [(i, f"aap noot vuur {i}") for i in range(5)]
    rows += [(i, f"aap noot vis {i}") for i in range(5, 8)]
    rows += [(i, f"boom roos aap noot {i}") for i in range(8, 10)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "termvector"]))
    idx = build_store(df, id_col="doc_id", text_cols=["termvector"])
    config = ClusterConfig(cluster_more_records=0)
    config.add_strategy(
        ClusterStrategy(0.4, 1).add_field("termvector", 1.0, None)
    )
    config.add_strategy(
        ClusterStrategy(0.4, 2).add_field("termvector", 1.0, "vis")
    )
    config.add_strategy(
        ClusterStrategy(0.4, 2).add_field("termvector", 1.0, "vuur")
    )
    clusters = cluster_top_docs_strategies(
        idx, hits(idx, Q.matchall()), config, stop=10
    )
    assert _clusters_as_id_sets(clusters) == [
        [8, 9],
        [5, 6, 7],
        [0, 1, 2, 3, 4],
    ]
    # every cluster reports PageRank-ranked terms
    assert all(c.topTerms for c in clusters)


@pytest.fixture(scope="module")
def multifield_idx(spark, build_store):
    rows = [(i, "aap noot vuur", None) for i in range(15)]
    rows += [
        (100, "aap noot vuur", "mies water"),
        (200, "aap vuur", "mies"),
        (300, None, "iets"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "termvector1", "termvector2"])
    )
    idx = build_store(
        df, id_col="doc_id", text_cols=["termvector1", "termvector2"]
    )
    return idx


def _co_clustered(clusters, a, b):
    for c in clusters:
        ids = {d.doc_id for d in c.topDocs}
        if a in ids:
            return b in ids
    return False


def test_single_field_groups_identical_vectors(spark, multifield_idx):
    """LuceneTest.java:877-948 first half: clustering on termvector1 only
    puts id:0 and id:100 together (identical tv1); interpolated eps
    clamps to 0 (totalHits < slice), so only identical vectors group."""
    config = ClusterConfig(cluster_more_records=100)
    config.add_strategy(ClusterStrategy(0.4, 1).add_field("termvector1", 1.0))
    clusters = cluster_top_docs_strategies(
        multifield_idx, hits(multifield_idx, Q.matchall()), config, stop=10
    )
    assert _co_clustered(clusters, 0, 100)


def test_two_fields_split_by_second_vector(spark, multifield_idx):
    """Second half: adding termvector2 (weight 1.0) to the strategy makes
    id:100's combined vector differ from id:0's -> no longer co-clustered
    (global term ordinals span both fields, combineToSelf weights)."""
    config = ClusterConfig(cluster_more_records=100)
    config.add_strategy(
        ClusterStrategy(0.4, 1)
        .add_field("termvector1", 1.0)
        .add_field("termvector2", 1.0)
    )
    clusters = cluster_top_docs_strategies(
        multifield_idx, hits(multifield_idx, Q.matchall()), config, stop=10
    )
    assert not _co_clustered(clusters, 0, 100)
    # id:0..14 (identical vectors) still form one cluster
    assert any(
        {d.doc_id for d in c.topDocs} >= set(range(15)) for c in clusters
    )


def test_filter_on_missing_field_fails_strategy(spark, multifield_idx):
    """A filterValue on a field the doc lacks aborts the strategy for
    that doc (FilterConditionFailed): doc 300 has no termvector1, so a
    tv1-filtered strategy never collects it; the unfiltered fallback
    strategy does."""
    config = ClusterConfig(cluster_more_records=0)
    config.add_strategy(
        ClusterStrategy(0.4, 1).add_field("termvector1", 1.0, "aap")
    )
    # min_points=0: a lone point is its own cluster (doc 300 is the only
    # doc falling through to this strategy; with minPoints>=1 the DBSCAN
    # noise rule would drop it)
    config.add_strategy(ClusterStrategy(0.9, 0).add_field("termvector2", 1.0))
    clusters = cluster_top_docs_strategies(
        multifield_idx, hits(multifield_idx, Q.matchall()), config, stop=20
    )
    in_some = {d.doc_id for c in clusters for d in c.topDocs}
    assert 300 in in_some  # via the second (unfiltered tv2) strategy
    # zero-weight fields are dropped like the reference
    s = ClusterStrategy(0.4, 1).add_field("x", 0.0)
    assert s.fields == []
