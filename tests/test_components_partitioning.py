from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nursing_home_data_etl_pipeline_spark.operators.components import (
    connected_components,
    dup_clusters,
)


def test_connected_components_basic(spark):
    vertices = spark.createDataFrame([(i,) for i in range(7)], ["id"])
    # components: {0,1,2,3} (chain), {4,5} (pair), {6} isolated
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    comp = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6}


def test_connected_components_cycle_and_cross_edges(spark):
    vertices = spark.createDataFrame([(i,) for i in [10, 20, 30, 40]], ["id"])
    edges = spark.createDataFrame(
        [(20, 30), (30, 10), (10, 20), (40, 30)], ["id_a", "id_b"]
    )
    comp = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert set(comp.values()) == {10}


def test_dup_clusters_sizes(spark):
    docs = spark.createDataFrame([(i, "t") for i in range(5)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 3), (1, 2)], ["id_a", "id_b"])
    out = {r.doc_id: (r.cluster_id, r.cluster_size) for r in
           dup_clusters(docs, pairs).collect()}
    assert out[0] == (0, 2) and out[3] == (0, 2)
    assert out[1] == (1, 2) and out[2] == (1, 2)
    assert out[4] == (4, 1)
    # keep-one-per-cluster dedup
    keep = [d for d, (c, _) in out.items() if d == c]
    assert sorted(keep) == [0, 1, 4]


def test_nonconvergence_raises(spark):
    vertices = spark.createDataFrame([(0,), (1,)], ["id"])
    edges = spark.createDataFrame([(0, 1)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(
            vertices, edges, max_iterations=0, driver_edge_threshold=0
        )


def test_distributed_path_matches_union_find(spark):
    vertices = spark.createDataFrame([(i,) for i in range(9)], ["id"])
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (7, 5)], ["id_a", "id_b"]
    )
    fast = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    dist = {
        r.id: r.component
        for r in connected_components(
            vertices, edges, driver_edge_threshold=0
        ).collect()
    }
    assert fast == dist
    assert fast[8] == 8  # isolated vertex labels itself on both paths


def test_absent_endpoint_conducts_in_both_paths(spark):
    """Edges through an id absent from `vertices` conduct connectivity
    identically on the driver and distributed paths (previously the
    distributed path silently dropped such edges, so the answer flipped
    with driver_edge_threshold). NULL-endpoint edges are dropped in both."""
    from nursing_home_data_etl_pipeline_spark.operators.components import (
        connected_components,
    )

    vertices = spark.createDataFrame([(1,), (2,), (7,)], "id long")
    edges = spark.createDataFrame(
        [(1, 99), (99, 2), (None, 7)], "id_a long, id_b long"
    )
    for threshold in (100_000, 0):  # driver path, then distributed path
        got = {
            r.id: r.component
            for r in connected_components(
                vertices, edges, driver_edge_threshold=threshold
            ).collect()
        }
        assert got == {1: 1, 2: 1, 7: 7}, f"threshold={threshold}"


def test_conduct_only_min_endpoint_never_becomes_label(spark):
    """Round-8 hunt: a conduct-only endpoint whose id is the component MIN
    must not become the cluster label — dup_clusters' keep-one rule is
    ``filter(doc_id == cluster_id)``, and a phantom label would make it
    delete EVERY copy in the cluster. Both paths must label with the min
    VERTEX id instead."""
    from nursing_home_data_etl_pipeline_spark.operators.components import (
        connected_components,
        dup_clusters,
    )

    vertices = spark.createDataFrame([(2,), (3,), (9,)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    for threshold in (100_000, 0):  # driver path, then distributed path
        got = {
            r.id: r.component
            for r in connected_components(
                vertices, edges, driver_edge_threshold=threshold
            ).collect()
        }
        assert got == {2: 2, 3: 2, 9: 9}, f"threshold={threshold}"
    # end-to-end: the keep-one filter retains exactly one doc per cluster
    docs = spark.createDataFrame([(2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = sorted(
        r.doc_id
        for r in dup_clusters(docs, pairs)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .collect()
    )
    assert kept == [2, 9]


def test_duplicate_vertex_rows_label_once(spark):
    """Round-8 fuzz: components are over a SET of identities — a duplicated
    vertex row must not emit two labeled rows (cluster_size would count
    rows and the keep-one filter would keep both copies)."""
    from nursing_home_data_etl_pipeline_spark.operators.components import (
        connected_components,
        dup_clusters,
    )

    vertices = spark.createDataFrame([(1,), (2,), (2,), (9,)], "id long")
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    for threshold in (100_000, 0):
        got = sorted(
            (r.id, r.component)
            for r in connected_components(
                vertices, edges, driver_edge_threshold=threshold
            ).collect()
        )
        assert got == [(1, 1), (2, 1), (9, 9)], f"threshold={threshold}"
    docs = spark.createDataFrame([(1,), (2,), (2,), (9,)], "doc_id long")
    out = dup_clusters(docs, edges).collect()
    assert sorted((r.doc_id, r.cluster_id, r.cluster_size) for r in out) == [
        (1, 1, 2), (2, 1, 2), (9, 9, 1),
    ]


def test_connected_components_id_col_named_v_driver_path(spark):
    """id_col='v' used to raise AMBIGUOUS_REFERENCE — but only on the
    small-edge driver path, so success depended on which side of
    driver_edge_threshold the edge count landed (round-9 review). Internal
    frames now use _cc_-prefixed names."""
    from nursing_home_data_etl_pipeline_spark.operators.components import (
        connected_components,
    )

    vertices = spark.createDataFrame([(i,) for i in range(6)], ["v"])
    edges = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    got = {
        (r.v, r.component)
        for r in connected_components(vertices, edges, id_col="v").collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (3, 3), (4, 4), (5, 4)}


def test_connected_components_id_col_component_raises(spark):
    """id_col='component' collides with the output label column on every
    path — loud ValueError instead of a duplicate-named output."""
    import pytest

    from nursing_home_data_etl_pipeline_spark.operators.components import (
        connected_components,
    )

    vertices = spark.createDataFrame([(1,)], ["component"])
    edges = spark.createDataFrame([(1, 1)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="component"):
        connected_components(vertices, edges, id_col="component")
