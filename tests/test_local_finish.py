"""The bounded driver finish (operators/local.py) on empty input: every
caller's local branch and its distributed branch (forced by a cap of -1,
which even a zero-row input exceeds) return zero rows under one schema."""

import pytest

from go_shapefile_spark.operators import clustering, graph
from go_shapefile_spark.queries import triangle_count_sql


def _components(spark):
    return graph.connected_components(
        spark.createDataFrame([], "src long, dst long"))


def _triangles(spark):
    # the distributed branch is the caller's wedge join (queries.py)
    edges = spark.createDataFrame([], "a long, b long")
    local = graph.triangle_counts_local(edges)
    if local is not None:
        return local
    edges.createOrReplaceTempView("empty_tri_edges")
    return spark.sql("WITH " + triangle_count_sql("empty_tri_edges"))


def _minplus(spark):
    return clustering.grid_cost_distance(
        spark.createDataFrame([], "lon double, lat double, is_src int"))


def _flow(spark):
    return clustering.grid_flow_accumulation(
        spark.createDataFrame([], "lon double, lat double"))


@pytest.mark.parametrize("module,cap,run", [
    (graph, "_LOCAL_FINISH_EDGES", _components),
    (graph, "_TRIANGLE_LOCAL_EDGES", _triangles),
    (clustering, "_GRID_LOCAL_MAX_CELLS", _minplus),
    (clustering, "_GRID_LOCAL_MAX_CELLS", _flow),
], ids=["components", "triangles", "minplus", "flow"])
def test_empty_input_local_and_distributed_agree(spark, monkeypatch,
                                                 module, cap, run):
    local = run(spark)
    monkeypatch.setattr(module, cap, -1)
    dist = run(spark)
    assert local.collect() == [] and dist.collect() == []
    assert local.schema == dist.schema
