"""connected_components: driver union-find at or under the edge budget,
distributed large-star/small-star above it, identical labels either way."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clinical_trials_data_pipeline_analyis_spark.operators import dedup
from clinical_trials_data_pipeline_analyis_spark.operators.dedup import (
    _cc_two_phase,
    connected_components,
)


def _labels(spark, pairs, n_vertices, **kw):
    edges = spark.createDataFrame(pairs, "doc_a BIGINT, doc_b BIGINT")
    verts = spark.range(n_vertices).select(F.col("id").alias("doc_id"))
    return {
        r["doc_id"]: r["component"]
        for r in connected_components(
            edges, "doc_a", "doc_b", verts, "doc_id", **kw
        ).collect()
    }


def _both_paths(spark, monkeypatch, pairs, n_vertices):
    """Labels from the driver path and from the distributed path."""
    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", len(pairs))
    local = _labels(spark, pairs, n_vertices)
    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", len(pairs) - 1)
    distributed = _labels(spark, pairs, n_vertices)
    return local, distributed


def test_two_phase_converges_on_high_diameter_path(spark):
    """On a path graph 0-1-...-63 (diameter 63) large-star/small-star
    converges in O(log^2 n) rounds, where min-label propagation would
    need one round per hop."""
    n = 64
    e0 = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "_src BIGINT, _dst BIGINT"
    ).localCheckpoint()
    labels, rounds, converged = _cc_two_phase(e0, "doc_id", 30)
    assert converged and rounds <= 8, f"two_phase took {rounds} rounds"
    assert {r["doc_id"]: r["component"] for r in labels.collect()} == {
        i: 0 for i in range(n)
    }


def test_capped_distributed_run_refuses(spark, monkeypatch):
    """A distributed run capped below convergence must raise, not return
    wrong clusters."""
    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        _labels(spark, [(i, i + 1) for i in range(63)], 67, max_iterations=1)


def test_deep_chain_gets_min_labels_on_both_paths(spark, monkeypatch):
    """Dup-of-dup CHAINS grow component diameter with corpus size; a
    24-hop chain labels to its min id on both paths, off-chain vertices
    stay singletons."""
    n = 24
    local, distributed = _both_paths(
        spark, monkeypatch, [(i, i + 1) for i in range(n)], n + 5
    )
    want = {i: 0 for i in range(n + 1)} | {i: i for i in range(n + 1, n + 5)}
    assert local == want
    assert distributed == want


@pytest.mark.parametrize("size", [7, 8, 9])
def test_budget_boundary_labels_match(spark, monkeypatch, size):
    """Budget 8: graphs of 7, 8 and 9 edges give the same labels on the
    driver path, the distributed path and through the budget switch,
    singletons included."""
    budget = 8
    # chains, a star and a cycle, mixed ids; stop at ``size`` edges
    pairs = [(5, 1), (1, 9), (9, 30), (20, 21), (22, 20), (23, 20),
             (40, 41), (41, 42), (42, 40)][:size]
    local, distributed = _both_paths(spark, monkeypatch, pairs, 45)
    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", budget)
    switched = _labels(spark, pairs, 45)
    assert local == distributed == switched
    assert local[30] == 1 and local[23] == 20 and local[0] == 0


def test_null_endpoint_edges_are_ignored(spark, monkeypatch):
    """An edge with a NULL end joins nothing on either path; its other
    end is a singleton unless a real edge reaches it."""
    pairs = [(1, 2), (3, None), (None, 2), (None, None), (4, 4), (5, 6)]
    local, distributed = _both_paths(spark, monkeypatch, pairs, 8)
    want = {0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 5, 6: 5, 7: 7}
    assert local == want
    assert distributed == want


@pytest.mark.parametrize(
    "pairs",
    [
        [(2 * i, 2 * i + 1) for i in range(20)],  # 20 disjoint pairs
        [(i, i + 1) for i in range(24)],  # 24-edge path
    ],
    ids=["disjoint_pairs", "path"],
)
def test_small_graph_construction_job_budget(spark, request, pairs):
    """Under the edge budget construction is the edge checkpoint plus
    the bounded collect: a handful of jobs, none per round."""
    edges = spark.createDataFrame(pairs, "doc_a BIGINT, doc_b BIGINT")
    verts = spark.range(50).select(F.col("id").alias("doc_id"))
    sc = spark.sparkContext
    group = request.node.name  # one group per case: groups keep old jobs
    sc.setJobGroup(group, "connected_components construction")
    try:
        connected_components(edges, "doc_a", "doc_b", verts, "doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
