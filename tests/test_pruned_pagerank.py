"""I9 change-propagation-pruned incremental PageRank
(reference: MapTask.java:1291-1400 change detection, ReduceTask.java:
3399-3428 filter threshold, :3506-3700 pruned re-reduce).

Two properties matter: (1) the per-iteration frontier SHRINKS — pruned
iterations do less work as the loop approaches the fixpoint, which is the
entire point of change propagation; (2) with theta=0 the delta-propagation
arithmetic is EXACT — identical to full-width warm-started iterations."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.incremental import (
    _PRUNED_ITERS,
    _PRUNED_THETA,
    _PRUNED_WARM_ITERS,
    _pagerank_delta_edges,
    apply_edge_delta,
)
from incr_iter_hadoop_spark.operators.iterative import pagerank


def test_frontier_strictly_shrinks(spark, sf_dir):
    base, delta = _pagerank_delta_edges(spark, sf_dir)
    warm = pagerank(base, max_iterations=_PRUNED_WARM_ITERS)
    updated = apply_edge_delta(base, delta)
    res = pagerank(
        updated,
        init_state=warm.state,
        prune_below=_PRUNED_THETA,
        max_iterations=_PRUNED_ITERS + 1,
    )
    # the frontier of the refresh step's state, then of each pruned round's
    sizes = res.distances[:_PRUNED_ITERS]
    assert len(sizes) == _PRUNED_ITERS
    assert all(a > b for a, b in zip(sizes, sizes[1:])), (
        f"frontier sizes must strictly decrease, got {sizes}"
    )
    n_nodes = res.state.count()
    # pruning is real: every frontier is a strict subset of the node set
    assert sizes[0] < n_nodes


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_theta_zero_equals_full_width_iterations(spark, sf_dir):
    """delta-propagation with theta=0 == full recomputation from the same
    warm state: mass_i = mass_{i-1} + sum(delta/deg) telescopes exactly."""
    base, delta = _pagerank_delta_edges(spark, sf_dir)
    warm = pagerank(base, max_iterations=3)
    updated = apply_edge_delta(base, delta)
    pruned = pagerank(
        updated, init_state=warm.state, prune_below=0.0, max_iterations=3
    )
    # full-width: 3 warm-started iterations on the updated graph == the
    # refresh step + 2 pruned iterations
    full = pagerank(updated, max_iterations=3, init_state=warm.state)
    p = pruned.state.select("node", F.round("rank", 6).alias("rank"))
    f = full.state.select("node", F.round("rank", 6).alias("rank"))
    diffs = (
        p.alias("p")
        .join(f.alias("f"), "node")
        .where(F.abs(F.col("p.rank") - F.col("f.rank")) > 1e-6)
        .count()
    )
    assert p.count() == f.count()
    assert diffs == 0
