"""Incremental SSSP under deletions (SURVEY §7.5 non-monotone delta).

Deleting an edge can only raise distances; min-plus relaxation alone would
keep the stale minimum forever. These tests pin the invalidation contract on
a micro graph where the wrong answer is exactly the stale value, and guard
the 20-round unroll margin of the sssp_converged fixpoint oracle.
"""

from __future__ import annotations

import pytest

from incr_iter_hadoop_spark.operators.iterative import (
    _sssp_edges,
    sssp,
    sssp_invalidate_affected,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_deletion_invalidates_affected_subtree(spark):
    # 0 -1-> 1 -1-> 2 -1-> 3, plus detour 0 -10-> 2. Deleting 1->2 must
    # re-route 2 and 3 through the detour (2: 2 -> 10, 3: 3 -> 11).
    edges = _df(
        spark,
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 10.0), (2, 3, 1.0)],
        "src long, dst long, w double",
    )
    base = sssp(edges, source=0, max_iterations=5).state
    got = {r["node"]: r["dist"] for r in base.collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}

    deleted = edges.where("src = 1 AND dst = 2")
    kept = edges.where("NOT (src = 1 AND dst = 2)")
    affected = sssp_invalidate_affected(kept, deleted, base)
    assert {r["node"] for r in affected.collect()} == {2, 3}

    state0 = base.join(affected, "node", "left_anti")
    res = sssp(
        kept, source=0, max_iterations=3, run_to_fixpoint=False,
        init_state=state0,
    )
    got = {r["node"]: r["dist"] for r in res.state.collect()}
    # WITHOUT invalidation the stale 2.0/3.0 would survive verbatim
    assert got == {0: 0.0, 1: 1.0, 2: 10.0, 3: 11.0}


def test_no_deletions_invalidates_nothing(spark):
    edges = _df(
        spark,
        [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 10.0)],
        "src long, dst long, w double",
    )
    base = sssp(edges, source=0, max_iterations=4).state
    empty = edges.limit(0)
    affected = sssp_invalidate_affected(edges, empty, base)
    assert affected.count() == 0


def test_invalidation_spares_independent_branch(spark):
    # two branches from the source; deleting deep in one branch must not
    # touch the other (over-invalidation there would waste recompute work
    # proportional to the whole graph — the thing the subtree closure
    # exists to avoid)
    edges = _df(
        spark,
        [(0, 1, 1.0), (1, 2, 1.0), (0, 5, 2.0), (5, 6, 2.0)],
        "src long, dst long, w double",
    )
    base = sssp(edges, source=0, max_iterations=5).state
    deleted = edges.where("src = 1 AND dst = 2")
    kept = edges.where("NOT (src = 1 AND dst = 2)")
    affected = sssp_invalidate_affected(kept, deleted, base)
    assert {r["node"] for r in affected.collect()} == {2}


def test_invalidation_closure_deeper_than_max_rounds_raises(spark):
    # a path 0 -> 1 -> ... -> 10: deleting 0->1 invalidates 1 and then one
    # more node per round, so the closure needs 9 rounds that add a node
    # and a 10th that adds none. A truncated closure would keep stale
    # lower bounds, so a cap below that must fail loudly.
    edges = _df(
        spark, [(i, i + 1, 1.0) for i in range(10)], "src long, dst long, w double"
    )
    base = _df(spark, [(i, float(i)) for i in range(11)], "node long, dist double")
    deleted = edges.where("src = 0")
    kept = edges.where("src <> 0")
    for cap in (3, 9):
        with pytest.raises(RuntimeError, match=f"max_rounds={cap}"):
            sssp_invalidate_affected(kept, deleted, base, max_rounds=cap)
    affected = sssp_invalidate_affected(kept, deleted, base, max_rounds=10)
    assert {r["node"] for r in affected.collect()} == set(range(1, 11))


def test_fixpoint_oracle_unroll_margin(spark, sf_dir):
    # the sssp_converged oracle unrolls 20 Bellman-Ford rounds and poisons
    # non-stable nodes; the Spark loop must therefore reach its fixpoint
    # comfortably inside that margin on driver data
    res = sssp(_sssp_edges(spark, sf_dir), source=0, max_iterations=30)
    assert res.converged and res.iterations <= 15, res.iterations


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_warm_start_cc_matches_cold(spark):
    # incremental CC: warm labels from the base graph + new merge edge must
    # converge to the same fixpoint as a cold run on the full graph
    from incr_iter_hadoop_spark.operators.iterative import connected_components

    base_edges = _df(
        spark, [(1, 2, 0.0), (3, 4, 0.0), (5, 6, 0.0)],
        "src long, dst long, w double",
    ).select("src", "dst")
    cold_base = connected_components(base_edges)
    warm = cold_base.state
    assert {r["node"]: r["comp"] for r in warm.collect()} == {
        1: 1, 2: 1, 3: 3, 4: 3, 5: 5, 6: 5,
    }
    # delta merges {1,2} with {3,4}; {5,6} untouched
    new_edges = base_edges.unionByName(
        _df(spark, [(2, 3, 0.0)], "src long, dst long, w double").select(
            "src", "dst"
        )
    )
    warm_res = connected_components(new_edges, init_labels=warm)
    cold_res = connected_components(new_edges)
    w = {r["node"]: r["comp"] for r in warm_res.state.collect()}
    c = {r["node"]: r["comp"] for r in cold_res.state.collect()}
    assert w == c == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}
    # warm-start must not be slower in rounds than cold (labels start merged)
    assert warm_res.iterations <= cold_res.iterations


def test_dataset_fingerprint_tracks_content_changes(tmp_path):
    # the converged-snapshot cache key must change when the source files
    # change (ADVICE r03: a path-only key resurrects stale fixpoints)
    import os
    import shutil

    from incr_iter_hadoop_spark.operators.incremental import (
        _dataset_fingerprint,
    )

    src = "/root/testdata/sf0.001/lineitem.parquet"
    work = tmp_path / "ds"
    work.mkdir()
    if os.path.isdir(src):
        shutil.copytree(src, work / "lineitem.parquet")
    else:
        shutil.copy(src, work / "lineitem.parquet")
    fp1 = _dataset_fingerprint(str(work), "lineitem")
    fp2 = _dataset_fingerprint(str(work), "lineitem")
    assert fp1 == fp2  # deterministic for unchanged files
    # touch mtime only -> fingerprint must change (regeneration signal)
    target = work / "lineitem.parquet"
    victim = (
        next(p for p in target.rglob("*") if p.is_file())
        if target.is_dir()
        else target
    )
    st = victim.stat()
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _dataset_fingerprint(str(work), "lineitem") != fp1
