"""Unit tests of the benchmark's own machinery (no Spark session needed):
seeded generators, metric naming, span self-time arithmetic, Spark-id
attribution, function patching and the correctness helpers.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import numpy as np
import pandas as pd

from perfbench import datagen, metrics, trace, workloads

ROOT = Path(__file__).resolve().parents[2]
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _rng(seed):
    return np.random.default_rng([seed, 2])


def test_tables_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = (datagen.make_tables(s, 0.001) for s in (1, 1, 2))
    for t in a:
        for col in a[t]:
            assert np.array_equal(a[t][col], b[t][col]), (t, col)
    assert not np.array_equal(a["lineitem"]["l_partkey"], c["lineitem"]["l_partkey"])
    assert len(a["lineitem"]["l_orderkey"]) == datagen.table_sizes(0.001)["lineitem"]


def _delta(seed):
    edges = datagen.base_edges(datagen.make_tables(7, 0.001))
    return edges, datagen.edge_delta(_rng(seed), edges, 10, rewire_share=0.05, delete_share=0.02)


def test_edge_delta_deterministic_and_well_formed():
    edges, (rm1, add1) = _delta(1)
    _, (rm2, add2) = _delta(1)
    _, (rm3, _add3) = _delta(2)
    assert np.array_equal(rm1, rm2) and np.array_equal(add1, add2)
    assert not np.array_equal(rm1, rm3)
    base = {tuple(e) for e in edges.tolist()}
    removed = [tuple(e) for e in rm1.tolist()]
    added = [tuple(e) for e in add1.tolist()]
    assert len(removed) == int(len(edges) * 0.05) + int(len(edges) * 0.02)
    assert set(removed) <= base and len(set(removed)) == len(removed)
    assert not set(added) & base and len(set(added)) == len(added)


def _batch(seed):
    live = {g: {g * 100 + i: 1000 + i for i in range(10)} for g in range(50)}
    return datagen.refresh_batch(
        _rng(seed), live.__getitem__, 50, 10_000,
        groups=4, retract_share=0.3, adds_per_group=5,
    ), live


def test_refresh_batch_deterministic_and_well_formed():
    (rows1, nxt1), live = _batch(1)
    (rows2, nxt2), _ = _batch(1)
    (rows3, _), _ = _batch(2)
    assert rows1 == rows2 and nxt1 == nxt2
    assert rows1 != rows3
    assert len({g for g, *_ in rows1}) == 4
    for g, s, cents, op in rows1:
        if op == "-":
            assert live[g][s] == cents  # retracts a live contribution
        else:
            assert 10_000 <= s < nxt1
    assert nxt1 == 10_000 + 4 * 5


def test_rotation_permutes_all_queries_per_cycle_and_follows_seed():
    r1, r2, r3 = datagen.rotation(_rng(1), 6), datagen.rotation(_rng(1), 6), datagen.rotation(_rng(2), 6)
    assert r1 == r2 and r1 != r3
    n = len(datagen.RELATIONAL_QUERIES)
    for i in range(0, len(r1), n):
        assert sorted(r1[i:i + n]) == sorted(datagen.RELATIONAL_QUERIES)


def test_metric_names_and_units_match_benchmark_json():
    for name, unit in {**metrics.END_TO_END, **metrics.PER_LAYER}.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), (name, unit)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def _rec(spans):
    rec = trace.Recorder()
    rec.spans = [trace.Span(name=n, start=a, end=b, parent=p, ids0=i0, ids1=i1)
                 for n, a, b, p, i0, i1 in spans]
    return rec


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    rec = _rec([
        ("root", 0.0, 10.0, -1, (0, 0), (0, 0)),
        ("a", 1.0, 3.0, 0, (0, 0), (0, 0)),
        ("b", 2.0, 5.0, 0, (0, 0), (0, 0)),   # overlaps a: union 1..5
        ("c", 8.0, 12.0, 0, (0, 0), (0, 0)),  # clipped to 8..10
        ("d", 1.5, 2.5, 1, (0, 0), (0, 0)),   # grandchild: not root's child
    ])
    self_t = rec.self_times()
    assert abs(self_t[0] - (10 - 4 - 2)) < 1e-12
    assert abs(self_t[1] - 1.0) < 1e-12
    assert self_t[4] == 1.0


def test_recorder_nests_spans_and_attributes_ids_to_innermost():
    ids = iter([(0, 0), (1, 2), (3, 5), (4, 7)])
    rec = trace.Recorder(lambda: next(ids))
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    outer, inner = rec.spans
    assert inner.parent == 0 and outer.parent == -1
    assert (outer.ids0, outer.ids1, inner.ids0, inner.ids1) == ((0, 0), (4, 7), (1, 2), (3, 5))
    assert rec.owner_of(1, 3) == 1  # inside inner's stage window
    assert rec.owner_of(1, 1) == 0  # only in outer's
    assert rec.owner_of(1, 9) == -1
    rec.enabled = False
    with rec.span("off") as sp:
        assert sp is None
    assert len(rec.spans) == 2


def test_instrumentation_patches_names_imported_by_value():
    from incr_iter_hadoop_spark.operators import iterative
    from incr_iter_hadoop_spark.plans import loopdriver

    orig = loopdriver.iterate
    assert iterative.iterate is orig
    rec = trace.Recorder()
    inst = trace.Instrumentation(rec)
    inst.install()
    try:
        assert loopdriver.iterate is not orig
        assert iterative.iterate is loopdriver.iterate
        assert iterative.load_table.__wrapped__.__module__.endswith("catalog")
    finally:
        inst.restore()
    assert loopdriver.iterate is orig and iterative.iterate is orig


def test_exact_pagerank_is_the_fixpoint():
    edges = np.array([[0, 1], [0, 2], [1, 2], [2, 0], [3, 2]])
    pr = workloads.exact_pagerank(edges)
    for v in pr:
        mass = sum(pr[s] / sum(1 for e in edges if e[0] == s) for s, d in edges.tolist() if d == v)
        assert abs(pr[v] - (0.2 + 0.8 * mass)) < 1e-9


def test_frames_match_tolerates_order_and_rounding_noise_only():
    a = pd.DataFrame({"K": [2, 1], "x": [0.5, 1.25]})
    b = pd.DataFrame({"x": [1.2500001, 0.5], "k": [1, 2]})
    assert workloads.frames_match(a, b) is None
    assert workloads.frames_match(a, b.assign(x=[1.26, 0.5])) is not None
    assert workloads.frames_match(a, b.iloc[:1]) is not None
