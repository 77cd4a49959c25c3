"""One-job-per-iteration convergence.

The converged PageRank loop must read its L1 distance from a ``df.observe``
metric riding the iteration's own materializing action — never a separate
prev⋈curr distance job. A regression doubles the per-iteration job count
(and re-introduces a full-outer join over the state) on the most expensive
headline query. Its setup is budgeted too: a warm start counts nothing and
builds its invariants inside the loop's first checkpoint.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.incremental import apply_edge_delta
from incr_iter_hadoop_spark.operators.iterative import (
    label_propagation_converged,
    pagerank,
    sssp,
)
from incr_iter_hadoop_spark.plans.loopdriver import iterate, l1_state_distance
from incr_iter_hadoop_spark.session import scoped_conf


# irregular in-degrees (the squaring map is many-to-one mod 37), so the
# rank vector genuinely moves for several iterations
_EDGE_ROWS = [(i, (i * i + 1) % 37) for i in range(37)] + [
    (i, (2 * i + 3) % 37) for i in range(37)
]
# retracts two edges, adds one between old nodes and one to a new node 40
_DELTA_ROWS = [(0, 1, "-"), (5, 26, "-"), (3, 7, "+"), (40, 2, "+")]


def _edges(spark):
    return spark.createDataFrame(_EDGE_ROWS, "src long, dst long")


def _delta_edges(spark):
    delta = spark.createDataFrame(_DELTA_ROWS, "src long, dst long, op string")
    return apply_edge_delta(_edges(spark), delta)


def _prior_ranks(spark):
    """The converged ranks of the graph before the delta, as a later run
    would resume from them."""
    res = pagerank(_edges(spark), max_iterations=60, threshold=1e-4)
    return res.state.select("node", "rank")


def _assert_job_budget(spark, group):
    cached = _edges(spark).persist()
    cached.count()
    delta_edges = _delta_edges(spark)
    prior = _prior_ranks(spark)
    # budget: 1 job per round plus the setup. A warm start counts nothing,
    # so its state0 checkpoint is the only setup job; a cold start adds the
    # edge count. A separate distance job per round (a prev⋈curr
    # full-outer join) would blow these bounds.
    cases = (
        ("cold_cached", cached, None, 2),
        ("cold_delta", delta_edges, None, 2),
        ("warm_delta", delta_edges, prior, 1),
    )
    sc = spark.sparkContext
    for label, edges, init_state, setup_jobs in cases:
        job_group = f"{group}_{label}"
        sc.setJobGroup(job_group, "pagerank job budget")
        try:
            res = pagerank(
                edges, max_iterations=60, threshold=1e-4, init_state=init_state
            )
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(job_group) or [])
        iters = res.iterations
        assert res.converged and iters >= 5, (label, iters)
        assert jobs <= iters + setup_jobs, f"{label}: {jobs} jobs, {iters} rounds"
        assert jobs >= iters  # sanity: the tracker actually saw the loop
        # distance sequence is the observed Σ|delta| — strictly positive
        # until convergence, ending at/below threshold
        assert res.distances[-1] <= 1e-4
        assert all(d > 0 for d in res.distances[:-1])
        assert len(res.round_s) == iters and all(t > 0 for t in res.round_s)
    cached.unpersist()


def test_converged_pagerank_is_one_job_per_iteration(spark):
    # AQE splits one action into one job per query stage, which would hide
    # extra ACTIONS behind stage noise — disable it so jobs == actions and
    # the 1-action-per-iteration contract is pinned directly.
    # broadcast exchanges also surface as (tiny) extra jobs; disable
    # auto-broadcast so each iteration's single action is a single job.
    with scoped_conf(spark, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }):
        _assert_job_budget(spark, "pr_jobcount")


def test_converged_pagerank_job_budget_under_session_defaults(spark):
    # the same budget with AQE and auto-broadcast left at the session's own
    # settings: pagerank and iterate() must plan the setup and the rounds
    # so that each is one job whatever the caller's session does
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    _assert_job_budget(spark, "pr_jobcount_defaults")


@pytest.mark.parametrize(
    "confs",
    [
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
        {},  # the session defaults
    ],
    ids=["jobs_are_actions", "session_defaults"],
)
def test_warm_pruned_pagerank_job_budget(spark, confs):
    # the pruned loop runs on iterate()'s observed path too: one job per
    # round plus the state0 checkpoint, its distance the frontier size
    edges = _delta_edges(spark)
    prior = _prior_ranks(spark)
    prior.count()
    sc = spark.sparkContext
    group = f"pruned_jobcount_{len(confs)}"
    with scoped_conf(spark, confs):
        sc.setJobGroup(group, "pruned pagerank job budget")
        try:
            res = pagerank(edges, init_state=prior, prune_below=1e-3, max_iterations=60)
        finally:
            sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group) or [])
    iters = res.iterations
    assert res.converged and iters >= 5, iters
    assert iters <= jobs <= iters + 1, f"{jobs} jobs, {iters} rounds"
    assert res.distances[-1] == 0 and all(d > 0 for d in res.distances[:-1])


def _ranks(res):
    return {r["node"]: r["rank"] for r in res.state.select("node", "rank").collect()}


def test_pruned_pagerank_stops_at_the_first_empty_frontier(spark):
    # an empty frontier propagates nothing, so a run that stops there
    # returns the ranks of a run given more rounds, and of a loop that
    # keeps going past it for a fixed number of rounds
    edges = _delta_edges(spark)
    prior = _prior_ranks(spark)
    short = pagerank(edges, init_state=prior, prune_below=1e-3, max_iterations=60)
    assert short.converged and short.iterations < 60
    longer = pagerank(edges, init_state=prior, prune_below=1e-3, max_iterations=90)
    assert longer.iterations == short.iterations
    assert _ranks(longer) == _ranks(short)
    warm = {r["node"]: r["rank"] for r in prior.collect()}
    sizes, fixed = _pruned_rounds(_delta_rows(), warm, 1e-3, 90)
    assert short.distances == [float(n) for n in sizes[: short.iterations]]
    assert all(n == 0 for n in sizes[short.iterations:])
    got = _ranks(short)
    assert got.keys() == fixed.keys()
    assert all(abs(got[v] - fixed[v]) < 1e-12 for v in fixed)


def test_pruned_pagerank_rejects_a_threshold(spark):
    with pytest.raises(ValueError, match="prune_below"):
        pagerank(_edges(spark), threshold=1e-4, prune_below=1e-3)


def test_warm_pagerank_inherits_the_prior_partitioning(spark):
    # a warm start loops at the partition count of the state it resumes
    # from, clamped to [8, spark.sql.shuffle.partitions]; an explicit
    # num_partitions gives the same ranks
    edges = _delta_edges(spark)
    prior = _prior_ranks(spark)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "32"}):
        for given, expected in ((1, 8), (16, 16), (64, 32)):
            init = prior.repartition(given, "node").localCheckpoint(eager=True)
            assert init.rdd.getNumPartitions() == given
            warm = pagerank(edges, max_iterations=60, threshold=1e-4, init_state=init)
            assert warm.state.rdd.getNumPartitions() == expected, given
            pinned = pagerank(
                edges, max_iterations=60, threshold=1e-4, init_state=init,
                num_partitions=expected,
            )
            assert warm.iterations == pinned.iterations
            got, want = _ranks(warm), _ranks(pinned)
            assert got.keys() == want.keys()
            assert all(abs(got[k] - want[k]) < 1e-12 for k in want)


def test_pagerank_releases_its_caches_when_the_loop_raises(spark, monkeypatch):
    from incr_iter_hadoop_spark.operators import iterative

    jsc = spark.sparkContext._jsc

    def cached_ids():
        # by id, not by count: the ContextCleaner may drop the unreferenced
        # round checkpoints of earlier loops at any time
        return set(jsc.getPersistentRDDs().keySet())

    edges = _delta_edges(spark)
    prior = _prior_ranks(spark)
    before = cached_ids()
    with pytest.raises(ValueError, match="max_iterations"):
        pagerank(edges, max_iterations=0, threshold=1e-4)
    assert not cached_ids() - before

    inside = []

    def failing_iterate(state, step, **kwargs):
        state.count()  # materializes every cache the setup made
        inside.append(cached_ids())
        raise RuntimeError("loop failed")

    monkeypatch.setattr(iterative, "iterate", failing_iterate)
    for kwargs in (
        {"threshold": 1e-4},  # cold: edge cache, static, nodes
        {"threshold": 1e-4, "init_state": prior},  # warm: static, nodes
        {"prune_below": 1e-3, "init_state": prior},  # warm pruned: the same
        {},  # bounded
    ):
        before = cached_ids()
        with pytest.raises(RuntimeError, match="loop failed"):
            pagerank(edges, max_iterations=5, **kwargs)
        assert inside[-1] - before, kwargs
        assert not cached_ids() - before, kwargs


def _delta_rows():
    """The edge list of ``_delta_edges``, in Python."""
    removed = {(s, d) for s, d, op in _DELTA_ROWS if op == "-"}
    return [e for e in _EDGE_ROWS if e not in removed] + [
        (s, d) for s, d, op in _DELTA_ROWS if op == "+"
    ]


def _pruned_rounds(rows, warm, theta, rounds, damping=0.8, retain=0.2):
    """A θ-pruned PageRank that runs a fixed number of rounds, past an empty
    frontier: one full step from ``warm`` (1.0 for new nodes), then rounds
    that propagate only deltas ≥ θ. Returns each round's frontier size in
    the new state, and the final ranks."""
    nodes = {v for e in rows for v in e[:2]}
    deg = {}
    for s, _d in rows:
        deg[s] = deg.get(s, 0) + 1
    rank = {v: warm.get(v, 1.0) for v in nodes}
    mass = dict.fromkeys(nodes, 0.0)
    for s, d in rows:
        mass[d] += rank[s] / deg[s]
    new = {v: retain + damping * mass[v] for v in nodes}
    delta = {v: new[v] - rank[v] for v in nodes}
    rank, sizes = new, []
    for _ in range(rounds):
        frontier = {v for v in nodes if abs(delta[v]) >= theta}
        sizes.append(len(frontier))
        corr = dict.fromkeys(nodes, 0.0)
        for s, d in rows:
            if s in frontier:
                corr[d] += delta[s] / deg[s]
        for v in nodes:
            mass[v] += corr[v]
            rank[v] = retain + damping * mass[v]
            delta[v] = damping * corr[v]
    return sizes, rank


def _fixpoint(rows, damping=0.8, retain=0.2):
    """The PageRank fixpoint of an edge list by power iteration to 1e-13."""
    nodes = {v for e in rows for v in e[:2]}
    deg = {}
    for s, _d in rows:
        deg[s] = deg.get(s, 0) + 1
    rank = dict.fromkeys(nodes, 1.0)
    while True:
        mass = dict.fromkeys(nodes, 0.0)
        for s, d in rows:
            mass[d] += rank[s] / deg[s]
        new = {v: retain + damping * mass[v] for v in nodes}
        if sum(abs(new[v] - rank[v]) for v in nodes) < 1e-13:
            return new
        rank = new


def test_warm_pagerank_reaches_the_delta_graph_fixpoint(spark):
    # a round that moves the ranks by <= θ in L1 leaves them within
    # θ·c/(1−c) of the fixpoint, c = damping = the L1 contraction rate
    theta, c = 1e-4, 0.8
    exact = _fixpoint(_delta_rows())
    warm = pagerank(
        _delta_edges(spark), max_iterations=60, threshold=theta,
        init_state=_prior_ranks(spark),
    )
    got = _ranks(warm)
    assert warm.converged and got.keys() == exact.keys()
    assert sum(abs(got[v] - exact[v]) for v in exact) <= theta * c / (1 - c)


def test_observed_distance_matches_join_based_l1(spark):
    # the observed Σ|delta| must equal the generic join-based L1 between
    # consecutive states (IterativeReducer.distance contract). threshold=0
    # never converges, so the observed-mode loop runs exactly 5 iterations
    # and its final distance is L1(state4, state5).
    edges = _edges(spark)
    r4 = pagerank(edges, max_iterations=4)
    r5 = pagerank(edges, max_iterations=5, threshold=0.0)
    assert r5.iterations == 5 and not r5.converged
    expected = l1_state_distance(
        r4.state.select("node", "rank"), r5.state.select("node", "rank"),
        "node", "rank",
    )
    observed = float(
        r5.state.agg(F.sum(F.abs(F.col("delta")))).collect()[0][0]
    )
    assert abs(observed - r5.distances[-1]) < 1e-9
    assert abs(observed - expected) < 1e-9
    # and the two modes agree on the ranks themselves
    bounded = {
        r["node"]: r["rank"] for r in r5.state.select("node", "rank").collect()
    }
    for row in pagerank(edges, max_iterations=5).state.collect():
        assert abs(bounded[row["node"]] - row["rank"]) < 1e-12


def test_bounded_pagerank_cadence_is_value_invariant(spark):
    """Bounded mode materializes every round by default (checkpoint cadence
    1 — the interval-5 mega-job re-derived the lazily-persisted invariants,
    doubling shuffle writes). The cadence is a physical knob: ranks must
    not depend on the interval the caller passes. The two plan shapes may
    combine the doubles in a different order, hence the tolerance."""
    edges = _edges(spark)
    base = {
        r["node"]: r["rank"]
        for r in pagerank(edges, max_iterations=5).state.collect()
    }
    wide = pagerank(edges, max_iterations=5, checkpoint_interval=3)
    for row in wide.state.collect():
        assert abs(base[row["node"]] - row["rank"]) < 1e-12
    assert wide.iterations == 5


def test_l1_state_distance_counts_one_sided_keys(spark):
    a = spark.createDataFrame([(1, 1.0), (2, 3.0)], "node long, rank double")
    b = spark.createDataFrame([(2, 1.5), (3, 2.0)], "node long, rank double")
    # |1.0-0| + |3.0-1.5| + |0-2.0| = 4.5
    assert abs(l1_state_distance(a, b, "node", "rank") - 4.5) < 1e-9


_LOOP_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def test_iterate_restores_session_confs(spark):
    before = {k: spark.conf.get(k) for k in _LOOP_CONFS}
    state0 = spark.range(12).repartition(3, "id").select(
        F.col("id").alias("node"), F.lit(1.0).alias("v")
    )
    seen = []

    def halve(state, i):
        seen.append({k: spark.conf.get(k) for k in _LOOP_CONFS})
        return state.select("node", (F.col("v") / 2).alias("v"))

    res = iterate(
        state0, halve, observed_distance=F.sum("v"), threshold=1.0,
        max_iterations=10,
    )
    # 12 × 2^-i ≤ 1 first at i = 4
    assert res.converged and res.iterations == 4
    assert len(res.round_s) == 4
    # inside the loop: no AQE, shuffle width = the state's 3 partitions
    assert seen[0] == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "3",
    }
    assert {k: spark.conf.get(k) for k in _LOOP_CONFS} == before

    def fail(state, i):
        raise RuntimeError("step failed")

    with pytest.raises(RuntimeError, match="step failed"):
        iterate(state0, fail, observed_distance=F.sum("v"), threshold=1.0)
    assert {k: spark.conf.get(k) for k in _LOOP_CONFS} == before


def test_scoped_conf_serializes_threads(spark):
    # iterate() and the preserve store scope the same session-global confs;
    # concurrent scopes must not see each other's values inside the block
    # or leak one into the session after it
    import sys
    import threading

    before = {k: spark.conf.get(k) for k in _LOOP_CONFS}
    errors = []

    def worker(t):
        try:
            for _ in range(20):
                mine = {_LOOP_CONFS[0]: str(t % 2 == 0).lower(),
                        _LOOP_CONFS[1]: str(100 + t)}
                with scoped_conf(spark, mine):
                    got = {k: spark.conf.get(k) for k in _LOOP_CONFS}
                    if got != mine:
                        errors.append((t, got))
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    assert {k: spark.conf.get(k) for k in _LOOP_CONFS} == before


def _sssp_rounds(edges, source):
    """Per-round changed counts of the loop's min-plus relaxation."""
    dist, changed = {source: 0.0}, []
    while True:
        cand = {}
        for s, d, w in edges:
            if s in dist:
                cand[d] = min(cand.get(d, float("inf")), dist[s] + w)
        new = dict(dist)
        for v, c in cand.items():
            new[v] = min(new.get(v, float("inf")), c)
        changed.append(sum(1 for v in new if v not in dist or new[v] < dist[v]))
        dist = new
        if changed[-1] == 0:
            return changed, dist


def test_sssp_converged_stops_at_the_reference_round(spark):
    rows = [(i, (i * i + 1) % 37, float(1 + i % 5)) for i in range(37)] + [
        (i, (2 * i + 3) % 37, float(1 + i % 3)) for i in range(37)
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, w double")
    res = sssp(edges, source=0, max_iterations=40)
    changed, dist = _sssp_rounds(rows, 0)
    assert res.converged and res.iterations == len(changed)
    assert res.distances == [float(c) for c in changed]
    assert {r.node: r.dist for r in res.state.collect()} == dist


def _lpa_rounds(pairs):
    """Per-round stop metric min(#label≠p1, #label≠p2) of synchronous LPA
    (most frequent neighbor label, ties to the smallest)."""
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {v: v for v in nbrs}
    p1 = {v: None for v in nbrs}
    out = []
    while True:
        new = {}
        for v, ns in nbrs.items():
            cnt = {}
            for u in ns:
                cnt[label[u]] = cnt.get(label[u], 0) + 1
            new[v] = max(cnt, key=lambda lab: (cnt[lab], -lab))
        p2, p1, label = p1, label, new
        out.append(min(
            sum(label[v] != p1[v] for v in nbrs),
            sum(p2[v] is None or label[v] != p2[v] for v in nbrs),
        ))
        if out[-1] == 0:
            return out, label


def test_lpa_converged_stops_at_the_reference_round(spark):
    pairs = [(i, (i * i + 1) % 37) for i in range(37) if i != (i * i + 1) % 37]
    pairs += [(100, 200), (101, 201)]  # a matching: period-2 forever
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    res = label_propagation_converged(edges, max_iterations=30)
    rounds, labels = _lpa_rounds(pairs)
    assert res.converged and res.iterations == len(rounds)
    assert res.distances == [float(c) for c in rounds]
    got = {r.node: r.label for r in res.state.select("node", "label").collect()}
    assert got == labels
