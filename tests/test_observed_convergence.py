"""One-job-per-iteration convergence.

The converged PageRank loop must read its L1 distance from a ``df.observe``
metric riding the iteration's own materializing action — never a separate
prev⋈curr distance job. A regression doubles the per-iteration job count
(and re-introduces a full-outer join over the state) on the most expensive
headline query. Its setup is budgeted too: a warm start counts nothing and
builds its invariants inside the loop's first checkpoint. k-means,
connected components (min-label and star), label propagation and the power
method run on the same observed loop, with their own job budgets and stop
rules checked against Python loops. A loop with no stop test is the same
loop, and is budgeted the same way (nmf's half-rounds among them).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.incremental import apply_edge_delta
from incr_iter_hadoop_spark.operators.iterative import (
    connected_components,
    connected_components_star,
    kmeans,
    label_propagation,
    label_propagation_converged,
    lloyd,
    nmf,
    pagerank,
    power_iteration,
    spmv,
    sssp,
    sssp_invalidate_affected,
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


# the same graph with weights, for sssp
_WEIGHTED_ROWS = [(i, (i * i + 1) % 37, float(1 + i % 5)) for i in range(37)] + [
    (i, (2 * i + 3) % 37, float(1 + i % 3)) for i in range(37)
]


def _weighted_edges(spark):
    return spark.createDataFrame(_WEIGHTED_ROWS, "src long, dst long, w double")


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
    # from, clamped to [min(8, cores, 32), 32] under 32 shuffle
    # partitions; an explicit num_partitions gives the same ranks
    edges = _delta_edges(spark)
    prior = _prior_ranks(spark)
    floor = min(8, spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "32"}):
        for given, expected in ((1, floor), (16, 16), (64, 32)):
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


def test_pagerank_never_loops_wider_than_the_shuffle_partitions(spark):
    # the partition floor yields to a session ceiling below it
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "2"}):
        res = pagerank(_edges(spark), max_iterations=60, threshold=1e-4)
    assert res.converged
    assert res.state.rdd.getNumPartitions() == 2


def test_pagerank_releases_its_caches_when_the_loop_raises(spark, monkeypatch):
    from incr_iter_hadoop_spark.operators import iterative

    jsc = spark.sparkContext._jsc

    def cached_ids():
        # by id, not by count: the ContextCleaner may drop the unreferenced
        # round checkpoints of earlier loops at any time
        return set(jsc.getPersistentRDDs().keySet())

    edges = _delta_edges(spark)
    prior = _prior_ranks(spark)
    dists = sssp(_weighted_edges(spark), 0).state
    before = cached_ids()
    with pytest.raises(ValueError, match="max_iterations"):
        pagerank(edges, max_iterations=0, threshold=1e-4)
    assert not cached_ids() - before

    inside = []

    def failing_iterate(state, step, **kwargs):
        step(state, 1).count()  # materializes every cache the setup made
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

    # the other operators on iterate() release theirs the same way
    x0, matrix = _power_inputs(spark)
    for label, run in (
        ("kmeans", lambda: kmeans(_km_points(spark), k=4)),
        ("connected_components", lambda: connected_components(edges)),
        ("power_iteration", lambda: power_iteration(matrix, x0, 3)),
        ("sssp", lambda: sssp(_weighted_edges(spark), 0)),
        ("sssp_bounded", lambda: sssp(_weighted_edges(spark), 0, run_to_fixpoint=False)),
        ("sssp_invalidate_affected", lambda: sssp_invalidate_affected(
            _weighted_edges(spark).where("src % 5 <> 0"),
            _weighted_edges(spark).where("src % 5 = 0"),
            dists,
        )),
        ("spmv", lambda: spmv(matrix, x0, 3)),
        ("label_propagation", lambda: label_propagation(edges)),
        ("label_propagation_converged", lambda: label_propagation_converged(edges)),
        ("nmf", lambda: nmf(matrix, iterations=1)),
        ("connected_components_star", lambda: connected_components_star(edges)),
    ):
        before = cached_ids()
        with pytest.raises(RuntimeError, match="loop failed"):
            run()
        assert inside[-1] - before, label
        assert not cached_ids() - before, label


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

    # with no stop test the loop runs its cap under the same confs
    seen.clear()
    res = iterate(state0, halve, max_iterations=6)
    assert not res.converged and res.iterations == 6 and res.distances == []
    assert seen == [seen[0]] * 6 and seen[0] == {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "3",
    }
    assert {k: spark.conf.get(k) for k in _LOOP_CONFS} == before
    with pytest.raises(RuntimeError, match="step failed"):
        iterate(state0, fail, max_iterations=6)
    assert {k: spark.conf.get(k) for k in _LOOP_CONFS} == before


def test_stopless_iterate_is_one_job_per_round(spark):
    # no stop test: exactly max_iterations rounds, each one job, its
    # checkpoint, plus the state0 checkpoint; every round's state is
    # stored, so the plan never grows
    state0 = spark.range(12).repartition(3, "id").select(
        F.col("id").alias("node"), F.lit(1.0).alias("v")
    )

    def halve(state, i):
        return state.select("node", (F.col("v") / 2).alias("v"))

    res, jobs = _jobs_of(
        spark, "stopless_iterate",
        lambda: iterate(state0, halve, max_iterations=7, observe_counts=True),
    )
    assert res.iterations == 7 and not res.converged and res.distances == []
    assert res.record_counts == [12] * 7 and len(res.round_s) == 7
    assert 7 <= jobs <= 7 + 1, f"{jobs} jobs"
    assert {r.node: r.v for r in res.state.collect()} == dict.fromkeys(range(12), 2**-7)
    plan = res.state._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan.splitlines()) == 1, plan


@pytest.mark.parametrize("cached_input", [False, True], ids=["cold", "cached"])
def test_bounded_pagerank_and_sssp_job_budget(spark, cached_input):
    # a bounded run is the observed loop with no stop test: one job per
    # round plus the state0 checkpoint and the edge count, under the
    # session's own confs
    for label, edges, run, columns in (
        ("pagerank", _edges(spark), lambda e: pagerank(e, max_iterations=5),
         ["node", "rank"]),
        ("sssp", _weighted_edges(spark),
         lambda e: sssp(e, 0, max_iterations=5, run_to_fixpoint=False),
         ["node", "dist"]),
    ):
        if cached_input:
            edges = edges.persist()
            edges.count()
        res, jobs = _jobs_of(
            spark, f"bounded_{label}_{cached_input}", lambda: run(edges)
        )
        assert res.iterations == 5 and not res.converged, label
        assert res.state.columns == columns, label
        assert 5 <= jobs <= 5 + 2, f"{label}: {jobs} jobs"
        edges.unpersist()


def test_operators_keep_a_cache_the_caller_owns(spark):
    # persist/unpersist are not refcounted: an operator that persists a
    # cached input again and unpersists it on exit drops the caller's cache,
    # and every later use of the input recomputes it
    x0, matrix = _power_inputs(spark)
    centers = _km_points(spark).where("id < 4").select(
        F.col("id").cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    for label, make, run in (
        ("pagerank", _edges, lambda e: pagerank(e, max_iterations=2)),
        ("sssp", _weighted_edges, lambda e: sssp(e, 0, max_iterations=2)),
        ("spmv", lambda s: matrix, lambda m: spmv(m, x0, 2)),
        ("power_iteration", lambda s: matrix, lambda m: power_iteration(m, x0, 2)),
        ("label_propagation", _edges, lambda e: label_propagation(e, max_iterations=2)),
        ("label_propagation_converged", _edges,
         lambda e: label_propagation_converged(e, max_iterations=2)),
        ("connected_components", _edges, lambda e: connected_components(e)),
        ("connected_components_star", _edges, lambda e: connected_components_star(e)),
        ("nmf", lambda s: matrix, lambda m: nmf(m, iterations=1)),
        ("lloyd", _km_points, lambda p: lloyd(p, centers, max_iterations=2)),
    ):
        owned = make(spark).persist()
        owned.count()
        run(owned)
        assert owned.storageLevel.useMemory, label
        owned.unpersist()


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
    res = sssp(_weighted_edges(spark), source=0, max_iterations=40)
    changed, dist = _sssp_rounds(_WEIGHTED_ROWS, 0)
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


def test_label_propagation_job_budget(spark):
    # one job per round plus the setup: the edge count and the state0
    # checkpoint, which fills the symmetrized edge cache. Neither of the
    # step's joins may broadcast, which would be a job of its own every
    # round.
    for label, run in (
        ("bounded", lambda: label_propagation(_edges(spark), max_iterations=3)),
        ("converged", lambda: label_propagation_converged(_edges(spark))),
    ):
        res, jobs = _jobs_of(spark, f"lpa_jobcount_{label}", run)
        assert res.iterations >= 3, label
        assert res.iterations <= jobs <= res.iterations + 2, (
            f"{label}: {jobs} jobs, {res.iterations} rounds"
        )


def _jobs_of(spark, group, run):
    """``run()`` and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])


# k-means: four noisy direction clusters in 3-D. From the first four points
# by id, Lloyd's loop moves its centers for five rounds and stops at the
# sixth, whose movement is exactly 0; the closest cosine tie on the way is
# 1.7e-4 apart, far beyond float noise.
_KM_BASES = ((1.0, 0.1, 0.0), (0.1, 1.0, 0.2), (0.0, 0.3, 1.0), (0.7, 0.7, 0.1))
_KM_ROWS = [
    (i, [b + (i * 7919 + j * 104729) % 97 / 97 * 1.6
         for j, b in enumerate(_KM_BASES[i % 4])])
    for i in range(48)
]


def _km_points(spark):
    return spark.createDataFrame(_KM_ROWS, "id long, vec array<double>")


def _cosine(a, b):
    """The engine's cosine, summed in the same order: 0.0 at a zero norm."""
    def dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + x * y
        return acc

    denom = dot(a, a) ** 0.5 * dot(b, b) ** 0.5
    return dot(a, b) / denom if denom > 0 else 0.0


def _lloyd_rounds(rows, k, max_iterations, tol):
    """Lloyd's loop from the first k points by id: cosine assignment with
    ties to the smaller center id, per-dimension means, stop at the first
    round whose largest center movement is <= tol. Returns the rounds run,
    each round's movement, the final centers and the final assignment."""
    centers = dict(enumerate(vec for _id, vec in sorted(rows)[:k]))

    def assign(centers):
        return {
            pid: -max((_cosine(vec, c), -cid) for cid, c in centers.items())[1]
            for pid, vec in rows
        }

    moves = []
    for _ in range(max_iterations):
        members, labels = {}, assign(centers)
        for pid, vec in rows:
            members.setdefault(labels[pid], []).append(vec)
        new = {
            cid: [sum(col) / len(vecs) for col in zip(*vecs)]
            for cid, vecs in members.items()
        }
        moves.append(max(
            sum((a - b) ** 2 for a, b in zip(new[c], centers[c])) ** 0.5
            for c in new
        ))
        centers = new
        if moves[-1] <= tol:
            break
    return len(moves), moves, centers, assign(centers)


def test_kmeans_stops_at_the_reference_round(spark):
    rounds, moves, centers, assignment = _lloyd_rounds(_KM_ROWS, 4, 20, 1e-4)
    assert rounds == 6 and moves[-1] == 0.0
    pts = _km_points(spark)
    assigned, iterations = kmeans(pts, k=4, max_iterations=20, tol=1e-4)
    assert iterations == rounds
    assert {r.id: r.cluster for r in assigned.collect()} == assignment
    # the same loop from the same initial centers, for the centers
    init = pts.where("id < 4").select(
        F.col("id").cast("int").alias("cid"), F.col("vec").alias("cvec")
    )
    res = lloyd(pts, init, max_iterations=20, tol=1e-4)
    assert res.converged and res.iterations == rounds
    assert all(abs(a - b) < 1e-12 for a, b in zip(res.distances, moves))
    got = {r.cid: r.cvec for r in res.state.collect()}
    assert got.keys() == centers.keys()
    for cid, vec in centers.items():
        assert all(abs(a - b) < 1e-12 for a, b in zip(got[cid], vec)), cid


def test_kmeans_job_budget(spark):
    # one job per round plus the state0 checkpoint, which also fills the
    # points cache; a run that hits the cap costs the same per round
    for label, cap in (("converging", 20), ("capped", 3)):
        (_assigned, iterations), jobs = _jobs_of(
            spark, f"kmeans_jobcount_{label}",
            lambda cap=cap: kmeans(_km_points(spark), k=4, max_iterations=cap),
        )
        assert iterations == min(cap, 6), label
        assert iterations <= jobs <= iterations + 1, f"{label}: {jobs} jobs"


def _power_inputs(spark):
    """A start vector that is not unit-normalized, and a 37×37 matrix."""
    x0 = spark.createDataFrame(
        [(i, float(1 + i % 3)) for i in range(37)], "i long, x double"
    )
    matrix = _edges(spark).select(
        F.col("dst").alias("r"), F.col("src").alias("c"),
        (F.col("src") % 4 + 1).cast("double").alias("v"),
    )
    return x0, matrix


def test_power_iteration_job_budget_and_norms(spark):
    # one job per round plus the matrix count and the state0 checkpoint;
    # x and the norms keep the power method's meaning for any x0
    x0, matrix = _power_inputs(spark)
    (x, norms), jobs = _jobs_of(
        spark, "power_jobcount", lambda: power_iteration(matrix, x0, 4)
    )
    assert len(norms) == 4
    assert 4 <= jobs <= 4 + 2, f"{jobs} jobs"
    vec, want = {r[0]: r[1] for r in x0.collect()}, []
    for _ in range(4):
        y = {}
        for s, d in _EDGE_ROWS:
            y[d] = y.get(d, 0.0) + (s % 4 + 1) * vec.get(s, 0.0)
        want.append(max(abs(v) for v in y.values()))
        vec = {i: v / want[-1] for i, v in y.items()}
    assert all(abs(a - b) < 1e-9 * b for a, b in zip(norms, want))
    got = {r.i: r.x for r in x.collect()}
    assert got.keys() == vec.keys()
    assert all(abs(got[i] - vec[i]) < 1e-12 for i in vec)


def _cc_rounds(pairs):
    """Per-round changed counts of frontier-pruned min-label propagation."""
    nbrs = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    comp, frontier, changed = {v: v for v in nbrs}, set(nbrs), []
    while True:
        new = dict(comp)
        for u in frontier:
            for v in nbrs[u]:
                new[v] = min(new[v], comp[u])
        frontier = {v for v in nbrs if new[v] < comp[v]}
        comp = new
        changed.append(len(frontier))
        if not frontier:
            return changed, comp


def test_connected_components_job_budget(spark):
    # one job per round plus the edge count and the state0 checkpoint; the
    # distance is the frontier size, and the loop stops at the first empty
    # frontier: a path takes one round per hop
    pairs = [(i, i + 1) for i in range(20, 29)] + [(i, (i * i + 1) % 11) for i in range(11)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    res, jobs = _jobs_of(spark, "cc_jobcount", lambda: connected_components(edges))
    changed, comp = _cc_rounds(pairs)
    assert res.converged and res.iterations == len(changed) >= 8
    assert res.distances == [float(c) for c in changed]
    assert res.iterations <= jobs <= res.iterations + 2, f"{jobs} jobs"
    assert {r.node: r.comp for r in res.state.collect()} == comp


def _star_rounds(pairs):
    """Per-round |new Δ old| edge-set differences of the large-star /
    small-star rewrite, and its final edge set."""
    e, diffs = {(max(a, b), min(a, b)) for a, b in pairs if a != b}, []
    while True:
        nbrs = {}
        for u, v in e:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
        m = {u: min(min(ns), u) for u, ns in nbrs.items()}
        large = {
            (max(v, m[u]), min(v, m[u]))
            for u, ns in nbrs.items()
            for v in ns
            if v > u and v != m[u]
        }
        m2 = {}
        for u, v in large:
            m2[u] = min(m2.get(u, v), v)
        small = {(v, m2[u]) for u, v in large if v != m2[u]} | set(m2.items())
        diffs.append(len(small ^ e))
        e = small
        if diffs[-1] == 0:
            return diffs, e


def test_connected_components_star_job_budget(spark):
    # one job per round plus the edge count, the state0 checkpoint and the
    # labeling's; the distance is the size of the symmetric difference of
    # a round's edge set and the one before, and the loop stops at the
    # first round that reproduces its input
    pairs = [(i, i + 1) for i in range(40)] + [(60, 61), (62, 61), (62, 62)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    res, jobs = _jobs_of(spark, "star_jobcount", lambda: connected_components_star(edges))
    diffs, final = _star_rounds(pairs)
    assert res.converged and res.iterations == len(diffs) >= 4
    assert res.distances == [float(d) for d in diffs]
    assert res.iterations <= jobs <= res.iterations + 3, f"{jobs} jobs"
    want = {v: 0 for v in range(41)} | {60: 60, 61: 60, 62: 60}
    assert {r.node: r.comp for r in res.state.collect()} == want
    assert dict(final) == {u: c for u, c in want.items() if u != c}


def _nmf_rounds(cells, rank, iterations):
    """Lee-Seung updates from nmf's deterministic init: per iteration H
    from W, then W from the new H."""
    ks = range(rank)
    w = {r: [1.0 + ((r * 7 + f * 3) % 5) * 0.1 for f in ks] for r, _c, _v in cells}
    h = {c: [1.0 + ((c * 11 + f * 5) % 7) * 0.1 for f in ks] for _r, c, _v in cells}

    def half(fixed, upd, key):
        gram = [[sum(x[a] * x[b] for x in fixed.values()) for b in ks] for a in ks]
        num = {}
        for cell in cells:
            a, b = (cell[0], cell[1]) if key == 1 else (cell[1], cell[0])
            acc = num.setdefault(b, [0.0] * rank)
            for f in ks:
                acc[f] += fixed[a][f] * cell[2]
        return {
            k: [x[f] * num[k][f] / sum(gram[f][j] * x[j] for j in ks) for f in ks]
            for k, x in upd.items()
        }

    for _ in range(iterations):
        h = half(w, h, 1)
        w = half(h, w, 0)
    return w, h


def test_nmf_job_budget_and_factors(spark):
    # two rounds per iteration, one job each, plus the ratings count and
    # the state0 checkpoint; the factors are the Lee-Seung updates'
    _x0, matrix = _power_inputs(spark)
    cells = [(r.r, r.c, r.v) for r in matrix.collect()]
    for iterations in (1, 3):
        (w, h), jobs = _jobs_of(
            spark, f"nmf_jobcount_{iterations}",
            lambda iterations=iterations: nmf(matrix, iterations=iterations),
        )
        assert 2 * iterations <= jobs <= 2 * iterations + 2, f"{iterations}: {jobs} jobs"
        want_w, want_h = _nmf_rounds(cells, 2, iterations)
        for got, want, key, val in ((w, want_w, "r", "w"), (h, want_h, "c", "h")):
            rows = got.collect()
            assert len(rows) == 2 * len(want), key
            for row in rows:
                x = want[row[key]][row.f]
                assert abs(row[val] - x) <= 1e-9 * abs(x), (key, row)
