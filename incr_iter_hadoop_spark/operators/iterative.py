"""Iterative algorithms on the loop driver (SURVEY §2.8, §7 Phase 3).

The reference ships four iterative apps on its IterativeMapper/Reducer/
Projector contract; each is re-expressed here as a declarative step function
over DataFrames:

- PageRank  (ONE2ONE projector, IterPageRank.java:204-232; formula
  ``0.2 + 0.8·Σ contrib`` at IterPageRank.java:151-160)
- SSSP      (generator type ``sp``, utils/genGraphReduce.java:120-168;
  min-plus relaxation)
- SpMV      (ONE2MUL blocked matrix-vector, MatrixVector.java:152-313)
- k-means   (ONE2ALL global centers, IterKmeans.java:295-310 cosine
  assignment, :413-458 mean recompute, :460-483 Euclidean convergence)

Oracle strategy: the *bounded* variants run a fixed iteration count that a
DuckDB CTE chain reproduces exactly; the *converged* variants exercise the
reference's distance-threshold termination (JobTracker.java:5586-5595) and
also carry exact DuckDB oracles — the CTE unrolls past the
worst-case round count, selects the stop round by the loop's own
termination rule in SQL, and poisons the result on insufficient unroll
(see ``pagerank_converged`` / ``kmeans_converged`` registrations) — plus
naive-twin pytest oracles (SURVEY §5.2).

Scale notes: the static side (edges/matrix) is repartitioned by join key and
persisted once — iterations reuse the exchange; only the transposed
aggregation (groupBy dst / row) shuffles per step. State never visits the
driver except the convergence scalar; k-means centers are O(k·dims) and
broadcast, mirroring GlobalUniqValueWritable.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..catalog import load_table, spread_scan
from ..functions.vector import cosine
from ..plans.loopdriver import (
    IterationResult,
    clamp_partitions,
    iterate,
    negotiate_partitions,
)
from ..registry import register
from ..session import scoped_conf

# ---------------------------------------------------------------------------
# PageRank


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.8,
    retain: float = 0.2,
    max_iterations: int = 50,
    threshold: float | None = None,
    checkpoint_interval: int | None = None,
    num_partitions: int | None = None,
    init_state: DataFrame | None = None,
    prune_below: float | None = None,
    observe_counts: bool = False,
) -> IterationResult:
    """Reference-semantics PageRank: rank₀=1.0; rankᵢ₊₁(v) = retain +
    damping·Σ_{(u,v)∈E} rankᵢ(u)/deg(u). Constants 0.2/0.8 are the
    reference defaults (IterPageRank.java:37-38).

    ``init_state`` (node, rank) warm-starts the loop — the incremental
    iterative mode (SURVEY §3.3): after a graph delta, re-converging from
    the previous fixpoint takes far fewer iterations than from scratch. A
    converged warm start inherits the partitioning of the state it resumes
    from, clamped to the range ``negotiate_partitions`` uses, and counts
    nothing: the earlier run already fixed the partitioning, as the
    reference's incremental run reads its preserved state per reduce
    partition (ReduceTask.java:3359-3372). ``num_partitions`` overrides
    it. Otherwise the count is negotiated from the edge count.

    One job per iteration: the state carries a ``delta`` column
    (rankᵢ − rankᵢ₋₁, computed inside the step at zero extra shuffles since
    the previous rank is already on the joined state row), and in converged
    mode the L1 distance Σ|delta| rides the iteration's materializing
    action via ``df.observe`` — no prev⋈curr full-outer join, no separate
    distance job (the ``IterativeReducer.distance`` contract,
    IterativeReducer.java:24-32, summed master-side like
    JobTracker.java:5586-5595). In converged mode the loop invariants are
    built by the loop's first action, the checkpoint of the initial state.

    ``prune_below`` θ: the change-propagation-pruned incremental loop (I9,
    the reference's filter threshold, ReduceTask.java:3399-3428). Round 1
    is one full step from the initial (typically warm) ranks, which
    absorbs a structural delta; every later round propagates only the rank
    deltas of nodes that moved by at least θ. PageRank's aggregate is
    linear, so mass += Σ delta/deg over the frontier, rank = retain +
    damping·mass and delta = damping·Σ: per-round work tracks the frontier,
    not |E|, and sub-θ residuals are dropped like the reference drops them.
    The observed distance is the frontier size, the count of nodes with
    |delta| ≥ θ in the new state; the loop stops at the first empty
    frontier, which would propagate nothing, or at ``max_iterations``.
    Mutually exclusive with ``threshold``.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    if threshold is not None and prune_below is not None:
        raise ValueError("pass threshold OR prune_below, not both")
    from pyspark.sql.window import Window

    spark = edges.sparkSession
    converged_mode = threshold is not None or prune_below is not None
    # the edges are cached only when they are counted, so that static is
    # built from the cache instead of recomputing the caller's pipeline
    edge_cache = static = nodes = None
    try:
        # the converged loop plans without AQE (see iterate()), and so does
        # its setup: non-adaptive cached plans report their hash(src, n) /
        # hash(node, n) layout before they are materialized, so the state0
        # checkpoint computes the edge pipeline and both invariants in one
        # job and round 1 reads them in place
        with (
            scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"})
            if converged_mode
            else contextlib.nullcontext()
        ):
            if num_partitions is not None:
                n = num_partitions
            elif converged_mode and init_state is not None:
                # a planning call, no job
                n = clamp_partitions(spark, init_state.rdd.getNumPartitions())
            else:
                edge_cache = edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
                n = negotiate_partitions(edges)
            # static side: adjacency + out-degree in ONE exchange — the
            # repartition provides the hash distribution the degree window
            # needs, so deg comes from a within-partition sort instead of a
            # groupBy shuffle + join. Skew: a hot src key costs one task
            # O(f) — linear, and the same row placement the co-partitioned
            # loop join needs anyway; see bench/PLANS.md "pagerank degree
            # computation" for the salted-fallback criterion before trading
            # away the shared exchange.
            static = (
                edges.repartition(n, "src")
                .withColumn("deg", F.count(F.lit(1)).over(Window.partitionBy("src")))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # node set in ONE exchange — explode both endpoints of static,
            # repartition by node, dedup WITHIN the node-hash partitions
            # (hash(node) already co-locates equal nodes, so the
            # dropDuplicates adds no second exchange)
            nodes = (
                static.select(
                    F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
                )
                .repartition(n, "node")
                .dropDuplicates(["node"])
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            if init_state is not None:
                if converged_mode:
                    # the loop runs at state0's partitioning: bring the prior
                    # ranks to nodes' hash(node, n), which plans to nothing
                    # when a previous loop's state already has it; the hint
                    # keeps a small prior state from being broadcast (a job
                    # of its own)
                    init_state = init_state.repartition(n, "node").hint(
                        "shuffle_hash"
                    )
                # warm start: keep prior ranks for surviving nodes, 1.0 for
                # new ones
                state0 = nodes.join(init_state, "node", "left").select(
                    "node", F.coalesce("rank", F.lit(1.0)).alias("rank")
                )
            else:
                state0 = nodes.select("node", F.lit(1.0).alias("rank"))

        # the round-invariant pieces of both steps, built once per call:
        # each Column or DataFrame built costs the driver a Py4J round trip
        src_is_node = F.col("src") == F.col("node")
        node_is_dst = F.col("node") == F.col("dst")
        contrib = (F.col("rank") / F.col("deg")).alias("contrib")
        mass = F.sum("contrib").alias("mass")
        new_rank = F.lit(retain) + F.lit(damping) * F.coalesce("mass", F.lit(0.0))

        def _mass(static_side: DataFrame, state: DataFrame) -> DataFrame:
            return (
                static_side.join(state, src_is_node)
                .select("dst", contrib)
                .groupBy("dst")
                .agg(mass)
            )

        if converged_mode:
            # iterate() keeps the state hash(node, n) and static is
            # hash(src, n), so shuffle joins need no exchange but the
            # contributions' one by dst. Both joins are pinned to that: a
            # broadcast would cost a job of its own every round.
            static_hinted = static.hint("shuffle_hash")
            out = (
                "node",
                new_rank.alias("rank"),
                (new_rank - F.col("rank")).alias("delta"),
            )

            def full_step(state: DataFrame, cols: tuple) -> DataFrame:
                # the state invariantly holds every node, so joining it
                # instead of `nodes` keeps the previous rank on the row —
                # the delta costs no extra join or shuffle. The state is
                # referenced twice; iterate()'s observed path truncates
                # lineage every round to keep the plan linear.
                contribs = _mass(static_hinted, state).hint("shuffle_hash")
                return state.join(contribs, node_is_dst, "left").select(*cols)

            def step_observed(state: DataFrame, i: int) -> DataFrame:
                return full_step(state, out)

            step, distance = step_observed, F.sum(F.abs(F.col("delta")))
            if prune_below is not None:
                refresh_out = (*out, F.coalesce("mass", F.lit(0.0)).alias("mass"))
                corr = F.coalesce("corr", F.lit(0.0))
                mass_after = F.col("mass") + corr
                pruned_out = (
                    "node",
                    mass_after.alias("mass"),
                    (F.lit(retain) + F.lit(damping) * mass_after).alias("rank"),
                    (F.lit(damping) * corr).alias("delta"),
                )
                in_frontier = F.abs(F.col("delta")) >= prune_below

                def step_pruned(state: DataFrame, i: int) -> DataFrame:
                    if i == 1:
                        # the full refresh step: every edge the delta
                        # touched alters its endpoints' masses
                        return full_step(state, refresh_out)
                    # the frontier keeps the state's hash(node, n), so it
                    # joins static in place; hashing the frontier, not the
                    # adjacency, makes the build side shrink with it
                    frontier = state.where(in_frontier).hint("shuffle_hash")
                    props = (
                        static.join(frontier, src_is_node)
                        .select("dst", (F.col("delta") / F.col("deg")).alias("c"))
                        .groupBy("dst")
                        .agg(F.sum("c").alias("corr"))
                        .hint("shuffle_hash")
                    )
                    return state.join(props, node_is_dst, "left").select(*pruned_out)

                step, distance = step_pruned, F.count_if(in_frontier)
            result = iterate(
                state0.withColumn("delta", F.lit(0.0)),
                step,
                max_iterations=max_iterations,
                observed_distance=distance,
                threshold=threshold if prune_below is None else 0.0,
                observe_counts=observe_counts,
            )
        else:

            def step_bounded(state: DataFrame, i: int) -> DataFrame:
                # single state reference → linear plan growth between
                # checkpoints
                contribs = _mass(static, state)
                return nodes.join(contribs, node_is_dst, "left").select(
                    "node", new_rank.alias("rank")
                )

            # bounded mode materializes every round unless the caller asks
            # otherwise: a chained multi-round job references the lazily
            # persisted invariants from every round before any action has
            # cached them, so it re-derives them and writes about twice the
            # shuffle. iterate()'s own default suits lpa and spmv, whose
            # chained rounds reuse their exchanges.
            result = iterate(
                state0,
                step_bounded,
                max_iterations=max_iterations,
                checkpoint_interval=(
                    checkpoint_interval if checkpoint_interval is not None else 1
                ),
                observe_counts=observe_counts,
            )
    finally:
        # the final state is already materialized by iterate()
        for cached in (static, nodes, edge_cache):
            if cached is not None:
                cached.unpersist()
    return result


def _lineitem_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic graph derived from the driver tables: part→supplier.

    The sf lineitem file is ONE row group, so a plain scan would run the
    distinct's partial aggregate as a single task over every row whatever
    the session's cores. ``spread_scan`` on the projected edge rows
    hash-spreads them by src first — and because hash(src) clusters every
    (src, dst) group, the distinct then completes WITHIN partitions with no
    second exchange (same subset-clustering rule the sym build relies on).
    At cluster scale the scan is already split, the spread is a no-op, and
    the distinct keeps its normal partial → exchange → final shape."""
    li = load_table(spark, sf_dir, "lineitem")
    return spread_scan(
        li.select(
            F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
        ),
        "src",
    ).distinct()


_PR_EDGES_SQL = "SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem"


def _pagerank_sql(n_iter: int, edges_sql: str = _PR_EDGES_SQL) -> str:
    parts = [
        f"WITH edges AS ({edges_sql}),",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),",
        "deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", r{i} AS (
  SELECT n.node, 0.2 + 0.8 * COALESCE(c.mass, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / deg.d) AS mass
    FROM r{i-1} r JOIN edges e ON r.node = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    parts.append(f"SELECT node, ROUND(rank, 6) AS rank FROM r{n_iter}")
    return "\n".join(parts)


def _pagerank_converged_sql(
    max_rounds: int, threshold: float = 1.0, edges_sql: str = _PR_EDGES_SQL
) -> str:
    """Exact oracle for THRESHOLD-terminated PageRank (the sssp_converged
    unrolled-chain pattern extended to a data-dependent stop round): unroll
    ``max_rounds`` power iterations, compute each round's L1 delta
    Σ|rankᵢ − rankᵢ₋₁| as a scalar CTE, and select the state of the FIRST
    round whose delta ≤ θ — exactly the loop's termination rule
    (JobClient.runIterativeJob, JobClient.java:1366-1381; distance summed
    master-side like JobTracker.java:5586-5595). The stop round is thereby
    chosen by the DATA on both engines, so one oracle string is correct at
    every scale whose loop terminates within the unroll. An insufficient
    unroll poisons (rank = −1 on every node) instead of silently returning
    a pre-threshold state, so it hash-MISMATCHES loudly.

    MATERIALIZED everywhere: each rᵢ is referenced three times (next
    round, its delta, the all-rounds union) — without the hint DuckDB
    inlines CTEs and the plan grows 3^rounds. Tie-margin note: the fixture
    traces are nowhere near θ (sf0.001: 4.22 → 0.04 around θ=1.0; sf0.01:
    2.91 → 0.39), so float summation-order noise (~1e-10) cannot flip the
    stop round."""
    parts = [
        f"WITH edges AS MATERIALIZED ({edges_sql}),",
        "nodes AS MATERIALIZED "
        "(SELECT src AS node FROM edges UNION SELECT dst FROM edges),",
        "deg AS MATERIALIZED "
        "(SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),",
        "r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)",
    ]
    for i in range(1, max_rounds + 1):
        parts.append(
            f""", r{i} AS MATERIALIZED (
  SELECT n.node, 0.2 + 0.8 * COALESCE(c.mass, 0.0) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / deg.d) AS mass
    FROM r{i-1} r JOIN edges e ON r.node = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    deltas = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, SUM(ABS(a.rank - b.rank)) AS d"
        f" FROM r{i} a JOIN r{i-1} b ON a.node = b.node"
        for i in range(1, max_rounds + 1)
    )
    allr = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, node, rank FROM r{i}"
        for i in range(1, max_rounds + 1)
    )
    parts.append(
        f""", deltas AS MATERIALIZED (
{deltas}
), stop AS (SELECT MIN(rnd) AS rnd FROM deltas WHERE d <= {threshold!r}),
allr AS (
{allr}
)
SELECT a.node,
       CASE WHEN s.rnd IS NOT NULL THEN ROUND(a.rank, 6)
            ELSE -1.0 END AS rank
FROM allr a CROSS JOIN stop s
WHERE a.rnd = COALESCE(s.rnd, {max_rounds})"""
    )
    return "\n".join(parts)


@register(
    "pagerank_bounded5",
    oracle=_pagerank_sql(5),
    doc="I1-I3 fixed-iteration PageRank (5 steps) on the part→supplier graph; "
    "oracle is the unrolled CTE chain.",
)
def pagerank_bounded5(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = pagerank(_lineitem_edges(spark, sf_dir), max_iterations=5)
    return res.state.select("node", F.round("rank", 6).alias("rank"))


@register(
    "pagerank_converged",
    oracle=_pagerank_converged_sql(8, 1.0),
    doc="I4 distance-threshold termination (θ=1.0 L1 — the reference default, "
    "IterPageRank.java:367 + JobTracker.java:5586-5595 semantics). EXACT "
    "oracle despite the data-dependent round count: the unrolled CTE chain "
    "computes every round's L1 delta and picks the first round under θ — "
    "the same rule the loop applies — poisoning (-1) if 8 rounds don't "
    "reach it (fixtures terminate at 3 / 5 rounds).",
)
def pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = pagerank(
        _lineitem_edges(spark, sf_dir), max_iterations=60, threshold=1.0
    )
    return res.state.select("node", F.round("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# SSSP


def sssp(
    edges: DataFrame,
    source: int,
    *,
    max_iterations: int = 50,
    run_to_fixpoint: bool = True,
    checkpoint_interval: int = 5,
    init_state: DataFrame | None = None,
) -> IterationResult:
    """Single-source shortest paths by min-plus relaxation. State holds only
    *reached* nodes (dist < ∞), so early iterations touch small frontiers.
    Convergence = no distance changed (the reference's filter-threshold loop
    with θ=0, ReduceTask.java:3399-3428).

    ``init_state`` (node, dist) warm-starts from previously-computed
    distances — the incremental mode for ADDITIONS-ONLY edge deltas: old
    distances stay valid upper bounds (min-plus is monotone under edge
    insertion), so re-convergence relaxes only paths the new edges
    improve. Edge deletions need ``sssp_invalidate_affected`` first.

    Fixpoint mode runs ONE job per iteration: the step's full-outer join
    already has the previous distance on the row, so a ``changed`` flag
    (min-plus only decreases — changed ⇔ new < prev or node is new) is
    free, and the not-yet-converged count (A8) rides the materializing
    action via ``df.observe`` instead of a second prev⋈curr join job."""
    spark = edges.sparkSession
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    n = negotiate_partitions(edges)
    static = edges.repartition(n, "src").persist(StorageLevel.MEMORY_AND_DISK)
    state0 = (
        init_state
        if init_state is not None
        else spark.createDataFrame([(source, 0.0)], "node long, dist double")
    )

    def step_bounded(state: DataFrame, i: int) -> DataFrame:
        relaxed = (
            static.join(state, static.src == state.node)
            .select("dst", (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("cand"))
        )
        return (
            state.join(relaxed, state.node == relaxed.dst, "full_outer")
            .select(
                F.coalesce("node", "dst").alias("node"),
                F.least(
                    F.coalesce("dist", F.lit(float("inf"))),
                    F.coalesce("cand", F.lit(float("inf"))),
                ).alias("dist"),
            )
        )

    def step_observed(state: DataFrame, i: int) -> DataFrame:
        prev = state.select("node", F.col("dist").alias("_prev"))
        relaxed = (
            static.join(state, static.src == state.node)
            .select("dst", (F.col("dist") + F.col("w")).alias("cand"))
            .groupBy("dst")
            .agg(F.min("cand").alias("cand"))
        )
        new_dist = F.least(
            F.coalesce("_prev", F.lit(float("inf"))),
            F.coalesce("cand", F.lit(float("inf"))),
        )
        return (
            prev.join(relaxed, prev.node == relaxed.dst, "full_outer")
            .select(
                F.coalesce("node", "dst").alias("node"),
                new_dist.alias("dist"),
                F.when(
                    F.col("_prev").isNull() | (new_dist < F.col("_prev")), 1
                )
                .otherwise(0)
                .alias("changed"),
            )
        )

    if run_to_fixpoint:
        # iterate() plans the loop at the initial state's partition count
        result = iterate(
            state0.withColumn("changed", F.lit(1)).repartition(n, "node"),
            step_observed,
            max_iterations=max_iterations,
            observed_distance=F.sum("changed").cast("double"),
            threshold=0.0,
            checkpoint_interval=checkpoint_interval,
        )
        result.state = result.state.drop("changed")
    else:
        result = iterate(
            state0,
            step_bounded,
            max_iterations=max_iterations,
            checkpoint_interval=checkpoint_interval,
        )
    static.unpersist()
    edges.unpersist()
    return result


def _sssp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite supplier↔part graph; parts offset by 10000 to keep node ids
    disjoint. Weight = min quantity on the connecting lineitems."""
    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.groupBy(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 10000).alias("dst"),
    ).agg(F.min("l_quantity").alias("w"))
    rev = li.groupBy(
        (F.col("l_partkey") + 10000).alias("src"),
        F.col("l_suppkey").alias("dst"),
    ).agg(F.min("l_quantity").alias("w"))
    return fwd.unionByName(rev)


_SSSP_EDGES_SQL = """
  SELECT l_suppkey AS src, 10000 + l_partkey AS dst, MIN(l_quantity) AS w
  FROM lineitem GROUP BY 1, 2
  UNION ALL
  SELECT 10000 + l_partkey AS src, l_suppkey AS dst, MIN(l_quantity) AS w
  FROM lineitem GROUP BY 1, 2
"""


def _sssp_sql(n_iter: int, source: int = 0) -> str:
    parts = [
        f"WITH edges AS ({_SSSP_EDGES_SQL}),",
        f"d0 AS (SELECT CAST({source} AS BIGINT) AS node,"
        " CAST(0.0 AS DOUBLE) AS dist)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", d{i} AS (
  SELECT COALESCE(s.node, r.dst) AS node,
         LEAST(COALESCE(s.dist, 1e308), COALESCE(r.cand, 1e308)) AS dist
  FROM d{i-1} s FULL OUTER JOIN (
    SELECT e.dst, MIN(s.dist + e.w) AS cand
    FROM d{i-1} s JOIN edges e ON s.node = e.src GROUP BY e.dst
  ) r ON s.node = r.dst
)"""
        )
    parts.append(f"SELECT node, ROUND(dist, 6) AS dist FROM d{n_iter}")
    return "\n".join(parts)


@register(
    "sssp_bounded4",
    oracle=_sssp_sql(4),
    doc="4 Bellman-Ford rounds from supplier 0 on the bipartite graph.",
)
def sssp_bounded4(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = sssp(_sssp_edges(spark, sf_dir), source=0, max_iterations=4,
               run_to_fixpoint=False)
    return res.state.select("node", F.round("dist", 6).alias("dist"))


_SSSP_BASE_EDGES_SQL = """
  SELECT l_suppkey AS src, 10000 + l_partkey AS dst, MIN(l_quantity) AS w
  FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  GROUP BY 1, 2
  UNION ALL
  SELECT 10000 + l_partkey AS src, l_suppkey AS dst, MIN(l_quantity) AS w
  FROM lineitem WHERE CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  GROUP BY 1, 2
"""


def _sssp_incr_sql(base_rounds: int, incr_rounds: int, source: int = 0) -> str:
    """Base chain on the pre-cutoff graph, then warm-started rounds on the
    full graph (additions + weight decreases only — monotone-safe)."""
    parts = [
        f"WITH bedges AS ({_SSSP_BASE_EDGES_SQL}),",
        f"b0 AS (SELECT CAST({source} AS BIGINT) AS node,"
        " CAST(0.0 AS DOUBLE) AS dist)",
    ]
    for i in range(1, base_rounds + 1):
        parts.append(
            f""", b{i} AS (
  SELECT COALESCE(s.node, r.dst) AS node,
         LEAST(COALESCE(s.dist, 1e308), COALESCE(r.cand, 1e308)) AS dist
  FROM b{i-1} s FULL OUTER JOIN (
    SELECT e.dst, MIN(s.dist + e.w) AS cand
    FROM b{i-1} s JOIN bedges e ON s.node = e.src GROUP BY e.dst
  ) r ON s.node = r.dst
)"""
        )
    parts.append(f", edges AS ({_SSSP_EDGES_SQL}), u0 AS (SELECT * FROM b{base_rounds})")
    for i in range(1, incr_rounds + 1):
        parts.append(
            f""", u{i} AS (
  SELECT COALESCE(s.node, r.dst) AS node,
         LEAST(COALESCE(s.dist, 1e308), COALESCE(r.cand, 1e308)) AS dist
  FROM u{i-1} s FULL OUTER JOIN (
    SELECT e.dst, MIN(s.dist + e.w) AS cand
    FROM u{i-1} s JOIN edges e ON s.node = e.src GROUP BY e.dst
  ) r ON s.node = r.dst
)"""
        )
    parts.append(f"SELECT node, ROUND(dist, 6) AS dist FROM u{incr_rounds}")
    return "\n".join(parts)


@register(
    "incr_sssp_warm3",
    oracle=_sssp_incr_sql(4, 3),
    doc="incremental SSSP, the monotone delta case: 4 Bellman-Ford rounds "
    "on the pre-1997 graph preserve the distances, then the post-1997 "
    "lineitems land (new edges + weight decreases — old distances remain "
    "valid upper bounds under min-plus) and 3 warm-started rounds "
    "re-converge on the full graph. Deletions would force a recompute; "
    "additions re-relax only improved paths (SURVEY §3.3 semantics on the "
    "SSSP workload type).",
)
def incr_sssp_warm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pre = li.where(F.col("l_shipdate").cast("date") < F.lit("1997-01-01").cast("date"))
    base_fwd = pre.groupBy(
        F.col("l_suppkey").alias("src"), (F.col("l_partkey") + 10000).alias("dst")
    ).agg(F.min("l_quantity").alias("w"))
    base_rev = pre.groupBy(
        (F.col("l_partkey") + 10000).alias("src"), F.col("l_suppkey").alias("dst")
    ).agg(F.min("l_quantity").alias("w"))
    warm = sssp(
        base_fwd.unionByName(base_rev), source=0, max_iterations=4,
        run_to_fixpoint=False,
    )
    # truncate at the warm handoff: without the cut the second loop's plan
    # chains through all of the first loop's full-outer joins and the
    # optimizer/codegen blow past a small driver heap (the preserved-state
    # snapshot boundary, same role as the store's parquet base)
    warm_state = warm.state.localCheckpoint(eager=True)
    res = sssp(
        _sssp_edges(spark, sf_dir),
        source=0,
        max_iterations=3,
        run_to_fixpoint=False,
        init_state=warm_state,
    )
    return res.state.select("node", F.round("dist", 6).alias("dist"))


def _sssp_fixpoint_sql(rounds: int, source: int = 0) -> str:
    """Exact oracle for CONVERGED SSSP: unlike PageRank the min-plus
    fixpoint is unique, so an unrolled Bellman-Ford chain reproduces it
    exactly once ``rounds`` ≥ rounds-to-fixpoint. The margin is guarded
    loudly, not assumed: the final select emits dist = -1 for any node
    whose round R-1 and round R values still differ, so an insufficient
    unroll hash-MISMATCHES instead of silently passing a pre-fixpoint
    state. (DuckDB 1.0 has no keyed recursion, and a naive recursive CTE
    enumerates path lengths — exponential on weighted cyclic graphs.)"""
    # MATERIALIZED everywhere: each round references d{i-1} TWICE, so
    # without the hint DuckDB inlines CTEs and the plan doubles per round
    # (2^20 — hangs the optimizer; the exact CTE-inlining analogue of the
    # Spark-side lineage-truncation rule). The edges CTE additionally
    # avoids 40 parquet re-scans exhausting file handles when DuckDB
    # shares the process with a Spark session (the driver's exact setup).
    parts = [
        f"WITH edges AS MATERIALIZED ({_SSSP_EDGES_SQL}),",
        f"d0 AS (SELECT CAST({source} AS BIGINT) AS node,"
        " CAST(0.0 AS DOUBLE) AS dist)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", d{i} AS MATERIALIZED (
  SELECT COALESCE(s.node, r.dst) AS node,
         LEAST(COALESCE(s.dist, 1e308), COALESCE(r.cand, 1e308)) AS dist
  FROM d{i-1} s FULL OUTER JOIN (
    SELECT e.dst, MIN(s.dist + e.w) AS cand
    FROM d{i-1} s JOIN edges e ON s.node = e.src GROUP BY e.dst
  ) r ON s.node = r.dst
)"""
        )
    parts.append(
        f"""SELECT f.node,
       CASE WHEN p.dist = f.dist THEN ROUND(f.dist, 6) ELSE -1.0 END AS dist
FROM d{rounds} f JOIN d{rounds - 1} p ON p.node = f.node"""
    )
    return "\n".join(parts)


@register(
    "sssp_converged",
    oracle=_sssp_fixpoint_sql(20),
    doc="SSSP to fixpoint (frontier empties — I4 θ=0 termination). The "
    "min-plus fixpoint is unique, so even the convergence-driven run is "
    "exactly oracle-checkable: the oracle unrolls 20 Bellman-Ford rounds "
    "and poisons (-1) any node not yet stable between rounds 19 and 20, "
    "so an insufficient unroll fails the hash loudly (fixture fixpoint is "
    "reached in well under 20 rounds — pinned by pytest).",
)
def sssp_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = sssp(_sssp_edges(spark, sf_dir), source=0, max_iterations=30)
    return res.state.select("node", F.round("dist", 6).alias("dist"))


# ---------------------------------------------------------------------------
# incremental SSSP under DELETIONS — the non-monotone case (SURVEY §7.5;
# deletion fixture UpdatePageRankGraph.java:47-52). Deleting an edge can only
# RAISE distances, so old values downstream of a deleted shortest-path edge
# are invalid lower bounds and must be re-initialized to ∞ before warm
# re-relaxation (min-plus would otherwise keep the stale minimum forever).


def sssp_invalidate_affected(
    kept_edges: DataFrame,
    deleted_edges: DataFrame,
    state: DataFrame,
    *,
    max_rounds: int = 50,
) -> DataFrame:
    """Nodes whose preserved distance may depend on a deleted edge.

    An edge (u, v) can have supported v's value only if
    dist(u) + w ≤ dist(v) (values only decrease round-to-round, so any
    realized derivation satisfies this in final values — an over-
    approximation that stays safe for mid-convergence bounded states).
    Seeds are heads of deleted support edges; the set then closes over the
    support edges of the KEPT graph (if u's value may rise, so may any v it
    supports). Over-invalidation is harmless — those nodes just get
    recomputed; under-invalidation would preserve a stale lower bound.

    Returns a (node) DataFrame. Frontier-pruned propagation: per-round work
    tracks the affected frontier, not |E| (the same shape as the reference's
    change-propagation filter, ReduceTask.java:3399-3428, at θ=0)."""
    u = state.select(F.col("node").alias("src"), F.col("dist").alias("_du"))
    v = state.select(F.col("node").alias("dst"), F.col("dist").alias("_dv"))
    support = (
        kept_edges.join(u, "src")
        .join(v, "dst")
        .where(F.col("_du") + F.col("w") <= F.col("_dv"))
        .select("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seeds = (
        deleted_edges.join(u, "src")
        .join(v, "dst")
        .where(F.col("_du") + F.col("w") <= F.col("_dv"))
        .select(F.col("dst").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    affected = seeds
    frontier = seeds
    exhausted = True
    for _ in range(max_rounds):
        if frontier.count() == 0:
            exhausted = False
            break
        nxt = (
            support.join(frontier, support.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(affected, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        affected = affected.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    support.unpersist()
    if exhausted and frontier.count() != 0:
        # A silently truncated closure would leave stale lower-bound
        # distances — exactly what this pass exists to prevent. Fail loudly;
        # the caller can raise max_rounds (closure depth is bounded by the
        # longest support chain, itself <= the graph diameter).
        raise RuntimeError(
            f"sssp_invalidate_affected: affected-set closure still has a "
            f"non-empty frontier after max_rounds={max_rounds}; raise "
            f"max_rounds (support-chain depth exceeds the cap)"
        )
    return affected


_SSSP_DEL_BASE_ROUNDS = 4
_SSSP_DEL_WARM_ROUNDS = 3


def _sssp_delete_sql(
    base_rounds: int, warm_rounds: int, source: int = 0
) -> str:
    """Oracle: base chain on the pre-cutoff graph, exact recursive-CTE
    closure of the affected set over support edges, re-init affected to ∞
    (drop from state), warm chain on the delta-applied graph."""
    parts = [
        f"WITH RECURSIVE bedges AS MATERIALIZED ({_SSSP_BASE_EDGES_SQL}),",
        f"b0 AS (SELECT CAST({source} AS BIGINT) AS node,"
        " CAST(0.0 AS DOUBLE) AS dist)",
    ]
    for i in range(1, base_rounds + 1):
        parts.append(
            f""", b{i} AS (
  SELECT COALESCE(s.node, r.dst) AS node,
         LEAST(COALESCE(s.dist, 1e308), COALESCE(r.cand, 1e308)) AS dist
  FROM b{i-1} s FULL OUTER JOIN (
    SELECT e.dst, MIN(s.dist + e.w) AS cand
    FROM b{i-1} s JOIN bedges e ON s.node = e.src GROUP BY e.dst
  ) r ON s.node = r.dst
)"""
        )
    parts.append(
        f""", deleted AS MATERIALIZED (
  SELECT src, dst, w FROM bedges WHERE (src + dst) % 7 = 0
), kept AS MATERIALIZED (
  SELECT src, dst, w FROM bedges WHERE (src + dst) % 7 <> 0
), post AS ({_SSSP_EDGES_SQL.replace('FROM lineitem', "FROM lineitem WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'")}
), adds AS (
  SELECT p.src, p.dst, p.w FROM post p
  WHERE NOT EXISTS (SELECT 1 FROM kept k
                    WHERE k.src = p.src AND k.dst = p.dst)
), edges AS MATERIALIZED (
  SELECT src, dst, w FROM kept UNION ALL SELECT src, dst, w FROM adds
), d AS MATERIALIZED (SELECT node, dist FROM b{base_rounds}),
support AS MATERIALIZED (
  SELECT k.src, k.dst
  FROM kept k JOIN d u ON u.node = k.src JOIN d v ON v.node = k.dst
  WHERE u.dist + k.w <= v.dist
),
aff AS (
  SELECT DISTINCT e.dst AS node
  FROM deleted e JOIN d u ON u.node = e.src JOIN d v ON v.node = e.dst
  WHERE u.dist + e.w <= v.dist
  UNION
  SELECT s.dst FROM aff a JOIN support s ON s.src = a.node
),
u0 AS (
  SELECT node, dist FROM d
  WHERE NOT EXISTS (SELECT 1 FROM aff WHERE aff.node = d.node)
)"""
    )
    for i in range(1, warm_rounds + 1):
        parts.append(
            f""", u{i} AS (
  SELECT COALESCE(s.node, r.dst) AS node,
         LEAST(COALESCE(s.dist, 1e308), COALESCE(r.cand, 1e308)) AS dist
  FROM u{i-1} s FULL OUTER JOIN (
    SELECT e.dst, MIN(s.dist + e.w) AS cand
    FROM u{i-1} s JOIN edges e ON s.node = e.src GROUP BY e.dst
  ) r ON s.node = r.dst
)"""
        )
    parts.append(
        f"SELECT node, ROUND(dist, 6) AS dist FROM u{warm_rounds}"
    )
    return "\n".join(parts)


@register(
    "incr_sssp_delete3",
    oracle=_sssp_delete_sql(_SSSP_DEL_BASE_ROUNDS, _SSSP_DEL_WARM_ROUNDS),
    doc="incremental SSSP with DELETIONS — the non-monotone delta (SURVEY "
    "§7.5 hard part; deletion fixture UpdatePageRankGraph.java:47-52): 4 "
    "base Bellman-Ford rounds preserve the pre-1997 distances; the delta "
    "removes every (src+dst)%7==0 base edge and adds the post-1997 edges; "
    "the affected shortest-path subtree (closure of deleted-support heads "
    "over kept support edges, dist(u)+w <= dist(v)) is invalidated to ∞; "
    "3 warm rounds re-relax on the updated graph. Oracle: base chain + "
    "recursive-CTE closure + warm chain, exact.",
)
def incr_sssp_delete3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1997-01-01").cast("date")
    pre = li.where(F.col("l_shipdate").cast("date") < cutoff)
    post = li.where(F.col("l_shipdate").cast("date") >= cutoff)

    def _bip(src_df):
        fwd = src_df.groupBy(
            F.col("l_suppkey").alias("src"),
            (F.col("l_partkey") + 10000).alias("dst"),
        ).agg(F.min("l_quantity").alias("w"))
        rev = src_df.groupBy(
            (F.col("l_partkey") + 10000).alias("src"),
            F.col("l_suppkey").alias("dst"),
        ).agg(F.min("l_quantity").alias("w"))
        return fwd.unionByName(rev)

    base_e = _bip(pre).persist(StorageLevel.MEMORY_AND_DISK)
    warm = sssp(
        base_e, source=0, max_iterations=_SSSP_DEL_BASE_ROUNDS,
        run_to_fixpoint=False,
    )
    # preserved-state snapshot boundary (see incr_sssp_warm3)
    d = warm.state.localCheckpoint(eager=True)
    deleted = base_e.where((F.col("src") + F.col("dst")) % 7 == 0)
    kept = base_e.where((F.col("src") + F.col("dst")) % 7 != 0).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    adds = _bip(post).join(kept, ["src", "dst"], "left_anti")
    new_edges = kept.unionByName(adds)
    affected = sssp_invalidate_affected(kept, deleted, d)
    state0 = d.join(affected, "node", "left_anti").localCheckpoint(eager=True)
    res = sssp(
        new_edges, source=0, max_iterations=_SSSP_DEL_WARM_ROUNDS,
        run_to_fixpoint=False, init_state=state0,
    )
    base_e.unpersist()
    kept.unpersist()
    return res.state.select("node", F.round("dist", 6).alias("dist"))


# ---------------------------------------------------------------------------
# SpMV


def spmv(matrix: DataFrame, vector: DataFrame, iterations: int) -> IterationResult:
    """yᵢ₊₁ = A·yᵢ over a coordinate-form sparse matrix (r, c, v). The
    reference blocks the matrix (ONE2MUL, MatrixVector.java:93-147); in Spark
    coordinate form + hash shuffle on the join key is the same data movement
    without bespoke block codecs."""
    matrix = matrix.persist(StorageLevel.MEMORY_AND_DISK)
    n = negotiate_partitions(matrix)
    static = matrix.repartition(n, "c").persist(StorageLevel.MEMORY_AND_DISK)

    def step(state: DataFrame, i: int) -> DataFrame:
        return (
            static.join(state, static.c == state.i)
            .select("r", (F.col("v") * F.col("x")).alias("px"))
            .groupBy("r")
            .agg(F.sum("px").alias("x"))
            .select(F.col("r").alias("i"), "x")
        )

    result = iterate(vector, step, max_iterations=iterations)
    static.unpersist()
    matrix.unpersist()
    return result


_SPMV_MATRIX_SQL = """
  SELECT l_orderkey % 500 AS r, l_partkey % 500 AS c, SUM(l_quantity) AS v
  FROM lineitem GROUP BY 1, 2
"""


def _spmv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        (F.col("l_orderkey") % 500).alias("r"),
        (F.col("l_partkey") % 500).alias("c"),
    ).agg(F.sum("l_quantity").alias("v"))


def _spmv_sql(n_iter: int) -> str:
    parts = [
        f"WITH m AS ({_SPMV_MATRIX_SQL}),",
        "x0 AS (SELECT DISTINCT c AS i, CAST(1.0 AS DOUBLE) AS x FROM m)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", x{i} AS (
  SELECT m.r AS i, SUM(m.v * s.x) AS x
  FROM m JOIN x{i-1} s ON m.c = s.i GROUP BY m.r
)"""
        )
    parts.append(f"SELECT i, ROUND(x, 6) AS x FROM x{n_iter}")
    return "\n".join(parts)


@register(
    "spmv_bounded2",
    oracle=_spmv_sql(2),
    doc="two sparse matrix-vector multiplies (MatrixVector.java:231-276 "
    "partial-product accumulation → groupBy(row).sum).",
)
def spmv_bounded2(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _spmv_matrix(spark, sf_dir)
    x0 = m.select(F.col("c").alias("i")).distinct().select(
        "i", F.lit(1.0).alias("x")
    )
    res = spmv(m, x0, iterations=2)
    return res.state.select("i", F.round("x", 6).alias("x"))


# ---------------------------------------------------------------------------
# k-means (ONE2ALL: small global state broadcast per iteration)


def kmeans(
    points: DataFrame,
    k: int = 10,
    *,
    max_iterations: int = 20,
    tol: float = 1e-4,
    id_col: str = "id",
    vec_col: str = "vec",
) -> tuple[DataFrame, int]:
    """Lloyd iterations with cosine assignment (IterKmeans.java:295-310) and
    Euclidean center-movement convergence (:460-483). Centers are the
    ONE2ALL global value: O(k·dims), broadcast-joined to every point; the
    heavy recompute (posexplode → per-dimension mean) stays distributed.

    Returns (assignment DataFrame ``id, cluster``, iterations run).
    Initial centers = first k points by id (deterministic)."""
    spark = points.sparkSession
    pts = points.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    centers = (
        pts.orderBy("id")
        .limit(k)
        .select((F.row_number().over(_id_window()) - 1).alias("cid"), "vec")
        .select("cid", F.col("vec").alias("cvec"))
    )
    iterations = 0
    for iterations in range(1, max_iterations + 1):
        assigned = _assign(pts, centers)
        new_centers = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("cvec")
            )
            .select(F.col("cluster").alias("cid"), "cvec")
        )
        # centers are tiny: materialize driver-side to compare movement
        old = {r["cid"]: r["cvec"] for r in centers.collect()}
        new = {r["cid"]: r["cvec"] for r in new_centers.collect()}
        movement = max(
            (
                sum((a - b) ** 2 for a, b in zip(old[cid], new[cid])) ** 0.5
                for cid in new
                if cid in old
            ),
            default=0.0,
        )
        centers = new_centers.sparkSession.createDataFrame(
            [(cid, list(map(float, vec))) for cid, vec in sorted(new.items())],
            "cid int, cvec array<double>",
        )
        if movement <= tol:
            break
    final = _assign(pts, centers).select("id", "cluster")
    pts.unpersist()
    return final, iterations


def _id_window():
    from pyspark.sql.window import Window

    return Window.orderBy("id")


def _assign(pts: DataFrame, centers: DataFrame) -> DataFrame:
    """Nearest center by cosine similarity; ties → smaller center id
    (deterministic, mirrored in the oracle SQL)."""
    sims = pts.crossJoin(F.broadcast(centers)).select(
        "id",
        "vec",
        "cid",
        cosine(F.col("vec"), F.col("cvec")).alias("sim"),
    )
    best = sims.groupBy("id", "vec").agg(
        F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))).alias("b")
    )
    return best.select(
        "id", "vec", (-F.col("b.ncid")).cast("int").alias("cluster")
    )


_KM_CENTERS_SQL = """
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 10
"""


@register(
    "kmeans_assign",
    oracle=f"""
    WITH centers AS ({_KM_CENTERS_SQL}),
    pairs AS (
      SELECT e.vec_id, c.cid,
             unnest(e.embedding)::DOUBLE AS ev, unnest(c.cvec)::DOUBLE AS cv
      FROM embeddings e CROSS JOIN centers c
    ),
    sims AS (
      SELECT vec_id, cid,
             CASE WHEN sqrt(SUM(ev*ev)) * sqrt(SUM(cv*cv)) > 0
                  THEN SUM(ev*cv) / (sqrt(SUM(ev*ev)) * sqrt(SUM(cv*cv)))
                  ELSE 0.0 END AS sim
      FROM pairs GROUP BY vec_id, cid
    ),
    best AS (
      SELECT vec_id, cid, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid)
               AS rn
      FROM sims
    )
    SELECT CAST(cid AS INT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(sim), 6) AS avg_sim
    FROM best WHERE rn = 1 GROUP BY cid
    """,
    doc="one k-means assignment step (cosine, IterKmeans.java:295-310): "
    "centers = embeddings vec_id<10; cluster sizes + mean similarity.",
)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    centers = (
        emb.where(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").cast("int").alias("cid"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
        )
    )
    sims = pts.crossJoin(F.broadcast(centers)).select(
        "id", "cid", cosine(F.col("vec"), F.col("cvec")).alias("sim")
    )
    best = sims.groupBy("id").agg(
        F.max(F.struct(F.col("sim"), (-F.col("cid")).alias("ncid"))).alias("b")
    )
    return (
        best.select(
            (-F.col("b.ncid")).cast("int").alias("cluster"),
            F.col("b.sim").alias("sim"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("sim"), 6).alias("avg_sim"),
        )
    )


def kmeans_lloyd_bounded(
    points: DataFrame, centers: DataFrame, rounds: int
) -> DataFrame:
    """Exactly ``rounds`` Lloyd iterations with the centers kept as a
    DataFrame end-to-end (no driver round-trip at all — the bounded twin of
    ``kmeans()``, whose convergence check is the only reason it collects the
    O(k·dims) centers). Assignment is the ONE2ALL broadcast cosine step
    (IterKmeans.java:295-310); recompute is the distributed per-dimension
    mean (IterKmeans.java:413-458). Empty clusters drop out, exactly like a
    SQL mean over an empty group.

    ``points``: (id, vec array<double>); ``centers``: (cid, cvec)."""
    for _ in range(rounds):
        assigned = _assign(points, centers)
        centers = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("cvec")
            )
            .select(F.col("cluster").alias("cid"), "cvec")
        )
    return centers


_KMEANS2_SQL = """
    WITH p_exp AS (
      SELECT vec_id AS id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM embeddings
    ),
    pnorm AS (SELECT id, sqrt(SUM(val*val)) AS pn FROM p_exp GROUP BY id),
    c0 AS (SELECT id AS cid, pos, val AS m FROM p_exp WHERE id < 10),
    c0n AS (SELECT cid, sqrt(SUM(m*m)) AS cn FROM c0 GROUP BY cid),
    dp1 AS (
      SELECT e.id, c.cid, SUM(e.val * c.m) AS dp
      FROM p_exp e JOIN c0 c ON e.pos = c.pos GROUP BY e.id, c.cid
    ),
    s1 AS (
      SELECT d.id, d.cid,
             CASE WHEN p.pn * c.cn > 0 THEN d.dp / (p.pn * c.cn)
                  ELSE 0.0 END AS sim
      FROM dp1 d JOIN pnorm p ON d.id = p.id JOIN c0n c ON d.cid = c.cid
    ),
    a1 AS (
      SELECT id, cid FROM (
        SELECT id, cid, ROW_NUMBER() OVER (
          PARTITION BY id ORDER BY sim DESC, cid) AS rn
        FROM s1
      ) WHERE rn = 1
    ),
    m1 AS (
      SELECT a.cid AS cluster, e.pos, AVG(e.val) AS m
      FROM a1 a JOIN p_exp e ON a.id = e.id GROUP BY a.cid, e.pos
    ),
    c1n AS (SELECT cluster, sqrt(SUM(m*m)) AS cn FROM m1 GROUP BY cluster),
    dp2 AS (
      SELECT e.id, m.cluster, SUM(e.val * m.m) AS dp
      FROM p_exp e JOIN m1 m ON e.pos = m.pos GROUP BY e.id, m.cluster
    ),
    s2 AS (
      SELECT d.id, d.cluster,
             CASE WHEN p.pn * c.cn > 0 THEN d.dp / (p.pn * c.cn)
                  ELSE 0.0 END AS sim
      FROM dp2 d JOIN pnorm p ON d.id = p.id
      JOIN c1n c ON d.cluster = c.cluster
    ),
    a2 AS (
      SELECT id, cluster FROM (
        SELECT id, cluster, ROW_NUMBER() OVER (
          PARTITION BY id ORDER BY sim DESC, cluster) AS rn
        FROM s2
      ) WHERE rn = 1
    ),
    m2 AS (
      SELECT a.cluster, e.pos, AVG(e.val) AS m
      FROM a2 a JOIN p_exp e ON a.id = e.id GROUP BY a.cluster, e.pos
    )
    SELECT CAST(cluster AS INT) AS cluster, CAST(pos AS INT) AS pos,
           ROUND(m, 6) AS c
    FROM m2
"""


@register(
    "kmeans_bounded2",
    oracle=_KMEANS2_SQL,
    doc="A2+I4 driver-checkable k-means: deterministic init (centers = "
    "embeddings vec_id<10), exactly 2 Lloyd rounds (cosine assignment "
    "IterKmeans.java:295-310, per-dimension mean recompute :413-458), "
    "output = final centers exploded to (cluster, pos, c).",
)
def kmeans_bounded2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    centers0 = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").cast("int").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("cvec"),
    )
    final = kmeans_lloyd_bounded(pts, centers0, rounds=2)
    return final.select(
        F.col("cid").cast("int").alias("cluster"),
        F.posexplode("cvec").alias("pos", "c"),
    ).select(
        "cluster", F.col("pos").cast("int").alias("pos"), F.round("c", 6).alias("c")
    )


def _kmeans_rounds_sql(pts_cte: str, centers_cte: str, rounds: int, pre: str) -> str:
    """CTE fragment: ``rounds`` Lloyd iterations over point-set CTE
    ``pts_cte`` (id, pos, val exploded) starting from centers CTE
    ``centers_cte`` (cluster, pos, m). Emits CTEs ``{pre}m{rounds}`` as the
    final centers. Mirrors kmeans_lloyd_bounded exactly (cosine assignment,
    ties -> smaller cluster id, per-dimension mean recompute)."""
    parts = []
    prev = centers_cte
    for i in range(1, rounds + 1):
        parts.append(
            f""", {pre}cn{i} AS (
  SELECT cluster, sqrt(SUM(m*m)) AS cn FROM {prev} GROUP BY cluster
), {pre}dp{i} AS (
  SELECT e.id, c.cluster, SUM(e.val * c.m) AS dp
  FROM {pts_cte} e JOIN {prev} c ON e.pos = c.pos
  GROUP BY e.id, c.cluster
), {pre}s{i} AS (
  SELECT d.id, d.cluster,
         CASE WHEN p.pn * c.cn > 0 THEN d.dp / (p.pn * c.cn)
              ELSE 0.0 END AS sim
  FROM {pre}dp{i} d
  JOIN {pts_cte}_norm p ON d.id = p.id
  JOIN {pre}cn{i} c ON d.cluster = c.cluster
), {pre}a{i} AS (
  SELECT id, cluster FROM (
    SELECT id, cluster, ROW_NUMBER() OVER (
      PARTITION BY id ORDER BY sim DESC, cluster) AS rn
    FROM {pre}s{i}
  ) WHERE rn = 1
), {pre}m{i} AS (
  SELECT a.cluster, e.pos, AVG(e.val) AS m
  FROM {pre}a{i} a JOIN {pts_cte} e ON a.id = e.id
  GROUP BY a.cluster, e.pos
)"""
        )
        prev = f"{pre}m{i}"
    return "".join(parts)


_INCR_KM_SQL = (
    """
    WITH all_exp AS (
      SELECT vec_id AS id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM embeddings
    ),
    bpts AS (SELECT * FROM all_exp WHERE id % 7 <> 0),
    bpts_norm AS (SELECT id, sqrt(SUM(val*val)) AS pn FROM bpts GROUP BY id),
    bc0 AS (
      SELECT e.id AS cluster, e.pos, e.val AS m
      FROM bpts e
      JOIN (SELECT DISTINCT id FROM bpts ORDER BY id LIMIT 10) k
        ON e.id = k.id
    )"""
    + _kmeans_rounds_sql("bpts", "bc0", 2, "b")
    + """
    , upts AS (
      SELECT * FROM all_exp
      WHERE id % 7 = 0 OR (id % 7 <> 0 AND id % 11 <> 0)
    ),
    upts_norm AS (SELECT id, sqrt(SUM(val*val)) AS pn FROM upts GROUP BY id)
    """
    + _kmeans_rounds_sql("upts", "bm2", 2, "u")
    + """
    SELECT CAST(cluster AS INT) AS cluster, CAST(pos AS INT) AS pos,
           ROUND(m, 6) AS c
    FROM um2
"""
)


@register(
    "incr_kmeans_delta2",
    oracle=_INCR_KM_SQL,
    doc="incremental k-means (UpdateKmeansData.java delta shape applied to "
    "the iterative k-means contract, IterKmeans.java:295-483): warm centers "
    "= 2 Lloyd rounds on the base points (vec_id % 7 != 0, centers = 10 "
    "smallest base ids), then a point delta ('+' the held-out sevenths, "
    "'-' every 11th base point) and 2 warm-started rounds on the updated "
    "set — re-convergence from preserved centers instead of a cold init. "
    "Output = final centers exploded to (cluster, pos, c).",
)
def incr_kmeans_delta2(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    pts_all = emb.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    base = pts_all.where(F.col("id") % 7 != 0)
    centers0 = (
        base.orderBy("id")
        .limit(10)
        .select(F.col("id").cast("int").alias("cid"), F.col("vec").alias("cvec"))
    )
    warm = kmeans_lloyd_bounded(base, centers0, rounds=2)
    # I7 point delta: retract every 11th base point, insert the held-out
    # sevenths (add/remove rows keyed by id — the UpdateKmeansData shape)
    updated = base.where(F.col("id") % 11 != 0).unionByName(
        pts_all.where(F.col("id") % 7 == 0)
    )
    final = kmeans_lloyd_bounded(updated, warm, rounds=2)
    return final.select(
        F.col("cid").cast("int").alias("cluster"),
        F.posexplode("cvec").alias("pos", "c"),
    ).select(
        "cluster", F.col("pos").cast("int").alias("pos"), F.round("c", 6).alias("c")
    )


def _kmeans_converged_sql(max_rounds: int = 15, k: int = 10, tol: float = 1e-4) -> str:
    """Exact oracle for the MOVEMENT-terminated Lloyd loop (the
    pagerank_converged pattern on k-means): unroll ``max_rounds`` rounds,
    compute each round's max-Euclidean center movement as a scalar, stop at
    the FIRST round with movement ≤ tol — or at the ``max_rounds`` cap,
    which mirrors ``kmeans(max_iterations=max_rounds)`` exactly, so the
    oracle is TOTAL (no poison needed: both sides cap identically). The
    final answer is one extra assignment step under the stop round's
    centers, matching the loop's post-break ``_assign``. Round 16's a-CTE
    exists only for the stop-at-cap case. Tie margins on the fixtures are
    ≥ 1.7e-2 vs tol=1e-4, and both scales land on an exact-0.0 movement
    round, so float noise cannot flip the stop round.

    MATERIALIZED everywhere: each mᵢ is referenced by round i+1 (twice),
    its movement, and nothing else — still enough for exponential inlining
    without the hint."""
    parts = [
        """WITH p_exp AS MATERIALIZED (
  SELECT vec_id AS id,
         generate_subscripts(embedding, 1) - 1 AS pos,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings
),
p_norm AS MATERIALIZED (
  SELECT id, sqrt(SUM(val*val)) AS pn FROM p_exp GROUP BY id
),
m0 AS MATERIALIZED (
  SELECT k.cluster, e.pos, e.val AS m
  FROM (
    SELECT id, ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster
    FROM (SELECT DISTINCT id FROM p_exp) ORDER BY id LIMIT """
        + str(k)
        + """
  ) k JOIN p_exp e ON e.id = k.id
)"""
    ]
    for i in range(1, max_rounds + 2):  # +1 extra assignment-only round
        parts.append(
            f""", cn{i} AS MATERIALIZED (
  SELECT cluster, sqrt(SUM(m*m)) AS cn FROM m{i-1} GROUP BY cluster
), dp{i} AS MATERIALIZED (
  SELECT e.id, c.cluster, SUM(e.val * c.m) AS dp
  FROM p_exp e JOIN m{i-1} c ON e.pos = c.pos
  GROUP BY e.id, c.cluster
), a{i} AS MATERIALIZED (
  SELECT id, cluster FROM (
    SELECT d.id, d.cluster, ROW_NUMBER() OVER (
      PARTITION BY d.id ORDER BY
        CASE WHEN p.pn * c.cn > 0 THEN d.dp / (p.pn * c.cn)
             ELSE 0.0 END DESC,
        d.cluster) AS rn
    FROM dp{i} d
    JOIN p_norm p ON d.id = p.id
    JOIN cn{i} c ON d.cluster = c.cluster
  ) WHERE rn = 1
)"""
        )
        if i <= max_rounds:
            parts.append(
                f""", m{i} AS MATERIALIZED (
  SELECT a.cluster, e.pos, AVG(e.val) AS m
  FROM a{i} a JOIN p_exp e ON a.id = e.id
  GROUP BY a.cluster, e.pos
)"""
            )
    movs = "\nUNION ALL\n".join(
        f"""  SELECT {i} AS rnd, COALESCE(MAX(dist), 0.0) AS mov FROM (
    SELECT n.cluster, sqrt(SUM((n.m - o.m) * (n.m - o.m))) AS dist
    FROM m{i} n JOIN m{i-1} o ON n.cluster = o.cluster AND n.pos = o.pos
    GROUP BY n.cluster)"""
        for i in range(1, max_rounds + 1)
    )
    alla = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, id, cluster FROM a{i}"
        for i in range(2, max_rounds + 2)
    )
    parts.append(
        f""", movs AS MATERIALIZED (
{movs}
), stop AS (
  SELECT COALESCE(MIN(rnd), {max_rounds}) AS rnd FROM movs WHERE mov <= {tol!r}
), alla AS (
{alla}
)
SELECT CAST(a.cluster AS INT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n
FROM alla a CROSS JOIN stop s
WHERE a.rnd = s.rnd + 1
GROUP BY a.cluster"""
    )
    return "\n".join(parts)


@register(
    "kmeans_converged",
    oracle=_kmeans_converged_sql(15, 10, 1e-4),
    doc="full Lloyd loop to Euclidean-movement convergence (tol=1e-4, cap "
    "15 — IterKmeans.java:460-483 termination); cluster sizes. EXACT "
    "oracle: unrolled rounds + per-round movement scalars pick the stop "
    "round by the loop's own rule, with the cap mirrored so the oracle "
    "is total even on a non-converging fixture.",
)
def kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    pts = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    assigned, _iters = kmeans(pts, k=10, max_iterations=15, tol=1e-4,
                              id_col="id", vec_col="vec")
    return assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Connected components (min-label propagation on the loop driver)


def connected_components(
    edges: DataFrame,
    *,
    nodes: DataFrame | None = None,
    max_iterations: int = 30,
    init_labels: DataFrame | None = None,
) -> IterationResult:
    """Undirected connected components by min-label propagation on the
    iterate() driver: comp(v) ← min(comp(v), min over neighbors comp(u))
    until no label changes (the reference's θ=0 change-propagation loop,
    ReduceTask.java:3399-3428). At the fixpoint every node carries the
    minimum node id of its component — deterministic, so even the
    convergence-driven run is exactly SQL-oracle-checkable.

    ``edges``: (src, dst), treated as undirected. ``nodes``: optional (node)
    relation to include isolated vertices. Converges in O(component
    diameter) rounds; dedup-pair graphs are near-cliques so 2-4 rounds
    typical.

    Frontier-pruned (exact — the θ=0 case of the I9 change filter): after
    the first round only nodes whose label DECREASED propagate, so
    per-round work tracks the shrinking frontier instead of |E|, and an
    empty frontier is itself the convergence signal (no separate
    distance job). Scale: the symmetrized edge list is partitioned by src
    once and reused every round; the frontier side broadcasts while small.

    ``init_labels`` (node, comp) warm-starts from a preserved labeling —
    the incremental mode for edge ADDITIONS (SURVEY §3.3 semantics on the
    CC workload): adding edges only merges components, labels only
    decrease, and each preserved label is the min id of its old component
    — a valid upper bound of the merged component's min — so propagation
    from the old fixpoint converges to the new one in O(merge-boundary)
    rounds instead of O(diameter). Nodes absent from ``init_labels`` start
    at their own id. Edge deletions would need a recompute (a component
    can split)."""
    # the symmetrize-union references edges twice; persist first so an
    # expensive upstream (e.g. a near-dup pair pipeline) evaluates once
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    n = negotiate_partitions(edges)
    # r13: symmetrize in ONE exchange — repartition by src, dedup within
    # the src-hash partitions (equal (src, dst) rows are co-located, so
    # dropDuplicates adds no second exchange); the former
    # union+distinct+repartition paid two |2E| shuffles. Same fusion for
    # the node set below: one node-hash exchange, in-partition dedup.
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(n, "src")
        .dropDuplicates(["src", "dst"])
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    endpoint_nodes = sym.select(F.col("src").alias("node"))
    all_nodes = (
        (
            endpoint_nodes.union(nodes.select("node"))
            if nodes is not None
            else endpoint_nodes
        )
        .repartition(n, "node")
        .dropDuplicates(["node"])
    )
    if init_labels is not None:
        labeled = all_nodes.join(init_labels, "node", "left").select(
            "node", F.coalesce("comp", F.col("node")).alias("comp")
        ).repartition(n, "node")
    else:
        # all_nodes already carries hash(node, n) through the select
        labeled = all_nodes.select("node", F.col("node").alias("comp"))
    state = labeled.persist(StorageLevel.MEMORY_AND_DISK)
    state.count()
    backing = state  # the persisted DF whose blocks this round reads
    frontier = state  # round 1: every node announces its own label
    frontier_counts: list[float] = []
    converged = False
    i = 0
    for i in range(1, max_iterations + 1):
        prop = (
            sym.join(frontier, sym.src == frontier.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("comp").alias("cand"))
        )
        # ONE job per round: merge carries a `chg` flag, the frontier count
        # rides the materializing count via df.observe (the same fusion
        # that took converged PageRank to one job/iteration), and state /
        # frontier are views over the SAME cached `merged` — no separate
        # frontier checkpoint job. The lazy localCheckpoint truncates
        # lineage when the count materializes it — each round's plan must
        # reference only checkpointed blocks, or recomputation chains back
        # through every earlier round (measured: quadratic blowup,
        # 4s -> 15s by round 2 at sf0.1).
        merged = (
            state.join(prop, "node", "left")
            .select(
                "node",
                F.least(
                    "comp", F.coalesce("cand", F.col("comp"))
                ).alias("comp"),
                # labels only decrease: strict decreases ARE the frontier
                (
                    F.coalesce("cand", F.col("comp")) < F.col("comp")
                ).alias("chg"),
            )
            .localCheckpoint(eager=False)
        )
        obs = Observation()  # anonymous: names must be globally unique
        merged = merged.observe(
            obs, F.sum(F.col("chg").cast("long")).alias("n_changed")
        )
        # no Dataset-level persist: localCheckpoint already stores the
        # round's blocks at MEMORY_AND_DISK when the count materializes it;
        # a persist() on top would hold a second columnar copy of the same
        # rows (review finding r4)
        merged.count()
        n_changed = int(obs.get["n_changed"] or 0)
        frontier_counts.append(float(n_changed))
        backing.unpersist()
        backing = merged
        state = merged.select("node", "comp")
        frontier = merged.where("chg").select("node", "comp")
        if n_changed == 0:
            converged = True
            break
    sym.unpersist()
    edges.unpersist()
    return IterationResult(
        state=state,
        iterations=i,
        converged=converged,
        distances=frontier_counts,
    )


def connected_components_star(
    edges: DataFrame,
    *,
    nodes: DataFrame | None = None,
    max_iterations: int = 25,
) -> IterationResult:
    """Undirected connected components by alternating large-star /
    small-star edge rewrites (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond" — the Two-Phase algorithm): O(log n) rounds
    regardless of component DIAMETER, vs the O(diameter) rounds of
    min-label propagation (``connected_components``). Same fixpoint and
    output contract: (node, comp) with comp = min node id of the
    component.

    Pick THIS variant when components can be long chains or meshes (web
    link graphs, k-NN graphs, co-citation at 100 TB — diameters in the
    hundreds make per-round propagation prohibitive); min-label
    propagation stays the default for near-clique dedup-pair graphs,
    where diameter ≈ 2 means 3 cheap rounds beat 2× the shuffles here.

    Each round rewrites the edge multiset with two groupBy-join passes:
      large-star(v): every neighbor u > v re-attaches to m = min(N(v)∪{v})
      small-star(v): every neighbor u ≤ v attaches to m
    Edges only move toward smaller ids (monotone) and never disconnect
    components; at the fixpoint the edge set is a star forest child →
    component-min, read out directly as the labeling. Convergence = a
    round reproduced the same edge set — checked exactly (count equality
    + one-sided ``exceptAll`` emptiness on distinct sets), affordable
    because total rounds are logarithmic.

    Scale notes: per round the edge set shrinks-or-holds (never grows);
    every shuffle keys on a node id (max-cardinality, no inherent skew —
    the min-id attractor node of each component is the hot key in the
    LAST rounds, by which point the edge set is already collapsed to one
    row per non-root node); lineage is cut every round with a
    localCheckpoint materialized by the convergence count."""
    n = negotiate_partitions(edges)
    # the caller's edge plan can be expensive (e.g. a verified near-dup
    # pair join) and is referenced by BOTH the oriented edge set and the
    # node universe — persist it so each downstream evaluation reads cache
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # orient (u > v), drop self-loops; distinct because the rewrite rules
    # are set-semantics (the convergence probe relies on it)
    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition(n, "u")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # endpoint universe from the RAW edges (before the self-loop filter):
    # a node appearing only in self-loops is still a singleton component
    # and must be labeled — same contract as connected_components. One
    # explode pass, materialized so the raw edges can be released.
    endpoint_nodes = edges.select(
        F.explode(F.array("src", "dst")).alias("node")
    )
    all_nodes = (
        (
            endpoint_nodes.union(nodes.select("node")) if nodes is not None
            else endpoint_nodes
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    all_nodes.count()
    prev_cnt = e.count()
    edges.unpersist()
    edge_counts: list[float] = []
    converged = False
    i = 0
    for i in range(1, max_iterations + 1):
        # large-star: group the SYMMETRIZED neighborhood by center
        sym = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        # small-star: centers see only their ≤ neighbors (u > v holds)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        cnt = small.count()  # materializes the checkpoint
        edge_counts.append(float(cnt))
        if cnt == prev_cnt and small.exceptAll(e).isEmpty():
            e.unpersist()
            e = small
            converged = True
            break
        e.unpersist()
        e = small
        prev_cnt = cnt
    # fixpoint edge set is a star forest: u (non-root) → v (component min).
    # The min-agg guards the not-converged exit (max_iterations hit before
    # the fixpoint): a node may then still carry several parent edges, and
    # the readout must stay one row per node.
    parents = (
        e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        .groupBy("node")
        .agg(F.min("comp").alias("comp"))
    )
    labels = all_nodes.join(parents, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )
    return IterationResult(
        state=labels,
        iterations=i,
        converged=converged,
        distances=edge_counts,
    )


# ---------------------------------------------------------------------------
# Power iteration (generator type ``power``, utils/genGraphReduce.java:52-64)


def power_iteration(
    matrix: DataFrame, x0: DataFrame, iterations: int
) -> tuple[DataFrame, list[float]]:
    """Dominant-eigenvector power method: x ← A·x / ‖A·x‖∞. The reference's
    graph generator emits a ``power`` workload type (genGraphReduce.java:52-64)
    consumed by the same blocked-SpMV machinery (MatrixVector.java:152-313);
    normalization is the ONE2ALL global scalar (one tiny collect per
    iteration, like GlobalUniqValueWritable at JobTracker.java:5604-5655).

    ``matrix``: coordinate form (r, c, v). ``x0``: (i, x). Returns the
    normalized state and the per-iteration ∞-norms (eigenvalue estimates)."""
    matrix = matrix.persist(StorageLevel.MEMORY_AND_DISK)
    n = negotiate_partitions(matrix)
    static = matrix.repartition(n, "c").persist(StorageLevel.MEMORY_AND_DISK)
    x = x0.persist(StorageLevel.MEMORY_AND_DISK)
    x.count()
    norms: list[float] = []
    for _ in range(iterations):
        y = (
            static.join(x, static.c == x.i)
            .select("r", (F.col("v") * F.col("x")).alias("px"))
            .groupBy("r")
            .agg(F.sum("px").alias("x"))
            .select(F.col("r").alias("i"), "x")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # global ∞-norm: the only driver round-trip, a single scalar
        m = float(y.agg(F.max(F.abs(F.col("x")))).collect()[0][0])
        norms.append(m)
        # eager localCheckpoint both materializes and truncates lineage —
        # the plan would otherwise grow one join+agg layer per iteration
        new_x = y.select("i", (F.col("x") / F.lit(m)).alias("x")).localCheckpoint(
            eager=True
        )
        y.unpersist()
        x.unpersist()
        x = new_x
    static.unpersist()
    matrix.unpersist()
    return x, norms


def _power_sql(n_iter: int) -> str:
    parts = [
        f"WITH m AS ({_SPMV_MATRIX_SQL}),",
        "x0 AS (SELECT DISTINCT c AS i, CAST(1.0 AS DOUBLE) AS x FROM m)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", y{i} AS (
  SELECT m.r AS i, SUM(m.v * s.x) AS x
  FROM m JOIN x{i-1} s ON m.c = s.i GROUP BY m.r
), n{i} AS (SELECT MAX(ABS(x)) AS mx FROM y{i}),
x{i} AS (SELECT i, x / mx AS x FROM y{i}, n{i})"""
        )
    parts.append(f"SELECT i, ROUND(x, 6) AS x FROM x{n_iter}")
    return "\n".join(parts)


@register(
    "power_bounded3",
    oracle=_power_sql(3),
    doc="three ∞-normalized power-method steps on the coordinate matrix "
    "(generator type `power`, genGraphReduce.java:52-64; SpMV join+agg per "
    "step, global max collected as the ONE2ALL scalar).",
)
def power_bounded3(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _spmv_matrix(spark, sf_dir)
    x0 = m.select(F.col("c").alias("i")).distinct().select(
        "i", F.lit(1.0).alias("x")
    )
    x, _norms = power_iteration(m, x0, iterations=3)
    return x.select("i", F.round("x", 6).alias("x"))


# ---------------------------------------------------------------------------
# NMF (generator type ``nmf``, utils/genGraphReduce.java:52-64)


def nmf(
    ratings: DataFrame,
    rank: int = 2,
    *,
    iterations: int = 5,
    init_w: DataFrame | None = None,
    init_h: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Non-negative matrix factorization V ≈ W·H by Lee-Seung multiplicative
    updates — the reference's ``nmf`` generator workload
    (genGraphReduce.java:52-64) run on its iterative contract.

    Spark-first shape (r5 plan pass, bench/PLANS.md): factors are held
    RANK-WIDE — W:(r, w0..w{k-1}), H:(c, h0..h{k-1}) — because rank is a
    plan-time constant, which collapses each update to exactly ONE shuffle:

    - WᵀV: V ⋈ W on r (V's cached r-partitioned copy ⋈ the r-keyed factor —
      no exchange on V) → groupBy(c) with k partial-aggregated sum columns.
      The old long format shuffled this as (f, c) keys, k× the rows.
    - WᵀW: a SINGLE-ROW aggregate (k² sum columns) over the factor,
      broadcast into the elementwise update — the old shape was a factor
      self-join + two more (f,c)-keyed shuffles (wtwh + double join).
    - H ∘ num/den: numerators arrive partitioned by c, H is already
      partitioned by c from its own previous update — exchange reuse, and
      den_f = Σ_j G_fj·h_j folds into a scalar expression per row.
    - V ⋈ H on c uses a SECOND cached copy of V partitioned by c: the old
      plan re-exchanged all of V every iteration to meet H's key. Paying
      the exchange once and caching both layouts is the loop-invariant
      hoisting the reference's co-location scheduler existed for (I10).

    Per iteration: 2 shuffles (the two groupBys) + 2 one-row broadcasts,
    down from ~8 exchanges. 100 TB note: nothing here assumes small
    factors — W/H stay distributed, only the k×k Grams are broadcast; the
    dual V cache doubles storage, the standard trade for iterating both
    orientations (spill-safe: MEMORY_AND_DISK).

    ``ratings``: coordinate (r, c, v), v ≥ 0. Deterministic positive init so
    a fixed-iteration run is reproducible cross-engine. Returns (W, H) in
    the long formats (r, f, w) / (f, c, h).

    Each update references the previous factor, so factors are
    ``localCheckpoint(eager=True)`` every iteration (SURVEY §7 hard-part 1 —
    persist alone caches data but not the analyzed plan)."""
    import operator
    from functools import reduce

    # persist/unpersist are not refcounted, so only manage the cache marker
    # if the CALLER hasn't already persisted ratings — unpersisting a
    # caller-persisted input would silently drop THEIR cache (the
    # incr_nmf_delta2 bug class: its source matrix got recomputed per use)
    own_persist = ratings.storageLevel.useMemory is False and (
        ratings.storageLevel.useDisk is False
    )
    if own_persist:
        ratings = ratings.persist(StorageLevel.MEMORY_AND_DISK)
    n = negotiate_partitions(ratings)
    # lazy persists: the init-factor / first-iteration jobs materialize each
    # layout on first use — no dedicated warm-up pass per copy.
    v_r = ratings.repartition(n, "r").persist(StorageLevel.MEMORY_AND_DISK)
    v_c = v_r.repartition(n, "c").persist(StorageLevel.MEMORY_AND_DISK)
    ks = list(range(rank))
    # ``init_w`` (r, f, w) / ``init_h`` (f, c, h) warm-start the loop — the
    # incremental iterative mode (SURVEY §3.3): after a ratings delta,
    # re-running a couple of rounds from the preserved factors replaces a
    # cold re-factorization. Keys NEW in this matrix (rows/cols the delta
    # introduced) fall back to the deterministic cold-init formula.
    w_cold = {
        f: (1.0 + ((F.col("r") * 7 + F.lit(f) * 3) % 5) * 0.1) for f in ks
    }
    w = v_r.select("r").distinct()
    if init_w is not None:
        wide = init_w.groupBy("r").pivot("f", ks).agg(F.first("w"))
        wide = wide.select(
            "r", *[F.col(str(f)).alias(f"_iw{f}") for f in ks]
        )
        w = w.join(wide, "r", "left").select(
            "r",
            *[F.coalesce(F.col(f"_iw{f}"), w_cold[f]).alias(f"w{f}") for f in ks],
        )
    else:
        w = w.select("r", *[w_cold[f].alias(f"w{f}") for f in ks])
    w = w.repartition(n, "r").localCheckpoint(eager=True)
    h_cold = {
        f: (1.0 + ((F.col("c") * 11 + F.lit(f) * 5) % 7) * 0.1) for f in ks
    }
    h = v_c.select("c").distinct()
    if init_h is not None:
        wide = init_h.groupBy("c").pivot("f", ks).agg(F.first("h"))
        wide = wide.select(
            "c", *[F.col(str(f)).alias(f"_ih{f}") for f in ks]
        )
        h = h.join(wide, "c", "left").select(
            "c",
            *[F.coalesce(F.col(f"_ih{f}"), h_cold[f]).alias(f"h{f}") for f in ks],
        )
    else:
        h = h.select("c", *[h_cold[f].alias(f"h{f}") for f in ks])
    h = h.repartition(n, "c").localCheckpoint(eager=True)

    def _gram(fac: DataFrame, p: str):
        return fac.agg(
            *[
                F.sum(F.col(f"{p}{a}") * F.col(f"{p}{b}")).alias(f"g{a}_{b}")
                for a in ks
                for b in ks
            ]
        )

    def _den(p: str):
        # den_f = Σ_j G_fj · fac_j as one scalar expression per output col
        return {
            f: reduce(
                operator.add,
                [F.col(f"g{f}_{j}") * F.col(f"{p}{j}") for j in ks],
            )
            for f in ks
        }

    for _it in range(1, iterations + 1):
        # H ← H ∘ (WᵀV) / (WᵀW·H)
        num_h = (
            v_r.join(w, "r")
            .groupBy("c")
            .agg(
                *[
                    F.sum(F.col(f"w{f}") * F.col("v")).alias(f"num{f}")
                    for f in ks
                ]
            )
        )
        den_h = _den("h")
        h_new = (
            h.join(num_h, "c")
            .crossJoin(F.broadcast(_gram(w, "w")))
            .select(
                "c",
                *[
                    (F.col(f"h{f}") * F.col(f"num{f}") / den_h[f]).alias(
                        f"h{f}"
                    )
                    for f in ks
                ],
            )
        ).localCheckpoint(eager=True)
        h.unpersist()
        h = h_new
        # W ← W ∘ (V·Hᵀ) / (W·H·Hᵀ)
        num_w = (
            v_c.join(h, "c")
            .groupBy("r")
            .agg(
                *[
                    F.sum(F.col("v") * F.col(f"h{f}")).alias(f"num{f}")
                    for f in ks
                ]
            )
        )
        den_w = _den("w")
        w_new = (
            w.join(num_w, "r")
            .crossJoin(F.broadcast(_gram(h, "h")))
            .select(
                "r",
                *[
                    (F.col(f"w{f}") * F.col(f"num{f}") / den_w[f]).alias(
                        f"w{f}"
                    )
                    for f in ks
                ],
            )
        ).localCheckpoint(eager=True)
        w.unpersist()
        w = w_new
    if own_persist:
        ratings.unpersist()
    v_r.unpersist()
    v_c.unpersist()
    w_long = w.select(
        "r",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("f"), F.col(f"w{f}").alias("w")
                    )
                    for f in ks
                ]
            )
        ).alias("s"),
    ).select("r", "s.f", "s.w")
    h_long = h.select(
        "c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f).alias("f"), F.col(f"h{f}").alias("h")
                    )
                    for f in ks
                ]
            )
        ).alias("s"),
    ).select("s.f", "c", "s.h")
    return w_long, h_long


def nmf_loss(ratings: DataFrame, w: DataFrame, h: DataFrame) -> float:
    """Frobenius loss Σ (v − Σ_f w·h)² over observed cells — the naive-twin
    convergence check (loss must decrease across iterations)."""
    wh = (
        w.join(h, "f")
        .groupBy("r", "c")
        .agg(F.sum(F.col("w") * F.col("h")).alias("pred"))
    )
    row = (
        ratings.join(wh, ["r", "c"], "left")
        .select(
            F.pow(
                F.col("v") - F.coalesce(F.col("pred"), F.lit(0.0)), F.lit(2.0)
            ).alias("e")
        )
        .agg(F.sum("e").alias("s"))
        .collect()[0]
    )
    return float(row["s"] or 0.0)


def _nmf_sql(n_iter: int, rank: int = 2) -> str:
    """DuckDB CTE chain reproducing nmf() exactly at a fixed iteration count."""
    parts = [
        f"WITH v AS ({_SPMV_MATRIX_SQL}),",
        f"fs AS (SELECT unnest(range({rank})) AS f),",
        """w0 AS (
  SELECT r, f, 1.0 + ((r * 7 + f * 3) % 5) * 0.1 AS w
  FROM (SELECT DISTINCT r FROM v) CROSS JOIN fs
),
h0 AS (
  SELECT f, c, 1.0 + ((c * 11 + f * 5) % 7) * 0.1 AS h
  FROM (SELECT DISTINCT c FROM v) CROSS JOIN fs
)""",
    ]
    for i in range(1, n_iter + 1):
        p, q = i - 1, i
        parts.append(
            f""", wtv{q} AS (
  SELECT w.f, v.c, SUM(w.w * v.v) AS num
  FROM v JOIN w{p} w ON v.r = w.r GROUP BY w.f, v.c
), wtw{q} AS (
  SELECT a.f AS f1, b.f AS f2, SUM(a.w * b.w) AS g
  FROM w{p} a JOIN w{p} b ON a.r = b.r GROUP BY a.f, b.f
), wtwh{q} AS (
  SELECT g.f1 AS f, h.c, SUM(g.g * h.h) AS den
  FROM h{p} h JOIN wtw{q} g ON h.f = g.f2 GROUP BY g.f1, h.c
), h{q} AS (
  SELECT h.f, h.c, h.h * n.num / d.den AS h
  FROM h{p} h JOIN wtv{q} n ON h.f = n.f AND h.c = n.c
  JOIN wtwh{q} d ON h.f = d.f AND h.c = d.c
), vht{q} AS (
  SELECT v.r, h.f, SUM(v.v * h.h) AS num
  FROM v JOIN h{q} h ON v.c = h.c GROUP BY v.r, h.f
), hht{q} AS (
  SELECT a.f AS f1, b.f AS f2, SUM(a.h * b.h) AS g
  FROM h{q} a JOIN h{q} b ON a.c = b.c GROUP BY a.f, b.f
), whht{q} AS (
  SELECT w.r, g.f2 AS f, SUM(w.w * g.g) AS den
  FROM w{p} w JOIN hht{q} g ON w.f = g.f1 GROUP BY w.r, g.f2
), w{q} AS (
  SELECT w.r, w.f, w.w * n.num / d.den AS w
  FROM w{p} w JOIN vht{q} n ON w.r = n.r AND w.f = n.f
  JOIN whht{q} d ON w.r = d.r AND w.f = d.f
)"""
        )
    parts.append(
        f"SELECT r, CAST(f AS INT) AS f, ROUND(w, 6) AS w FROM w{n_iter}"
    )
    return "\n".join(parts)


def _nmf_rounds_sql(v_cte: str, w_start: str, h_start: str, rounds: int, pre: str) -> str:
    """CTE fragment: ``rounds`` Lee-Seung updates over matrix CTE ``v_cte``
    from factor CTEs ``w_start``/``h_start`` (long (r,f,w)/(f,c,h) shapes).
    Emits MATERIALIZED CTEs ``{pre}w{rounds}`` / ``{pre}h{rounds}`` —
    without the hint the 4-reference-per-round chain inlines
    exponentially once base + warm chains stack."""
    parts = []
    wp, hp = w_start, h_start
    for i in range(1, rounds + 1):
        parts.append(
            f""", {pre}wtv{i} AS MATERIALIZED (
  SELECT w.f, v.c, SUM(w.w * v.v) AS num
  FROM {v_cte} v JOIN {wp} w ON v.r = w.r GROUP BY w.f, v.c
), {pre}wtw{i} AS MATERIALIZED (
  SELECT a.f AS f1, b.f AS f2, SUM(a.w * b.w) AS g
  FROM {wp} a JOIN {wp} b ON a.r = b.r GROUP BY a.f, b.f
), {pre}wtwh{i} AS MATERIALIZED (
  SELECT g.f1 AS f, h.c, SUM(g.g * h.h) AS den
  FROM {hp} h JOIN {pre}wtw{i} g ON h.f = g.f2 GROUP BY g.f1, h.c
), {pre}h{i} AS MATERIALIZED (
  SELECT h.f, h.c, h.h * n.num / d.den AS h
  FROM {hp} h JOIN {pre}wtv{i} n ON h.f = n.f AND h.c = n.c
  JOIN {pre}wtwh{i} d ON h.f = d.f AND h.c = d.c
), {pre}vht{i} AS MATERIALIZED (
  SELECT v.r, h.f, SUM(v.v * h.h) AS num
  FROM {v_cte} v JOIN {pre}h{i} h ON v.c = h.c GROUP BY v.r, h.f
), {pre}hht{i} AS MATERIALIZED (
  SELECT a.f AS f1, b.f AS f2, SUM(a.h * b.h) AS g
  FROM {pre}h{i} a JOIN {pre}h{i} b ON a.c = b.c GROUP BY a.f, b.f
), {pre}whht{i} AS MATERIALIZED (
  SELECT w.r, g.f2 AS f, SUM(w.w * g.g) AS den
  FROM {wp} w JOIN {pre}hht{i} g ON w.f = g.f1 GROUP BY w.r, g.f2
), {pre}w{i} AS MATERIALIZED (
  SELECT w.r, w.f, w.w * n.num / d.den AS w
  FROM {wp} w JOIN {pre}vht{i} n ON w.r = n.r AND w.f = n.f
  JOIN {pre}whht{i} d ON w.r = d.r AND w.f = d.f
)"""
        )
        wp, hp = f"{pre}w{i}", f"{pre}h{i}"
    return "".join(parts)


def _nmf_incr_sql(base_rounds: int = 2, incr_rounds: int = 2, rank: int = 2) -> str:
    """Incremental-NMF oracle: base factorization on the full matrix, a
    cell-level (+/−) delta (the incr_spmv_delta1 shape), then warm-started
    rounds on the delta-applied matrix from the preserved factors —
    new rows/cols falling back to the cold-init formula."""
    return (
        f"WITH m AS ({_SPMV_MATRIX_SQL}),\n"
        f"fs AS (SELECT unnest(range({rank})) AS f),\n"
        """bw0 AS (
  SELECT r, f, 1.0 + ((r * 7 + f * 3) % 5) * 0.1 AS w
  FROM (SELECT DISTINCT r FROM m) CROSS JOIN fs
),
bh0 AS (
  SELECT f, c, 1.0 + ((c * 11 + f * 5) % 7) * 0.1 AS h
  FROM (SELECT DISTINCT c FROM m) CROSS JOIN fs
)"""
        + _nmf_rounds_sql("m", "bw0", "bh0", base_rounds, "b")
        + f""", p AS (
  SELECT (r * 7 + 3) % 500 AS r, (c * 3 + 1) % 500 AS c,
         CAST(1.5 AS DOUBLE) AS v
  FROM m WHERE (r + c) % 13 = 0
),
m2 AS MATERIALIZED (
  SELECT r, c, v FROM m WHERE (r + c) % 11 <> 0
  UNION ALL SELECT r, c, v FROM p
),
uw0 AS (
  SELECT rv.r, fs.f,
         COALESCE(b.w, 1.0 + ((rv.r * 7 + fs.f * 3) % 5) * 0.1) AS w
  FROM (SELECT DISTINCT r FROM m2) rv CROSS JOIN fs
  LEFT JOIN bw{base_rounds} b ON b.r = rv.r AND b.f = fs.f
),
uh0 AS (
  SELECT fs.f, cv.c,
         COALESCE(b.h, 1.0 + ((cv.c * 11 + fs.f * 5) % 7) * 0.1) AS h
  FROM (SELECT DISTINCT c FROM m2) cv CROSS JOIN fs
  LEFT JOIN bh{base_rounds} b ON b.c = cv.c AND b.f = fs.f
)"""
        + _nmf_rounds_sql("m2", "uw0", "uh0", incr_rounds, "u")
        + f"\nSELECT r, CAST(f AS INT) AS f, ROUND(w, 6) AS w FROM uw{incr_rounds}"
    )


@register(
    "incr_nmf_delta2",
    oracle=_nmf_incr_sql(2, 2),
    doc="incremental NMF (SURVEY §3.3 warm-start semantics applied to the "
    "nmf generator workload): 2 Lee-Seung rounds factorize the base "
    "matrix and the factors are PRESERVED; a cell-level (+/-) delta "
    "lands (retract (r+c)%11 cells, insert transformed 1.5-valued cells "
    "— the incr_spmv_delta1 shape); 2 warm-started rounds re-factorize "
    "the updated matrix from the preserved factors, rows/cols introduced "
    "by the delta cold-initializing from the deterministic formula. "
    "Re-convergence from preserved state replaces the cold "
    "re-factorization — the engine's core thesis on its matrix workload. "
    "Output = final W (r, f, w).",
)
def incr_nmf_delta2(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = _spmv_matrix(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    warm_w, warm_h = nmf(m, rank=2, iterations=2)
    warm_w = warm_w.localCheckpoint(eager=True)
    warm_h = warm_h.localCheckpoint(eager=True)
    removals = m.where((F.col("r") + F.col("c")) % 11 == 0).withColumn(
        "op", F.lit("-")
    )
    additions = (
        m.where((F.col("r") + F.col("c")) % 13 == 0)
        .select(
            ((F.col("r") * 7 + 3) % 500).alias("r"),
            ((F.col("c") * 3 + 1) % 500).alias("c"),
            F.lit(1.5).alias("v"),
        )
        .withColumn("op", F.lit("+"))
    )
    delta = removals.unionByName(additions)
    minus = delta.where(F.col("op") == "-").select("r", "c")
    plus = delta.where(F.col("op") == "+").drop("op")
    updated = m.join(minus, ["r", "c"], "left_anti").unionByName(plus)
    w, _h = nmf(updated, rank=2, iterations=2, init_w=warm_w, init_h=warm_h)
    m.unpersist()
    return w.select("r", F.col("f").cast("int").alias("f"),
                    F.round("w", 6).alias("w"))


@register(
    "nmf_bounded2",
    oracle=_nmf_sql(2),
    doc="rank-2 NMF, two Lee-Seung multiplicative update rounds on the "
    "coordinate matrix (generator type `nmf`, genGraphReduce.java:52-64); "
    "Gram matrices broadcast, V⋈W / V⋈H are the per-iteration shuffles.",
)
def nmf_bounded2(spark: SparkSession, sf_dir: str) -> DataFrame:
    w, _h = nmf(_spmv_matrix(spark, sf_dir), rank=2, iterations=2)
    return w.select("r", F.col("f").cast("int").alias("f"),
                    F.round("w", 6).alias("w"))


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH raw AS ({_PR_EDGES_SQL}),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM raw WHERE src <> dst
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    doc="triangle counting on the part→supplier graph: canonicalize to "
    "a<b undirected edges, then the oriented two-hop join e1(a,b)⋈e2(b,c) "
    "closed by e3(a,c) — each triangle counted exactly once. The "
    "canonical-orientation trick keeps the two-hop join bounded by "
    "out-degree in the ordering (the standard scale formulation; a naive "
    "undirected 3-way join counts each triangle 6x and explodes on hubs).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _lineitem_edges(spark, sf_dir)
    und = (
        e.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y2"), F.col("b").alias("z"))
    wedges = e1.join(e2, e1.y == e2.y2).select("x", "y", "z")
    closed = wedges.join(
        und, (wedges.x == und.a) & (wedges.z == und.b), "left_semi"
    )
    out = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    return out


@register(
    "loop_iteration_counters",
    oracle=f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    n AS (SELECT COUNT(*) AS records FROM nodes)
    SELECT CAST(t.it AS INT) AS iteration, CAST(n.records AS BIGINT) AS records
    FROM (VALUES (1), (2), (3)) t(it), n
    """,
    doc="A9 counters / I11 per-iteration stats, driver-checkable: three "
    "bounded PageRank iterations with observe_counts=True report each "
    "iteration's record count through df.observe (the reference's "
    "IterationInfo stats reported to the master, "
    "JobTracker.java:5516-5583; Counters.java) — piggybacked on the "
    "iterations' existing actions, zero extra jobs. PageRank's state "
    "invariantly holds every node, so the oracle is |V| per iteration; a "
    "dropped or duplicated state row anywhere in the loop breaks the hash.",
)
def loop_iteration_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = pagerank(
        _lineitem_edges(spark, sf_dir), max_iterations=3, observe_counts=True
    )
    rows = [(k + 1, int(c)) for k, c in enumerate(res.record_counts)]
    return spark.createDataFrame(rows, "iteration int, records bigint")


@register(
    "iteration_snapshot_roundtrip",
    oracle=_spmv_sql(2),
    doc="S9 per-iteration snapshot dirs, driver-checkable end-to-end "
    "(iteration-<i>/part-N layout, ReduceTask.java:3063-3067, as "
    "partitioned parquet .../iteration=<i>): two SpMV iterations each "
    "write a snapshot via write_iteration_snapshot; the result is read "
    "back from the snapshot ROOT with a partition filter iteration=2 — "
    "partition pruning must select exactly the final snapshot (any "
    "cross-iteration leakage or layout drift breaks the hash against the "
    "2-round chain oracle).",
)
def iteration_snapshot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..sources.readers import write_iteration_snapshot
    from .incremental import _cleanup_at_exit

    m = _spmv_matrix(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    x = m.select(F.col("c").alias("i")).distinct().select(
        "i", F.lit(1.0).alias("x")
    )
    base = tempfile.mkdtemp(prefix="iter_snapshots_")
    _cleanup_at_exit(base, "")
    static = m.repartition(8, "c").persist(StorageLevel.MEMORY_AND_DISK)
    for it in range(1, 3):
        x = (
            static.join(x, static.c == x.i)
            .select("r", (F.col("v") * F.col("x")).alias("px"))
            .groupBy("r")
            .agg(F.sum("px").alias("x"))
            .select(F.col("r").alias("i"), "x")
            .localCheckpoint(eager=True)
        )
        write_iteration_snapshot(x, base, it)
    m.unpersist()
    static.unpersist()
    back = spark.read.parquet(base).where(F.col("iteration") == 2)
    return back.select("i", F.round("x", 6).alias("x"))


_KCORE_EDGES_SQL = """
  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
  FROM lineitem WHERE (l_partkey + 3 * l_suppkey) % 4 = 0
"""


@register(
    "graph_kcore_bounded3",
    oracle=f"""
    WITH base AS ({_KCORE_EDGES_SQL}),
    und AS (SELECT p AS a, s AS b FROM base UNION ALL SELECT s, p FROM base),
    d0 AS (SELECT a, count(*) AS d FROM und GROUP BY 1),
    v1 AS (SELECT a FROM d0 WHERE d >= 3),
    e1 AS (SELECT u.a, u.b FROM und u JOIN v1 x ON u.a = x.a
           JOIN v1 y ON u.b = y.a),
    d1 AS (SELECT a, count(*) AS d FROM e1 GROUP BY 1),
    v2 AS (SELECT a FROM d1 WHERE d >= 3),
    e2 AS (SELECT u.a, u.b FROM e1 u JOIN v2 x ON u.a = x.a
           JOIN v2 y ON u.b = y.a),
    d2 AS (SELECT a, count(*) AS d FROM e2 GROUP BY 1),
    v3 AS (SELECT a FROM d2 WHERE d >= 3),
    e3 AS (SELECT u.a, u.b FROM e2 u JOIN v3 x ON u.a = x.a
           JOIN v3 y ON u.b = y.a)
    SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
    FROM e3 GROUP BY 1
    """,
    doc="bounded k-core decomposition (k=3, 3 peel rounds) on the thinned "
    "part/supplier bipartite graph (parts = 2i, suppliers = 2j+1; the hash "
    "gate keeps degrees in peeling range at every sf). Each round: degree "
    "count, drop nodes below k, keep only edges between survivors — the "
    "standard iterative peel; at sf0.001 the fixture genuinely peels for "
    "all three rounds before converging. Per round one agg shuffle + two "
    "semi-joins; edges localCheckpoint each round so the bounded loop's "
    "lineage stays flat (same discipline as the other loops). Oracle = the "
    "3-round CTE chain unrolled.",
)
def graph_kcore_bounded3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        li.where((F.col("l_partkey") + 3 * F.col("l_suppkey")) % 4 == 0)
        .select(
            (F.col("l_partkey") * 2).alias("p"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    und = base.select(F.col("p").alias("a"), F.col("s").alias("b")).unionByName(
        base.select(F.col("s").alias("a"), F.col("p").alias("b"))
    )
    und = und.repartition(32, "a").localCheckpoint(eager=True)
    for _ in range(3):
        surv = (
            und.groupBy("a")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= 3)
            .select("a")
        )
        und = (
            und.join(surv, "a", "left_semi")
            .join(surv.withColumnRenamed("a", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    return und.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("a").alias("node"), F.col("deg").cast("bigint").alias("deg")
    )


# ---------------------------------------------------------------------------
# Label propagation (round 12) — synchronous LPA through the iterate()
# driver: one more workload shape the reference's iterative contract
# (IterativeMapper/Reducer + Projector ONE2ONE, IterativeMapper.java:7-16)
# expresses directly, beyond the shipped sp/pg/km/nmf/power generators.


def label_propagation(
    edges: DataFrame, *, max_iterations: int = 3
) -> IterationResult:
    """Synchronous label propagation on an UNDIRECTED graph: label₀(v)=v;
    each round every node adopts the most frequent label among its
    neighbors (ties → smallest label; isolated nodes keep their own).
    All-integer state, so bounded runs are exactly oracle-checkable by
    CTE unrolling. Community structure emerges in a few rounds; min-label
    CC (dedup.py's star-CC twin) is the degenerate always-adopt-minimum
    variant.

    Plan per round: one (dst, label) count shuffle + one dst argmax
    shuffle + the state left-join — argmax via max(struct(cnt, -label)),
    never a per-node window sort."""
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # r13 (guide §2.4): pin the loop-invariant symmetrized edge list to a
    # src-hash partitioning ONCE — without it every round's sym⋈state join
    # re-exchanged all |2E| edge rows (measured: the edge re-shuffle was
    # most of lpa_converged's 144 MB of shuffle writes at sf0.1); with it
    # only the small per-round state/label relations move.
    n = negotiate_partitions(edges)
    # r13: symmetrize in ONE exchange — repartition by src first, then
    # dedup within the src-hash partitions (hash(src) co-locates equal
    # (src, dst) rows, so dropDuplicates adds no second exchange); the
    # former union+distinct+repartition paid two |2E| shuffles. The node
    # set dedups within the same partitioning for free.
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(n, "src")
        .dropDuplicates(["src", "dst"])
    )
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = sym.dropDuplicates(["src"]).select(F.col("src").alias("node"))
    state0 = nodes.select("node", F.col("node").alias("label"))

    def step(state: DataFrame, i: int) -> DataFrame:
        # r13 §8 (guide §2.3/§2.4): ONE aggregation exchange per round.
        # The natural groupBy(dst,label)→groupBy(dst) pair pays two
        # exchanges (hash(dst,label) does not satisfy the dst argmax's
        # clustering). Repartitioning the joined neighbor-labels on dst
        # FIRST lets both aggregates complete within that one exchange —
        # HashPartitioning(dst) satisfies ClusteredDistribution(dst,label)
        # — and in round 1 the (dst,label) pairs are all-distinct anyway,
        # so the map-side combine the explicit repartition forgoes had
        # nothing to combine. Integer count/argmax is order-independent:
        # results are bit-identical (oracle re-proved).
        # Combine-loss tradeoff (ADVICE r13): from round 2 on labels
        # converge, so this shape shuffles raw |2E| neighbor-label rows
        # where a groupBy-first plan would combine them map-side to
        # (dst,label) pairs before its two exchanges. Measured at sf0.1
        # across ALL rounds of the converged runs it is still a net win
        # (128.27→109.63 MB total shuffle, 3 exchanges→1) — but the
        # balance is scale/convergence-dependent: re-check shuffle bytes
        # (lpa_converged_shuffle_mb in the bench line) if the converged
        # workload moves to a larger SF or more max_iterations.
        nbr = (
            sym.join(state, sym.src == state.node)
            .select("dst", "label")
            .repartition(n, "dst")
        )
        counts = nbr.groupBy("dst", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        winners = (
            counts.groupBy("dst")
            .agg(F.max(F.struct("cnt", (-F.col("label")).alias("nl"))).alias("w"))
            .select("dst", (-F.col("w.nl")).alias("win"))
        )
        return state.join(
            winners, state.node == winners.dst, "left"
        ).select("node", F.coalesce("win", "label").alias("label"))

    res = iterate(state0, step, max_iterations=max_iterations)
    sym.unpersist()
    edges.unpersist()
    return res


def _lpa_sql(n_iter: int, edges_sql: str = _PR_EDGES_SQL) -> str:
    """Exact unrolled oracle: same symmetrized graph, same
    count-DESC/label-ASC winner rule via ROW_NUMBER over the grouped
    neighbor-label counts."""
    parts = [
        f"WITH base AS ({edges_sql}),",
        "edges AS MATERIALIZED "
        "(SELECT src, dst FROM base UNION SELECT dst, src FROM base),",
        "nodes AS (SELECT DISTINCT src AS node FROM edges),",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""", l{i} AS MATERIALIZED (
  SELECT s.node, COALESCE(w.win, s.label) AS label
  FROM l{i-1} s LEFT JOIN (
    SELECT dst, label AS win FROM (
      SELECT e.dst, r.label,
             ROW_NUMBER() OVER (PARTITION BY e.dst
               ORDER BY COUNT(*) DESC, r.label ASC) AS rn
      FROM l{i-1} r JOIN edges e ON r.node = e.src
      GROUP BY e.dst, r.label
    ) WHERE rn = 1
  ) w ON s.node = w.dst
)"""
        )
    parts.append(
        f"SELECT node, CAST(label AS BIGINT) AS label FROM l{n_iter}"
    )
    return "\n".join(parts)


@register(
    "lpa_bounded3",
    oracle=_lpa_sql(3),
    doc="synchronous label propagation, 3 bounded rounds on the "
    "symmetrized part→supplier graph (round 12 — one more workload the "
    "reference's ONE2ONE iterative contract expresses directly, beyond "
    "the shipped generator types): every node adopts its neighbors' most "
    "frequent label, ties to the smallest, isolated nodes keep their own. "
    "All-integer state → the unrolled-CTE oracle is hash-exact. Argmax "
    "is max(struct(cnt, -label)) — two hash-agg shuffles per round, "
    "never a per-node window sort; the oracle uses the ROW_NUMBER "
    "formulation as the independent cross-check.",
)
def lpa_bounded3(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = label_propagation(
        _lineitem_edges(spark, sf_dir), max_iterations=3
    )
    return res.state.select(
        "node", F.col("label").cast("bigint").alias("label")
    )


def label_propagation_converged(
    edges: DataFrame, *, max_iterations: int = 30
) -> IterationResult:
    """CONVERGENCE-guarded synchronous LPA (round 13 — VERDICT r12 ask #3):
    same per-round rule as :func:`label_propagation`, terminating via the
    reference's I4 contract (converge OR max-iter, JobConf.java:494-500) —
    but "no change" alone is NOT a sound stop rule for synchronous LPA:
    on bipartite structure it 2-cycles forever (a matched pair swaps
    labels every round). Convergence here is OSCILLATION-AWARE: stop at
    the first round whose state equals the state one round back (a true
    fixpoint) OR two rounds back (a period-2 limit cycle; the returned
    state is the cycle phase at the detected round — deterministic).

    Mechanics: the state carries (node, label, p1, p2) where p1/p2 are
    the labels one/two rounds back, shifted by the step itself — so the
    stop metric min(#label≠p1, #label≠p2) is a plain aggregate over the
    NEW state and rides the iteration's own materializing action via
    ``df.observe`` (one Spark job per round, no prev⋈curr distance join).
    NULL p2 in round 1 counts as changed, disabling the period-2 test
    until two states exist."""
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    # r13: loop-invariant edges pinned to one src-hash partitioning, as in
    # label_propagation above (guide §2.4 — the per-round edge re-shuffle
    # dominated this query's shuffle bytes)
    n = negotiate_partitions(edges)
    # r13: symmetrize in ONE exchange — repartition by src first, then
    # dedup within the src-hash partitions (hash(src) co-locates equal
    # (src, dst) rows, so dropDuplicates adds no second exchange); the
    # former union+distinct+repartition paid two |2E| shuffles. The node
    # set dedups within the same partitioning for free.
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(n, "src")
        .dropDuplicates(["src", "dst"])
    )
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = sym.dropDuplicates(["src"]).select(F.col("src").alias("node"))
    state0 = nodes.select(
        "node",
        F.col("node").alias("label"),
        F.lit(None).cast("bigint").alias("p1"),
        F.lit(None).cast("bigint").alias("p2"),
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        # r13 §8: one aggregation exchange per round — see the bounded
        # twin above for the full rationale (repartition on dst, then both
        # the (dst,label) count and the dst argmax complete within that
        # single exchange) and for the ADVICE r13 combine-loss tradeoff
        # note (rounds >= 2 shuffle raw |2E| label rows; measured net win
        # at sf0.1 over whole converged runs — re-check via the bench's
        # lpa_converged_shuffle_mb if SF or max_iterations grow);
        # projecting to (dst,label) first keeps the carried p1/p2 history
        # columns out of the exchange (guide §2.2).
        # r14 interleaved A/B (VERDICT ask #3) CONFIRMED this shape: on an
        # identical setup, the combine-first alternative (groupBy(dst,
        # label) before the repartition) shuffled MORE over the full
        # converged run — +31.5 MB / +21 stages / wall 15.5 vs 13.0 s
        # median — because a dst's neighbors scatter across map
        # partitions, so (dst,label) pairs stay mostly distinct map-side
        # even once labels converge; and session-width n=32 lost to the
        # negotiated n (+3.6 MB / wall 25.6 vs 13.0 s median). Numbers in
        # OPTIMIZATION_r14.md §3.
        nbr = (
            sym.join(state, sym.src == state.node)
            .select("dst", "label")
            .repartition(n, "dst")
        )
        counts = nbr.groupBy("dst", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        winners = (
            counts.groupBy("dst")
            .agg(F.max(F.struct("cnt", (-F.col("label")).alias("nl"))).alias("w"))
            .select("dst", (-F.col("w.nl")).alias("win"))
        )
        return state.join(
            winners, state.node == winners.dst, "left"
        ).select(
            "node",
            F.coalesce("win", "label").alias("label"),
            F.col("label").alias("p1"),
            F.col("p1").alias("p2"),
        )

    changed_vs = lambda col: F.sum(  # noqa: E731 — tiny local aggregate
        F.when(F.col("label") == F.col(col), F.lit(0)).otherwise(F.lit(1))
    )
    res = iterate(
        state0,
        step,
        max_iterations=max_iterations,
        observed_distance=F.least(
            changed_vs("p1"), changed_vs("p2")
        ).cast("double"),
        threshold=0.0,
    )
    sym.unpersist()
    edges.unpersist()
    return res


# strictly-disjoint union: the natural part→supplier graph PLUS a planted
# mirror matching (one edge per order, both endpoints offset out of every
# other id space) — a provably 2-cycling bipartite component, so the
# period-2 rule is what terminates the driver-checked query (the ps
# component alone reaches a period-1 fixpoint at round 3-5 by SF; the
# matching NEVER does).
_LPA_CONV_EDGES_SQL = (
    "SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem "
    "UNION ALL "
    "SELECT 20000000 + o_orderkey, 30000000 + o_orderkey FROM orders"
)


def _lpa_conv_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        (F.lit(20000000) + F.col("o_orderkey")).cast("bigint").alias("src"),
        (F.lit(30000000) + F.col("o_orderkey")).cast("bigint").alias("dst"),
    )
    return _lineitem_edges(spark, sf_dir).unionByName(o)


def _lpa_converged_sql(
    max_rounds: int, edges_sql: str = _LPA_CONV_EDGES_SQL
) -> str:
    """Exact oracle for the oscillation-aware stop rule: unroll
    ``max_rounds`` LPA rounds, compute each round's change-counts vs one
    round back (c1) and two rounds back (c2, from round 2), and select
    the state of the FIRST round with c1 = 0 OR c2 = 0 — the same rule
    the loop applies, so the stop round is chosen by the DATA on both
    engines. Poisons (label = −1) when the unroll never stops, like
    ``_pagerank_converged_sql``."""
    parts = [
        f"WITH base AS ({edges_sql}),",
        "edges AS MATERIALIZED "
        "(SELECT src, dst FROM base UNION SELECT dst, src FROM base),",
        "nodes AS (SELECT DISTINCT src AS node FROM edges),",
        "l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, max_rounds + 1):
        parts.append(
            f""", l{i} AS MATERIALIZED (
  SELECT s.node, COALESCE(w.win, s.label) AS label
  FROM l{i-1} s LEFT JOIN (
    SELECT dst, label AS win FROM (
      SELECT e.dst, r.label,
             ROW_NUMBER() OVER (PARTITION BY e.dst
               ORDER BY COUNT(*) DESC, r.label ASC) AS rn
      FROM l{i-1} r JOIN edges e ON r.node = e.src
      GROUP BY e.dst, r.label
    ) WHERE rn = 1
  ) w ON s.node = w.dst
)"""
        )
    chg = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, COUNT(*) FILTER (WHERE a.label <> b.label) AS c"
        f" FROM l{i} a JOIN l{i-1} b ON a.node = b.node"
        for i in range(1, max_rounds + 1)
    )
    chg2 = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, COUNT(*) FILTER (WHERE a.label <> b.label) AS c"
        f" FROM l{i} a JOIN l{i-2} b ON a.node = b.node"
        for i in range(2, max_rounds + 1)
    )
    allr = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, node, label FROM l{i}"
        for i in range(1, max_rounds + 1)
    )
    parts.append(
        f""", chg AS MATERIALIZED (
{chg}
UNION ALL
{chg2}
), stop AS (SELECT MIN(rnd) AS rnd FROM chg WHERE c = 0),
allr AS (
{allr}
)
SELECT a.node,
       CAST(CASE WHEN s.rnd IS NOT NULL THEN a.label ELSE -1 END AS BIGINT)
         AS label
FROM allr a CROSS JOIN stop s
WHERE a.rnd = COALESCE(s.rnd, {max_rounds})"""
    )
    return "\n".join(parts)


@register(
    "lpa_converged",
    oracle=_lpa_converged_sql(8),
    doc="I4 oscillation-guarded LPA termination (round 13 — VERDICT r12 "
    "ask #3): synchronous label propagation run to an OSCILLATION-AWARE "
    "stop — the first round whose state equals the state one round back "
    "(fixpoint) or two rounds back (period-2 limit cycle), max-iter "
    "fallback per the reference's converge-or-max-iter contract "
    "(JobConf.java:494-500). The graph plants a mirror-matching component "
    "(one offset edge pair per order) that provably 2-cycles, so the "
    "period-2 rule is what fires (round 4/5/6 at sf0.001/0.01/0.1 — "
    "data-chosen); plain no-change detection would spin to max-iter. The "
    "stop metric rides df.observe on the iteration's own action (one job "
    "per round). EXACT oracle: unrolled CTE chain computing every "
    "round's change-counts vs one AND two rounds back, selecting the "
    "first round either hits zero — poisoning (-1) if 8 rounds don't.",
)
def lpa_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = label_propagation_converged(
        _lpa_conv_edges(spark, sf_dir), max_iterations=30
    )
    return res.state.select(
        "node", F.col("label").cast("bigint").alias("label")
    )
