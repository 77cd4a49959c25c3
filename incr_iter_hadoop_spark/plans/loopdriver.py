"""iterate(): the loop-to-convergence driver (SURVEY §2.8 I1-I5, I9).

This replaces the reference's entire task-resident iteration machinery —
the per-task loop (incr-hadoop-0.1/src/mapred/org/apache/hadoop/mapred/
MapTask.java:575-650), the map↔reduce iteration signalling
(ReduceOutputFetcher MapTask.java:90-167, TaskUmbilicalProtocol.java:174-188),
the master-side convergence sum (JobTracker.java:5550-5597), the checkpoint
cadence (ReduceTask.java:3063-3067, JobConf.java:699-704) and the
state-locality scheduler (JoinableDataTaskScheduler.java:27-300) — with ~100
lines of driver-side control flow:

- the *static* (loop-invariant) DataFrame is repartitioned by the join key
  once and persisted by the caller; Spark's block locations give the
  locality the reference's custom scheduler chased;
- each round is a declarative DataFrame transformation of the state;
- two modes. A *converged* loop, whose distance is an aggregate over the
  new state (``observed_distance``, the ``IterativeReducer.distance``
  contract, IterativeReducer.java:24-32), runs each round as ONE Spark
  job: an eager ``localCheckpoint`` of the new state computes it, stores
  it, truncates its lineage and fills the round's ``observe()`` metrics
  (distance, and record count on request) in the same action. It is
  planned without AQE and with ``spark.sql.shuffle.partitions`` equal to
  the state's partition count, so the state keeps its hash partitioning
  from round to round: a join against a static side hash-partitioned the
  same way needs no exchange, and only the step's own aggregation
  shuffles. A *fixed-iteration* loop keeps the session's planning:
  persisted states, and a lazy ``localCheckpoint`` every
  ``checkpoint_interval`` rounds to bound the plan depth, which otherwise
  grows per round and overwhelms the optimizer — the analogue of the
  reference's snapshot interval.

Scale: per-round state never leaves the executors (only the scalar
distance does); state stays partitioned by key across rounds, so each step
shuffles only the new contributions.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import scoped_conf


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    converged: bool
    distances: list[float] = field(default_factory=list)
    # per-iteration observed metrics (A9/I11 counters analogue): row count
    # of each iteration's state, captured via df.observe at zero extra jobs
    record_counts: list[int] = field(default_factory=list)
    # wall time of each round as the caller sees it, seconds. In the
    # fixed-iteration mode a round that only extends the plan is near zero
    # and the round that materializes carries the work of the rounds before.
    round_s: list[float] = field(default_factory=list)


PARTITION_FLOOR = 8


def clamp_partitions(
    spark: SparkSession, n: int, *, floor: int = PARTITION_FLOOR
) -> int:
    """``n`` clamped to the loop partition range: at least ``floor``, at
    most the session's ``spark.sql.shuffle.partitions``."""
    default_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(floor, min(default_n, n))


def negotiate_partitions(
    df: DataFrame,
    *,
    rows_per_partition: int = 100_000,
    floor: int = PARTITION_FLOOR,
) -> int:
    """Partition-count negotiation for loop relations — the reference does
    this at submit time (JobClient.java:913-957: block-size-driven counts,
    ONE2ONE forcing #maps==#reduces). Sizing the static/state partitioning
    to the data keeps small loops from paying per-task overhead every
    iteration while preserving the session default as the ceiling for
    cluster-scale inputs. ``df`` should already be persisted — the count
    doubles as its materialization."""
    return clamp_partitions(
        df.sparkSession, df.count() // rows_per_partition + 1, floor=floor
    )


def l1_state_distance(
    prev: DataFrame, curr: DataFrame, key: str | list[str], value: str
) -> float:
    """Σ|prev.value − curr.value| over the join of both states — the
    reference's PageRank/L1 convergence metric (IterPageRank.java:190-194,
    summed across reducers at JobTracker.java:5586-5595). Keys present on
    only one side contribute their absolute value (treated as vs 0)."""
    keys = [key] if isinstance(key, str) else list(key)
    p = prev.select(*keys, F.col(value).alias("_prev"))
    c = curr.select(*keys, F.col(value).alias("_curr"))
    joined = p.join(c, keys, "full_outer").select(
        F.abs(
            F.coalesce(F.col("_prev"), F.lit(0.0))
            - F.coalesce(F.col("_curr"), F.lit(0.0))
        ).alias("_d")
    )
    row = joined.agg(F.sum("_d").alias("s")).collect()[0]
    return float(row["s"] or 0.0)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    max_iterations: int = 50,
    observed_distance: Column | None = None,
    threshold: float = 0.0,
    checkpoint_interval: int = 5,
    storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    observe_counts: bool = False,
) -> IterationResult:
    """Run ``state ← step(state, i)`` until convergence or max_iterations.

    ``observed_distance``: an aggregate Column over the NEW state's columns
    (e.g. ``F.sum(F.abs(F.col("delta")))`` when the step carries a delta
    column). Iteration stops once its value is ≤ ``threshold`` (the
    reference's termination contract — JobClient.runIterativeJob,
    JobClient.java:1366-1381). Each round is one action, and one Spark job
    unless the step's plan broadcasts: the metric is attached with
    ``df.observe`` and filled by the eager ``localCheckpoint`` that
    materializes the round's state, so there is no prev⋈curr join and no
    separate count. The loop runs with AQE off and
    ``spark.sql.shuffle.partitions`` set to the partition count of the
    checkpointed initial state, both restored on exit (also on error): a
    step that keeps the state hash-partitioned by its key, against a
    static side partitioned the same way, then plans with no exchange but
    its own aggregation. Give the initial state the static side's
    partitioning to get that. The conf scope is ``session.scoped_conf``,
    serialized per process: another thread's scoped operation waits for
    the loop to finish.

    Without ``observed_distance``, runs exactly ``max_iterations`` steps
    (the fixed-iteration mode, JobConf.java:494-500), materializing every
    ``checkpoint_interval`` rounds and at the end, planned under the
    session's confs.

    ``observe_counts``: attach a per-round record count — the analogue of
    the reference's per-iteration record stats reported to the master
    (IterationInfo, JobTracker.java:5516-5583; Counters.java) — to the
    round's existing action, zero extra jobs.
    """
    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    if observed_distance is not None:
        return _iterate_observed(
            state,
            step,
            observed_distance,
            max_iterations=max_iterations,
            threshold=threshold,
            storage_level=storage_level,
            observe_counts=observe_counts,
        )
    state = state.persist(storage_level)
    state.count()  # materialize so each iteration starts from computed state
    round_s: list[float] = []
    observations: list[Observation] = []
    pending_unpersist: list[DataFrame] = []
    for i in range(1, max_iterations + 1):
        t0 = time.perf_counter()
        new_state = step(state, i)
        if i % checkpoint_interval == 0:
            # truncate lineage: plan size otherwise grows per iteration
            new_state = new_state.localCheckpoint(eager=False)
        if observe_counts:
            # observe AFTER any checkpoint: localCheckpoint replaces the
            # logical plan, which would drop the CollectMetrics node.
            # Anonymous Observation(): the name must be globally unique —
            # joining the states of two separate runs whose iteration i
            # carried the same metric name fails with DUPLICATED_METRICS_NAME
            obs = Observation()
            new_state = new_state.observe(obs, F.count(F.lit(1)).alias("records"))
            observations.append(obs)
        new_state = new_state.persist(storage_level)
        # materialize at the checkpoint cadence and at the end, not every
        # iteration — persist() markers make a multiply-referenced state
        # compute once within the one job that eventually runs, so
        # intermediate counts would be pure job overhead; the interval-count
        # still bounds the optimizer's plan depth (the lazy localCheckpoint
        # above truncates when it materializes). Intermediate states must
        # KEEP their persist markers until that job runs: unpersisting an
        # unmaterialized state removes the marker, and a step that references
        # state twice (e.g. SSSP's full-outer join) would then double the
        # plan per un-checkpointed iteration. Defer the unpersist to after
        # the next materialization.
        pending_unpersist.append(state)
        state = new_state
        if i % checkpoint_interval == 0 or i == max_iterations:
            new_state.count()
            for old in pending_unpersist:
                old.unpersist()
            pending_unpersist.clear()
        round_s.append(time.perf_counter() - t0)
    return IterationResult(
        state=state,
        iterations=i,
        converged=False,
        record_counts=[int(obs.get["records"]) for obs in observations],
        round_s=round_s,
    )


def _iterate_observed(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    observed_distance: Column,
    *,
    max_iterations: int,
    threshold: float,
    storage_level: StorageLevel,
    observe_counts: bool,
) -> IterationResult:
    """The one-job-per-round loop behind ``iterate(observed_distance=...)``."""
    spark = state.sparkSession
    metrics = [observed_distance.alias("distance")]
    if observe_counts:
        metrics.append(F.count(F.lit(1)).alias("records"))
    distances: list[float] = []
    record_counts: list[int] = []
    round_s: list[float] = []
    converged = False
    i = 0
    # without AQE a checkpoint keeps the hash partitioning of its plan's
    # output; AQE would coalesce it away and every round would re-exchange
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        state = state.localCheckpoint(eager=True, storageLevel=storage_level)
        n = state.rdd.getNumPartitions()
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(n)}):
            for i in range(1, max_iterations + 1):
                t0 = time.perf_counter()
                # anonymous Observation(): a metric name must be unique
                # across every plan one query may combine, and the states of
                # two runs can meet in a later join
                obs = Observation()
                # the round's single job: computes the step, stores the new
                # state, fills the observation and truncates lineage. Steps
                # that carry a delta reference the state twice, so without
                # the truncation the plan would double every round.
                state = (
                    step(state, i)
                    .observe(obs, *metrics)
                    .localCheckpoint(eager=True, storageLevel=storage_level)
                )
                d = float(obs.get["distance"] or 0.0)
                distances.append(d)
                if observe_counts:
                    record_counts.append(int(obs.get["records"]))
                round_s.append(time.perf_counter() - t0)
                if d <= threshold:
                    converged = True
                    break
    return IterationResult(
        state=state,
        iterations=i,
        converged=converged,
        distances=distances,
        record_counts=record_counts,
        round_s=round_s,
    )
