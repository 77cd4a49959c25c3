"""SparkSession factory tuned for the engine.

Defaults target correctness tests on ``local[*]`` while keeping every knob
scale-ready: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the Python<->JVM boundary, and a shuffle-partition
count that callers override per deployment (32 locally; thousands on a real
cluster).
"""

from __future__ import annotations

import contextlib
import os
import threading
from collections.abc import Iterator

from pyspark.sql import SparkSession

# SQL confs are SESSION-global: two scopes on one session running at once
# would each save the other's in-flight value as their "prior" and restore
# them out of order, leaking a mutated conf into the session. Every scope
# in the process serializes on this lock; re-entrant, so a scope may nest
# inside another on the same thread. Other processes have their own
# sessions and are unaffected.
_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set session SQL confs for the duration of the block and restore the
    prior values on exit, also when the block raises: an engine operation
    must not leak plan-changing settings into unrelated queries sharing the
    session. Only work that *executes* its queries inside the block is
    governed by it; a DataFrame returned lazily is planned at the caller's
    action time, under the caller's confs. A key the session had not set
    is unset again on exit."""
    with _CONF_LOCK:
        prior = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, old in prior.items():
                if old is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, old)


def get_spark(
    app_name: str = "incr-iter-hadoop-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_DRIVER_MEM`` (driver heap).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # r14 (VERDICT r13 ask #4): the driver heap default scales with the
    # local core count — a fixed 12 g heap runs 4x the concurrent tasks in
    # the same memory at local[32] vs local[8], the prime GC suspect for
    # every r13 scaling ratio reading < 1 (8 cores beat 32 on all 14
    # headline queries). local-mode executors share the driver JVM, so
    # per-task execution memory is heap/cores; 512 MiB+ per concurrent
    # task keeps hash aggregates and broadcast builds off the GC floor.
    # SPARK_GRAFT_DRIVER_MEM still overrides (deployments size their own
    # driver); the 12 g floor keeps <=16-core runs byte-identical to the
    # r4..r13 recorded history.
    try:
        n_cores = int(cpus)
    except ValueError:  # "*" — all machine cores
        n_cores = os.cpu_count() or 8
    default_mem = f"{max(12, (n_cores * 3) // 4)}g"
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join mitigation, plan re-opt
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for any pandas UDF / mapInPandas path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ANSI off: engine keeps permissive casts like the reference's text codecs
        .config("spark.sql.ansi.enabled", "false")
        # the driver's events table stores timestamp[ns]; Spark's reader
        # rejects TIMESTAMP(NANOS) unless read as raw long (converted to a
        # proper timestamp in catalog.load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter local runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
