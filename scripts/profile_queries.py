"""Per-query profiling harness.

For each named registered query: wall seconds over N noop-sink runs
(guide §1.4), plus deterministic structural metrics — the Spark job count
of each run, counted by job group, and from the app status store the stage
count and shuffle-write bytes of the first run, stage-id-keyed (the same
eviction-safe protocol as bench.py's shuffle lines) — and optionally the
``explain("formatted")`` plan dumped to a file. Prints ONE JSON line so an
interleaving driver can subprocess two checkouts alternately (cross-version
wall deltas on a shared host are only meaningful interleaved).

``--bare`` profiles in a plain ``local[4]`` session with 8 shuffle
partitions and none of ``session.get_spark``'s confs, the way an outside
caller runs the registered queries.

Usage:
  python scripts/profile_queries.py [--repo PATH] [--reps N] [--bare]
      [--plans-dir DIR --tag before|after] QUERY [QUERY ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default="after")
    ap.add_argument("--bare", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, args.repo)
    from incr_iter_hadoop_spark.registry import all_queries
    from incr_iter_hadoop_spark.session import get_spark

    # import the stage-id-keyed status-store readers from the repo's bench
    sys.path.insert(0, args.repo)
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(args.repo, "bench.py")
    )
    benchmod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(benchmod)

    if args.bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    specs = all_queries()
    # same warm-up protocol as bench.py: JVM + parquet footers
    for t in ("lineitem", "orders", "customer", "documents", "embeddings"):
        spark.read.parquet(os.path.join(args.sf_dir, f"{t}.parquet")).count()

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = specs[name].fn
        walls: list[float] = []
        jobs: list[int] = []
        m0 = benchmod._max_stage_id(spark)
        for rep in range(args.reps):
            group = f"profile:{name}:{rep}"
            sc.setJobGroup(group, f"profile: {name}")
            t0 = time.perf_counter()
            try:
                fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            finally:
                sc.setJobGroup(None, None)
            walls.append(round(time.perf_counter() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group) or []))
            if rep == 0:
                new = {
                    sid: b
                    for sid, b in benchmod._stage_shuffle_writes(spark).items()
                    if sid > m0
                }
        rec = {
            "wall_median": round(statistics.median(walls), 3),
            "wall_runs": walls,
            "jobs": jobs[-1],
            "jobs_runs": jobs,
            "shuffle_mb": round(sum(new.values()) / 1e6, 3),
            "stages": len(new),
        }
        if args.plans_dir:
            import contextlib
            import io

            os.makedirs(args.plans_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, args.sf_dir).explain("formatted")
            with open(
                os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
            rec["plan"] = f"{name}_{args.tag}.txt"
        out[name] = rec
    print(json.dumps({"repo": args.repo, "reps": args.reps, "profile": out}))


if __name__ == "__main__":
    main()
