"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_iterate --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: the engine is imported from there, and the
run's inputs, Spark scratch space, warehouse and temp files all live in
``.perfbench_work/<pid>/`` under it, removed at exit. Prints progress to
stderr and, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics of a
traced run (``--trace 1``). Exits non-zero without a result when the engine
is not importable or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: Path, cores: int, trace: bool):
    from incr_iter_hadoop_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'derby'}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of the run in the status store
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args: argparse.Namespace, work: Path) -> dict:
    from perfbench import datagen, metrics, workloads
    from perfbench.layers import layer_metrics

    wl_cls = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    for d in ("data", "spark-local", "warehouse", "tmp", "derby"):
        (work / d).mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    })
    tables = datagen.make_tables(args.seed, workloads.SCALE)
    datagen.write_tables({t: tables[t] for t in wl_cls.tables}, str(work / "data"))

    rss = metrics.RssSampler().start() if args.trace else None
    t0 = time.perf_counter()
    spark = start_spark(work, cores, bool(args.trace))
    session_s = time.perf_counter() - t0
    rec = inst = None
    try:
        if args.trace:
            from perfbench.trace import Instrumentation, Recorder, scheduler_ids

            rec = Recorder(scheduler_ids(spark))
            inst = Instrumentation(rec)
            inst.install()
        client = workloads.Client(rec)
        wl = wl_cls(spark, client, str(work / "data"), str(work), tables, args.seed)
        t1 = time.perf_counter()
        with client.span("setup"):
            wl.setup()
        setup_s = session_s + time.perf_counter() - t1
        print(f"{wl.name}: setup {setup_s:.2f} s (session {session_s:.2f} s)", file=sys.stderr)

        # a traced run needs an untraced cycle beside each traced one
        min_cycles = max(wl.min_cycles, 2) if args.trace else wl.min_cycles
        t_start, cycles, op_fail = time.perf_counter(), 0, 0
        while cycles < min_cycles or time.perf_counter() - t_start < args.seconds:
            if rec is not None:
                # alternate traced and untraced cycles: the difference of
                # their latencies is the tracing overhead
                rec.enabled = cycles % 2 == 0
            try:
                with client.span("cycle"):
                    wl.cycle(cycles)
            except workloads.OpFailed:
                op_fail += 1
                if op_fail > 3:
                    break
            cycles += 1
        if rec is not None:
            rec.enabled = False
        print(f"{wl.name}: {cycles} cycles in {time.perf_counter() - t_start:.1f} s", file=sys.stderr)
        for kind, xs in client.samples.items():
            print(f"  {kind}: {' '.join(f'{x:.3f}' for x in xs)}", file=sys.stderr)
        wl.check()

        prim = client.samples[wl.primary]
        if args.trace:
            out = layer_metrics(spark, rec, client, wl, session_s, cores)
            out["process.peak_rss_mb"] = rss.stop()
            units = metrics.PER_LAYER
        else:
            all_ops = [s for xs in client.samples.values() for s in xs]
            out = {
                "setup_s": setup_s,
                "op_s_p50": metrics.median(prim),
                "ops_per_min": 60.0 * len(all_ops) / sum(all_ops) if all_ops else 0.0,
            }
            units = metrics.END_TO_END
        wl.close()
    finally:
        if rss is not None:
            rss.stop()
        if inst is not None:
            inst.restore()
        stop_spark(spark)
    failed = client.failed + wl.wrong
    return {
        "correct": failed == 0 and len(prim) > 0,
        "attempted": client.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(out[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "incr_iter_hadoop_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root; the script's
    # own directory would shadow standard modules (``trace``)
    sys.path[0] = str(ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / str(os.getpid())
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run still holds its directory
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
