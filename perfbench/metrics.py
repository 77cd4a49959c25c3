"""Metric catalogue, summary statistics and the process-tree RSS sampler.

``END_TO_END`` and ``PER_LAYER`` are the names and units the benchmark
prints (untraced and traced run respectively); ``BENCHMARK.json`` lists the
same names and the tests pin that the two agree.
"""

from __future__ import annotations

import os
import threading

import numpy as np

from .datagen import RELATIONAL_QUERIES

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "ops_per_min": "1/min",
}

PER_LAYER = {
    # per-kind latency split of the end-to-end ops (whole traced run)
    "converge_s_p50": "s",
    "reconverge_s_p50": "s",
    "refresh_s_p50": "s",
    "lookup_s_p50": "s",
    "compact_s_p50": "s",
    "query_s_p50": "s",
    "op_samples": "count",
    "tracing.overhead_s": "s",
    "session.start_s": "s",
    "catalog.load_table_s": "s",
    "catalog.input_rows": "count",
    "loopdriver.iterate_s": "s",
    "loopdriver.iterations": "count",
    "loopdriver.s_per_iteration": "s",
    "loopdriver.jobs_per_iteration": "count",
    "loopdriver.shuffle_mb_per_iteration": "MB",
    "loopdriver.negotiate_s": "s",
    "loopdriver.partitions": "count",
    "iterative.pagerank_self_s": "s",
    "iterative.warm_iterations_saved": "count",
    "incremental.apply_edge_delta_s": "s",
    "incremental.delta_edges": "count",
    "preserve_store.initialize_s": "s",
    "preserve_store.refresh_self_s": "s",
    "preserve_store.refresh_jobs": "count",
    "preserve_store.refresh_input_rows": "count",
    "preserve_store.refresh_output_mb": "MB",
    "preserve_store.refresh_read_amp": "ratio",
    "preserve_store.layers_at_read": "count",
    "preserve_store.lookup_input_rows": "count",
    "preserve_store.compact_rewritten_mb": "MB",
    "preserve_store.space_amp": "ratio",
    "occ.commit_s": "s",
    "occ.commits": "count",
    "occ.conflicts": "count",
    **{f"relational.{q}_s": "s" for q in RELATIONAL_QUERIES},
    "relational.shuffle_mb": "MB",
    "relational.stages": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_busy_ratio": "ratio",
    "driver.gap_s": "s",
    "process.peak_rss_mb": "MB",
}


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, from /proc.
    Counts proportional set size, so pages that forked workers share with
    their parent are counted once, not once per process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, frontier = [root_pid], [root_pid]
    while frontier:
        kids = children.get(frontier.pop(), [])
        tree.extend(kids)
        frontier.extend(kids)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread recording the peak RSS of this process tree."""

    def __init__(self, interval_s: float = 0.5):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self._interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 1e6
