"""Per-layer metrics of a traced run, from the span tree and Spark's status
store. Time and count totals are per traced cycle; per-op figures are
divided by the number of such ops; latencies by op kind come from the
untraced cycles of the same run."""

from __future__ import annotations

import numpy as np

from . import metrics
from .datagen import RELATIONAL_QUERIES
from .trace import _covered, job_intervals, stage_stats

MB = 1e6


def layer_metrics(spark, rec, client, wl, session_s: float, cores: int) -> dict[str, float]:
    spans = rec.spans
    self_t = rec.self_times()
    # ancestor names of every span; a span counts when a traced cycle holds it
    path = [frozenset(spans[a].name for a in rec.ancestors(i)) for i in range(len(spans))]
    live = [i for i in range(len(spans)) if "cycle" in path[i]]
    n_cyc = sum(1 for i in live if spans[i].name == "cycle") or 1

    def named(name):
        return [i for i in live if spans[i].name == name]

    def total(name):
        return sum(spans[i].duration for i in named(name)) / n_cyc

    def self_total(name):
        return sum(self_t[i] for i in named(name)) / n_cyc

    def values(name):
        return [spans[i].attrs["value"] for i in named(name) if "value" in spans[i].attrs]

    def mean(xs):
        return float(np.mean(xs)) if len(xs) else 0.0

    def ratio(a, b):
        return a / b if b else 0.0

    # Spark work, attributed to the innermost span whose id window holds it
    first = min((spans[i].ids0 for i in live), default=(0, 0))
    stages, jobs = [], []
    for st in stage_stats(spark, first[1]):
        owner = rec.owner_of(1, st.stage_id)
        if owner >= 0 and "cycle" in path[owner]:
            stages.append((st, path[owner]))
    for jid, (t0, t1) in job_intervals(spark, first[0]).items():
        owner = rec.owner_of(0, jid)
        if owner >= 0 and "cycle" in path[owner]:
            jobs.append((owner, t0 - rec.epoch_offset, t1 - rec.epoch_offset))

    def stage_sum(field, under=None, exclude_prefix=None):
        out = 0
        for st, names in stages:
            if under is not None and under not in names:
                continue
            if exclude_prefix is not None and any(n.startswith(exclude_prefix) for n in names):
                continue
            out += getattr(st, field)
        return out

    def stage_count(under):
        return sum(1 for _st, names in stages if under in names)

    def job_count(under):
        return sum(1 for owner, *_ in jobs if under in path[owner])

    ops = [i for i in live if spans[i].name.startswith("op.")]
    op_wall = sum(spans[i].duration for i in ops)
    gap = 0.0
    for i in ops:
        inside = [(a, b) for owner, a, b in jobs if i in rec.ancestors(owner)]
        gap += spans[i].duration - _covered(inside, spans[i].start, spans[i].end)

    iters = sum(values("loopdriver.iterate"))
    n_refresh = len(named("preserve_store.refresh"))
    commits = named("occ.commit_meta")
    untraced = {
        k: [s for s, t in zip(xs, client.traced[k]) if not t]
        for k, xs in client.samples.items()
    }
    prim = client.samples[wl.primary]
    traced_prim = [s for s, t in zip(prim, client.traced[wl.primary]) if t]
    initialize = [sp.duration for sp in spans if sp.name == "preserve_store.initialize"]

    out = {
        "converge_s_p50": metrics.median(untraced.get("converge", [])),
        "reconverge_s_p50": metrics.median(untraced.get("reconverge", [])),
        "refresh_s_p50": metrics.median(untraced.get("refresh", [])),
        "lookup_s_p50": metrics.median(untraced.get("lookup", [])),
        "compact_s_p50": metrics.median(untraced.get("compact", [])),
        "query_s_p50": metrics.median(untraced.get("query", [])),
        "op_samples": len(prim),
        "tracing.overhead_s": (
            metrics.median(traced_prim) - metrics.median(untraced.get(wl.primary, []))
        ),
        "session.start_s": session_s,
        "catalog.load_table_s": total("catalog.load_table"),
        "catalog.input_rows": stage_sum("input_rows", exclude_prefix="preserve_store.") / n_cyc,
        "loopdriver.iterate_s": total("loopdriver.iterate"),
        "loopdriver.iterations": iters / n_cyc,
        "loopdriver.s_per_iteration": ratio(total("loopdriver.iterate") * n_cyc, iters),
        "loopdriver.jobs_per_iteration": ratio(job_count("loopdriver.iterate"), iters),
        "loopdriver.shuffle_mb_per_iteration": ratio(
            stage_sum("shuffle_write_b", "loopdriver.iterate") / MB, iters
        ),
        "loopdriver.negotiate_s": total("loopdriver.negotiate_partitions"),
        "loopdriver.partitions": mean(values("loopdriver.negotiate_partitions")),
        "iterative.pagerank_self_s": self_total("iterative.pagerank"),
        "iterative.warm_iterations_saved": mean(wl.stats["warm_saved"]),
        "incremental.apply_edge_delta_s": total("incremental.apply_edge_delta"),
        "incremental.delta_edges": mean(wl.stats["delta_edges"]),
        "preserve_store.initialize_s": sum(initialize),
        "preserve_store.refresh_self_s": self_total("preserve_store.refresh"),
        "preserve_store.refresh_jobs": ratio(job_count("preserve_store.refresh"), n_refresh),
        "preserve_store.refresh_input_rows": ratio(
            stage_sum("input_rows", "preserve_store.refresh"), n_refresh
        ),
        "preserve_store.refresh_output_mb": ratio(
            stage_sum("output_b", "preserve_store.refresh") / MB, n_refresh
        ),
        "preserve_store.refresh_read_amp": ratio(
            ratio(stage_sum("input_rows", "preserve_store.refresh"), n_refresh),
            mean(wl.stats["affected_rows"]),
        ),
        "preserve_store.layers_at_read": mean(wl.stats["layers_at_read"]),
        "preserve_store.lookup_input_rows": ratio(
            stage_sum("input_rows", "op.lookup"), len(named("op.lookup"))
        ),
        "preserve_store.compact_rewritten_mb": ratio(
            stage_sum("output_b", "preserve_store.compact") / MB,
            len(named("preserve_store.compact")),
        ),
        "preserve_store.space_amp": metrics.median(wl.stats["space_amp"]),
        "occ.commit_s": total("occ.commit_meta"),
        "occ.commits": len(commits) / n_cyc,
        "occ.conflicts": sum(
            spans[i].attrs.get("error") == "ConcurrentWriteError" for i in commits
        ) / n_cyc,
        **{f"relational.{q}_s": metrics.median(wl.stats[q]) for q in RELATIONAL_QUERIES},
        "relational.shuffle_mb": ratio(
            stage_sum("shuffle_write_b", "op.query") / MB, len(named("op.query"))
        ),
        "relational.stages": ratio(stage_count("op.query"), len(named("op.query"))),
        "spark.jobs": len(jobs) / n_cyc,
        "spark.stages": len(stages) / n_cyc,
        "spark.tasks": stage_sum("tasks") / n_cyc,
        "spark.task_run_s": stage_sum("run_s") / n_cyc,
        "spark.gc_s": stage_sum("gc_s") / n_cyc,
        "spark.shuffle_write_mb": stage_sum("shuffle_write_b") / MB / n_cyc,
        "spark.shuffle_read_mb": stage_sum("shuffle_read_b") / MB / n_cyc,
        "spark.spill_mb": stage_sum("spill_b") / MB / n_cyc,
        "spark.core_busy_ratio": ratio(stage_sum("run_s"), op_wall * cores),
        "driver.gap_s": gap / n_cyc,
    }
    return out
