"""Span recorder for the traced benchmark run.

Spans are kept in memory (name, start, end, parent) and turned into self
times after the run: a span's self time is its duration minus the part of
that interval its child spans cover. Each span also records the Spark job
and stage id counters at entry and exit, so Spark's status-store counts can
be attributed to the innermost span whose id window holds a stage — the same
eviction-safe stage-id keying as ``bench.shuffle_write_bytes_after``.

``Instrumentation`` wraps the public functions of the engine's layer modules
in spans. A name imported by value into another module (``operators.
iterative`` does ``from ..plans.loopdriver import iterate``) is a separate
reference, so every loaded engine module that holds the same function object
is patched too; ``restore()`` puts every original back.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import sys
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

PACKAGE = "incr_iter_hadoop_spark"

# module -> layer name used as the span prefix
LAYER_MODULES = {
    f"{PACKAGE}.catalog": "catalog",
    f"{PACKAGE}.plans.loopdriver": "loopdriver",
    f"{PACKAGE}.operators.iterative": "iterative",
    f"{PACKAGE}.operators.incremental": "incremental",
    f"{PACKAGE}.sources.occ": "occ",
}
# classes whose public methods are layer boundaries: (module, class, layer)
LAYER_CLASSES = ((f"{PACKAGE}.sources.preserve_store", "PreserveStore", "preserve_store"),)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    ids0: tuple[int, int] = (0, 0)  # (next job id, next stage id) at entry
    ids1: tuple[int, int] = (0, 0)  # the same at exit
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Recorder:
    """In-memory span tree. ``ids`` returns the (next job id, next stage id)
    pair of the Spark scheduler, or is None when Spark is not traced.
    While ``enabled`` is False, ``span`` records nothing."""

    def __init__(self, ids: Callable[[], tuple[int, int]] | None = None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = ids
        self.enabled = True
        # epoch = perf_counter + offset; Spark reports job times in epoch
        self.epoch_offset = time.time() - time.perf_counter()

    def _now_ids(self) -> tuple[int, int]:
        return self._ids() if self._ids is not None else (0, 0)

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        sp = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else -1,
            ids0=self._now_ids(),
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        except BaseException as exc:
            sp.attrs["error"] = type(exc).__name__
            raise
        finally:
            sp.ids1 = self._now_ids()
            sp.end = time.perf_counter()
            self._stack.pop()

    def children(self) -> list[list[int]]:
        kids: list[list[int]] = [[] for _ in self.spans]
        for i, sp in enumerate(self.spans):
            if sp.parent >= 0:
                kids[sp.parent].append(i)
        return kids

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        kids = self.children()
        out = []
        for i, sp in enumerate(self.spans):
            iv = [(self.spans[k].start, self.spans[k].end) for k in kids[i]]
            out.append(sp.duration - _covered(iv, sp.start, sp.end))
        return out

    def owner_of(self, kind: int, ident: int) -> int:
        """Index of the innermost span whose id window holds job (kind 0) or
        stage (kind 1) ``ident``; -1 when none does. Windows of nested spans
        nest, so the last-opened containing span is the innermost."""
        best = -1
        for i, sp in enumerate(self.spans):
            if sp.ids0[kind] <= ident < sp.ids1[kind]:
                best = i
        return best

    def ancestors(self, i: int) -> Iterator[int]:
        while i >= 0:
            yield i
            i = self.spans[i].parent


# ---------------------------------------------------------------------------
# wrapping the engine's public functions


def _public_functions(module) -> dict[str, Callable]:
    return {
        name: obj
        for name, obj in vars(module).items()
        if inspect.isfunction(obj)
        and obj.__module__ == module.__name__
        and not name.startswith("_")
        # contextmanager factories: a span would time only building the
        # context manager, not the block it guards
        and not hasattr(obj, "__wrapped__")
    }


class Instrumentation:
    """Patches every public function of ``LAYER_MODULES`` and the public
    methods of ``LAYER_CLASSES`` so each call opens a ``<layer>.<name>``
    span on ``recorder``. Call ``restore()`` to undo."""

    def __init__(self, recorder: Recorder):
        self.recorder = recorder
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, fn: Callable, name: str) -> Callable:
        rec = self.recorder

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with rec.span(name) as sp:
                out = fn(*args, **kwargs)
                # keep scalar outcomes (a partition count, a loop's
                # iteration count), never the DataFrames themselves
                if sp is not None:
                    if isinstance(out, (int, float)):
                        sp.attrs["value"] = out
                    elif isinstance(getattr(out, "iterations", None), int):
                        sp.attrs["value"] = out.iterations
                return out

        return wrapper

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        import importlib

        engine = [importlib.import_module(m) for m in LAYER_MODULES]
        for mod in engine:
            layer = LAYER_MODULES[mod.__name__]
            for name, fn in _public_functions(mod).items():
                wrapped = self._wrap(fn, f"{layer}.{name}")
                # every engine module holding this very object, including
                # names imported by value
                for other in list(sys.modules.values()):
                    if other is None or not getattr(other, "__name__", "").startswith(PACKAGE):
                        continue
                    for attr, val in list(vars(other).items()):
                        if val is fn:
                            self._set(other, attr, wrapped)
        for mod_name, cls_name, layer in LAYER_CLASSES:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for name, fn in list(vars(cls).items()):
                if inspect.isfunction(fn) and not name.startswith("_"):
                    self._set(cls, name, self._wrap(fn, f"{layer}.{name}"))

    def restore(self) -> None:
        for owner, attr, val in reversed(self._undo):
            setattr(owner, attr, val)
        self._undo.clear()


# ---------------------------------------------------------------------------
# Spark status store


def scheduler_ids(spark) -> Callable[[], tuple[int, int]]:
    """(next job id, next stage id) of the driver's DAG scheduler."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: (int(sched.nextJobId()), int(sched.nextStageId()))


@dataclass
class StageStat:
    stage_id: int
    tasks: int
    run_s: float
    gc_s: float
    input_rows: int
    output_b: int
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int


def stage_stats(spark, min_stage_id: int) -> list[StageStat]:
    """Completed stages with id >= ``min_stage_id`` from the status store
    (skipped stages ran no tasks and are left out)."""
    from bench import _drain_listener_bus

    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    _drain_listener_bus(spark)
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() < min_stage_id or s.status().toString() != "COMPLETE":
            continue
        out.append(
            StageStat(
                stage_id=s.stageId(),
                tasks=s.numCompleteTasks(),
                run_s=s.executorRunTime() / 1e3,
                gc_s=s.jvmGcTime() / 1e3,
                # rows, not bytes: the input-bytes counter misses most
                # of a local parquet scan
                input_rows=s.inputRecords(),
                output_b=s.outputBytes(),
                shuffle_write_b=s.shuffleWriteBytes(),
                shuffle_read_b=s.shuffleReadBytes(),
                spill_b=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        )
    return out


def job_intervals(spark, min_job_id: int) -> dict[int, tuple[float, float]]:
    """job id -> (submission, completion) in epoch seconds."""
    sc = spark.sparkContext
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        if j.jobId() < min_job_id:
            continue
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isDefined() and done.isDefined():
            out[j.jobId()] = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
    return out
