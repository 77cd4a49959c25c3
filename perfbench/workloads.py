"""The three closed-loop workloads: one client, one process, ``local[nproc]``.

Each workload has a ``setup`` (warm-up and state build, counted in
``setup_s``), a ``cycle`` of operations issued back to back through
``Client.op`` (each op is timed alone), and a ``check`` that verifies every
op's output outside the timed window. A cycle is the unit the timed phase
repeats, so every run holds whole cycles and the same mix of ops.

- ``graph_iterate``: PageRank on the part->supplier graph. Each cycle runs
  ``GRAPH_WARM_RUNS`` x (draw a seeded edge delta against the base graph,
  re-converge warm from the base fixpoint: ``reconverge``, the primary op),
  then converges cold on the last delta-applied edges (``converge``).
- ``store_refresh``: a ``PreserveStore`` over replicated order
  contributions. Each cycle runs ``STORE_LAYERS`` x (seeded ``refresh`` of a
  few groups, the primary op, then a ``lookup`` of those groups through
  ``current_results()``), then ``compact`` and ``vacuum``.
- ``relational_batch``: each cycle is a seeded permutation of five
  registered queries (``query``), collected to the client.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

import numpy as np
import pandas as pd

from . import datagen

SCALE = 0.02  # TPC-H SF fraction: 120k lineitems, 30k orders, 4.2k graph nodes
THETA = 1.0  # PageRank L1 convergence threshold (the engine's default)
PR_MAX_ITER = 60
PR_CONTRACTION = 0.8  # the damping factor: PageRank's L1 contraction rate
REWIRE_SHARE, DELETE_SHARE = 0.01, 0.005
GRAPH_WARM_RUNS = 3  # reconverges per cycle; the last delta also converges cold
STORE_REPLICAS = 10
STORE_LAYERS = 3  # refreshes per compaction
STORE_GROUPS = 4  # groups touched per refresh
STORE_AGG = {
    "spend": "ROUND(CAST(SUM(CAST(v AS DECIMAL(27,6))) AS DOUBLE), 6)",
    "n": "CAST(COUNT(1) AS BIGINT)",
    "vmax": "ROUND(MAX(v), 6)",
}


class OpFailed(Exception):
    """An op raised; the rest of its cycle is skipped."""


class Client:
    """Issues ops one at a time and keeps their latencies."""

    def __init__(self, recorder=None):
        self.rec = recorder
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced: dict[str, list[bool]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    def span(self, name: str):
        return self.rec.span(name) if self.rec is not None else nullcontext()

    def op(self, kind: str, fn):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                out = fn()
        except Exception as exc:  # an engine failure is a measured outcome
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            raise OpFailed(kind) from exc
        self.samples[kind].append(time.perf_counter() - t0)
        self.traced[kind].append(self.rec is not None and self.rec.enabled)
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Workload:
    name = ""
    primary = ""  # the op kind reported as op_s_p50
    tables: tuple[str, ...] = ()
    # every run holds at least this many cycles, so a slow machine still
    # yields the same op mix and enough samples
    min_cycles = 2

    def __init__(self, spark, client: Client, data_dir: str, work_dir: str, tables, seed: int):
        self.spark = spark
        self.client = client
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.t = tables
        self.rng = np.random.default_rng([seed, 2])
        self.wrong = 0  # ops whose output failed a check
        self.stats: dict[str, list[float]] = defaultdict(list)

    def setup(self) -> None:
        raise NotImplementedError

    def cycle(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def _fail(self, msg: str) -> None:
        self.wrong += 1
        print(f"{self.name}: WRONG {msg}", file=sys.stderr)


# ---------------------------------------------------------------------------
# graph_iterate


def exact_pagerank(edges: np.ndarray) -> dict[int, float]:
    """The engine's PageRank fixpoint (rank = 0.2 + 0.8 * sum rank/deg over
    in-edges, every endpoint a node) by dense power iteration to 1e-10."""
    nodes, inv = np.unique(edges.ravel(), return_inverse=True)
    src, dst = inv.reshape(-1, 2).T
    deg = np.bincount(src, minlength=len(nodes)).astype(np.float64)
    rank = np.ones(len(nodes))
    for _ in range(10_000):
        mass = np.bincount(dst, weights=rank[src] / deg[src], minlength=len(nodes))
        new = 0.2 + PR_CONTRACTION * mass
        done = np.abs(new - rank).sum() < 1e-10
        rank = new
        if done:
            break
    return dict(zip(nodes.tolist(), rank.tolist()))


def l1(a: dict[int, float], b: dict[int, float]) -> float:
    return sum(abs(a.get(k, 0.0) - b.get(k, 0.0)) for k in a.keys() | b.keys())


class GraphIterate(Workload):
    name = "graph_iterate"
    primary = "reconverge"
    tables = ("lineitem",)
    min_cycles = 1

    def setup(self) -> None:
        # imported here, after a traced run has wrapped the engine's
        # functions, so the traced run calls the wrapped ones
        from incr_iter_hadoop_spark.operators.iterative import pagerank

        self.edges0 = datagen.base_edges(self.t)
        self.n_dst = len(self.t["supplier"]["s_suppkey"])
        self.pagerank = pagerank
        base = pagerank(self._edges(), max_iterations=PR_MAX_ITER, threshold=THETA)
        self.base_state = base.state.select("node", "rank")
        self.results: list[tuple[np.ndarray, np.ndarray, dict, dict | None]] = []
        # an untimed warm re-convergence: the base run above warmed the cold
        # path, this warms the delta and init_state paths
        self._step(record=False, cold=False)

    def _edges(self):
        from incr_iter_hadoop_spark.operators.iterative import _lineitem_edges

        return _lineitem_edges(self.spark, self.data_dir)

    def _run(self, delta, warm: bool):
        from incr_iter_hadoop_spark.operators.incremental import apply_edge_delta

        res = self.pagerank(
            apply_edge_delta(self._edges(), delta),
            max_iterations=PR_MAX_ITER,
            threshold=THETA,
            init_state=self.base_state if warm else None,
        )
        ranks = res.state.toPandas()
        res.state.unpersist()
        return res.iterations, dict(zip(ranks["node"].tolist(), ranks["rank"].tolist()))

    def _step(self, record: bool, cold: bool) -> None:
        removed, added = datagen.edge_delta(
            self.rng, self.edges0, self.n_dst,
            rewire_share=REWIRE_SHARE, delete_share=DELETE_SHARE,
        )
        pdf = pd.concat([
            pd.DataFrame({"src": removed[:, 0], "dst": removed[:, 1], "op": "-"}),
            pd.DataFrame({"src": added[:, 0], "dst": added[:, 1], "op": "+"}),
        ], ignore_index=True)
        op = self.client.op if record else (lambda _kind, fn: fn())
        box = {}

        def reconverge():
            box["delta"] = self.spark.createDataFrame(pdf).persist()
            return self._run(box["delta"], warm=True)

        n_warm, warm = op("reconverge", reconverge)
        ranks_cold = None
        if cold:
            n_cold, ranks_cold = op("converge", lambda: self._run(box["delta"], warm=False))
            self.stats["warm_saved"].append(n_cold - n_warm)
        box["delta"].unpersist()
        if record:
            self.results.append((removed, added, warm, ranks_cold))
            self.stats["delta_edges"].append(len(pdf))

    def cycle(self, i: int) -> None:
        for k in range(GRAPH_WARM_RUNS):
            self._step(record=True, cold=k == GRAPH_WARM_RUNS - 1)

    def check(self) -> None:
        """Warm and cold fixpoints match each other and the exact fixpoint
        within the threshold's bound: when a round moves the ranks by <=
        THETA in L1, the state is within THETA*c/(1-c) of the fixpoint (c =
        the contraction rate), so warm and cold are within twice that of
        each other."""
        codes0 = self.edges0[:, 0] * self.n_dst + self.edges0[:, 1]
        bound = THETA * PR_CONTRACTION / (1 - PR_CONTRACTION) * (1 + 1e-9) + 1e-6
        for i, (removed, added, warm, cold) in enumerate(self.results):
            gone = np.isin(codes0, removed[:, 0] * self.n_dst + removed[:, 1])
            exact = exact_pagerank(np.concatenate([self.edges0[~gone], added]))
            for label, got in (("reconverge", warm), ("converge", cold)):
                if got is None:
                    continue
                if got.keys() != exact.keys():
                    self._fail(f"delta {i} {label}: node set differs")
                elif l1(got, exact) > bound:
                    self._fail(f"delta {i} {label}: L1 {l1(got, exact):.4f} > {bound:.4f}")
            if cold is not None and warm.keys() == cold.keys() and l1(warm, cold) > 2 * bound:
                self._fail(f"delta {i}: warm vs cold L1 {l1(warm, cold):.4f}")


# ---------------------------------------------------------------------------
# store_refresh


class StoreRefresh(Workload):
    name = "store_refresh"
    primary = "refresh"
    tables = ("orders",)
    min_cycles = 1

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from incr_iter_hadoop_spark.catalog import load_table
        from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore

        o = load_table(self.spark, self.data_dir, "orders")
        r = self.spark.range(STORE_REPLICAS).withColumnRenamed("id", "r")
        cents = F.round(F.col("o_totalprice") * 100).cast("long") + 7 * F.col("r")
        contribs = o.crossJoin(r).select(
            F.col("o_custkey").alias("g"),
            (F.col("o_orderkey") * STORE_REPLICAS + F.col("r")).alias("s"),
            (cents / 100).alias("v"),
        )
        # the run's own store root under the Spark local dirs
        self.store_dir = tempfile.mkdtemp(prefix="store-", dir=os.environ["SPARK_LOCAL_DIRS"])
        self.store = PreserveStore(self.spark, self.store_dir).initialize(
            contribs, ["g"], ["s"], STORE_AGG, num_buckets=16
        )
        self.live_bytes = dir_bytes(self.store_dir)
        # the client's own copy of the contributions, for the lookup check
        c = datagen.store_contribs(self.t["orders"], STORE_REPLICAS)
        order = np.argsort(c["g"], kind="stable")
        self._c = {k: v[order] for k, v in c.items()}
        self._live: dict[int, dict[int, int]] = {}
        self.n_groups = len(self.t["customer"]["c_custkey"])
        self.next_source = int(c["s"].max()) + 1
        self.lookups: list[tuple[list[int], list[tuple], dict]] = []
        # untimed: JIT warm-up of refresh, lookup, compact and vacuum
        self._cycle(record=False, layers=1)

    def live(self, g: int) -> dict[int, int]:
        if g not in self._live:
            lo, hi = np.searchsorted(self._c["g"], [g, g + 1])
            self._live[g] = dict(zip(self._c["s"][lo:hi].tolist(), self._c["cents"][lo:hi].tolist()))
        return self._live[g]

    def _step(self, record: bool) -> None:
        from pyspark.sql import functions as F

        rows, self.next_source = datagen.refresh_batch(
            self.rng, self.live, self.n_groups, self.next_source,
            groups=STORE_GROUPS, retract_share=0.3, adds_per_group=5,
        )
        groups = sorted({g for g, *_ in rows})
        pdf = pd.DataFrame(
            [(g, s, c / 100, op) for g, s, c, op in rows], columns=["g", "s", "v", "op"]
        )
        op = self.client.op if record else (lambda _kind, fn: fn())
        op("refresh", lambda: self.store.refresh(self.spark.createDataFrame(pdf)))
        for g, s, c, sign in rows:
            if sign == "-":
                del self.live(g)[s]
            else:
                self.live(g)[s] = c
        self.stats["affected_rows"].append(sum(len(self.live(g)) for g in groups))
        self.stats["layers_at_read"].append(self.store.version)
        got = op(
            "lookup",
            lambda: self.store.current_results().where(F.col("g").isin(groups)).collect(),
        )
        self.stats["space_amp"].append(dir_bytes(self.store_dir) / self.live_bytes)
        if record:
            want = {}
            for g in groups:
                cents = list(self.live(g).values())
                want[g] = (sum(cents) / 100, len(cents), max(cents) / 100)
            self.lookups.append((groups, [tuple(r) for r in got], want))

    def _cycle(self, record: bool, layers: int = STORE_LAYERS) -> None:
        op = self.client.op if record else (lambda _kind, fn: fn())
        for _ in range(layers):
            self._step(record)
        op("compact", self.store.compact)
        op("vacuum", self.store.vacuum)
        self.live_bytes = dir_bytes(self.store_dir)

    def cycle(self, i: int) -> None:
        self._cycle(record=True)

    def check(self) -> None:
        """Every lookup equals a recompute of its groups from the client's
        own copy of the contributions as of that lookup."""
        for i, (groups, rows, want) in enumerate(self.lookups):
            got = {r[0]: r[1:] for r in rows}
            if sorted(got) != groups:
                self._fail(f"lookup {i}: groups {sorted(got)} != {groups}")
                continue
            for g in groups:
                spend, n, vmax = got[g]
                w_spend, w_n, w_max = want[g]
                if n != w_n or abs(spend - w_spend) > 1e-6 or abs(vmax - w_max) > 1e-6:
                    self._fail(f"lookup {i} group {g}: {got[g]} != {want[g]}")

    def close(self) -> None:
        for name in self.spark.catalog.listTables():
            self.spark.sql(f"DROP TABLE IF EXISTS {name.name}")
        shutil.rmtree(self.store_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# relational_batch


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive, dtype-normalised form of a query result."""
    out = df.copy()
    out.columns = [c.lower() for c in out.columns]
    out = out[sorted(out.columns)]
    for c in out.columns:
        kind = str(out[c].dtype)
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif kind.startswith(("int", "uint", "Int")):
            out[c] = out[c].astype("int64")
        elif kind.startswith("float"):
            out[c] = out[c].astype("float64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal (floats within 5e-7, both sides round to 6 places),
    else what differs."""
    s, o = canonical(got), canonical(want)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} != {len(o)}"
    for c in s.columns:
        if s[c].dtype == np.float64:
            a, b = s[c].to_numpy(), o[c].to_numpy()
            ok = np.isclose(a, b, rtol=0.0, atol=5e-7) | (np.isnan(a) & np.isnan(b))
        else:
            ok = ((s[c] == o[c]) | (s[c].isna() & o[c].isna())).to_numpy()
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ"
    return None


class RelationalBatch(Workload):
    name = "relational_batch"
    primary = "query"
    min_cycles = 2
    tables = ("region", "nation", "customer", "supplier", "orders", "lineitem")

    def setup(self) -> None:
        from incr_iter_hadoop_spark.registry import all_queries

        self.specs = {q: all_queries()[q] for q in datagen.RELATIONAL_QUERIES}
        self.results: list[tuple[str, pd.DataFrame]] = []
        for q in datagen.RELATIONAL_QUERIES:
            self._query(q)

    def _query(self, q: str) -> pd.DataFrame:
        return self.specs[q].fn(self.spark, self.data_dir).toPandas()

    def cycle(self, i: int) -> None:
        for q in datagen.rotation(self.rng, 1):
            with self.client.span(f"relational.{q}"):
                got = self.client.op("query", lambda q=q: self._query(q))
            self.stats[q].append(self.client.samples["query"][-1])
            self.results.append((q, got))

    def check(self) -> None:
        """Each result equals the query's registered DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.data_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            want = {q: con.sql(spec.oracle).df() for q, spec in self.specs.items()}
        finally:
            con.close()
        for i, (q, got) in enumerate(self.results):
            diff = frames_match(got, want[q])
            if diff is not None:
                self._fail(f"{q} run {i}: {diff}")


WORKLOADS = {w.name: w for w in (GraphIterate, StoreRefresh, RelationalBatch)}
