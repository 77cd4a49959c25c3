"""Seeded inputs for the benchmark: TPC-H-shaped tables and the per-step
deltas and rotations the workloads feed the engine.

Everything here is a pure function of its seed (``numpy.random.Generator``
state), so the same seed always gives the same inputs and the tests can pin
that. The tables follow the schema of the engine's driver tables (uniform
keys, two-decimal money columns, timestamps in microseconds); only the tables
the three workloads read are written.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Callable

import numpy as np

RELATIONAL_QUERIES = (
    "q1_pricing_summary",
    "q5_multiway_join",
    "q10_returned_items",
    "window_battery",
    "agg_value_battery",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY0 = dt.date(1995, 1, 1)
_ORDER_DAYS = (dt.date(2001, 8, 1) - _DAY0).days


def table_sizes(scale: float) -> dict[str, int]:
    """Row counts at ``scale`` (1.0 = TPC-H SF1 row counts)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(10, int(10_000 * scale)),
        "part": max(10, int(200_000 * scale)),
        "orders": max(10, int(1_500_000 * scale)),
        "lineitem": max(10, int(6_000_000 * scale)),
    }


def _micros(days: np.ndarray) -> np.ndarray:
    epoch = (_DAY0 - dt.date(1970, 1, 1)).days
    return (days.astype(np.int64) + epoch) * 86_400_000_000


def make_tables(seed: int, scale: float) -> dict[str, dict[str, np.ndarray]]:
    """Column arrays per table. Money is generated in integer cents so the
    benchmark's own checks can sum it exactly."""
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(scale)
    region = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(REGIONS, dtype=object),
    }
    nation = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    nc = n["customer"]
    customer = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(nc)], dtype=object),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": rng.integers(-99_999, 999_999, nc) / 100.0,
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    supplier = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(ns)], dtype=object),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": rng.integers(-99_999, 999_999, ns) / 100.0,
    }
    no = n["orders"]
    odays = rng.integers(0, _ORDER_DAYS + 1, no)
    orders = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(("F", "O", "P"), dtype=object)[
            rng.integers(0, 3, no)
        ],
        "o_totalprice": rng.integers(100_000, 50_000_000, no) / 100.0,
        "o_orderdate": _micros(odays),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[
            rng.integers(0, 5, no)
        ],
    }
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl).astype(np.int64)
    lineitem = {
        "l_orderkey": lorder,
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, nl) / 100.0,
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"), dtype=object)[
            rng.integers(0, 3, nl)
        ],
        "l_linestatus": np.array(("F", "O"), dtype=object)[rng.integers(0, 2, nl)],
        "l_shipdate": _micros(odays[lorder] + rng.integers(1, 122, nl)),
    }
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(tables: dict[str, dict[str, np.ndarray]], out_dir: str) -> None:
    """Write each table as ``<out_dir>/<name>.parquet`` (one row group, like
    the driver tables)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {}
        for col, arr in cols.items():
            if col in ("o_orderdate", "l_shipdate"):
                arrays[col] = pa.array(arr, type=pa.timestamp("us"))
            elif arr.dtype == object:
                arrays[col] = pa.array(arr.tolist(), type=pa.string())
            else:
                arrays[col] = pa.array(arr)
        pq.write_table(
            pa.table(arrays),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=1 << 24,
        )


# ---------------------------------------------------------------------------
# graph_iterate: edge deltas in the UpdatePageRankGraph shape


def base_edges(tables: dict[str, dict[str, np.ndarray]]) -> np.ndarray:
    """Distinct (src, dst) = (l_partkey, l_suppkey) pairs, as an (E, 2)
    int64 array sorted by (src, dst) — the graph ``_lineitem_edges`` builds."""
    li = tables["lineitem"]
    pairs = np.stack([li["l_partkey"], li["l_suppkey"]], axis=1)
    return np.unique(pairs, axis=0)


def edge_delta(
    rng: np.random.Generator,
    edges: np.ndarray,
    n_dst: int,
    *,
    rewire_share: float,
    delete_share: float,
) -> tuple[np.ndarray, np.ndarray]:
    """(removed, added) edge arrays: a ``rewire_share`` of the edges keep
    their source but move to a new destination, and a further
    ``delete_share`` are dropped. Added edges are new to the graph and
    distinct, so applying the delta keeps the edge relation a set."""
    e = len(edges)
    n_rewire = int(e * rewire_share)
    n_delete = int(e * delete_share)
    picked = rng.choice(e, n_rewire + n_delete, replace=False)
    rewired, deleted = edges[picked[:n_rewire]], edges[picked[n_rewire:]]
    existing = set((edges[:, 0] * n_dst + edges[:, 1]).tolist())
    added = []
    for src, dst in rewired.tolist():
        for _ in range(16):
            new = int(rng.integers(0, n_dst))
            code = src * n_dst + new
            if new != dst and code not in existing:
                existing.add(code)
                added.append((src, new))
                break
    removed = np.concatenate([rewired, deleted]) if n_rewire + n_delete else edges[:0]
    return removed, np.array(added, dtype=np.int64).reshape(-1, 2)


# ---------------------------------------------------------------------------
# store_refresh: contributions and refresh batches


def store_contribs(
    orders: dict[str, np.ndarray], replicas: int
) -> dict[str, np.ndarray]:
    """Orders replicated ``replicas`` times as (g, s, cents) contributions:
    group = customer, source = order × replica, value in integer cents.
    ``workloads.store_contribs_df`` builds the same rows in Spark."""
    r = np.arange(replicas, dtype=np.int64)
    cents = np.rint(orders["o_totalprice"] * 100).astype(np.int64)
    return {
        "g": np.repeat(orders["o_custkey"], replicas),
        "s": (orders["o_orderkey"][:, None] * replicas + r).ravel(),
        "cents": (cents[:, None] + 7 * r).ravel(),
    }


def refresh_batch(
    rng: np.random.Generator,
    live: Callable[[int], dict[int, int]],
    n_groups: int,
    next_source: int,
    *,
    groups: int,
    retract_share: float,
    adds_per_group: int,
) -> tuple[list[tuple[int, int, int, str]], int]:
    """One refresh batch over ``groups`` distinct groups drawn from
    ``range(n_groups)``: retract a share of each group's live contributions
    and add new ones with fresh source keys. ``live(g)`` returns the group's
    live contributions as source -> cents and is not mutated; the caller
    applies the batch. Returns (rows as (g, s, cents, op), next free source)."""
    rows: list[tuple[int, int, int, str]] = []
    for g in sorted(rng.choice(n_groups, groups, replace=False).tolist()):
        cur = sorted(live(g).items())
        n_ret = int(len(cur) * retract_share)
        if n_ret:
            for i in sorted(rng.choice(len(cur), n_ret, replace=False).tolist()):
                s, c = cur[i]
                rows.append((g, s, c, "-"))
        for _ in range(adds_per_group):
            rows.append((g, next_source, int(rng.integers(100_000, 50_000_000)), "+"))
            next_source += 1
    return rows, next_source


# ---------------------------------------------------------------------------
# relational_batch: query rotation


def rotation(rng: np.random.Generator, cycles: int) -> list[str]:
    """``cycles`` seeded permutations of the relational queries, so every
    query runs equally often and the order differs by seed."""
    out: list[str] = []
    for _ in range(cycles):
        out.extend(RELATIONAL_QUERIES[i] for i in rng.permutation(len(RELATIONAL_QUERIES)))
    return out
