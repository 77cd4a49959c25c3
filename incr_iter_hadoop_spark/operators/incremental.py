"""Incremental view maintenance (SURVEY §2.8 I6-I9, §7 Phase 4).

The reference's signature capability: after a computation converges, a
*preserve* run records every reduce group's inputs and output in an indexed
local store (IFile.PreserveFile, incr-hadoop-0.1/src/mapred/org/apache/
hadoop/mapred/IFile.java:478-1100); a later *incremental* run takes a delta
file of (key, value, '+'|'-') records (UpdatePageRankGraph.java:58-141),
re-reduces only the affected groups (ReduceTask.java:3324-3500) and
propagates only results that changed by ≥ threshold (ReduceTask.java:
3399-3428).

Spark-first redesign (no point-lookup store, no retraction sentinel):

- Preserved state = two co-partitioned DataFrames/Parquet tables:
  ``contribs(group_key, source_key, payload…)`` and
  ``results(group_key, aggregates…)`` — immutable, versioned (replaces the
  in-place updateResKV, IFile.java:805-930).
- A delta is a DataFrame with an ``op`` column ('+'/'-') keyed by source_key
  (matches TrippleWriter semantics, IFile.java:255-330).
- ``refresh`` rebuilds *only the affected groups* from the preserved
  contributions — exact for any aggregate, including non-invertible min/max
  (the reference's removeLable() sentinel, OutputCollectorwSource
  MapTask.java:1855-1911, is replaced by a proper anti-join retraction —
  SURVEY §7 hard-part 5).

Scale: every step is a key-partitioned join/aggregate — refresh cost is
O(|delta| + |affected groups' contribs|), not O(|state|); with the state
tables bucketed by group_key the joins are shuffle-free on the big side.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register


_EXIT_CLEANUPS: set[str] = set()


def _cleanup_at_exit(parent: str, name: str) -> None:
    """Register a temp store/stream dir for removal at interpreter exit.

    The DataFrames these queries return read the dir lazily (the driver
    collects AFTER the builder returns), so in-function deletion would break
    the result; process exit is the earliest safe point."""
    import atexit
    import shutil

    path = os.path.join(parent, name) if name else parent
    if path in _EXIT_CLEANUPS:
        return
    _EXIT_CLEANUPS.add(path)
    atexit.register(lambda: shutil.rmtree(path, ignore_errors=True))


@dataclass
class PreservedState:
    """The MRBG-store analogue: contributions + results, both keyed by
    group_keys. ``source_keys`` identify individual contributions so a
    delta can retract them ('-')."""

    contribs: DataFrame
    results: DataFrame
    group_keys: list[str]
    source_keys: list[str]
    agg_exprs: dict[str, Column]  # output col name -> aggregate over contribs


def preserve(
    contribs: DataFrame,
    group_keys: list[str],
    source_keys: list[str],
    agg_exprs: dict[str, Column],
) -> PreservedState:
    """I6: materialize the preserved state from a contribution relation.

    ``contribs`` must contain group_keys + source_keys + payload columns;
    (group_keys, source_keys) must uniquely identify a contribution."""
    results = contribs.groupBy(*group_keys).agg(
        *[expr.alias(name) for name, expr in agg_exprs.items()]
    )
    return PreservedState(
        contribs=contribs,
        results=results,
        group_keys=list(group_keys),
        source_keys=list(source_keys),
        agg_exprs=dict(agg_exprs),
    )


def refresh(state: PreservedState, delta: DataFrame, op_col: str = "op") -> PreservedState:
    """I7+I8: apply a (+/-) delta and re-aggregate only affected groups.

    '-' rows retract the contribution with the same source key (payload
    ignored, like the reference's remove records); '+' rows insert. Groups
    untouched by the delta keep their preserved result row verbatim."""
    gk, sk = state.group_keys, state.source_keys
    plus = delta.where(F.col(op_col) == "+").drop(op_col)
    minus = delta.where(F.col(op_col) == "-").drop(op_col)

    # retract by (group, source) — a bare source key may recur across groups
    new_contribs = (
        state.contribs.join(minus.select(*gk, *sk).distinct(), gk + sk, "left_anti")
        .unionByName(plus)
    )
    affected = delta.select(*gk).distinct()
    # results path: prune to affected groups FIRST, then retract/insert on
    # the pruned set — every delta row's group is in `affected` by
    # construction, so this equals recomputing from new_contribs while
    # keeping the per-refresh work O(affected groups' contribs), not an
    # anti-join over the whole state (with the state tables bucketed by
    # group key the semi-join is also shuffle-free)
    affected_contribs = state.contribs.join(affected, gk, "left_semi")
    recomputed = (
        affected_contribs.join(
            minus.select(*gk, *sk).distinct(), gk + sk, "left_anti"
        )
        .unionByName(plus)
        .groupBy(*gk)
        .agg(*[expr.alias(name) for name, expr in state.agg_exprs.items()])
    )
    untouched = state.results.join(affected, gk, "left_anti")
    return PreservedState(
        contribs=new_contribs,
        results=untouched.unionByName(recomputed),
        group_keys=gk,
        source_keys=sk,
        agg_exprs=state.agg_exprs,
    )


def refresh_linear(
    state: PreservedState,
    delta: DataFrame,
    linear_exprs: dict[str, Column],
    op_col: str = "op",
    count_col: str | None = None,
) -> DataFrame:
    """I8 fast path for INVERTIBLE aggregates (sum/count): the new result is
    old_result + net delta contribution, computed from the DELTA ALONE — no
    preserved-contribution reads at all, so a refresh touches O(|delta|)
    rows plus point reads of the affected groups' RESULT rows (tiny),
    versus the recompute path's O(affected groups' contribs).

    The reference distinguishes exactly these two refresh modes: in-place
    result update for accumulable aggregates (updateResKV,
    IFile.java:805-930) vs full group re-reduce for the rest
    (ReduceTask.java:3324-3500). ``refresh()`` is the general path;
    this one requires every output column to be linear.

    ``linear_exprs``: output col -> SIGNED aggregate over the delta rows,
    evaluated with a ``_sign`` column (+1 for '+', −1 for '-') in scope —
    e.g. ``F.sum(F.col("_sign") * F.col("v"))``. Retraction rows must carry
    the true stored payload (the reference's remove records do,
    UpdatePageRankGraph.java:58-141); the recompute path ignores '-'
    payloads, this path trusts them.

    Returns the refreshed RESULTS relation (the caller re-derives contribs
    if it needs a further non-linear refresh)."""
    gk = state.group_keys
    signed = delta.withColumn(
        "_sign", F.when(F.col(op_col) == "+", F.lit(1)).otherwise(F.lit(-1))
    )
    net = signed.groupBy(*gk).agg(
        *[expr.alias(f"_d_{name}") for name, expr in linear_exprs.items()]
    )
    joined = state.results.join(net, gk, "full_outer")
    out_cols = [F.col(k) for k in gk]
    for name in state.agg_exprs:
        if name not in linear_exprs:
            raise ValueError(
                f"refresh_linear: aggregate '{name}' has no linear delta "
                "expression — use refresh() for non-invertible aggregates"
            )
        out_cols.append(
            (
                F.coalesce(F.col(name), F.lit(0))
                + F.coalesce(F.col(f"_d_{name}"), F.lit(0))
            ).alias(name)
        )
    refreshed = joined.select(*out_cols)
    # groups whose every contribution was retracted net to a zero count —
    # they vanished (the recompute path drops them because no rows remain).
    # ``count_col`` names the row-count output column used for the check.
    if count_col is not None:
        refreshed = refreshed.where(F.col(count_col) > 0)
    return refreshed


# ---------------------------------------------------------------------------
# registered end-to-end query: preserve orders-by-customer, apply a delta,
# compare against full recomputation (the reference's own oracle design —
# SURVEY §5.2 dual execution).

_CUTOFF = "1999-01-01"


@register(
    "incr_refresh_orders",
    oracle=f"""
    SELECT o_custkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6)
             AS spend,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MAX(o_totalprice), 6) AS max_price
    FROM orders
    WHERE NOT (CAST(o_orderdate AS DATE) < DATE '{_CUTOFF}'
               AND o_orderkey % 97 = 0)
    GROUP BY o_custkey
    """,
    doc="I6-I8 end-to-end: preserve aggregates over pre-1999 orders, apply a "
    "delta (+ = 1999+ orders, − = every 97th old order), refresh affected "
    "groups only. Oracle = full recompute over the same effective set — "
    "includes a non-invertible MAX to prove group-recompute retraction.",
)
def incr_refresh_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("date")
    base = o.where(F.col("o_orderdate").cast("date") < cutoff)
    contribs = base.select("o_custkey", "o_orderkey", "o_totalprice")
    state = preserve(
        contribs,
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_exprs={
            # decimal-accumulated sum: order-independent (functions/stable.py)
            "spend": F.round(
                F.sum(F.col("o_totalprice").cast("decimal(27,6)")).cast("double"),
                6,
            ),
            "n_orders": F.count(F.lit(1)),
            "max_price": F.round(F.max("o_totalprice"), 6),
        },
    )
    additions = (
        o.where(F.col("o_orderdate").cast("date") >= cutoff)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("+"))
    )
    removals = (
        base.where(F.col("o_orderkey") % 97 == 0)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("-"))
    )
    new_state = refresh(state, additions.unionByName(removals))
    return new_state.results


@register(
    "incr_refresh_orders_disk",
    oracle=f"""
    SELECT o_custkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6)
             AS spend,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MAX(o_totalprice), 6) AS max_price
    FROM orders
    WHERE NOT (CAST(o_orderdate AS DATE) < DATE '{_CUTOFF}'
               AND o_orderkey % 97 = 0)
    GROUP BY o_custkey
    """,
    doc="I6 on-disk preserve store end-to-end (IFile.PreserveFile analogue, "
    "IFile.java:478-530 + re-reduce read path ReduceTask.java:3324-3500): "
    "materialize the preserved state as bucketed parquet, apply the same "
    "delta as incr_refresh_orders as a LAYER (point-pruned reads of only the "
    "affected groups' buckets/pages), reconstruct results last-layer-wins. "
    "Oracle = full recompute over the effective row set.",
)
def incr_refresh_orders_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import re
    import tempfile

    from ..sources.preserve_store import PreserveStore

    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("date")
    base = o.where(F.col("o_orderdate").cast("date") < cutoff)
    slug = re.sub(
        r"[^0-9a-zA-Z]+", "_", os.path.abspath(sf_dir)
    ).strip("_").lower()
    # PID-scoped path: two concurrent driver/bench processes
    # against the same dataset get disjoint stores instead of clobbering
    # each other's meta/layers mid-refresh; within one process the path is
    # stable and initialize() below overwrites it (idempotent re-runs).
    path = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_preserve",
        f"orders_{slug}_p{os.getpid()}",
    )
    _cleanup_at_exit(os.path.dirname(path), f"orders_{slug}_p{os.getpid()}")
    store = PreserveStore(spark, path)
    # preserve run: one full shuffle, paid once (re-run per invocation so the
    # query is self-contained and idempotent for the driver)
    store.initialize(
        base.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_sql={
            "spend": "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) "
            "AS DOUBLE), 6)",
            "n_orders": "CAST(COUNT(1) AS BIGINT)",
            "max_price": "ROUND(MAX(o_totalprice), 6)",
        },
        num_buckets=16,
    )
    additions = (
        o.where(F.col("o_orderdate").cast("date") >= cutoff)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("+"))
    )
    removals = (
        base.where(F.col("o_orderkey") % 97 == 0)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("-"))
    )
    store.refresh(additions.unionByName(removals))
    return store.current_results()


@register(
    "incr_refresh_orders_linear",
    oracle=f"""
    SELECT o_custkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6)
             AS spend,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE NOT (CAST(o_orderdate AS DATE) < DATE '{_CUTOFF}'
               AND o_orderkey % 97 = 0)
    GROUP BY o_custkey
    """,
    doc="I8 linear fast path (in-place accumulable update, updateResKV "
    "IFile.java:805-930): the same delta as incr_refresh_orders applied to "
    "a SUM/COUNT-only view via refresh_linear — new result = old result + "
    "net delta, computed from the delta ALONE with zero preserved-"
    "contribution reads (the non-invertible-MAX twin incr_refresh_orders "
    "exercises the group-recompute path). Decimal accumulation keeps the "
    "add exact, so the oracle is the same full recompute.",
)
def incr_refresh_orders_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("date")
    base = o.where(F.col("o_orderdate").cast("date") < cutoff)
    contribs = base.select("o_custkey", "o_orderkey", "o_totalprice")
    state = preserve(
        contribs,
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_exprs={
            # UNROUNDED internally: the linear path adds the net delta to
            # the stored value, so rounding happens once at the output
            "spend": F.sum(F.col("o_totalprice").cast("decimal(27,6)")),
            "n_orders": F.count(F.lit(1)),
        },
    )
    additions = (
        o.where(F.col("o_orderdate").cast("date") >= cutoff)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("+"))
    )
    removals = (
        base.where(F.col("o_orderkey") % 97 == 0)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("-"))
    )
    refreshed = refresh_linear(
        state,
        additions.unionByName(removals),
        linear_exprs={
            "spend": F.sum(
                F.col("_sign") * F.col("o_totalprice").cast("decimal(27,6)")
            ),
            "n_orders": F.sum("_sign").cast("bigint"),
        },
        count_col="n_orders",
    )
    return refreshed.select(
        "o_custkey",
        F.round(F.col("spend").cast("double"), 6).alias("spend"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
    )


def _spmv_delta_oracle() -> str:
    # imported here, not at the top: the import registers iterative.py's
    # queries, and the registry's order is the order of registration
    from .iterative import _SPMV_MATRIX_SQL

    return f"""
    WITH m AS ({_SPMV_MATRIX_SQL}),
    x0 AS (SELECT DISTINCT c AS i, CAST(1.0 AS DOUBLE) AS x FROM m),
    p AS (
      SELECT (r * 7 + 3) % 500 AS r, (c * 3 + 1) % 500 AS c,
             CAST(1.5 AS DOUBLE) AS v
      FROM m WHERE (r + c) % 13 = 0
    ),
    m2 AS (
      SELECT r, c, v FROM m WHERE (r + c) % 11 <> 0
      UNION ALL SELECT r, c, v FROM p
    )
    SELECT m2.r AS i, ROUND(SUM(m2.v * x.x), 6) AS x
    FROM m2 JOIN x0 x ON m2.c = x.i GROUP BY m2.r
    """


@register(
    "incr_spmv_delta1",
    oracle=_spmv_delta_oracle(),
    doc="incremental SpMV — the delta-propagation identity for a LINEAR "
    "operator (A−D+P)·x = A·x + (P−D)·x: the preserved product y = A·x is "
    "updated from the matrix delta ALONE (O(|Δ|) work, no re-read of A "
    "beyond the preserved per-row cell counts that detect fully-retracted "
    "rows). Values are dyadic rationals (integer quantity sums and 1.5), "
    "so the float add is exact and the oracle is a full recompute over "
    "the delta-applied matrix.",
)
def incr_spmv_delta1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import _spmv_matrix

    # no caches: the result is returned lazily, so a cache could be
    # released only after the caller collects; the repeated subplans share
    # their exchanges instead
    m = _spmv_matrix(spark, sf_dir)
    x0 = m.select(F.col("c").alias("i")).distinct().select("i", F.lit(1.0).alias("x"))
    # preserve run: y = A·x plus per-row cell count (the vanish detector)
    y1 = (
        m.join(x0, m.c == x0.i)
        .groupBy("r")
        .agg(
            F.sum(F.col("v") * F.col("x")).alias("x"),
            F.count(F.lit(1)).alias("n"),
        )
    )
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
    signed = additions.unionByName(removals).withColumn(
        "_s", F.when(F.col("op") == "+", F.lit(1.0)).otherwise(F.lit(-1.0))
    )
    dy = (
        signed.join(x0, signed.c == x0.i)
        .groupBy("r")
        .agg(
            F.sum(F.col("_s") * F.col("v") * F.col("x")).alias("dx"),
            F.sum("_s").alias("dn"),
        )
    )
    out = (
        y1.join(dy, "r", "full_outer")
        .select(
            F.col("r").alias("i"),
            (
                F.coalesce("x", F.lit(0.0)) + F.coalesce("dx", F.lit(0.0))
            ).alias("x"),
            (
                F.coalesce("n", F.lit(0)).cast("double")
                + F.coalesce("dn", F.lit(0.0))
            ).alias("_nn"),
        )
        .where(F.col("_nn") > 0)
        .select("i", F.round("x", 6).alias("x"))
    )
    return out


# ---------------------------------------------------------------------------
# incremental PageRank — the reference's flagship incremental app
# (IncrPageRank.java:176-267: delta graph file → one-pass refresh →
# incremental iterative re-convergence). Spark-first: the delta is applied
# to the edge relation by anti-join/union (I7, no removeLable() sentinel),
# then the loop re-runs — cold for the oracle-checked bounded variant,
# warm-started from the converged base ranks for the re-convergence variant.

_EDGE_CUTOFF = "1997-01-01"


def _pagerank_delta_edges(spark: SparkSession, sf_dir: str):
    """(base_edges, delta) from lineitem: base = pre-cutoff part→supplier
    edges; '+' rows = edges seen only post-cutoff; '-' rows = every 13th base
    edge (UpdatePageRankGraph.java:83-118 change-percent + deletions shape)."""
    from pyspark.sql import functions as F  # noqa: F811

    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_EDGE_CUTOFF).cast("date")
    ship = F.col("l_shipdate").cast("date")
    base = (
        li.where(ship < cutoff)
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    post = (
        li.where(ship >= cutoff)
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    additions = post.join(base, ["src", "dst"], "left_anti").withColumn(
        "op", F.lit("+")
    )
    removals = base.where((F.col("src") + F.col("dst")) % 13 == 0).withColumn(
        "op", F.lit("-")
    )
    return base, additions.unionByName(removals)


def apply_edge_delta(base: DataFrame, delta: DataFrame, op_col: str = "op") -> DataFrame:
    """I7 delta ingestion on a relation without aggregates: '-' rows retract
    matching edges (anti-join), '+' rows insert."""
    plus = delta.where(F.col(op_col) == "+").drop(op_col)
    minus = delta.where(F.col(op_col) == "-").drop(op_col)
    return base.join(minus, base.columns, "left_anti").unionByName(plus)


_UPDATED_EDGES_SQL = f"""
  WITH base AS (
    SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
    WHERE CAST(l_shipdate AS DATE) < DATE '{_EDGE_CUTOFF}'
  ), post AS (
    SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '{_EDGE_CUTOFF}'
  ), adds AS (
    SELECT src, dst FROM post EXCEPT SELECT src, dst FROM base
  )
  SELECT src, dst FROM base WHERE (src + dst) % 13 <> 0
  UNION SELECT src, dst FROM adds
"""


def _incr_pagerank_oracle(n_iter: int) -> str:
    from .iterative import _pagerank_sql

    return _pagerank_sql(n_iter, edges_sql=_UPDATED_EDGES_SQL)


def _pagerank_updated_edges_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan derivation of the delta-APPLIED edge set — edge-for-edge
    equivalent to ``apply_edge_delta(*_pagerank_delta_edges(...))`` (pinned
    by ``test_fused_updated_edges_match_delta_path``), but ONE lineitem scan
    and ONE shuffle: per-edge pre/post-cutoff flags from a single groupBy
    replace two distinct scans plus two anti-joins. The general (base, Δ)
    path stays the I7 witness for deltas arriving as separate relations
    (the reference's delta FILE, IncrPageRank.java:176-212); this fast path
    applies when base and delta derive from one source — recompute the
    flags, don't join."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_EDGE_CUTOFF).cast("date")
    pre = (F.col("l_shipdate").cast("date") < cutoff).alias("pre")
    flags = (
        li.select(
            F.col("l_partkey").alias("src"),
            F.col("l_suppkey").alias("dst"),
            pre,
        )
        .groupBy("src", "dst")
        .agg(F.max("pre").alias("has_pre"), F.max(~F.col("pre")).alias("has_post"))
    )
    kept_base = F.col("has_pre") & ((F.col("src") + F.col("dst")) % 13 != 0)
    added = F.col("has_post") & ~F.col("has_pre")
    return flags.where(kept_base | added).select("src", "dst")


@register(
    "incr_pagerank_delta5",
    oracle=_incr_pagerank_oracle(5),
    doc="IncrPageRank one-pass shape (IncrPageRank.java:176-212): apply a "
    "(+/-) edge delta, then 5 bounded iterations on the updated graph; "
    "oracle = unrolled CTE chain over the delta-applied edges. The edge "
    "update uses the fused single-scan derivation (equivalence with the "
    "anti-join/union path is test-pinned; that general path remains the "
    "I7 witness in incr_refresh_orders / incr_pagerank_pruned4 / "
    "streaming_incr_pagerank).",
)
def incr_pagerank_delta5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import pagerank

    updated = _pagerank_updated_edges_fused(spark, sf_dir)
    res = pagerank(updated, max_iterations=5)
    return res.state.select("node", F.round("rank", 6).alias("rank"))


@register(
    "streaming_refresh_orders",
    oracle=f"""
    SELECT o_custkey,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6)
             AS spend,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(MAX(o_totalprice), 6) AS max_price
    FROM orders
    WHERE NOT (CAST(o_orderdate AS DATE) < DATE '{_CUTOFF}'
               AND o_orderkey % 97 = 0)
    GROUP BY o_custkey
    """,
    doc="§2.9 streaming expression of incremental view maintenance, "
    "end-to-end: the SAME (+/-) delta as incr_refresh_orders lands as two "
    "parquet files in a watched directory; a Structured Streaming file "
    "source (maxFilesPerTrigger=1, availableNow) drives one foreachBatch "
    "refresh() per file, composing two successive I7-I8 refreshes; the "
    "drained final state hash-matches the batch full-recompute oracle.",
)
def streaming_refresh_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..streaming.incremental_stream import streaming_refresh

    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit(_CUTOFF).cast("date")
    base = o.where(F.col("o_orderdate").cast("date") < cutoff)
    contribs = base.select("o_custkey", "o_orderkey", "o_totalprice").persist()
    state0 = preserve(
        contribs,
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_exprs={
            "spend": F.round(
                F.sum(F.col("o_totalprice").cast("decimal(27,6)")).cast(
                    "double"
                ),
                6,
            ),
            "n_orders": F.count(F.lit(1)),
            "max_price": F.round(F.max("o_totalprice"), 6),
        },
    )
    tmp = tempfile.mkdtemp(prefix="stream_refresh_orders_")
    # the final state's DataFrame reads these files lazily, so they can go
    # only once the caller has collected: remove them at process exit
    # rather than leak them
    _cleanup_at_exit(tmp, "")
    delta_dir = os.path.join(tmp, "delta")
    # two delta files -> two micro-batches (one refresh each); the '+' and
    # '-' sets touch disjoint source keys, so batch order doesn't matter
    plus = (
        o.where(F.col("o_orderdate").cast("date") >= cutoff)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("+"))
    )
    plus.coalesce(1).write.mode("append").parquet(delta_dir)
    (
        base.where(F.col("o_orderkey") % 97 == 0)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("-"))
        .coalesce(1)
        .write.mode("append")
        .parquet(delta_dir)
    )
    # the written rows' own schema: no schema-inference job
    stream = (
        spark.readStream.schema(plus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(delta_dir)
    )
    holder: dict[str, PreservedState] = {}

    def sink(new_state: PreservedState, _batch_id: int) -> None:
        holder["state"] = new_state

    q = streaming_refresh(
        stream,
        state0,
        sink,
        checkpoint_dir=os.path.join(tmp, "ckpt"),
        available_now=True,
    )
    try:
        drained = q.awaitTermination(300)
    finally:
        if q.isActive:
            q.stop()
    contribs.unpersist()
    if not drained or "state" not in holder:
        raise TimeoutError(
            "streaming_refresh_orders: stream did not drain within 300s"
        )
    # the last refresh's state stays cached by streaming_refresh: keep its
    # results as a checkpoint and release both caches
    final = holder["state"]
    results = final.results.localCheckpoint(eager=True)
    final.contribs.unpersist()
    final.results.unpersist()
    return results


# ---------------------------------------------------------------------------
# I9 change-propagation-pruned incremental iteration. The reference's filter
# threshold (mapred.iterative.filter.threshold) makes each incremental
# iteration emit only results that moved >= theta and re-reduce only the
# groups fed by those results (MapTask.java:1291-1400 change detection;
# ReduceTask.java:3399-3428 threshold filter, :3506-3700 pruned re-reduce).
# For PageRank the aggregate is linear, so the pruned iteration propagates
# rank DELTAS: mass_i(v) = mass_{i-1}(v) + sum over changed in-neighbors of
# delta(u)/deg(u) — per-iteration work is O(|frontier| x avg-degree), not
# O(|E|), and the frontier shrinks as the loop approaches the fixpoint.
# ``pagerank(prune_below=theta)`` runs it: round 1 is the full refresh step
# from the warm ranks, every later round one pruned iteration.


_PRUNED_THETA = 0.01
_PRUNED_WARM_ITERS = 6
_PRUNED_ITERS = 4


def _pagerank_pruned_sql(
    warm_iters: int, pruned_iters: int, theta: float
) -> str:
    """CTE chain mirroring warm-start + full refresh step + theta-pruned
    delta-propagation iterations on the delta-applied graph."""
    parts = [
        f"WITH bedges AS MATERIALIZED ({_EDGES_BASE_SQL}),",
        "bnodes AS MATERIALIZED (SELECT src AS node FROM bedges"
        " UNION SELECT dst FROM bedges),",
        "bdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM bedges"
        " GROUP BY src),",
        "b0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM bnodes)",
    ]
    for i in range(1, warm_iters + 1):
        parts.append(
            f""", b{i} AS MATERIALIZED (
  SELECT n.node, 0.2 + 0.8 * COALESCE(c.mass, 0.0) AS rank
  FROM bnodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / bdeg.d) AS mass
    FROM b{i-1} r JOIN bedges e ON r.node = e.src
    JOIN bdeg ON bdeg.src = e.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    parts.append(
        f""", edges AS MATERIALIZED ({_UPDATED_EDGES_SQL}),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),
warm AS MATERIALIZED (
  SELECT n.node, COALESCE(b.rank, 1.0) AS rank
  FROM nodes n LEFT JOIN b{warm_iters} b ON n.node = b.node
),
m0 AS MATERIALIZED (
  SELECT e.dst AS node, SUM(w.rank / d.d) AS mass
  FROM warm w JOIN edges e ON w.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
s0 AS MATERIALIZED (
  SELECT n.node, COALESCE(m.mass, 0.0) AS mass,
         0.2 + 0.8 * COALESCE(m.mass, 0.0) AS rank,
         0.2 + 0.8 * COALESCE(m.mass, 0.0) - w.rank AS delta
  FROM nodes n LEFT JOIN m0 m ON n.node = m.node
  JOIN warm w ON w.node = n.node
)"""
    )
    for i in range(1, pruned_iters + 1):
        parts.append(
            f""", c{i} AS MATERIALIZED (
  SELECT node, delta FROM s{i-1} WHERE ABS(delta) >= {theta!r}
), p{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(c.delta / d.d) AS corr
  FROM c{i} c JOIN edges e ON c.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), s{i} AS MATERIALIZED (
  SELECT s.node, s.mass + COALESCE(p.corr, 0.0) AS mass,
         0.2 + 0.8 * (s.mass + COALESCE(p.corr, 0.0)) AS rank,
         0.8 * COALESCE(p.corr, 0.0) AS delta
  FROM s{i-1} s LEFT JOIN p{i} p ON s.node = p.node
)"""
        )
    parts.append(
        f"SELECT node, ROUND(rank, 6) AS rank FROM s{pruned_iters}"
    )
    return "\n".join(parts)


_EDGES_BASE_SQL = f"""
  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
  WHERE CAST(l_shipdate AS DATE) < DATE '{_EDGE_CUTOFF}'
"""


@register(
    "incr_pagerank_pruned4",
    oracle=_pagerank_pruned_sql(_PRUNED_WARM_ITERS, _PRUNED_ITERS, _PRUNED_THETA),
    doc="I9 change-propagation-pruned incremental PageRank: warm-start from "
    "6 bounded base iterations, apply the (+/-) edge delta, one full refresh "
    "step, then 4 iterations that propagate only deltas >= theta=0.01 "
    "(filter threshold, ReduceTask.java:3399-3428) — per-iteration work "
    "tracks the shrinking frontier, not |E|.",
)
def incr_pagerank_pruned4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import pagerank

    base, delta = _pagerank_delta_edges(spark, sf_dir)
    warm = pagerank(base, max_iterations=_PRUNED_WARM_ITERS)
    updated = apply_edge_delta(base, delta)
    res = pagerank(
        updated,
        init_state=warm.state,
        prune_below=_PRUNED_THETA,
        max_iterations=_PRUNED_ITERS + 1,
    )
    return res.state.select("node", F.round("rank", 6).alias("rank"))


def _dataset_fingerprint(sf_dir: str, table: str) -> str:
    """Content fingerprint of a dataset table: md5 over the sorted
    (name, size, mtime_ns) of its parquet files. Keys cross-run snapshot
    caches so a REGENERATED dataset at the same path invalidates them (a
    path-only key would silently warm-start from stale state)."""
    import hashlib

    root = os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    entries = []
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for fn in sorted(files):
                st = os.stat(os.path.join(dirpath, fn))
                rel = os.path.relpath(os.path.join(dirpath, fn), root)
                entries.append(f"{rel}|{st.st_size}|{st.st_mtime_ns}")
    elif os.path.isfile(root):
        st = os.stat(root)
        entries.append(f"{table}|{st.st_size}|{st.st_mtime_ns}")
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()[:16]


def _converged_base_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The preserved converged base state (I5 iteration snapshot / I6
    preserve): computed at most once per dataset and persisted to parquet —
    the reference keeps exactly this state resident in its MRBG-store
    between the initial converged run and later incremental runs
    (IncrPageRank.java:176-212 reads it back; it never recomputes the cold
    fixpoint inside the incremental job). The snapshot path is keyed on a
    content fingerprint of the source table, not just the path, so a
    regenerated dataset never resurrects a stale fixpoint."""
    import re
    import tempfile

    from .iterative import pagerank

    slug = re.sub(
        r"[^0-9a-zA-Z]+", "_", os.path.abspath(sf_dir)
    ).strip("_").lower()
    fp = _dataset_fingerprint(sf_dir, "lineitem")
    path = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_snapshots",
        f"pagerank_base_{slug}_{fp}",
    )
    if not os.path.isfile(os.path.join(path, "_SUCCESS")):
        import shutil

        base, _ = _pagerank_delta_edges(spark, sf_dir)
        converged = pagerank(base, max_iterations=60, threshold=1.0)
        # Write to a PID-unique staging dir, then atomically rename into
        # place: two concurrent processes racing on a cold cache each write
        # their own staging dir, one rename wins, and no reader ever sees a
        # half-written snapshot (the preserve store's shared-path overwrite
        # race applies here too).
        tmp = f"{path}.tmp.{os.getpid()}"
        converged.state.select("node", "rank").write.mode("overwrite").parquet(
            tmp
        )
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race: reuse
        # Retire snapshots of OTHER fingerprints for this dataset path —
        # each regeneration changes the fingerprint, and without cleanup the
        # stale dirs accumulate in the tempdir forever. Skip in-flight
        # ".tmp." staging dirs of concurrent writers.
        snap_root = os.path.dirname(path)
        prefix = f"pagerank_base_{slug}_"
        for d in os.listdir(snap_root):
            if (
                d.startswith(prefix)
                and ".tmp." not in d
                and d != os.path.basename(path)
            ):
                shutil.rmtree(os.path.join(snap_root, d), ignore_errors=True)
    return spark.read.parquet(path)


def _reconverge_sql(
    base_rounds: int = 12,
    pruned_rounds: int = 10,
    base_theta: float = 1.0,
    theta: float = 1e-3,
) -> str:
    """Exact oracle for the DOUBLY convergence-driven incremental loop:
    both stop rounds are data-dependent and both are picked in SQL by the
    loop's own rules (the pagerank_converged pattern applied twice).

    Phase 1 — base fixpoint: unroll ``base_rounds`` power iterations on the
    pre-cutoff graph; per-round L1-delta scalars pick the first round ≤
    ``base_theta`` (the θ=1.0 termination the preserved snapshot was built
    with). Phase 2 — pruned re-convergence: warm-start the delta-applied
    graph from that state, one full refresh step, then ``pruned_rounds``
    θ-pruned delta-propagation rounds with per-round frontier-size scalars;
    the loop ends at the first EMPTY frontier (I4 reference-style: the
    frontier count IS the convergence signal), keeping the state of the
    round before it. Either phase failing to stop inside its unroll poisons
    every rank to −1 — a COALESCE-only formulation would silently
    cold-start from 1.0 instead, which is exactly the bug class the poison
    exists to surface. Fixture stop rounds: base 4 / 8, frontier empties
    at round 5 / 6 (sf0.001 / sf0.01), margins ≥ 2.5% of θ."""
    parts = [
        f"WITH bedges AS MATERIALIZED ({_EDGES_BASE_SQL}),",
        "bnodes AS MATERIALIZED (SELECT src AS node FROM bedges"
        " UNION SELECT dst FROM bedges),",
        "bdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d"
        " FROM bedges GROUP BY src),",
        "b0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM bnodes)",
    ]
    for i in range(1, base_rounds + 1):
        parts.append(
            f""", b{i} AS MATERIALIZED (
  SELECT n.node, 0.2 + 0.8 * COALESCE(c.mass, 0.0) AS rank
  FROM bnodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / bdeg.d) AS mass
    FROM b{i-1} r JOIN bedges e ON r.node = e.src
    JOIN bdeg ON bdeg.src = e.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    bdeltas = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, SUM(ABS(a.rank - b.rank)) AS d"
        f" FROM b{i} a JOIN b{i-1} b ON a.node = b.node"
        for i in range(1, base_rounds + 1)
    )
    ballr = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, node, rank FROM b{i}"
        for i in range(1, base_rounds + 1)
    )
    parts.append(
        f""", bdeltas AS MATERIALIZED (
{bdeltas}
), bstop AS (SELECT MIN(rnd) AS rnd FROM bdeltas WHERE d <= {base_theta!r}),
ballr AS (
{ballr}
), bstate AS MATERIALIZED (
  SELECT a.node, a.rank FROM ballr a CROSS JOIN bstop bs
  WHERE a.rnd = COALESCE(bs.rnd, {base_rounds})
), edges AS MATERIALIZED ({_UPDATED_EDGES_SQL}),
nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),
warm AS MATERIALIZED (
  SELECT n.node, COALESCE(b.rank, 1.0) AS rank
  FROM nodes n LEFT JOIN bstate b ON n.node = b.node
),
m0 AS MATERIALIZED (
  SELECT e.dst AS node, SUM(w.rank / d.d) AS mass
  FROM warm w JOIN edges e ON w.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
),
s0 AS MATERIALIZED (
  SELECT n.node, COALESCE(m.mass, 0.0) AS mass,
         0.2 + 0.8 * COALESCE(m.mass, 0.0) AS rank,
         0.2 + 0.8 * COALESCE(m.mass, 0.0) - w.rank AS delta
  FROM nodes n LEFT JOIN m0 m ON n.node = m.node
  JOIN warm w ON w.node = n.node
)"""
    )
    for i in range(1, pruned_rounds + 1):
        parts.append(
            f""", c{i} AS MATERIALIZED (
  SELECT node, delta FROM s{i-1} WHERE ABS(delta) >= {theta!r}
), p{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(c.delta / d.d) AS corr
  FROM c{i} c JOIN edges e ON c.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
), s{i} AS MATERIALIZED (
  SELECT s.node, s.mass + COALESCE(p.corr, 0.0) AS mass,
         0.2 + 0.8 * (s.mass + COALESCE(p.corr, 0.0)) AS rank,
         0.8 * COALESCE(p.corr, 0.0) AS delta
  FROM s{i-1} s LEFT JOIN p{i} p ON s.node = p.node
)"""
        )
    # frontier c_{pruned_rounds+1} checks the LAST state too, so a loop
    # that empties exactly at the unroll boundary is still in range
    parts.append(
        f""", c{pruned_rounds + 1} AS MATERIALIZED (
  SELECT node, delta FROM s{pruned_rounds} WHERE ABS(delta) >= {theta!r}
)"""
    )
    fcs = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, COUNT(*) AS fc FROM c{i}"
        for i in range(1, pruned_rounds + 2)
    )
    alls = "\nUNION ALL\n".join(
        f"  SELECT {i} AS rnd, node, rank FROM s{i}"
        for i in range(0, pruned_rounds + 1)
    )
    parts.append(
        f""", fcs AS MATERIALIZED (
{fcs}
), pstop AS (SELECT MIN(rnd) AS rnd FROM fcs WHERE fc = 0),
alls AS (
{alls}
)
SELECT a.node,
       CASE WHEN bs.rnd IS NOT NULL AND ps.rnd IS NOT NULL
            THEN ROUND(a.rank, 6) ELSE -1.0 END AS rank
FROM alls a CROSS JOIN pstop ps CROSS JOIN bstop bs
WHERE a.rnd = COALESCE(ps.rnd, {pruned_rounds + 1}) - 1"""
    )
    return "\n".join(parts)


@register(
    "incr_pagerank_reconverge",
    oracle=_reconverge_sql(),
    doc="incremental iterative re-convergence (IncrPageRank.java:227-267): "
    "warm-start from the PRESERVED converged base ranks (parquet snapshot, "
    "computed once per dataset) after the delta, then I9 frontier-pruned "
    "iterations until the frontier empties (every remaining delta < theta "
    "— the reference's filter-threshold termination). The query times "
    "delta-apply + pruned re-convergence only, like the reference's "
    "incremental job. EXACT oracle despite BOTH round counts being "
    "data-dependent: unrolled chains pick the base stop by L1 delta and "
    "the pruned stop by first-empty-frontier, poisoning if either unroll "
    "is too short.",
)
def incr_pagerank_reconverge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import pagerank

    base, delta = _pagerank_delta_edges(spark, sf_dir)
    converged_state = _converged_base_ranks(spark, sf_dir)
    updated = apply_edge_delta(base, delta)
    res = pagerank(
        updated, init_state=converged_state, prune_below=1e-3, max_iterations=61
    )
    return res.state.select("node", F.round("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# §2.9 × §3.3: STREAMING incremental graph maintenance — micro-batched edge
# deltas drive warm-started re-ranking, the streaming expression of the
# reference's IncrPageRank flow (delta file → refresh → re-converge,
# IncrPageRank.java:176-267) with every stage bounded so the whole stream is
# exactly hash-checkable.

_SPR_C1 = "1996-07-01"
_SPR_C2 = "1997-07-01"
_SPR_BASE_ITERS = 3
_SPR_BATCH_ITERS = 2


def _spr_warm_rounds_sql(edges_cte: str, warm_cte: str, pre: str, rounds: int) -> str:
    """Warm-started bounded PageRank rounds over ``edges_cte`` starting from
    ``warm_cte`` (node, rank); emits MATERIALIZED CTEs, final = {pre}r{rounds}."""
    parts = [
        f""", {pre}n AS MATERIALIZED (
  SELECT src AS node FROM {edges_cte} UNION SELECT dst FROM {edges_cte}
), {pre}d AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM {edges_cte} GROUP BY src
), {pre}r0 AS MATERIALIZED (
  SELECT n.node, COALESCE(w.rank, 1.0) AS rank
  FROM {pre}n n LEFT JOIN {warm_cte} w ON n.node = w.node
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", {pre}r{i} AS MATERIALIZED (
  SELECT n.node, 0.2 + 0.8 * COALESCE(c.mass, 0.0) AS rank
  FROM {pre}n n LEFT JOIN (
    SELECT e.dst AS node, SUM(r.rank / d.d) AS mass
    FROM {pre}r{i-1} r JOIN {edges_cte} e ON r.node = e.src
    JOIN {pre}d d ON d.src = e.src
    GROUP BY e.dst
  ) c ON n.node = c.node
)"""
        )
    return "".join(parts)


def _spr_oracle() -> str:
    k = _SPR_BATCH_ITERS
    parts = [
        f"""WITH bedges AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
  WHERE CAST(l_shipdate AS DATE) < DATE '{_SPR_C1}'
), w1 AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '{_SPR_C1}'
    AND CAST(l_shipdate AS DATE) < DATE '{_SPR_C2}'
), w2 AS MATERIALIZED (
  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '{_SPR_C2}'
), init AS (SELECT CAST(NULL AS BIGINT) AS node,
                   CAST(NULL AS DOUBLE) AS rank WHERE 1 = 0)"""
    ]
    # base: 3 cold rounds on bedges (warm = empty -> every node starts 1.0)
    parts.append(_spr_warm_rounds_sql("bedges", "init", "b", _SPR_BASE_ITERS))
    parts.append(
        f""", e1 AS MATERIALIZED (
  SELECT src, dst FROM bedges WHERE (src + dst) % 17 <> 0
  UNION ALL
  SELECT w.src, w.dst FROM w1 w
  WHERE NOT EXISTS (SELECT 1 FROM bedges b
                    WHERE b.src = w.src AND b.dst = w.dst)
)"""
    )
    parts.append(_spr_warm_rounds_sql("e1", f"br{_SPR_BASE_ITERS}", "u", k))
    parts.append(
        f""", e2 AS MATERIALIZED (
  SELECT src, dst FROM e1 WHERE (src + dst) % 19 <> 0
  UNION ALL
  SELECT w.src, w.dst FROM w2 w
  WHERE NOT EXISTS (SELECT 1 FROM e1 p
                    WHERE p.src = w.src AND p.dst = w.dst)
)"""
    )
    parts.append(_spr_warm_rounds_sql("e2", f"ur{k}", "v", k))
    parts.append(f"\nSELECT node, ROUND(rank, 6) AS rank FROM vr{k}")
    return "".join(parts)


@register(
    "streaming_incr_pagerank",
    oracle=_spr_oracle(),
    doc="STREAMING incremental graph maintenance (§2.9 applied to the "
    "IncrPageRank flow, IncrPageRank.java:176-267): two sequenced (+/-) "
    "edge-delta files land in a watched directory; a foreachBatch handler "
    "applies each delta to the live edge relation (I7 anti-join/union) and "
    "re-ranks with 2 bounded iterations warm-started from the previous "
    "state (I3). Deltas carry a seq column and the handler applies them in "
    "seq order WITHIN each micro-batch too, so the result is deterministic "
    "under any batching. Every stage is bounded, so the full stream is "
    "exactly hash-checked: oracle = base chain + per-delta warm chains.",
)
def streaming_incr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from .iterative import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    ship = F.col("l_shipdate").cast("date")
    c1, c2 = F.lit(_SPR_C1).cast("date"), F.lit(_SPR_C2).cast("date")

    def _pairs(cond):
        return (
            li.where(cond)
            .select(
                F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
            )
            .distinct()
        )

    base = _pairs(ship < c1).persist()
    # released also when a micro-batch or a pagerank call raises
    try:
        base.count()
        ranks0 = (
            pagerank(base, max_iterations=_SPR_BASE_ITERS)
            .state.select("node", "rank")
            .localCheckpoint(eager=True)
        )
        w1 = _pairs((ship >= c1) & (ship < c2))
        w2 = _pairs(ship >= c2)
        adds1 = w1.join(base, ["src", "dst"], "left_anti").select(
            "src", "dst", F.lit("+").alias("op"), F.lit(1).alias("seq")
        )
        rm1 = base.where((F.col("src") + F.col("dst")) % 17 == 0).select(
            "src", "dst", F.lit("-").alias("op"), F.lit(1).alias("seq")
        )
        e1 = apply_edge_delta(
            base, adds1.unionByName(rm1).drop("seq")
        ).localCheckpoint(eager=True)
        adds2 = w2.join(e1, ["src", "dst"], "left_anti").select(
            "src", "dst", F.lit("+").alias("op"), F.lit(2).alias("seq")
        )
        rm2 = e1.where((F.col("src") + F.col("dst")) % 19 == 0).select(
            "src", "dst", F.lit("-").alias("op"), F.lit(2).alias("seq")
        )

        tmp = tempfile.mkdtemp(prefix="stream_incr_pagerank_")
        _cleanup_at_exit(tmp, "")
        delta_dir = os.path.join(tmp, "deltas")
        os.makedirs(delta_dir, exist_ok=True)
        # write each delta separately and move its single part file into the
        # watch dir under a controlled name + mtime: the file source
        # (maxFilesPerTrigger=1, oldest first) then delivers the deltas as two
        # ordered micro-batches; the seq-order loop below stays correct even if
        # they coalesce into one batch
        import shutil
        import time as _time

        now = _time.time()
        deltas = [adds1.unionByName(rm1), adds2.unionByName(rm2)]
        for k, d in enumerate(deltas):
            staging = os.path.join(tmp, f"stage_{k}")
            d.coalesce(1).write.mode("overwrite").parquet(staging)
            part = next(
                f for f in os.listdir(staging) if f.endswith(".parquet")
            )
            dest = os.path.join(delta_dir, f"delta-{k:03d}.parquet")
            shutil.move(os.path.join(staging, part), dest)
            os.utime(dest, (now + 60 * k, now + 60 * k))

        # the written rows' own schema: no schema-inference job
        stream = (
            spark.readStream.schema(deltas[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(delta_dir)
        )
        holder = {"edges": base, "ranks": ranks0}

        def process_batch(batch_df: DataFrame, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            batch_df = batch_df.localCheckpoint(eager=True)
            seqs = sorted(
                r["seq"] for r in batch_df.select("seq").distinct().collect()
            )
            for s in seqs:
                delta = batch_df.where(F.col("seq") == s).drop("seq")
                new_edges = apply_edge_delta(
                    holder["edges"], delta
                ).localCheckpoint(eager=True)
                new_ranks = (
                    pagerank(
                        new_edges,
                        max_iterations=_SPR_BATCH_ITERS,
                        init_state=holder["ranks"],
                    )
                    .state.select("node", "rank")
                    .localCheckpoint(eager=True)
                )
                holder["edges"] = new_edges
                holder["ranks"] = new_ranks

        q = (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            drained = q.awaitTermination(300)
        finally:
            if q.isActive:
                q.stop()
    finally:
        base.unpersist()
    if not drained:
        raise TimeoutError(
            "streaming_incr_pagerank: stream did not drain within 300s"
        )
    return holder["ranks"].select("node", F.round("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# SCD Type-2 dimension maintenance — the VERSIONED-history alternative to
# this module's anti-join retraction: instead of replacing a group's state
# in place, an update CLOSES the current version (valid_to = the update
# era) and opens a new one. The Hive-era warehouses the reference lived in
# maintained every dimension this way; on Spark it is a pair of
# broadcast-able joins plus a union, and the history table stays
# append-only (the immutable-layer property the PreserveStore already
# relies on).


def scd2_apply(
    current: DataFrame,
    changes: DataFrame,
    *,
    key_cols: list[str],
    era: int,
    open_era_col: str = "valid_from",
    close_era_col: str = "valid_to",
    current_col: str = "is_current",
    open_end: int = 999_999,
) -> DataFrame:
    """Apply one era of changes to an SCD2 history table.

    ``current``: the existing history (attribute columns + the three SCD
    bookkeeping columns). ``changes``: one row per key with the NEW
    attribute values (updates for existing keys, inserts for new keys).
    Rows whose key is untouched pass through; the touched keys' CURRENT
    versions close at ``era``; every change row opens a version
    [era, open_end). One wide shuffle on the key (both joins share it),
    history never rewritten in place."""
    keys = list(key_cols)
    live = current.where(F.col(current_col))
    closed_history = current.where(~F.col(current_col))
    touched = changes.select(*keys).distinct()
    untouched_live = live.join(touched, keys, "left_anti")
    closing = live.join(touched, keys, "left_semi").withColumns(
        {close_era_col: F.lit(era), current_col: F.lit(False)}
    )
    opening = changes.withColumns(
        {
            open_era_col: F.lit(era),
            close_era_col: F.lit(open_end),
            current_col: F.lit(True),
        }
    )
    return (
        closed_history.unionByName(untouched_live)
        .unionByName(closing)
        .unionByName(opening.select(*closed_history.columns))
    )


@register(
    "scd2_customer_history",
    oracle="""
    WITH changes AS (
      SELECT c_custkey, ROUND(c_acctbal + 100, 6) AS acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey,
             ROUND(c_acctbal, 6) AS acctbal
      FROM customer WHERE c_custkey % 13 = 0
    )
    SELECT c.c_custkey, ROUND(c.c_acctbal, 6) AS acctbal,
           CAST(0 AS BIGINT) AS valid_from,
           CAST(CASE WHEN c.c_custkey % 7 = 0 THEN 1 ELSE 999999 END
                AS BIGINT) AS valid_to,
           c.c_custkey % 7 <> 0 AS is_current
    FROM customer c
    UNION ALL
    SELECT c_custkey, acctbal,
           CAST(1 AS BIGINT) AS valid_from,
           CAST(999999 AS BIGINT) AS valid_to,
           TRUE AS is_current
    FROM changes
    """,
    doc="SCD Type-2 dimension maintenance (the versioned-history "
    "alternative to anti-join retraction — how Hive-era warehouses "
    "maintained every dimension): era-1 changes (every 7th customer's "
    "balance moves by +100, every 13th spawns a NEW key) CLOSE the "
    "affected current versions (valid_to = 1) and open new ones; "
    "untouched rows pass through. History is append-only — two "
    "key-shuffles (semi + anti on the same key, one exchange under AQE "
    "reuse) and a union, never an in-place rewrite. Output = the full "
    "versioned history.",
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.round("c_acctbal", 6).alias("acctbal"),
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(999_999).cast("bigint").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = (
        c.where(F.col("c_custkey") % 7 == 0)
        .select(
            "c_custkey",
            F.round(F.col("c_acctbal") + 100, 6).alias("acctbal"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                F.round("c_acctbal", 6).alias("acctbal"),
            )
        )
    )
    out = scd2_apply(base, changes, key_cols=["c_custkey"], era=1)
    return out.select(
        "c_custkey",
        "acctbal",
        F.col("valid_from").cast("bigint").alias("valid_from"),
        F.col("valid_to").cast("bigint").alias("valid_to"),
        "is_current",
    )


@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH history AS (
      SELECT c_custkey, ROUND(c_acctbal, 6) AS acctbal,
             0 AS valid_from,
             CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 999999 END AS valid_to
      FROM customer
      UNION ALL
      SELECT c_custkey, ROUND(c_acctbal + 100, 6) AS acctbal,
             1 AS valid_from, 999999 AS valid_to
      FROM customer WHERE c_custkey % 7 = 0
    ),
    fact AS (
      SELECT o_custkey,
             CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
                  THEN 1 ELSE 0 END AS era,
             o_totalprice
      FROM orders
    )
    SELECT f.era,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(h.acctbal), 6) AS acctbal_total
    FROM fact f
    JOIN history h
      ON h.c_custkey = f.o_custkey
     AND f.era >= h.valid_from AND f.era < h.valid_to
    GROUP BY f.era
    """,
    doc="temporal POINT-IN-TIME join against the SCD2 history — THE "
    "standard warehouse query over a versioned dimension: each order "
    "joins the customer version that was valid in the order's era "
    "(pre/post-1996), never the current one. Plan shape: equi-join on "
    "the customer key carries the shuffle; the validity range is a "
    "cheap residual filter on the matched rows (a naive BETWEEN-only "
    "join would be a range join — the equi key keeps it hash-joinable "
    "at any scale). Updated keys contribute DIFFERENT balances to the "
    "two eras, so version-selection bugs break the hash.",
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        F.round("c_acctbal", 6).alias("acctbal"),
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(999_999).cast("bigint").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = c.where(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.round(F.col("c_acctbal") + 100, 6).alias("acctbal")
    )
    history = scd2_apply(base, changes, key_cols=["c_custkey"], era=1)
    o = load_table(spark, sf_dir, "orders")
    fact = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.when(
            F.col("o_orderdate").cast("date")
            >= F.lit("1996-01-01").cast("date"),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("era"),
        "o_totalprice",
    )
    joined = fact.join(history, "c_custkey").where(
        (F.col("era") >= F.col("valid_from"))
        & (F.col("era") < F.col("valid_to"))
    )
    return joined.groupBy("era").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("acctbal"), 6).alias("acctbal_total"),
    )
