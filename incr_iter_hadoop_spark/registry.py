"""Query registry: name → (Spark builder, DuckDB oracle SQL).

Every operator from SURVEY.md §2 that the engine claims is registered here
with a Spark DataFrame builder ``fn(spark, sf_dir) -> DataFrame`` and, when
SQL-expressible, an ANSI-SQL oracle string the driver runs on DuckDB against
the same parquet tables. Column aliases MUST match between the two sides;
float aggregates are rounded to 6 decimals on BOTH sides so engine-order
summation noise can't flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → driver records a weaker rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query builder to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from .operators import (  # noqa: F401
        aggregates,
        dedup,
        generators,
        incremental,
        iterative,
        joins,
        multimodal,
        pipeline,
        relational,
        sampling,
        scd2_queries,
        setops,
        similarity,
        textops,
        tpch_extra,
        udfs,
        windows,
    )


# ---------------------------------------------------------------------------
# Driver-visible ordering. The correctness driver hash-checks exactly the
# FIRST 50 entries of ``queries()`` in dict order, so those 50 are chosen
# by policy, not by import order; every other query stays covered by
# pytest's oracle-parity run.
#
# Policy (``compute_first_window``): the WINDOW_PRIORITY names come first —
# queries new in window round WINDOW_ROUND, and queries on code paths that
# round changed, which no earlier driver row can have witnessed. The other
# slots go to the oracle-checked names whose latest driver CORRECTNESS row
# (the CORRECTNESS_r*.json files at the repo root) is oldest, ties
# alphabetical, so each rotation re-witnesses the stalest part of the
# ledger and every family keeps a green witness across windows. Queries
# without an oracle never take a slot: a rows-only row adds no evidence.
# FIRST_WINDOW pins the computed list and tests/test_registry_window.py
# checks it against compute_first_window(); to rotate, bump WINDOW_ROUND
# and WINDOW_PRIORITY together and re-pin. Earlier windows are in git.
WINDOW_ROUND = 13

# new queries of this window round (no CORRECTNESS row can exist yet) +
# queries on code paths it touched — these outrank staleness
WINDOW_PRIORITY: list[str] = [
    # new: the oscillation-guarded converged LPA, the per-language CCNet
    # buckets, the parameterized exact 3-way split
    "lpa_converged",
    "sample_quality_buckets_by_lang",
    "sample_exact_split_3way",
    # new: SemDeDup cluster-then-prune over embeddings + its
    # preserve/delta incremental variant
    "semantic_dedup_prune",
    "incr_semantic_dedup",
    # new: the composed curation capstone (quality buckets ∩ SemDeDup
    # survivors → exact per-source split)
    "pipeline_curated_split",
    # moved onto the shared stratified_rank helper (same plan, new code
    # path) — re-witness
    "sample_exact_quota",
    # new: the fastText-style hashed linear quality classifier and the
    # sqrt-temperature cluster-balanced sampler over the SemDeDup/IVF
    # quantizer cells
    "text_classifier_filter",
    "sample_cluster_balanced",
]


def latest_witness_rounds(upto_round: int) -> dict[str, int]:
    """name → most recent round (< upto_round) with a driver CORRECTNESS
    row, parsed from the committed CORRECTNESS_r*.json files at the repo
    root. Inputs are immutable once a round closes, so the computation is
    stable for a fixed ``upto_round``."""
    import glob
    import json
    import os
    import re as _re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1))
        if rnd >= upto_round:
            continue
        with open(path) as f:
            recs = json.load(f)
        for name, row in recs.items():
            if isinstance(row, dict):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def compute_first_window(size: int = 50) -> list[str]:
    """The round-``WINDOW_ROUND`` window: priority names first, then the
    stalest-witness oracle-checked names (ties alphabetical)."""
    specs = all_queries()
    latest = latest_witness_rounds(WINDOW_ROUND)
    window = [n for n in WINDOW_PRIORITY if n in specs]
    fill = sorted(
        (
            n
            for n in specs
            if n not in window and specs[n].oracle is not None
        ),
        key=lambda n: (latest.get(n, 0), n),
    )
    return window + fill[: size - len(window)]


FIRST_WINDOW: list[str] = [
    # compute_first_window(): the nine WINDOW_PRIORITY names, then the
    # stalest-witness fill
    "lpa_converged",
    "sample_quality_buckets_by_lang",
    "sample_exact_split_3way",
    "semantic_dedup_prune",
    "incr_semantic_dedup",
    "pipeline_curated_split",
    "sample_exact_quota",
    "text_classifier_filter",
    "sample_cluster_balanced",
    "scalar_battery",
    "scan_pruned_filter",
    "scan_text_kv_roundtrip",
    "scan_webdataset_shards",
    "setop_except",
    "sort_validate",
    "spmv_bounded2",
    "sssp_bounded4",
    "sssp_converged",
    "streaming_refresh_orders",
    "text_chunk_windows",
    "text_quality",
    "text_token_stats",
    "topk_customers",
    "udf_grouped_agg",
    "udtf_explode_bigrams",
    "window_battery",
    "agg_approx_distinct_bounded",
    "ann_ivf_topk",
    "bm25_scores",
    "dedup_cc_star",
    "dedup_substring_spans",
    "er_fuzzy_name_pairs",
    "events_session_streamed",
    "graph_triangle_count",
    "incr_dedup_clusters",
    "incr_dedup_minhash_delete",
    "incr_dedup_substring",
    "incr_kmeans_delta2",
    "incr_refresh_orders_disk",
    "incr_spmv_delta1",
    "iteration_snapshot_roundtrip",
    "join_asof",
    "join_null_safe",
    "kmeans_converged",
    "multimodal_png_decode",
    "multimodal_png_resize",
    "multimodal_wav_decode",
    "pack_sequences",
    "pagerank_converged",
    "pipeline_build_training_set",
]


def all_queries() -> dict[str, QuerySpec]:
    _load_all()
    ordered: dict[str, QuerySpec] = {}
    for name in FIRST_WINDOW:
        if name in _REGISTRY:
            ordered[name] = _REGISTRY[name]
    for name, spec in _REGISTRY.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_queries().items()
        if spec.oracle is not None
    }
