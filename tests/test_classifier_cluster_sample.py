"""Round-13 second wave: hashed linear classifier + cluster-balanced
sampling. Semantics on hand-built fixtures with an independent Python
recompute, plus the broadcast/no-product plan pins."""

from __future__ import annotations

import pytest

import hashlib
import math

from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.similarity import (
    cluster_balanced_sample,
)
from incr_iter_hadoop_spark.operators.textops import (
    CLF_BUCKETS,
    classifier_score,
    classifier_weights,
)


def _w(bucket: int) -> int:
    h = hashlib.md5(f"ftw|{bucket}".encode()).hexdigest()
    return int(h[:4], 16) % 201 - 100


def _bucket(feat: str) -> int:
    h = hashlib.md5(f"ftf|{feat}".encode()).hexdigest()
    return int(h[:4], 16) % CLF_BUCKETS


def _margin(text: str) -> tuple[int, int]:
    toks = [t for t in text.strip().split(" ") if t]
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    return len(feats), sum(_w(_bucket(f)) for f in feats)


def test_classifier_margin_matches_reference_recompute(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "single"),
            (3, "  padded   text  "),
            (4, "a a a a"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in classifier_score(docs, classifier_weights(spark)).collect()
    }
    for doc_id, text in [
        (1, "the quick brown fox"),
        (2, "single"),
        (3, "  padded   text  "),
        (4, "a a a a"),
    ]:
        n, m = _margin(text)
        assert out[doc_id]["n_feats"] == n, doc_id
        assert out[doc_id]["margin"] == m, doc_id
        assert out[doc_id]["keep"] == (m >= 0), doc_id
    # a single-token doc has exactly one (unigram) feature — the bigram
    # guard must not inject anything
    assert out[2]["n_feats"] == 1


def test_classifier_empty_doc_drops_like_oracle(spark):
    docs = spark.createDataFrame(
        [(1, "some text"), (2, "   "), (3, "")],
        "doc_id bigint, text string",
    )
    out = classifier_score(docs, classifier_weights(spark)).collect()
    assert {r["doc_id"] for r in out} == {1}


def test_classifier_weights_are_bounded_ints(spark):
    rows = classifier_weights(spark).collect()
    assert len(rows) == CLF_BUCKETS
    assert all(-100 <= r["w"] <= 100 for r in rows)
    # sanity: the derivation matches the oracle's arithmetic
    assert all(r["w"] == _w(r["bucket"]) for r in rows[:32])


def test_classifier_plan_broadcasts_weights_no_product(spark, sf_dir):
    from incr_iter_hadoop_spark.registry import all_queries

    df = all_queries()["text_classifier_filter"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _vectors(spark, n: int):
    # deterministic spread over 4 axes → 4 cells under a 4-centroid
    # quantizer (centroids = vec_id 0..3, the four unit axes)
    rows = []
    for i in range(n):
        axis = i % 4
        vec = [0.0] * 4
        vec[axis] = 1.0
        vec[(axis + 1) % 4] = 0.01 * (i % 7)  # break exact ties
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cluster_balanced_quota_is_floor_sqrt(spark):
    vs = _vectors(spark, 64)  # 16 vectors per cell → quota 4 per cell
    out = cluster_balanced_sample(vs, n_cells=4).collect()
    per_cell: dict[int, list] = {}
    for r in out:
        per_cell.setdefault(r["cell"], []).append(r)
    assert set(per_cell) == {0, 1, 2, 3}
    for cell, rows in per_cell.items():
        n_c = rows[0]["cell_n"]
        quota = int(math.isqrt(n_c))
        assert rows[0]["quota"] == quota
        assert len(rows) == quota, cell
        assert sorted(r["rk"] for r in rows) == list(range(1, quota + 1))


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_cluster_balanced_selection_is_md5_order(spark):
    vs = _vectors(spark, 32)
    out = cluster_balanced_sample(vs, n_cells=4).collect()
    # recompute: members of each cell sorted by md5('cbal|'||id); the
    # selected ids must be the first quota of that order
    # group ALL 32 ids by cell via the quantizer pass itself (the output
    # only carries selected ids), then check the md5-prefix rule
    from incr_iter_hadoop_spark.operators.similarity import _semantic_assign

    asgn: dict[int, list[int]] = {}

    full = _semantic_assign(vs, 4, "vec_id", "embedding").collect()
    for r in full:
        asgn.setdefault(r["cell"], []).append(r["nid"])
    for cell, ids in asgn.items():
        order = sorted(
            ids, key=lambda i: hashlib.md5(f"cbal|{i}".encode()).hexdigest()
        )
        quota = int(math.isqrt(len(ids)))
        expect = set(order[:quota])
        got = {r["vec_id"] for r in out if r["cell"] == cell}
        assert got == expect, cell


def test_cluster_balanced_plan_no_product_no_global_window(spark, sf_dir):
    from incr_iter_hadoop_spark.registry import all_queries

    df = all_queries()["sample_cluster_balanced"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # quotas enter as a broadcast
    assert "BroadcastHashJoin" in plan
    # the quantizer pass (the only nested loop — the 1-row broadcast
    # centroid table) is checkpointed: every consumer reads the
    # checkpoint, so the scan+assign executes ONCE and no consumer plans
    # a file scan of its own
    assert "Scan ExistingRDD" in plan
    assert "FileScan" not in plan
    # the rank windows are present but none is partitioned by cell alone
    # (stratified_rank always sub-buckets: cell+bkt, or cell ordered by
    # bkt on the TINY per-bucket-count side) — no whole-cell data window
    assert "Window" in plan
