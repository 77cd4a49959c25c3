"""SemDeDup cluster-then-prune (round 13): keep-rule semantics on a
hand-built fixture where the duplicate structure is known, plus the
determinism and no-product plan pins."""

from __future__ import annotations

from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.similarity import (
    semantic_dedup,
    semantic_dedup_query,
)


def _vectors(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )


def test_keep_rule_drops_more_prototypical(spark):
    # 2 centroids: e0=(1,0,0,0), e1=(0,1,0,0) (ids 0,1). Cell 0 then
    # holds: the centroid itself, v10=(1,0.05,0,0) (closer to e0 than
    # v11), v11=(0.9,0.3,0,0). cos(v10,v11) ~ 0.956 >= tau → a dup pair;
    # v10 has the HIGHER centroid similarity, so v10 must be dropped and
    # v11 kept. v20=(0,1,0.9,0) sits alone nearer e1 → kept.
    vs = _vectors(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (10, [1.0, 0.05, 0.0, 0.0]),
            (11, [0.9, 0.3, 0.0, 0.0]),
            (20, [0.0, 1.0, 0.9, 0.0]),
        ],
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(vs, n_cells=2, tau=0.9).collect()
    }
    assert out[10]["cell"] == 0 and out[11]["cell"] == 0
    assert out[20]["cell"] == 1
    # the dup pair: more-prototypical member (higher c_sim) dropped
    assert out[10]["c_sim"] > out[11]["c_sim"]
    assert out[10]["kept"] is False
    assert out[11]["kept"] is True
    # lone members and the centroids themselves survive
    assert out[20]["kept"] is True
    assert out[1]["kept"] is True


def test_centroid_dup_pair_tie_on_ids(spark):
    # identical vectors → identical c_sim; the id tiebreak keeps the
    # SMALLER id (priority key (c_sim, id), strictly-smaller wins)
    vs = _vectors(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (7, [0.5, 0.1, 0.0, 0.0]),
            (9, [0.5, 0.1, 0.0, 0.0]),
        ],
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(vs, n_cells=2, tau=0.99).collect()
    }
    assert out[7]["c_sim"] == out[9]["c_sim"]
    assert out[7]["kept"] is True
    assert out[9]["kept"] is False


def test_partition_is_exhaustive_and_deterministic(spark, sf_dir):
    a = semantic_dedup_query(spark, sf_dir)
    b = semantic_dedup_query(spark, sf_dir)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb  # deterministic end to end
    n_in = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(ra) == n_in  # one verdict row per input vector
    kept = sum(1 for r in ra if r[3])
    assert 0 < kept < n_in  # some drops, not everything


def test_plan_broadcast_centroids_no_product(spark, sf_dir):
    # centroids enter as a broadcast; the pair stream is an equi-join on
    # cell — the only nested-loop is the broadcast centroid cross (a
    # 16-row dim table), never a non-broadcast cartesian. The cross runs
    # in the quantizer pass, which the query reads from a checkpoint, so
    # its plan is checked on its own.
    from incr_iter_hadoop_spark.catalog import load_table
    from incr_iter_hadoop_spark.operators.similarity import _semantic_assign

    df = semantic_dedup_query(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoopJoin" not in plan
    quantizer = _semantic_assign(
        load_table(spark, sf_dir, "embeddings"), 16, "vec_id", "embedding"
    )
    qplan = quantizer._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in qplan
    assert "BroadcastNestedLoopJoin" in qplan  # the broadcast 16-row cross


def test_incremental_equals_full_recompute(spark, sf_dir):
    # the preserve/delta union must equal the full recompute bit-for-bit
    # (monotone drop rule + corpus-independent per-row keys)
    from incr_iter_hadoop_spark.operators.similarity import (
        incr_semantic_dedup,
    )

    full = sorted(map(tuple, semantic_dedup_query(spark, sf_dir).collect()))
    incr = sorted(map(tuple, incr_semantic_dedup(spark, sf_dir).collect()))
    assert incr == full


def test_incremental_delta_drop_paths(spark):
    # fixture where BOTH delta directions fire: new 30 (lower key) drops
    # preserved old 7, and old 3 (lower key) drops new 40 — plus an
    # old-by-old preserved pair (17, 19) that the delta must not disturb.
    # ids % 10 == 0 are "new". One cell (single centroid id 0).
    from incr_iter_hadoop_spark.operators.similarity import (
        _semantic_assign,
        _semantic_drops,
        _semantic_apply,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),     # centroid (old)
        (3, [0.3, 0.9, 0.0, 0.0]),     # old, low c_sim
        (40, [0.35, 0.9, 0.0, 0.0]),   # new, ~ same direction as 3, higher c_sim
        (7, [0.9, 0.3, 0.0, 0.0]),     # old, high c_sim
        (30, [0.5, 0.85, 0.2, 0.0]),   # new
        (17, [0.0, 0.6, 0.8, 0.0]),    # old pair member
        (19, [0.05, 0.6, 0.8, 0.0]),   # old pair member (higher c_sim? data decides)
    ]
    vs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    tau = 0.9
    asgn = _semantic_assign(vs, 1, "vec_id", "embedding")
    is_new = F.col("nid") % 10 == 0
    base, new = asgn.where(~is_new), asgn.where(is_new)
    dropped = (
        _semantic_drops(base, base, tau)
        .unionByName(_semantic_drops(new, asgn, tau))
        .unionByName(_semantic_drops(base, new, tau))
        .distinct()
    )
    incr = sorted(
        map(tuple, _semantic_apply(asgn, dropped, "vec_id").collect())
    )
    from incr_iter_hadoop_spark.operators.similarity import semantic_dedup

    full = sorted(
        map(tuple, semantic_dedup(vs, n_cells=1, tau=tau).collect())
    )
    assert incr == full
    kept = {r[0]: r[3] for r in incr}
    # at least one old row and one new row are dropped (both delta
    # directions exercised), and not everything is dropped
    dropped_ids = {k for k, v in kept.items() if not v}
    assert any(i % 10 == 0 for i in dropped_ids)
    assert any(i % 10 != 0 for i in dropped_ids)
    assert len(dropped_ids) < len(rows)
