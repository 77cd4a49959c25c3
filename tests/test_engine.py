"""Engine-level tests beyond SQL-oracle parity: the reference's own
dual-execution strategy (SURVEY §5.2 — incremental/iterative results must
equal their naive recomputation twins), plus source readers, approximate
-algorithm invariants, and a Structured Streaming smoke test."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.incremental import (
    _pagerank_delta_edges,
    apply_edge_delta,
    preserve,
    refresh,
)
from incr_iter_hadoop_spark.operators.iterative import pagerank, sssp, _sssp_edges
from incr_iter_hadoop_spark.sources import readers


# ---------------------------------------------------------------------------
# dual-execution twins (ComPageRank / CompSeqFile analogues)


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_incremental_pagerank_matches_cold_recompute(spark, sf_dir):
    """Warm-started re-convergence after a delta must land on the same
    fixpoint as a cold run on the updated graph (the reference's ComPageRank
    check, incremental/ComPageRank.java:1-373). θ=0.01 so both runs are well
    inside the fixpoint basin; tolerance covers the stopping gap."""
    base, delta = _pagerank_delta_edges(spark, sf_dir)
    updated = apply_edge_delta(base, delta)
    cold = pagerank(updated, max_iterations=80, threshold=0.01)
    warm = pagerank(
        updated,
        max_iterations=80,
        threshold=0.01,
        init_state=pagerank(base, max_iterations=80, threshold=0.01).state,
    )
    diff = (
        cold.state.alias("c")
        .join(warm.state.alias("w"), "node", "full_outer")
        .select(
            F.abs(
                F.coalesce(F.col("c.rank"), F.lit(0.0))
                - F.coalesce(F.col("w.rank"), F.lit(0.0))
            ).alias("d")
        )
        .agg(F.sum("d"))
        .collect()[0][0]
    )
    assert cold.converged and warm.converged
    # stopping criterion allows each run to sit within θ/(1−damping) of the
    # fixpoint; 2×0.01/0.2 = 0.1 is the worst-case L1 gap between them
    assert diff <= 0.1, f"warm/cold L1 divergence {diff}"
    # warm start must not be slower than cold (it's the whole point)
    assert warm.iterations <= cold.iterations


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_long_loop_stability(spark, sf_dir):
    """SURVEY §7 hard-part 1: 50+ iterations must not blow up the plan —
    every round's localCheckpoint truncates lineage. A linear
    plan-growth bug shows up here as super-linear wall-clock or a stack
    overflow in Catalyst."""
    from incr_iter_hadoop_spark.operators.iterative import (
        _lineitem_edges,
        pagerank,
    )

    res = pagerank(_lineitem_edges(spark, sf_dir), max_iterations=55)
    assert res.iterations == 55
    assert res.state.count() > 0
    # plan of the final state must stay bounded (truncated by checkpoints)
    plan_lines = res.state._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan_lines.splitlines()) < 200, "lineage not truncated"


def test_sssp_fixpoint_is_stable(spark, sf_dir):
    """Once the frontier empties, one more relaxation must change nothing
    (the reference's θ=0 filter-loop invariant, ReduceTask.java:3399-3428)."""
    edges = _sssp_edges(spark, sf_dir)
    res = sssp(edges, source=0, max_iterations=30)
    assert res.converged
    again = sssp(edges, source=0, max_iterations=res.iterations + 2)
    diff = (
        res.state.alias("a")
        .join(again.state.alias("b"), "node", "full_outer")
        .where(
            F.col("a.dist").isNull()
            | F.col("b.dist").isNull()
            | (F.col("a.dist") != F.col("b.dist"))
        )
        .count()
    )
    assert diff == 0


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_nmf_loss_decreases(spark, sf_dir):
    """Lee-Seung multiplicative updates are non-increasing in Frobenius loss
    — the dual-execution invariant for NMF (generator type `nmf`,
    utils/genGraphReduce.java:52-64): each extra iteration round must not
    worsen the reconstruction."""
    from incr_iter_hadoop_spark.operators.iterative import (
        _spmv_matrix,
        nmf,
        nmf_loss,
    )

    v = _spmv_matrix(spark, sf_dir)
    losses = []
    for iters in (1, 2, 4):
        w, h = nmf(v, rank=2, iterations=iters)
        losses.append(nmf_loss(v, w, h))
    assert losses[0] >= losses[1] >= losses[2], f"loss not decreasing: {losses}"


def test_power_iteration_direction_stabilizes(spark, sf_dir):
    """Power method invariant: successive ∞-normalized iterates converge in
    direction (cosine → 1) and the norm sequence approaches the dominant
    eigenvalue (ratio of consecutive norms → 1)."""
    from incr_iter_hadoop_spark.operators.iterative import (
        _spmv_matrix,
        power_iteration,
    )

    m = _spmv_matrix(spark, sf_dir)
    x0 = m.select(F.col("c").alias("i")).distinct().select(
        "i", F.lit(1.0).alias("x")
    )
    x_a, norms = power_iteration(m, x0, iterations=8)
    x_b, _ = power_iteration(m, x_a, iterations=1)
    dot, na, nb = (
        x_a.alias("a")
        .join(x_b.alias("b"), "i")
        .agg(
            F.sum(F.col("a.x") * F.col("b.x")),
            F.sum(F.col("a.x") * F.col("a.x")),
            F.sum(F.col("b.x") * F.col("b.x")),
        )
        .collect()[0]
    )
    cos = dot / ((na**0.5) * (nb**0.5))
    assert cos > 0.999, f"direction not stabilized: cos={cos}"
    assert abs(norms[-1] / norms[-2] - 1.0) < 0.05, f"norms not settling: {norms[-2:]}"


def test_refresh_equals_full_recompute(spark):
    """I6-I8 refresh on synthetic contribs == full groupBy recompute,
    including a non-invertible MAX under retraction (SURVEY §7 hard-part 5)."""
    contribs = spark.createDataFrame(
        [(g, s, float(g * 10 + s)) for g in range(5) for s in range(10)],
        "gk int, sk int, v double",
    )
    state = preserve(
        contribs,
        group_keys=["gk"],
        source_keys=["sk"],
        agg_exprs={"s": F.sum("v"), "mx": F.max("v"), "n": F.count(F.lit(1))},
    )
    delta = spark.createDataFrame(
        # retract the max contribution of group 1; add a new row to group 3
        [(1, 9, 0.0, "-"), (3, 99, 1000.0, "+")],
        "gk int, sk int, v double, op string",
    )
    new_state = refresh(state, delta)
    expect = (
        contribs.where(~((F.col("gk") == 1) & (F.col("sk") == 9)))
        .unionByName(
            spark.createDataFrame([(3, 99, 1000.0)], "gk int, sk int, v double")
        )
        .groupBy("gk")
        .agg(F.sum("v").alias("s"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n"))
    )
    mismatches = (
        new_state.results.alias("a")
        .join(expect.alias("b"), "gk", "full_outer")
        .where(
            (F.col("a.s") != F.col("b.s"))
            | (F.col("a.mx") != F.col("b.mx"))
            | (F.col("a.n") != F.col("b.n"))
        )
        .count()
    )
    assert mismatches == 0


# ---------------------------------------------------------------------------
# approximate-scheme invariants


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    """IVF with 4/16 probes must recover a reasonable fraction of the exact
    top-5 (recall floor is loose — random embeddings have no cluster
    structure, the worst case for IVF) and may never exceed exact sims."""
    from incr_iter_hadoop_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 10)
    bf = {
        (r["qid"], r["nid"])
        for r in ann_bruteforce_topk(emb, q).collect()
    }
    ivf = {
        (r["qid"], r["nid"])
        for r in ann_ivf_topk(emb, q).collect()
    }
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.2, f"IVF recall {recall} collapsed"


def test_lsh_sims_bounded_by_bruteforce(spark, sf_dir):
    """Per query: the LSH top-1 similarity can never exceed the exact top-1
    (LSH scores a subset of candidates with the same exact metric)."""
    from incr_iter_hadoop_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_lsh_topk,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 10)
    bf = (
        ann_bruteforce_topk(emb, q).where(F.col("pos") == 1)
        .select("qid", F.col("sim").alias("bf_sim"))
    )
    lsh = (
        ann_lsh_topk(emb, q).where(F.col("pos") == 1)
        .select("qid", F.col("sim").alias("lsh_sim"))
    )
    bad = (
        lsh.join(bf, "qid")
        .where(F.col("lsh_sim") > F.col("bf_sim") + 1e-9)
        .count()
    )
    assert bad == 0


# ---------------------------------------------------------------------------
# sources


def test_kv_text_and_typed_readers(spark, tmp_path):
    p = tmp_path / "kv.tsv"
    p.write_text("a\thello world\nb\tspark\n")
    kv = readers.read_kv_text(spark, str(p))
    rows = {r["k"]: r["v"] for r in kv.collect()}
    assert rows == {"a": "hello world", "b": "spark"}

    t = tmp_path / "typed.tsv"
    t.write_text("1\t2.5\n2\t3.5\n")
    typed = readers.read_typed_kv(spark, str(t))
    assert {(r["k"], r["v"]) for r in typed.collect()} == {(1, 2.5), (2, 3.5)}


def test_delta_triples_reader(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10.0, "+"), (2, 20.0, "-")], "k int, v double, op string"
    )
    path = str(tmp_path / "delta.parquet")
    df.write.parquet(path)
    back = readers.read_delta_triples(spark, path)
    assert back.count() == 2
    with pytest.raises(ValueError):
        no_op = spark.createDataFrame([(1, 1.0)], "k int, v double")
        p2 = str(tmp_path / "noop.parquet")
        no_op.write.parquet(p2)
        readers.read_delta_triples(spark, p2)


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_pipe_transform(spark):
    """U4 external-program piping (Hadoop streaming analogue) through awk."""
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
    )
    out = readers.pipe_transform(
        df,
        ["awk", "-F", "\t", "{print $1 \"\t\" $2 * 2}"],
        "k int, doubled double",
    )
    got = {(r["k"], r["doubled"]) for r in out.collect()}
    assert got == {(1, 20.0), (2, 40.0), (3, 60.0)}


def test_multifile_combine_scan(spark, tmp_path):
    """S6 MultiFileWordCount analogue: one scan over many small files."""
    for i in range(3):
        (tmp_path / f"f{i}.txt").write_text(f"line{i}\n")
    df = readers.read_text_lines(spark, str(tmp_path))
    assert df.count() == 3


# ---------------------------------------------------------------------------
# streaming


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_streaming_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState carries per-key state across micro-batches."""
    from incr_iter_hadoop_spark.streaming.incremental_stream import (
        stateful_running_totals,
    )

    src = str(tmp_path / "stateful_src")
    spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 7.0)], "user_id long, value double"
    ).write.parquet(src)
    stream = spark.readStream.schema("user_id long, value double").parquet(src)
    out = stateful_running_totals(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["key"]: (r["n_events"], r["total"])
           for r in spark.sql("SELECT * FROM running_totals").collect()}
    assert got == {1: (2, 15.0), 2: (1, 7.0)}


def test_streaming_windowed_counts(spark, tmp_path):
    """The batch window logic runs unchanged as a Structured Streaming query
    (file source → memory sink, one micro-batch)."""
    from incr_iter_hadoop_spark.streaming.incremental_stream import (
        windowed_counts_stream,
    )

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [("2024-01-01 00:05:00", "click", 1.0), ("2024-01-01 00:40:00", "view", 2.0)],
        "ts_s string, event_type string, value double",
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value"
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(src)
    out = windowed_counts_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM win_counts").collect()
    assert len(got) == 2
    assert {r["n"] for r in got} == {1}


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Two tables bucketed on the same key/count must sort-merge join with
    no Exchange in the plan — the write-once-shuffle-never contract of
    readers.write_bucketed (co-partitioning at rest, J1)."""
    from incr_iter_hadoop_spark.catalog import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    readers.write_bucketed(o, "t_orders_b", "o_custkey", num_buckets=4)
    readers.write_bucketed(c, "t_customer_b", "c_custkey", num_buckets=4)
    try:
        ob, cb = spark.table("t_orders_b"), spark.table("t_customer_b")
        joined = ob.hint("merge").join(
            cb, ob.o_custkey == cb.c_custkey
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # correctness: equals the plain join
        expected = o.join(c, o.o_custkey == c.c_custkey).count()
        assert joined.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ at rsd=0.01 must land within 5% of exact countDistinct per
    group (loose bound: guards against a broken sketch, not sketch noise)."""
    from incr_iter_hadoop_spark.registry import all_queries
    from incr_iter_hadoop_spark.catalog import load_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in all_queries()["agg_approx_distinct"].fn(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k in exact:
        rel = abs(approx[k] - exact[k]) / max(exact[k], 1)
        assert rel <= 0.05, f"{k}: approx {approx[k]} vs exact {exact[k]}"


def test_streaming_static_enrich(spark, tmp_path):
    """Stream-static broadcast join: streamed events pick up dim attributes
    without shuffling the stream side (J2's streaming twin)."""
    from incr_iter_hadoop_spark.streaming.incremental_stream import (
        stream_static_enrich,
    )

    src = str(tmp_path / "enrich_src")
    spark.createDataFrame(
        [(1, "click"), (2, "view"), (1, "view")], "user_id long, event_type string"
    ).write.parquet(src)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id long, tier string"
    )
    stream = spark.readStream.schema("user_id long, event_type string").parquet(src)
    out = stream_static_enrich(stream, dim, "user_id")
    q = (
        out.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM enriched").collect()
    assert len(got) == 3
    assert {(r["user_id"], r["tier"]) for r in got} == {(1, "gold"), (2, "basic")}


def test_iterate_observe_counts(spark):
    """observe_counts piggybacks per-iteration record counts on the existing
    materializing action (I11/IterationInfo analogue, zero extra jobs)."""
    from incr_iter_hadoop_spark.plans.loopdriver import iterate

    state0 = spark.range(100).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))

    def step(s, i):
        return s.select("k", (F.col("v") * 2).alias("v"))

    res = iterate(state0, step, max_iterations=3, observe_counts=True)
    assert res.record_counts == [100, 100, 100]


def test_one2one_join_strict_validation(spark):
    """The reference's ONE2ONE merge join errors on key mismatch
    (MapTask.java:788-791); one2one_join restores that contract."""
    from incr_iter_hadoop_spark.operators.joins import one2one_join

    a = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    ok = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, s double")
    assert one2one_join(a, ok, "k").count() == 2

    missing = spark.createDataFrame([(1, 10.0)], "k int, s double")
    with pytest.raises(ValueError, match="one2one"):
        one2one_join(a, missing, "k")

    dup = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0)], "k int, s double"
    )
    with pytest.raises(ValueError, match="one2one"):
        one2one_join(a, dup, "k")


def test_fused_updated_edges_match_delta_path(spark, sf_dir):
    """The single-scan fused derivation of the delta-applied edge set must
    equal the general anti-join/union path edge-for-edge."""
    from incr_iter_hadoop_spark.operators.incremental import (
        _pagerank_updated_edges_fused,
    )

    base, delta = _pagerank_delta_edges(spark, sf_dir)
    general = apply_edge_delta(base, delta)
    fused = _pagerank_updated_edges_fused(spark, sf_dir)
    assert fused.exceptAll(general).count() == 0
    assert general.exceptAll(fused).count() == 0


@pytest.mark.parametrize(
    "name",
    [
        "graph_triangle_count",
        "incr_spmv_delta1",
        "streaming_refresh_orders",
        "dedup_cc_clusters",
        "dedup_cc_star",
        "incr_dedup_clusters",
        "dedup_minhash_pairs",
        "incr_dedup_minhash_pairs",
        "incr_dedup_minhash_delete",
        "dedup_simhash_pairs",
        "dedup_keep_best",
        "semantic_dedup_prune",
        "incr_semantic_dedup",
        "sample_cluster_balanced",
        "pipeline_clean_corpus",
        "pipeline_build_training_set",
        "pipeline_curated_split",
    ],
)
def test_registered_query_leaves_no_cache(spark, sf_dir, name):
    # a cache left in the session after the result is collected holds
    # memory for the rest of the session, and the query's next call finds
    # its plan already cached
    from incr_iter_hadoop_spark.registry import all_queries

    spark.catalog.clearCache()
    all_queries()[name].fn(spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
