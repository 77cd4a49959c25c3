"""Physical-plan regression tests: the properties that matter at 100 TB.

Correctness tests prove the small-SF answer; these prove the PLAN — that
top-k never total-sorts, small dims broadcast instead of shuffling the fact
side, and predicates reach the parquet scan. A regression here is invisible
at sf0.001 but catastrophic at cluster scale.
"""

from __future__ import annotations

from incr_iter_hadoop_spark.registry import all_queries


def _executed_plan(spark, sf_dir, name: str) -> str:
    df = all_queries()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q10_topk_is_take_ordered(spark, sf_dir):
    # orderBy().limit() must compile to TakeOrderedAndProject (per-partition
    # heap + driver merge of k rows), never a global Sort.
    plan = _executed_plan(spark, sf_dir, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_topk_customers_is_take_ordered(spark, sf_dir):
    plan = _executed_plan(spark, sf_dir, "topk_customers")
    assert "TakeOrderedAndProject" in plan


def test_q19_joins_broadcast(spark, sf_dir):
    # part is a broadcast dim; the lineitem side must not shuffle for it.
    plan = _executed_plan(spark, sf_dir, "q19_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan


def test_q7_dims_broadcast_no_fact_shuffle_for_dims(spark, sf_dir):
    # customer/supplier/nation(x2) all broadcast: >=4 broadcast joins.
    plan = _executed_plan(spark, sf_dir, "q7_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 4


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    # Every Q6 predicate must reach the parquet reader as a data filter and
    # the scan must prune to the 4 referenced columns.
    plan = _executed_plan(spark, sf_dir, "q6_forecast_revenue")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_shipdate" in scan and "l_quantity" in scan
    assert "l_orderkey" not in scan  # column pruning: unused keys not read


def test_q22_anti_join_present(spark, sf_dir):
    plan = _executed_plan(spark, sf_dir, "q22_sales_opportunity")
    assert "LeftAnti" in plan


def test_salted_join_spreads_hot_key(spark, sf_dir):
    # the salted join must be a shuffle join keyed on (hot_key, _salt) —
    # no broadcast (the salt would be pointless) and the salt column must
    # reach the join keys so a hot key spans `buckets` partitions.
    plan = _executed_plan(spark, sf_dir, "join_skew_salted")
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "_salt" in plan


def test_preserve_store_refresh_reads_are_bucket_pruned(spark, tmp_path):
    # the store's whole point-read mechanism: an isin() read of k groups
    # must select only the buckets those keys hash into, and the group-key
    # re-aggregation must need no exchange (bucketed scan reports the
    # partitioning). A regression here turns every refresh into a full scan.
    from pyspark.sql import functions as F

    from incr_iter_hadoop_spark.session import scoped_conf
    from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore

    rows = [(g, s, float(g * 10 + s)) for g in range(64) for s in range(4)]
    # the restore contract is "back to the pre-scope value"
    conf_before = spark.conf.get(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    )
    store = PreserveStore(spark, str(tmp_path / "plan_store"))
    store.initialize(
        spark.createDataFrame(rows, "g bigint, s bigint, v double"),
        group_keys=["g"],
        source_keys=["s"],
        agg_sql={"total": "CAST(SUM(v) AS DOUBLE)"},
        num_buckets=16,
    )
    # the confs below are exactly what refresh() scopes around its internal
    # point reads (scoped_conf) — pin the plan refresh actually executes
    with scoped_conf(spark, {store._BUCKETED_SCAN_CONF: "false"}):
        pruned = store._base("contribs").where(F.col("g").isin([3, 7]))
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
        assert "Bucketed: true" in scan
        assert "SelectedBucketsCount" in scan
        # 2 keys -> at most 2 of 16 buckets selected
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", scan)
        assert m and int(m.group(1)) <= 2 and int(m.group(2)) == 16
        # in-filter reaches the parquet reader
        assert "PushedFilters: [In(g" in scan
        # group-key agg over bucketed scan: no exchange between scan and agg
        agg_plan = (
            store._base("contribs")
            .groupBy("g")
            .agg(F.sum("v"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in agg_plan
    # and the scope must RESTORE the session conf afterwards (ADVICE r03)
    assert spark.conf.get(store._BUCKETED_SCAN_CONF) == conf_before


def test_embedding_lsh_pairs_join_is_bucketed_not_cartesian(spark, sf_dir):
    # the scale-path near-dup scan must candidate-join on the LSH bucket —
    # an equi-join — never a cartesian/broadcast-nested-loop over all pairs.
    plan = _executed_plan(spark, sf_dir, "embedding_top_pairs_lsh")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_ngram_candidates_df_capped(spark, sf_dir):
    # the inverted-index join must be fed by the df-capped shingle relation:
    # the plan joins against the docfreq aggregate with the <= filter.
    plan = _executed_plan(spark, sf_dir, "dedup_ngram_pairs")
    assert "df#" in plan or "(df <= 50" in plan or "(df#" in plan


def test_pruned_pagerank_frontier_broadcasts(spark, sf_dir):
    # the pruned iteration's propagation join must broadcast the small
    # frontier into the cached co-partitioned static side — if the frontier
    # ever shuffles the static relation instead, every pruned iteration
    # pays a full |E| exchange and the frontier optimization is void.
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from incr_iter_hadoop_spark.operators.incremental import (
        _pagerank_delta_edges,
        apply_edge_delta,
    )
    from incr_iter_hadoop_spark.plans.loopdriver import negotiate_partitions

    base, delta = _pagerank_delta_edges(spark, sf_dir)
    edges = apply_edge_delta(base, delta).persist(StorageLevel.MEMORY_AND_DISK)
    n = negotiate_partitions(edges)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    static = (
        edges.join(deg, "src")
        .repartition(n, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    static.count()
    frontier = (
        static.select(F.col("src").alias("node")).distinct().limit(50)
        .select("node", F.lit(0.01).alias("delta"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    frontier.count()
    prop = (
        static.join(frontier, static.src == frontier.node)
        .select("dst", (F.col("delta") / F.col("deg")).alias("c"))
        .groupBy("dst")
        .agg(F.sum("c").alias("corr"))
    )
    plan = prop._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    static.unpersist()
    edges.unpersist()
    frontier.unpersist()


def test_pagerank_static_side_is_single_exchange(spark):
    # adjacency + out-degree must come from ONE exchange over the edge
    # relation: the repartition provides the hash distribution and the
    # degree window rides it as a within-partition sort (the old
    # groupBy+join+repartition shape cost two more shuffles of |E| at
    # every loop warm-up).
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    edges = spark.createDataFrame(
        [(i % 40, (i * 7 + 1) % 40) for i in range(400)],
        "src long, dst long",
    )
    static = edges.repartition(8, "src").withColumn(
        "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
    )
    plan = static._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_incr_dedup_candidate_join_is_equi_not_cartesian(spark, sf_dir):
    # the delta-restricted candidate join must stay an equi-join on the
    # (band, bucket) key with the NEW side semi-filtered — never a
    # cartesian over the corpus.
    plan = _executed_plan(spark, sf_dir, "incr_dedup_minhash_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan



def _only_input_spread_exchanges(plan: str) -> bool:
    """r13: the map-only text queries may carry ONE hashpartitioning(doc_id)
    exchange — catalog.spread_scan's conditional input spread for
    single-row-group sf scans (guide §2.5; a no-op at cluster scale where
    the scan arrives already split). Any OTHER exchange (an aggregation /
    join shuffle, i.e. the explode+groupBy formulation these pins guard
    against) still fails."""
    import re

    kinds = re.findall(r"Exchange (\w+)\(([^,)]+)", plan)
    return all(
        kind == "hashpartitioning" and "doc_id" in arg for kind, arg in kinds
    )

def test_repetition_quality_is_shuffle_free(spark, sf_dir):
    # the Gopher repetition signals ride the scan: array higher-order
    # functions, zero Exchange — the explode+groupBy formulation would
    # shuffle |tokens| rows at 100 TB.
    plan = _executed_plan(spark, sf_dir, "text_repetition_quality")
    assert _only_input_spread_exchanges(plan), plan


def test_repetition_stats_is_shuffle_free(spark, sf_dir):
    # the duplicate-n-gram twin (r9) must keep the same map-only shape:
    # transform+slice n-grams + array_distinct per row, zero Exchange
    plan = _executed_plan(spark, sf_dir, "text_repetition_stats")
    assert _only_input_spread_exchanges(plan), plan


def test_dup_line_stats_is_shuffle_free(spark, sf_dir):
    # the dup-line/paragraph fractions (r10) keep the family's map-only
    # discipline: array_sort + sorted-neighbor mask per row, zero
    # Exchange — the explode+groupBy(doc,line) formulation (which the
    # DuckDB oracle deliberately uses as the independent cross-check)
    # would shuffle every line of a 100 TB corpus.
    plan = _executed_plan(spark, sf_dir, "text_dup_line_stats")
    assert _only_input_spread_exchanges(plan), plan


def test_gopher_filter_is_single_map_stage(spark, sf_dir):
    # the COMPOSED ten-rule Gopher gate must stay one map stage: every
    # signal derives from the same token array, so there is nothing to
    # shuffle — the oracle's unnest+groupBy+join formulation exists only
    # as the independent cross-check
    plan = _executed_plan(spark, sf_dir, "text_gopher_filter")
    assert _only_input_spread_exchanges(plan), plan


def test_asof_join_is_windowed_sweep_not_range_join(spark, sf_dir):
    # the as-of join must compile to ONE window sweep over the union —
    # never a per-key range cross-product (BroadcastNestedLoop/Cartesian).
    plan = _executed_plan(spark, sf_dir, "join_asof")
    assert plan.count("Window") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_top_tokens_is_take_ordered_with_partial_agg(spark, sf_dir):
    # vocab heavy hitters: map-side partial count before the token shuffle,
    # and top-100 via TakeOrderedAndProject — never a global sort.
    plan = _executed_plan(spark, sf_dir, "corpus_top_tokens")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_tokenize_vocab_join_is_broadcast(spark, sf_dir):
    # the dictionary must ship to executors; the corpus side never
    # reshuffles for the encode join
    plan = _executed_plan(spark, sf_dir, "tokenize_to_ids")
    assert "BroadcastHashJoin" in plan


def test_bpe_pair_counts_is_take_ordered_with_partial_agg(spark, sf_dir):
    plan = _executed_plan(spark, sf_dir, "bpe_pair_counts")
    assert "TakeOrderedAndProject" in plan
    # map-side partial aggregation bounds the shuffle at |pair vocab|
    assert plan.count("HashAggregate") >= 2


def test_substring_spans_single_scan_no_pair_product(spark, sf_dir):
    # the shared-gram test is a window on the gram key, so the fingerprint
    # pass scans the corpus exactly ONCE, and nothing may be a doc-pair
    # product (that would be the quadratic blowup the design avoids)
    plan = _executed_plan(spark, sf_dir, "dedup_substring_spans")
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shard_manifest_single_agg_no_global_sort(spark, sf_dir):
    # one hash-agg on shard; intra-shard order lives in the sorted-struct
    # aggregation, never a global orderBy
    plan = _executed_plan(spark, sf_dir, "shard_manifest")
    assert "rangepartitioning" not in plan.lower()


def test_incr_substring_probe_is_equi_join_not_product(spark, sf_dir):
    # the delta scans once (window, not groupBy+semi-join); the base-index
    # probe must stay an equi-join on the gram key — linear in delta hits
    plan = _executed_plan(spark, sf_dir, "incr_dedup_substring")
    assert plan.count("Scan parquet") == 2  # one delta pass + one base pass
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_er_fuzzy_join_is_blocked_equi_not_product(spark, sf_dir):
    # the ER self-join must key on the (nationkey, name-length) block — a
    # hash equi-join with the custkey ordering + edit distance as residual
    # filters; an unblocked pair product would be N² levenshtein calls
    plan = _executed_plan(spark, sf_dir, "er_fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nmf_update_is_single_shuffle_with_gram_broadcast(spark, sf_dir):
    """The r5 NMF plan pass contract: one factor update = ONE exchange (the
    groupBy on the factor's key) with partial aggregation below it, the
    k×k Gram entering as a broadcast (never a shuffled join), and V's
    cached layout feeding the product without re-exchanging."""
    import operator
    from functools import reduce

    from pyspark.sql import functions as F

    from incr_iter_hadoop_spark.operators.iterative import _spmv_matrix

    v_r = _spmv_matrix(spark, sf_dir).repartition(8, "r").persist()
    v_r.count()
    ks = [0, 1]
    w = (
        v_r.select("r")
        .distinct()
        .select(
            "r",
            *[
                (1.0 + ((F.col("r") * 7 + F.lit(f) * 3) % 5) * 0.1).alias(
                    f"w{f}"
                )
                for f in ks
            ],
        )
        .repartition(8, "r")
        .localCheckpoint(eager=True)
    )
    h = (
        v_r.select("c")
        .distinct()
        .select(
            "c",
            *[
                (1.0 + ((F.col("c") * 11 + F.lit(f) * 5) % 7) * 0.1).alias(
                    f"h{f}"
                )
                for f in ks
            ],
        )
        .repartition(8, "c")
        .localCheckpoint(eager=True)
    )
    num_h = (
        v_r.join(w, "r")
        .groupBy("c")
        .agg(*[F.sum(F.col(f"w{f}") * F.col("v")).alias(f"num{f}") for f in ks])
    )
    gram = w.agg(
        *[
            F.sum(F.col(f"w{a}") * F.col(f"w{b}")).alias(f"g{a}_{b}")
            for a in ks
            for b in ks
        ]
    )
    den = {
        f: reduce(
            operator.add, [F.col(f"g{f}_{j}") * F.col(f"h{j}") for j in ks]
        )
        for f in ks
    }
    h_new = (
        h.join(num_h, "c")
        .crossJoin(F.broadcast(gram))
        .select(
            "c",
            *[
                (F.col(f"h{f}") * F.col(f"num{f}") / den[f]).alias(f"h{f}")
                for f in ks
            ],
        )
    )
    h_new.collect()  # run it: AQE's FINAL plan is the one that matters
    full = h_new._jdf.queryExecution().executedPlan().toString()
    v_r.unpersist()
    # the executed-plan string appends the pre-AQE "Initial Plan" for
    # reference, and the cached V's InMemoryRelation prints its own BUILD
    # plan (already materialized, not executed by this query) — assert
    # only on the final section outside the cache subtree
    plan = full.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in plan
    executed = plan.split("InMemoryRelation")[0]
    # exactly ONE exchange below the numerator agg: the groupBy(c).
    # (the Gram's own tiny agg runs inside its broadcast build, and the
    # factor join must not add a shuffle)
    assert executed.count("Exchange hashpartitioning") == 1, plan
    # the 1-row Gram enters via a broadcast nested-loop cross join
    assert "BroadcastNestedLoopJoin" in plan
    # partial aggregation below the exchange (map-side combine)
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan


def test_scd2_point_in_time_join_is_equi_not_range(spark, sf_dir):
    # the validity range must be a residual on the key equi-join — a pure
    # BETWEEN join would plan as BroadcastNestedLoop/cartesian and die at
    # scale
    plan = _executed_plan(spark, sf_dir, "scd2_point_in_time_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_data_quality_fk_check_is_anti_join(spark, sf_dir):
    plan = _executed_plan(spark, sf_dir, "data_quality_report")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_approx_distinct_bounded_dedups_before_sketching(spark, sf_dir):
    """The bounded-error HLL twin (r8) must shuffle bare (type, user)
    pairs, never per-row sketch buffers: Spark's own count_distinct +
    approx rewrite ships a ~13KB MS[] buffer per pair through the first
    exchange, which is a scale-killer at 100 TB. The chosen shape dedups
    first (partial-aggregated distinct), so MS[] columns may appear only
    ABOVE the pair exchange — in the per-group partial aggregate."""
    plan = _executed_plan(spark, sf_dir, "agg_approx_distinct_bounded")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # the section below the pair-level exchange (the LAST exchange printed,
    # since plans print top-down) must carry no sketch buffers
    below_pair_exchange = plan.rsplit("Exchange hashpartitioning", 1)[1]
    assert "MS[" not in below_pair_exchange, plan
    # map-side combine on the distinct: partial agg below that exchange
    assert "HashAggregate" in below_pair_exchange, plan


def test_decontaminate_substring_is_broadcast_semi_no_product(
    spark, sf_dir
):
    # the benchmark gram set (tiny by construction — eval suites are MBs
    # vs a 100 TB corpus) must BROADCAST into a LEFT-SEMI over the corpus
    # fingerprints: map-side gating, zero corpus shuffle before the
    # per-doc span merge, and never a doc-pair product
    plan = _executed_plan(spark, sf_dir, "decontaminate_substring")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_normalized_is_broadcast_semi_no_product(
    spark, sf_dir
):
    # same contract as the raw flavor: normalization is a map-side
    # expression in front of the fingerprint scan, the normalized
    # benchmark gram set broadcasts into a LEFT-SEMI, zero corpus
    # shuffle before the span merge, never a doc-pair product
    plan = _executed_plan(spark, sf_dir, "decontaminate_normalized")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_mixture_epochs_two_level_no_product(spark, sf_dir):
    # the weighted-mixture sampler must keep sample_token_budget's
    # two-level shape: cumulative windows only on (source, bucket) /
    # tiny per-bucket relations (16x the parallelism of a whole-source
    # window), per-source offsets and weights BROADCAST back, and the
    # epoch repetition as a per-row sequence explode (Generate) — never
    # a join-multiplied product
    plan = _executed_plan(spark, sf_dir, "sample_mixture_epochs")
    assert "Generate" in plan  # the explode(sequence(0, n_ep-1))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_quality_buckets_no_global_window_no_product(spark, sf_dir):
    # CCNet head/middle/tail: the thresholds must come from ONE tiny
    # percentile aggregate broadcast back — never an ntile/global window
    # that would drag the whole corpus through one task; the keep gates
    # are map-side hash filters
    plan = _executed_plan(spark, sf_dir, "sample_quality_buckets")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_sample_quality_buckets_by_lang_no_global_window_no_product(
    spark, sf_dir
):
    # the per-language twin (r13): thresholds from ONE groupBy(lang)
    # percentile aggregate (5 rows) joined back as a BROADCAST — still
    # never an ntile/global window over the corpus, never a product
    plan = _executed_plan(spark, sf_dir, "sample_quality_buckets_by_lang")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sample_exact_split_3way_two_level_broadcast_quotas(spark, sf_dir):
    # the parameterized exact split (r13): rank windows only on
    # (source, md5-bucket) / the tiny per-bucket count relation — never
    # one whole-stratum window task — with the bucket offsets AND the
    # per-stratum quota map entering as BROADCAST joins; no product
    plan = _executed_plan(spark, sf_dir, "sample_exact_split_3way")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_mixture_temperature_two_level_no_product(spark, sf_dir):
    # the temperature twin must keep the identical two-level shape: the
    # sqrt-weight/budget relation is per-source (tiny) and BROADCAST
    # back; the global weight sum enters as a broadcast one-row relation
    # (a nested-loop join on a single row is the legitimate scalar
    # cross, not a data product); epochs stay a per-row sequence explode
    plan = _executed_plan(spark, sf_dir, "sample_mixture_temperature")
    assert "Generate" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_decontaminate_store_probe_is_broadcast_semi_no_product(
    spark, sf_dir
):
    # the committed index's reconstructed gram set must broadcast into
    # the same LEFT-SEMI gate as the inline flavors — routing the index
    # through the store layer must not change the corpus-side plan
    plan = _executed_plan(spark, sf_dir, "decontaminate_store")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incr_decontaminate_both_probes_broadcast_semi(spark, sf_dir):
    # old-state rebuild AND the delta pass each broadcast a benchmark gram
    # set into a LEFT-SEMI over the corpus fingerprints; the hit-position
    # union is narrow (id, pos) and nothing is ever a doc-pair product.
    # The normalized twin must keep the identical shape — normalization
    # is a map-side expression invisible to the probe machinery.
    for name in ("incr_decontaminate", "incr_decontaminate_normalized"):
        plan = _executed_plan(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") >= 2, name
        assert "LeftSemi" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_dedup_paragraphs_hash_agg_no_window_no_product(spark, sf_dir):
    # first-occurrence selection is a hash agg (min struct) on the
    # paragraph value — never a ROW_NUMBER window (that formulation sorts
    # every content partition; the oracle uses it as the independent
    # cross-check) and never a pair join; reassembly is a second hash agg
    # on the doc id. No global sort anywhere (array_sort is per-row).
    plan = _executed_plan(spark, sf_dir, "dedup_paragraphs_global")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("HashAggregate") >= 2


def test_dedup_paragraphs_fp_shuffles_fingerprints_not_text(spark, sf_dir):
    # the whole point of the fp twin: the content-keyed exchange must key
    # on the 16-byte md5 fingerprint, never the paragraph value — and the
    # paragraph text must not appear as a partitioning key of ANY
    # exchange (it crosses the wire only inside the id-keyed doc join).
    # Same hygiene as the value-keyed plan: no window, no product, no
    # global sort (sort_array/array ops are per-row).
    plan = _executed_plan(spark, sf_dir, "dedup_paragraphs_fp")
    assert "hashpartitioning(fp#" in plan, plan
    assert "hashpartitioning(para#" not in plan, plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    # narrow fp + winners exchanges always; the keep_pos->docs join may
    # broadcast at small SF (a hint-free planner choice) or add one
    # id-keyed exchange at scale
    n_ex = plan.count("Exchange hashpartitioning")
    assert 2 <= n_ex <= 4, plan


def test_incr_dedup_paragraphs_probe_is_equi_anti_no_product(spark, sf_dir):
    # the delta's within-batch first-occurrence is a hash agg; the
    # seen-set probe must stay an equi ANTI-join on the paragraph value
    # — linear in the delta, never a pair product or nested loop. The
    # fp twin keeps the same shape with 16-byte keys: its anti-join and
    # content exchange must key on fp, never the paragraph value.
    plan = _executed_plan(spark, sf_dir, "incr_dedup_paragraphs")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan.lower()
    plan_fp = _executed_plan(spark, sf_dir, "incr_dedup_paragraphs_fp")
    assert "LeftAnti" in plan_fp
    assert "hashpartitioning(fp#" in plan_fp
    assert "hashpartitioning(para#" not in plan_fp
    assert "CartesianProduct" not in plan_fp
    assert "BroadcastNestedLoopJoin" not in plan_fp
    assert "rangepartitioning" not in plan_fp.lower()


def test_pipeline_curated_split_no_product(spark, sf_dir):
    # the r13 capstone composes quality buckets ∩ SemDeDup ∩ exact split:
    # thresholds/centroids/quotas all enter as broadcasts; the only
    # nested-loop is the broadcast 16-row centroid cross inside the
    # persisted quantizer pass — never a non-broadcast cartesian, never
    # a whole-stratum window (ranks stay two-level)
    plan = _executed_plan(spark, sf_dir, "pipeline_curated_split")
    assert "CartesianProduct" not in plan
