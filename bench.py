#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Protocol (BASELINE.md): relational battery + iterative PageRank to
convergence + k-means + incremental refresh, wall-clock per query at sf0.1.
Each query is materialized via a count-style action (no driver collect of
payload rows); the JVM is warmed with one throwaway action first so the
headline numbers measure the queries, not session startup.

Median-of-N (BASELINE.md protocol item 5): every headline query runs
$SPARK_GRAFT_BENCH_REPS times (default 3); "queries" holds per-query
MEDIANS (the regression metric — recorded single-shot history spans
30.4-60.9s for identical code, so one-shot numbers can't separate drift
from sandbox contention), "queries_runs" holds the raw samples, and
bench/results/TREND.md tabulates medians across recorded runs.

A/B mode (round-7 drift protocol): ``python bench.py --ab <ref>
[--draws N]`` checks out ``<ref>`` in a throwaway worktree and runs its
bench.py INTERLEAVED with HEAD's (alternating order per draw, same
machine hour, same session count) so cross-version deltas can't be an
artifact of the hour the two runs happened to land in. Per-query medians
per side + ratios go to one JSON line, ``bench/results/ab-runs.jsonl``,
and ``bench/results/AB.md``. Ambient drift shows up as ratio ≈ 1 across
the board; a real regression shows up as specific queries off-ratio.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

# headline set: one per operator family (SURVEY.md §2 / BASELINE.md protocol)
HEADLINE = [
    "q1_pricing_summary",      # scan + hash agg (relational battery anchor)
    "q5_multiway_join",        # multiway broadcast join
    "q10_returned_items",      # join → agg → global top-k (TakeOrdered)
    "window_battery",          # window functions
    "agg_value_battery",       # A5 aggregation framework
    "pagerank_converged",      # iterative loop to convergence
    "kmeans_assign",           # ONE2ALL broadcast assignment step
    "spmv_bounded2",           # ONE2MUL blocked SpMV
    "incr_refresh_orders",     # incremental view maintenance (preserve+refresh)
    "incr_pagerank_delta5",    # delta-applied PageRank (flagship incremental)
    "nmf_bounded2",            # NMF multiplicative updates (generator `nmf`)
    "dedup_minhash_pairs",     # MinHash LSH dedup (100 TB path)
    "dedup_cc_clusters",       # near-dup clustering (connected components)
    "ann_bruteforce_topk",     # brute-force ANN baseline
]

# r13 (VERDICT r12 ask #7): the four queries whose driver-draw medians
# historically swing the most under ambient sandbox contention (multi-job
# iterative loops — most exposed to scheduling jitter). They run
# NOISY_REPS samples per draw; EXPECTED_BAND is each one's min-max across
# ALL 60 recorded sf0.1 draws (bench/results/2026-08-14..17.json at commit
# a83ea94 — the band commit's comment said 59; ADVICE r13 recounted 60,
# and the shipped bands do bound the 60-draw min/max, so only the count
# was wrong) — the initial last-20 bands proved too tight the very day
# they shipped (identical-code draws of nmf 4.93 / cc 5.84 fell outside),
# and the controlled A/Bs read ~flat across the whole span, so the
# full-history envelope is the honest ambient ceiling. Emitted in the
# compact line so the driver separates regressions from weather.
# The bands are ADVISORY metadata, not a pass/fail gate: they only filter
# out-of-band alarms. In-band drift on these four queries must still be
# adjudicated by the interleaved --ab protocol (or, from r14 on, by the
# deterministic per-query queries_struct shuffle/stage metrics).
NOISY_HEADLINE = [
    "pagerank_converged",
    "incr_pagerank_delta5",
    "nmf_bounded2",
    "dedup_cc_clusters",
]
NOISY_REPS = max(REPS, int(os.environ.get("SPARK_GRAFT_BENCH_NOISY_REPS", "5")))
EXPECTED_BAND = {
    "pagerank_converged": [3.9, 10.4],
    "incr_pagerank_delta5": [3.5, 9.6],
    "nmf_bounded2": [2.4, 5.1],
    "dedup_cc_clusters": [2.2, 6.1],
}


def _median(xs: list[float]) -> float:
    return round(statistics.median(xs), 3)


def _drain_listener_bus(spark) -> None:
    """Block until the async listener bus has delivered all events — the
    app status store is listener-fed, so metrics read without draining can
    miss a just-finished stage (r11 review)."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty()
    except Exception:
        try:
            bus.waitUntilEmpty(10_000)
        except Exception:
            pass  # best-effort: metrics may lag one stage


def _stage_shuffle_writes(spark) -> dict[int, int]:
    """stage_id -> shuffle-write bytes for every stage the app status
    store retains."""
    sc = spark.sparkContext
    jvm, gw = sc._jvm, sc._gateway
    _drain_listener_bus(spark)
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),  # all statuses
        False,
        False,
        gw.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    return {
        stages.apply(i).stageId(): stages.apply(i).shuffleWriteBytes()
        for i in range(stages.size())
    }


def _max_stage_id(spark) -> int:
    ids = _stage_shuffle_writes(spark)
    return max(ids) if ids else -1


def shuffle_write_bytes_after(spark, min_stage_id: int) -> int:
    """Shuffle-write bytes of stages with id > ``min_stage_id``.

    Keyed on stage ID, not a before/after TOTAL: the status store caps
    retained stages (spark.ui.retainedStages, a CUMULATIVE cap), so by
    late-bench a total-delta can go negative when old stages evict
    between snapshots (r11 review). Eviction is oldest-first, so the
    just-created stages of a query run measured immediately after it are
    retained and the per-id sum is exact (worst case under pathological
    eviction: an undercount, never cross-query contamination)."""
    return sum(
        b
        for sid, b in _stage_shuffle_writes(spark).items()
        if sid > min_stage_id
    )


def main() -> None:
    from incr_iter_hadoop_spark.registry import all_queries
    from incr_iter_hadoop_spark.session import get_spark

    spark = get_spark(app_name="bench")
    specs = all_queries()
    # warm the JVM + parquet footers of every table the headline touches, so
    # per-query numbers measure the queries rather than first-read costs
    for t in ("lineitem", "orders", "customer", "documents", "embeddings"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()

    runs: dict[str, list[float]] = {}
    # r14 (VERDICT r13 ask #1): deterministic structural metrics per
    # headline query — shuffle-write MB + stage count, stage-id-keyed from
    # the app status store (same protocol as the dedup family's shuffle
    # lines, r11/r12). Wall-clock on this sandbox swings ±40% on identical
    # code (recorded identical-code totals span 15.9-432.6 s), so the
    # driver could not adjudicate r13's optimization claims; these numbers
    # are byte-stable across reps on unchanged code and move ONLY when the
    # plan moves. Captured on rep 0: the status-store read happens strictly
    # OUTSIDE the per-query timing window (m0 before t0, the sum after t1),
    # so the timed seconds are untouched.
    struct: dict[str, list] = {}

    def _run_one(name: str, rep: int) -> None:
        spec = specs.get(name)
        if spec is None:
            if rep == 0:
                print(f"bench: skipping unknown query {name}", file=sys.stderr)
            return
        m0 = _max_stage_id(spark) if rep == 0 else None
        t0 = time.perf_counter()
        df = spec.fn(spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        runs.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
        if rep == 0:
            new = {
                sid: b
                for sid, b in _stage_shuffle_writes(spark).items()
                if sid > m0
            }
            struct[name] = [round(sum(new.values()) / 1e6, 3), len(new)]

    for rep in range(REPS):
        for name in HEADLINE:
            _run_one(name, rep)
    # r13 (VERDICT r12 ask #7): the four noisiest headline queries get
    # extra reps up to NOISY_REPS — recorded same-day draws on identical
    # code swung their medians ±40% at 3 reps; a 5-sample median plus the
    # EXPECTED_BAND emitted in the compact line lets the driver flag true
    # regressions (outside the ambient band) instead of sandbox weather.
    for rep in range(REPS, NOISY_REPS):
        for name in NOISY_HEADLINE:
            _run_one(name, rep)
    timings = {name: _median(xs) for name, xs in runs.items()}
    spreads = {
        name: [min(xs), max(xs)] for name, xs in runs.items()
    }

    # BASELINE.md protocol item 4: incremental refresh vs full recompute —
    # the reference's raison d'être; the ratio is the regression metric.
    # NOTE at sf0.1 both sides are sub-second and the ratio reflects Spark's
    # fixed per-job overhead (refresh = several small jobs, recompute = one);
    # the asymptotic win — O(affected groups) vs O(state) — appears as state
    # grows past the overhead floor. Track the ratio trend, not its absolute.
    # The incremental scenario starts from ALREADY-MATERIALIZED preserved
    # state (it survives from the prior run), so materialize it first and
    # time only the delta application. refresh() is pure (returns a new
    # PreservedState), so median-of-N reps measure identical work.
    from pyspark.sql import functions as F

    from incr_iter_hadoop_spark.catalog import load_table
    from incr_iter_hadoop_spark.operators.incremental import preserve, refresh

    # ~1% delta — the reference's UpdatePageRankGraph "change percent" shape:
    # '+' = the held-out 1% of orders, '-' = ~1% of the preserved base
    o_all = load_table(spark, SF_DIR, "orders")
    base = o_all.where(F.col("o_orderkey") % 100 != 0)
    contribs = base.select("o_custkey", "o_orderkey", "o_totalprice").persist()
    state = preserve(
        contribs,
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_exprs={
            "spend": F.sum(F.col("o_totalprice").cast("decimal(27,6)")),
            "n_orders": F.count(F.lit(1)),
            "max_price": F.max("o_totalprice"),
        },
    )
    state.results.persist().count()
    contribs.count()
    delta = (
        o_all.where(F.col("o_orderkey") % 100 == 0)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("+"))
        .unionByName(
            base.where(F.col("o_orderkey") % 97 == 0)
            .select("o_custkey", "o_orderkey", "o_totalprice")
            .withColumn("op", F.lit("-"))
        )
        .persist()
    )
    delta.count()
    mem_refresh_runs, mem_full_runs = [], []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        refresh(state, delta).results.write.format("noop").mode(
            "overwrite"
        ).save()
        mem_refresh_runs.append(round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        full = (
            o_all.where(
                (F.col("o_orderkey") % 100 == 0)
                | (F.col("o_orderkey") % 97 != 0)
            )
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias(
                    "spend"
                ),
                F.count(F.lit(1)).alias("n_orders"),
                F.max("o_totalprice").alias("max_price"),
            )
        )
        full.write.format("noop").mode("overwrite").save()
        mem_full_runs.append(round(time.perf_counter() - t0, 3))
    refresh_only_sec = _median(mem_refresh_runs)
    full_recompute_sec = _median(mem_full_runs)
    incr_ratio = (
        round(refresh_only_sec / full_recompute_sec, 3)
        if full_recompute_sec
        else None
    )

    # linear fast path (sum/count only — updateResKV analogue): new result =
    # old + net delta, zero preserved-contribution reads
    from incr_iter_hadoop_spark.operators.incremental import refresh_linear

    lin_state = preserve(
        contribs,
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_exprs={
            "spend": F.sum(F.col("o_totalprice").cast("decimal(27,6)")),
            "n_orders": F.count(F.lit(1)),
        },
    )
    lin_state.results.persist().count()
    lin_runs = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        refresh_linear(
            lin_state,
            delta,
            linear_exprs={
                "spend": F.sum(
                    F.col("_sign") * F.col("o_totalprice").cast("decimal(27,6)")
                ),
                "n_orders": F.sum("_sign").cast("bigint"),
            },
            count_col="n_orders",
        ).write.format("noop").mode("overwrite").save()
        lin_runs.append(round(time.perf_counter() - t0, 3))
    linear_refresh_sec = _median(lin_runs)
    linear_ratio = (
        round(linear_refresh_sec / full_recompute_sec, 3)
        if full_recompute_sec
        else None
    )

    # r12 (VERDICT r11 ask #3): the in-memory ratios sit on Spark's
    # per-JOB fixed costs at sf0.1 — measure that floor with the SAME
    # recompute plan over a trivial 100-row slice (scheduler + stage +
    # 32-task launch + exchange setup, zero data-dependent work; a bare
    # one-row noop reads ~0.05s and misses the per-stage costs, measured
    # r12) and emit a meaningfulness flag. At sf0.1 the full recompute is
    # ~0.47s of which ~0.18s (38%) is this plan floor, and the refresh
    # side runs MORE stages (delta agg + state join) so its floor is
    # higher — the ratio separates refresh quality from fixed costs only
    # when the denominator clears several plan floors. The r10→r11
    # linear drift 0.758→0.984 is floor noise on a small denominator,
    # not a refresh regression (same discipline as the disk ratio's
    # incr_disk_ratio_meaningful, BASELINE.md amendment r8).
    floor_plan = o_all.limit(100).groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(27,6)")).alias("spend"),
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_totalprice").alias("max_price"),
    )
    floor_runs = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        floor_plan.write.format("noop").mode("overwrite").save()
        floor_runs.append(round(time.perf_counter() - t0, 3))
    mem_job_floor_sec = _median(floor_runs)
    mem_ratio_meaningful = bool(
        full_recompute_sec and full_recompute_sec >= 3 * mem_job_floor_sec
    )

    # The on-disk preserve-store scenario: state ≫ delta (the reference's
    # actual operating point — IFile.PreserveFile holds the converged state,
    # deltas are small). State = orders contributions replicated 150×
    # (~22.5M rows at sf0.1) in a bucketed store; the delta touches ~9 of
    # ~15k groups. Steady-state protocol v2 (ADVICE r03: protocol-explicit
    # key so cross-date comparisons never mix scenarios): initialize + one
    # warm-up refresh are setup (paid once per store lifetime), then REPS
    # successive refreshes are timed (median; each adds one thin layer —
    # the honest steady state of a layered store) against one full
    # recompute over the same on-disk base with every delta applied — the
    # recompute pays O(|state|) scan + aggregate + full result write, the
    # refresh pays O(|affected|) bucket-pruned point reads + layer write.
    import shutil
    import tempfile

    from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore

    n_copies, n_buckets = 150, 64
    copies = [
        o_all.select(
            "o_custkey",
            (F.col("o_orderkey") + F.lit(i * 10_000_000_000)).alias(
                "o_orderkey"
            ),
            "o_totalprice",
        )
        for i in range(n_copies)
    ]
    big_contribs = copies[0]
    for c in copies[1:]:
        big_contribs = big_contribs.unionByName(c)
    store_root = tempfile.mkdtemp(prefix="bench_preserve_")
    store = PreserveStore(spark, os.path.join(store_root, "orders"))
    store.initialize(
        big_contribs,
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_sql={
            "spend": "CAST(SUM(o_totalprice) AS DOUBLE)",
            "n_orders": "CAST(COUNT(1) AS BIGINT)",
            "max_price": "CAST(MAX(o_totalprice) AS DOUBLE)",
        },
        num_buckets=n_buckets,
    )

    def _mk_delta(mod: int, add_off: int, rm_copy: int):
        aff = F.col("o_custkey") % mod == 0
        additions = (
            o_all.where(aff)
            .select(
                "o_custkey",
                (F.col("o_orderkey") + F.lit(add_off)).alias("o_orderkey"),
                "o_totalprice",
            )
            .withColumn("op", F.lit("+"))
        )
        removals = (
            o_all.where(aff)
            .select(
                "o_custkey",
                (F.col("o_orderkey") + F.lit(rm_copy * 10_000_000_000)).alias(
                    "o_orderkey"
                ),
                "o_totalprice",
            )
            .withColumn("op", F.lit("-"))
        )
        return additions.unionByName(removals).persist()

    warmup = _mk_delta(1871, 2_000_000_000_000, 5)
    warmup.count()
    store.refresh(warmup)  # warm-up: file-index listing + catalog costs
    timed_deltas = [
        _mk_delta(1873 + 2 * k, (3 + k) * 1_000_000_000_000, 7 + k)
        for k in range(REPS)
    ]
    all_deltas = [warmup] + timed_deltas
    disk_refresh_runs = []
    for d in timed_deltas:
        d.count()
        t0 = time.perf_counter()
        store.refresh(d)
        disk_refresh_runs.append(round(time.perf_counter() - t0, 3))
    disk_refresh_sec = _median(disk_refresh_runs)

    base_contribs = spark.table(store._table_name("contribs"))
    both = all_deltas[0]
    for d in all_deltas[1:]:
        both = both.unionByName(d)
    # protocol v3: the denominator is median-of-REPS like the refresh side.
    # v2 timed the full recompute ONCE, so one noisy measurement of an
    # O(|state|) job swung the headline ratio by ±0.1 across driver runs
    # (the r4→r5 0.632→0.739 drift was entirely denominator variance, not
    # a refresh regression — profiled r6, VERDICT r5 ask #7).
    minus_d = both.where(F.col("op") == "-").select("o_custkey", "o_orderkey")
    plus_d = both.where(F.col("op") == "+").drop("op")
    full_disk = (
        base_contribs.join(minus_d, ["o_custkey", "o_orderkey"], "left_anti")
        .unionByName(plus_d)
        .groupBy("o_custkey")
        .agg(
            F.expr("CAST(SUM(o_totalprice) AS DOUBLE)").alias("spend"),
            F.expr("CAST(COUNT(1) AS BIGINT)").alias("n_orders"),
            F.expr("CAST(MAX(o_totalprice) AS DOUBLE)").alias("max_price"),
        )
    )
    disk_full_runs = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        full_disk.write.mode("overwrite").parquet(
            os.path.join(store_root, "full_out")
        )
        disk_full_runs.append(round(time.perf_counter() - t0, 3))
    disk_full_sec = _median(disk_full_runs)
    disk_ratio = (
        round(disk_refresh_sec / disk_full_sec, 3) if disk_full_sec else None
    )
    shutil.rmtree(store_root, ignore_errors=True)

    # non-headline extras: the substring-span dedup pair (new in r4) —
    # tracked as separate keys so the headline total stays comparable
    # across rounds. The incremental side is timed STEADY-STATE (same
    # protocol as the disk store): the base gram index is materialized
    # once as preserved state, and only the delta pass — fingerprint the
    # held-out tenth, probe the index, merge spans — is on the clock.
    from incr_iter_hadoop_spark.operators.dedup import (
        _doc_split,
        duplicate_substring_spans,
        substring_gram_index,
    )

    full_runs_s: list[float] = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        specs["dedup_substring_spans"].fn(spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        full_runs_s.append(round(time.perf_counter() - t0, 3))
    substring_sec = _median(full_runs_s)
    _, sub_base, sub_new = _doc_split(spark, SF_DIR)
    idx_path = os.path.join(
        tempfile.mkdtemp(prefix="bench_gram_idx_"), "base_idx"
    )
    substring_gram_index(sub_base, "doc_id", "text").write.parquet(idx_path)
    base_idx = spark.read.parquet(idx_path)
    incr_runs_s: list[float] = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        duplicate_substring_spans(
            sub_new, "doc_id", "text", base_index=base_idx
        ).write.format("noop").mode("overwrite").save()
        incr_runs_s.append(round(time.perf_counter() - t0, 3))
    incr_substring_sec = _median(incr_runs_s)
    shutil.rmtree(os.path.dirname(idx_path), ignore_errors=True)

    # non-headline extra (r5): the REAL multimodal decode path — synthesize
    # + full JPEG decode per document, Arrow-batched on executors. Tracked
    # so codec-cost regressions surface in the trend without perturbing the
    # headline total.
    jpeg_runs_s: list[float] = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        specs["multimodal_jpeg_decode"].fn(spark, SF_DIR).write.format(
            "noop"
        ).mode("overwrite").save()
        jpeg_runs_s.append(round(time.perf_counter() - t0, 3))
    jpeg_decode_sec = _median(jpeg_runs_s)

    # non-headline extras (r6): the r5 families VERDICT asked to track —
    # perceptual media dedup, WebDataset shard ingestion, SCD2 temporal
    # join. Same protocol (median-of-REPS, noop sink); the WDS fixture is
    # pre-warmed so the timing measures the scan+untar+decode, not the
    # one-time shard materialization.
    from incr_iter_hadoop_spark.operators.multimodal import _wds_fixture_dir

    _wds_fixture_dir(spark, SF_DIR)
    r6_extras: dict[str, float] = {}
    for qname, key in [
        ("media_dedup_phash", "media_dedup_phash_sec"),
        ("scan_webdataset_shards", "scan_webdataset_shards_sec"),
        ("scd2_point_in_time_join", "scd2_point_in_time_join_sec"),
        # r7: the store-backed twin — includes store init + bucketed facts
        # write + the split-by-touched join; the delta vs the pure-
        # transformation line above is the durability cost
        ("scd2_store_pit_join", "scd2_store_pit_join_sec"),
        # r8: the streamed variant — adds the feed-file write, a
        # two-micro-batch drain (checkpoint + per-batch sink overwrite),
        # and the sink re-read; the delta vs the store line above is the
        # streaming-machinery cost, recorded from day one so the trend
        # never starts at a single point
        ("scd2_store_pit_streamed", "scd2_store_pit_streamed_sec"),
        # r10: the two new pipeline gates — substring decontamination
        # (broadcast left-semi containment) and the composed ten-rule
        # Gopher filter (single map stage) — trended from day one
        ("decontaminate_substring", "decontaminate_substring_sec"),
        ("text_gopher_filter", "text_gopher_filter_sec"),
        # r10 (late): the at-rest CCNet keep-first paragraph dedup
        # (content-keyed agg + reassembly) — trended from day one
        ("dedup_paragraphs_global", "dedup_paragraphs_sec"),
        # r11: the fingerprint-keyed paragraph-dedup twin (16-byte md5
        # through the content exchange instead of paragraph text) and
        # the normalized decontamination gate — trended from day one
        ("dedup_paragraphs_fp", "dedup_paragraphs_fp_sec"),
        ("decontaminate_normalized", "decontaminate_normalized_sec"),
        # r13: SemDeDup cluster-then-prune (batch + preserve/delta twin —
        # the pair should trend together; the incr line re-derives the
        # base drops in-query, so its value is the plan-shape cost, not a
        # steady-state ratio) and the oscillation-guarded LPA — trended
        # from day one
        ("semantic_dedup_prune", "semantic_dedup_sec"),
        ("incr_semantic_dedup", "incr_semantic_dedup_sec"),
        ("lpa_converged", "lpa_converged_sec"),
    ]:
        xs: list[float] = []
        for _rep in range(REPS):
            t0 = time.perf_counter()
            specs[qname].fn(spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            xs.append(round(time.perf_counter() - t0, 3))
        r6_extras[key] = _median(xs)

    # the incremental paragraph-dedup pass (dedup_paragraphs with a seen
    # set), timed STEADY-STATE like the substring pair — the preserved
    # distinct-paragraph seen set is materialized once on disk, and only
    # the delta pass (batch-local first-occurrence agg + seen-set
    # anti-join + reassembly) is on the clock.
    from incr_iter_hadoop_spark.operators.dedup import (
        _NEW_DOC_MOD,
        _para_explode,
        _synth_para_docs,
        dedup_paragraphs,
    )

    # the SAME base/delta split as the registered query it trends
    para_synth = _synth_para_docs(spark, SF_DIR)
    para_base = para_synth.where(F.col("doc_id") % _NEW_DOC_MOD != 0)
    para_delta = para_synth.where(F.col("doc_id") % _NEW_DOC_MOD == 0)
    seen_path = os.path.join(
        tempfile.mkdtemp(prefix="bench_para_seen_"), "seen"
    )
    _para_explode(para_base, "doc_id", "text", "\n\n")[0].select(
        "para"
    ).distinct().write.parquet(seen_path)
    para_seen = spark.read.parquet(seen_path)
    para_runs_s: list[float] = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        dedup_paragraphs(
            para_delta, "doc_id", "text", seen=para_seen
        ).write.format("noop").mode("overwrite").save()
        para_runs_s.append(round(time.perf_counter() - t0, 3))
    r6_extras["incr_dedup_paragraphs_sec"] = _median(para_runs_s)
    shutil.rmtree(os.path.dirname(seen_path), ignore_errors=True)

    # r11 (VERDICT r10 ask #3): shuffle-bytes A/B of the two paragraph-
    # dedup plans — the fp twin exists because the value-keyed plan's
    # content exchange carries full paragraph text; this records how many
    # bytes each variant actually shuffles at sf0.1 so the claimed
    # order-of-magnitude cut is measured, not asserted. Wall-clock for
    # both is already in r6_extras; this is the byte-level evidence.
    # Stage-id-keyed sums (shuffle_write_bytes_after), never total
    # deltas — see the helper's eviction note.
    m0 = _max_stage_id(spark)
    specs["dedup_paragraphs_global"].fn(spark, SF_DIR).write.format(
        "noop"
    ).mode("overwrite").save()
    para_value_bytes = shuffle_write_bytes_after(spark, m0)
    m1 = _max_stage_id(spark)
    specs["dedup_paragraphs_fp"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    para_fp_bytes = shuffle_write_bytes_after(spark, m1)
    r6_extras["dedup_paragraphs_shuffle_mb"] = round(
        para_value_bytes / 1e6, 3
    )
    r6_extras["dedup_paragraphs_fp_shuffle_mb"] = round(
        para_fp_bytes / 1e6, 3
    )
    r6_extras["paragraph_fp_shuffle_ratio"] = (
        round(para_fp_bytes / para_value_bytes, 3) if para_value_bytes else None
    )

    # r12 (VERDICT r11 ask #7): extend the shuffle-bytes instrumentation
    # across the dedup family — the 100 TB arguments for the banded
    # minhash join, the simhash twin, and the broadcast decontamination
    # gate become quantitative trend lines instead of plan-shape prose.
    # Same stage-id-keyed protocol as the paragraph pair above.
    for qname, key in [
        ("dedup_minhash_pairs", "dedup_minhash_shuffle_mb"),
        ("dedup_simhash_pairs", "dedup_simhash_shuffle_mb"),
        ("decontaminate_normalized", "decontaminate_normalized_shuffle_mb"),
    ]:
        m0 = _max_stage_id(spark)
        specs[qname].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        r6_extras[key] = round(
            shuffle_write_bytes_after(spark, m0) / 1e6, 3
        )

    # r14 (VERDICT r13 ask #3): lpa_converged's structural trend —
    # shuffle-write MB + stage count for the whole converged run (the r13
    # one-exchange-round claim read 128.27→109.63 MB / 55→48 stages on the
    # builder's harness; this makes the same numbers driver-visible every
    # round). Deterministic: byte-identical across reps on unchanged code.
    m0 = _max_stage_id(spark)
    specs["lpa_converged"].fn(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    _lpa_new = {
        sid: b
        for sid, b in _stage_shuffle_writes(spark).items()
        if sid > m0
    }
    r6_extras["lpa_converged_shuffle_mb"] = round(
        sum(_lpa_new.values()) / 1e6, 3
    )
    r6_extras["lpa_converged_stages"] = len(_lpa_new)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_struct": {q: struct[q] for q in HEADLINE if q in struct},
        "queries_spread": spreads,
        "queries_runs": runs,
        "reps": REPS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # headline incremental metric: the on-disk preserve store at
        # state ≫ delta (refresh must beat recompute here). The protocol-
        # explicit key is authoritative; the legacy key is kept so older
        # trend lines still parse, with the protocol field disambiguating.
        "incr_disk_refresh_vs_full_recompute": disk_ratio,
        # the sf echoed NEXT TO the ratio (r8, VERDICT r7 ask #6): the
        # ratio is meaningful at sf>=0.1 only — at sf0.01 both sides sit
        # on Spark's fixed per-job overhead floor and draws read 2.1-2.4
        # regardless of code quality (see BASELINE.md protocol note)
        "incr_disk_ratio_at_sf": float(sf)
        if sf.replace(".", "").isdigit()
        else sf,
        "incr_disk_ratio_meaningful": (
            float(sf) >= 0.1 if sf.replace(".", "").isdigit() else False
        ),
        "incr_refresh_vs_full_recompute": disk_ratio,
        "incr_disk_refresh_sec": disk_refresh_sec,
        "incr_disk_refresh_runs": disk_refresh_runs,
        "incr_disk_full_recompute_sec": disk_full_sec,
        "incr_disk_full_recompute_runs": disk_full_runs,
        "incr_protocol": "disk_state150x_steady_median_v3",
        # legacy in-memory scenario (state ~ |orders|): dominated by Spark's
        # fixed per-job overhead at sf0.1; kept for trend comparison
        "incr_mem_refresh_vs_full_recompute": incr_ratio,
        # invertible-aggregate fast path: old result + net delta, no
        # contribution reads (updateResKV analogue)
        "incr_mem_linear_refresh_sec": linear_refresh_sec,
        "incr_mem_linear_refresh_vs_full_recompute": linear_ratio,
        # the measured per-job floor + the flag that gates both in-memory
        # ratios (r12, VERDICT r11 ask #3): when full_recompute_sec is
        # within 3x the plan floor, the ratios read floor noise, not
        # refresh quality — interpret the disk-store ratio instead
        "incr_mem_job_floor_sec": mem_job_floor_sec,
        "incr_mem_ratio_meaningful": mem_ratio_meaningful,
        # per-rep ratio extremes within THIS draw (r12): same code, same
        # minute — the spread IS the ambient band the median wanders in
        # (recorded same-day draws span 0.57-0.95 on identical code)
        "incr_mem_linear_ratio_spread": (
            [
                round(min(lin_runs) / max(mem_full_runs), 3),
                round(max(lin_runs) / min(mem_full_runs), 3),
            ]
            if mem_full_runs and min(mem_full_runs) > 0
            else None
        ),
        # substring-span dedup (non-headline, new r4): full corpus vs
        # delta-restricted incremental
        "substring_dedup_sec": substring_sec,
        "incr_substring_dedup_sec": incr_substring_sec,
        "incr_substring_vs_full": (
            round(incr_substring_sec / substring_sec, 3)
            if substring_sec
            else None
        ),
        "multimodal_jpeg_decode_sec": jpeg_decode_sec,
        **r6_extras,
    }
    print(json.dumps(result))
    # BASELINE.md protocol: record runs for regression tracking + trend table
    try:
        import datetime

        os.makedirs("bench/results", exist_ok=True)
        stamp = datetime.date.today().isoformat()
        with open(f"bench/results/{stamp}.json", "a") as f:
            f.write(json.dumps(result) + "\n")
        _write_trend_table("bench/results")
    except OSError:
        pass  # read-only checkout: stdout line is the contract
    # r13 (VERDICT r12 ask #1): the driver records only a 2000-char stdout
    # TAIL and json-parses it — the verbose line above outgrew that window
    # at round 4 and BENCH_r4..r12 all carry "parsed": null. This LAST line
    # is the driver-facing contract: complete, compact (~1 KB), and final,
    # so any tail window >= its length captures a parseable JSON line. The
    # verbose blob stays above for humans and bench/results history.
    compact = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "sf": result["sf"],
        "reps": REPS,
        "noisy_reps": NOISY_REPS,
        "queries": timings,
        # r14 (VERDICT r13 ask #1): per-headline-query [shuffle-write MB,
        # stage count] — deterministic plan-shape evidence the driver can
        # adjudicate optimization rounds on, since identical-code wall
        # totals on this sandbox span 15.9-432.6 s. Byte-stable across
        # reps on unchanged code; moves only when the plan moves.
        "queries_struct": {q: struct[q] for q in HEADLINE if q in struct},
        "lpa_converged_shuffle_mb": r6_extras["lpa_converged_shuffle_mb"],
        "lpa_converged_stages": r6_extras["lpa_converged_stages"],
        "incr_disk_refresh_vs_full_recompute": disk_ratio,
        "incr_disk_ratio_meaningful": result["incr_disk_ratio_meaningful"],
        "incr_mem_linear_refresh_vs_full_recompute": linear_ratio,
        "incr_mem_ratio_meaningful": mem_ratio_meaningful,
        "incr_substring_vs_full": result["incr_substring_vs_full"],
        "expected_band": EXPECTED_BAND,
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, f"compact bench line too long: {len(line)}"
    print(line)


def _write_trend_table(results_dir: str) -> None:
    """Regenerate bench/results/TREND.md: per-query medians (or single-shot
    values for pre-median history) across recorded bench lines, one row
    per query, one column per recorded run — the at-a-glance drift check
    BASELINE.md's 2x regression rule needs. TREND.md holds the LAST 20
    runs (r12, VERDICT r11 ask #8 — 90+ columns had outgrown at-a-glance);
    the complete history is regenerated alongside as TREND-full.md."""
    import glob

    lines = []
    for path in sorted(glob.glob(os.path.join(results_dir, "*.json"))):
        if os.path.basename(path).startswith("stress-"):
            continue  # scale-stress records have their own STRESS.md table
        date = os.path.basename(path)[:-5]
        with open(path) as f:
            for i, raw in enumerate(x for x in f if x.strip()):
                try:
                    rec = json.loads(raw)
                except json.JSONDecodeError:
                    continue
                if rec.get("metric") != "headline_total_wall":
                    continue  # foreign record shapes never join the trend
                label = f"{date}#{i}" + ("*" if "reps" in rec else "")
                if rec.get("sf") not in (0.1, "0.1"):
                    label += f"@sf{rec.get('sf')}"
                lines.append((label, rec))
    if not lines:
        return
    names = sorted({q for _l, r in lines for q in r.get("queries", {})})
    extra = [
        "value",
        "incr_disk_refresh_vs_full_recompute",
        "incr_mem_refresh_vs_full_recompute",
        "incr_substring_vs_full",
        "multimodal_jpeg_decode_sec",
        "media_dedup_phash_sec",
        "scan_webdataset_shards_sec",
        "scd2_point_in_time_join_sec",
        "scd2_store_pit_join_sec",
        "scd2_store_pit_streamed_sec",
        "decontaminate_substring_sec",
        "text_gopher_filter_sec",
        "dedup_paragraphs_sec",
        "incr_dedup_paragraphs_sec",
        "dedup_paragraphs_fp_sec",
        "decontaminate_normalized_sec",
        "semantic_dedup_sec",
        "incr_semantic_dedup_sec",
        "lpa_converged_sec",
        "lpa_converged_shuffle_mb",
        "lpa_converged_stages",
        "dedup_paragraphs_shuffle_mb",
        "dedup_paragraphs_fp_shuffle_mb",
        "paragraph_fp_shuffle_ratio",
        "dedup_minhash_shuffle_mb",
        "dedup_simhash_shuffle_mb",
        "decontaminate_normalized_shuffle_mb",
        "incr_mem_job_floor_sec",
        "incr_mem_linear_refresh_vs_full_recompute",
    ]
    def render(subset, header_note):
        out = [
            "# Per-query bench trend (sec; columns are recorded runs,",
            f"# `*` = median-of-N line, others single-shot){header_note}",
            "",
            "| query | " + " | ".join(label for label, _r in subset) + " |",
            "|---|" + "---|" * len(subset),
        ]
        for q in names + extra:
            cells = []
            for _label, rec in subset:
                v = rec.get("queries", {}).get(q, rec.get(q))
                cells.append("" if v is None else str(v))
            out.append(f"| {q} | " + " | ".join(cells) + " |")
        return "\n".join(out) + "\n"

    with open(os.path.join(results_dir, "TREND.md"), "w") as f:
        f.write(
            render(
                lines[-20:],
                f"; last 20 of {len(lines)} runs — full history in"
                " TREND-full.md",
            )
        )
    with open(os.path.join(results_dir, "TREND-full.md"), "w") as f:
        f.write(render(lines, ""))


def main_ab(ref: str, draws: int) -> None:
    """Interleaved A/B of ``ref``'s bench.py vs HEAD's (see module doc).

    Each draw is ONE subprocess invocation per side with
    SPARK_GRAFT_BENCH_REPS=1 (a fresh JVM each time — session startup is
    excluded from the per-query numbers by each side's own warmup action);
    the draw order alternates (ref,head / head,ref) so slow machine hours
    hit both sides symmetrically. Compared on the queries both sides
    report."""
    import subprocess
    import tempfile

    repo = os.path.dirname(os.path.abspath(__file__))

    def resolve(r: str) -> str:
        return subprocess.run(
            ["git", "rev-parse", "--short", r],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()

    # a /tmp reaper (or reboot) can delete a worktree that git still has
    # registered — `worktree add` then refuses with "missing but already
    # registered" and the run dies before any draw. Prune stale
    # registrations up front so recreation always succeeds.
    subprocess.run(["git", "worktree", "prune"], cwd=repo, check=True)

    def worktree(sha: str) -> str:
        w = os.path.join(tempfile.gettempdir(), f"bench_ab_{sha}")
        if not os.path.isdir(w):
            subprocess.run(
                ["git", "worktree", "add", "--detach", w, sha],
                cwd=repo, check=True,
            )
        return w

    # BOTH sides run in throwaway worktrees: committed-state vs
    # committed-state (uncommitted edits are invisible — commit first), and
    # neither side's per-draw record lines land in the repo's
    # bench/results/ trend (only the ab_compare line does, with the raw
    # draws inlined).
    sha, head_sha = resolve(ref), resolve("HEAD")
    wt, wt_head = worktree(sha), worktree(head_sha)
    env = dict(os.environ, SPARK_GRAFT_BENCH_REPS="1")

    def run_once(cwd: str) -> dict:
        p = subprocess.run(
            [sys.executable, "bench.py"],
            cwd=cwd, env=env, capture_output=True, text=True, check=True,
        )
        for line in reversed(p.stdout.strip().splitlines()):
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if rec.get("metric") == "headline_total_wall":
                return rec
        raise RuntimeError(f"no bench JSON line from {cwd}:\n{p.stdout[-2000:]}")

    samples: dict[str, list[dict]] = {"ref": [], "head": []}
    for d in range(draws):
        order = (
            [("ref", wt), ("head", wt_head)]
            if d % 2 == 0
            else [("head", wt_head), ("ref", wt)]
        )
        for side, cwd in order:
            print(f"ab draw {d + 1}/{draws} side={side} ...", file=sys.stderr)
            samples[side].append(run_once(cwd))

    common = sorted(
        set.intersection(
            *(set(r["queries"]) for rs in samples.values() for r in rs)
        )
    )
    per_q = {}
    for q in common:
        mr = _median([r["queries"][q] for r in samples["ref"]])
        mh = _median([r["queries"][q] for r in samples["head"]])
        per_q[q] = {
            "ref": mr,
            "head": mh,
            "ratio": round(mh / mr, 3) if mr else None,
        }
    tot_ref = round(sum(v["ref"] for v in per_q.values()), 3)
    tot_head = round(sum(v["head"] for v in per_q.values()), 3)
    result = {
        "metric": "ab_compare",
        "unit": "sec",
        "ref": ref,
        "ref_sha": sha,
        "head_sha": head_sha,
        "draws": draws,
        "sf": samples["head"][0].get("sf"),
        "value": round(tot_head / tot_ref, 3) if tot_ref else None,
        "total_ref": tot_ref,
        "total_head": tot_head,
        "queries": per_q,
        "raw": {
            side: [{q: r["queries"].get(q) for q in common} for r in rs]
            for side, rs in samples.items()
        },
    }
    print(json.dumps(result))
    try:
        os.makedirs("bench/results", exist_ok=True)
        with open("bench/results/ab-runs.jsonl", "a") as f:
            f.write(json.dumps(result) + "\n")
        _write_ab_table("bench/results")
    except OSError:
        pass


CONCURRENT_SET = [
    # one per plan shape (the gridmix mix: scan+agg, multiway join,
    # join+topk, window, agg battery, LSH dedup banded join, brute-force
    # ANN, preserve+refresh)
    "q1_pricing_summary",
    "q5_multiway_join",
    "q10_returned_items",
    "window_battery",
    "agg_value_battery",
    "dedup_minhash_pairs",
    "ann_bruteforce_topk",
    "incr_refresh_orders",
    # r13 (VERDICT r12 ask #8): the gridmix2 HETEROGENEITY — one
    # multi-job iterative loop and one on-disk store refresh run WITH the
    # eight single-job chains, so the mix exercises loop scheduling and
    # store I/O under contention, not just chain queries. Their inflation
    # columns land in CONCURRENT.md like every other member's.
    "pagerank_bounded5",
    "incr_refresh_orders_disk",
]


def main_concurrent(workers: int) -> None:
    """Mixed concurrent-workload bench (r12, VERDICT r11 missing #1 — the
    analogue of the reference's gridmix/gridmix2 contention harness,
    incr-hadoop-0.1/src/benchmarks/gridmix/: many heterogeneous jobs
    submitted to ONE cluster at once). Runs CONCURRENT_SET serially
    (median-of-REPS per query), then submits all of them to the shared
    SparkSession from ``workers`` threads at once (Spark schedules
    concurrent jobs from one session across the same executor pool —
    exactly the multi-tenant shape), repeated REPS times. Records the
    per-query inflation (concurrent wall / serial wall — queueing +
    cache/CPU contention) and the throughput speedup (serial total /
    concurrent makespan — > 1 means the engine converts concurrency into
    throughput instead of thrashing)."""
    from concurrent.futures import ThreadPoolExecutor

    from incr_iter_hadoop_spark.registry import all_queries
    from incr_iter_hadoop_spark.session import get_spark

    spark = get_spark(app_name="bench-concurrent")
    specs = all_queries()
    # warm EVERY table the mix touches (q5/q10 read the dims too) so the
    # serial baselines are not biased cold vs the later concurrent phase
    for t in (
        "region", "nation", "supplier", "part", "lineitem", "orders",
        "customer", "documents", "embeddings",
    ):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()

    def run_one(name: str) -> float:
        t0 = time.perf_counter()
        specs[name].fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.perf_counter() - t0, 3)

    serial_runs: dict[str, list[float]] = {n: [] for n in CONCURRENT_SET}
    for _rep in range(REPS):
        for n in CONCURRENT_SET:
            serial_runs[n].append(run_one(n))
    serial = {n: _median(xs) for n, xs in serial_runs.items()}

    conc_runs: dict[str, list[float]] = {n: [] for n in CONCURRENT_SET}
    makespans: list[float] = []
    for _rep in range(REPS):
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=workers) as ex:
            futs = {n: ex.submit(run_one, n) for n in CONCURRENT_SET}
            for n, f in futs.items():
                conc_runs[n].append(f.result())
        makespans.append(round(time.perf_counter() - t0, 3))
    concurrent = {n: _median(xs) for n, xs in conc_runs.items()}
    makespan = _median(makespans)

    inflation = {
        n: round(concurrent[n] / serial[n], 3) if serial[n] else None
        for n in CONCURRENT_SET
    }
    serial_total = round(sum(serial.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "concurrent_bench",
        "unit": "sec",
        "value": round(serial_total / makespan, 3) if makespan else None,
        "workers": workers,
        "reps": REPS,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "serial_total_sec": serial_total,
        "concurrent_makespan_sec": makespan,
        "makespan_runs": makespans,
        "serial": serial,
        "concurrent": concurrent,
        "inflation": inflation,
        "median_inflation": _median(
            [v for v in inflation.values() if v is not None]
        ),
    }
    print(json.dumps(result))
    try:
        os.makedirs("bench/results", exist_ok=True)
        with open("bench/results/concurrent-runs.jsonl", "a") as f:
            f.write(json.dumps(result) + "\n")
        _write_concurrent_table("bench/results")
    except OSError:
        pass


def _write_concurrent_table(results_dir: str) -> None:
    path = os.path.join(results_dir, "concurrent-runs.jsonl")
    with open(path) as f:
        recs = [json.loads(ln) for ln in f if ln.strip()]
    lines = [
        "# Mixed concurrent-workload runs (bench.py --concurrent; the",
        "# gridmix analogue: per-query inflation = concurrent/serial wall",
        "# under full contention, throughput speedup = serial total /",
        "# concurrent makespan — > 1 means concurrency buys throughput)",
        "",
    ]
    for r in recs:
        lines.append(
            f"## sf{r['sf']} x{r['workers']} workers, reps {r['reps']} — "
            f"serial {r['serial_total_sec']}s -> makespan "
            f"{r['concurrent_makespan_sec']}s (speedup x{r['value']}, "
            f"median inflation x{r['median_inflation']})"
        )
        lines.append("")
        lines.append("| query | serial med | concurrent med | inflation |")
        lines.append("|---|---|---|---|")
        for q in r["serial"]:
            lines.append(
                f"| {q} | {r['serial'][q]} | {r['concurrent'][q]} | "
                f"{r['inflation'][q]} |"
            )
        lines.append("")
    with open(os.path.join(results_dir, "CONCURRENT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def _write_ab_table(results_dir: str) -> None:
    path = os.path.join(results_dir, "ab-runs.jsonl")
    recs = []
    with open(path) as f:
        recs = [json.loads(ln) for ln in f if ln.strip()]
    lines = [
        "# Interleaved A/B runs (bench.py --ab; per-query medians over",
        "# alternating draws — ratio = head/ref, ≈1.0 everywhere means the",
        "# cross-round delta is ambient, specific off-ratio queries mean a",
        "# real regression)",
        "",
    ]
    for r in recs:
        lines.append(
            f"## {r['ref']} ({r['ref_sha']}) vs HEAD — {r['draws']} draws, "
            f"sf{r['sf']}, total {r['total_ref']} -> {r['total_head']} "
            f"(x{r['value']})"
        )
        lines.append("")
        lines.append("| query | ref med | head med | head/ref |")
        lines.append("|---|---|---|---|")
        for q, v in sorted(r["queries"].items()):
            lines.append(f"| {q} | {v['ref']} | {v['head']} | {v['ratio']} |")
        lines.append("")
    with open(os.path.join(results_dir, "AB.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    if "--ab" in sys.argv:
        i = sys.argv.index("--ab")
        ab_ref = sys.argv[i + 1]
        n_draws = (
            int(sys.argv[sys.argv.index("--draws") + 1])
            if "--draws" in sys.argv
            else 4
        )
        main_ab(ab_ref, n_draws)
    elif "--concurrent" in sys.argv:
        n_workers = (
            int(sys.argv[sys.argv.index("--workers") + 1])
            if "--workers" in sys.argv
            else len(CONCURRENT_SET)
        )
        main_concurrent(n_workers)
    else:
        main()
