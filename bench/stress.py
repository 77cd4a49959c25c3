"""Generator-driven scale-stress bench (round 5, VERDICT #4).

The sf0.1 fixtures top out at ~17 MB, so the 100×-scale claims otherwise
rest on plan-shape arguments alone. This harness synthesizes workloads
10–50× the sf0.1 operating point ON THE EXECUTORS (spark.range → column
exprs; no driver-side data, no fixture files) for three representatives
and measures how their costs actually scale:

1. **PageRank per-iteration cost** — ``gen_graph_edges`` at ~0.6M edges
   (the sf0.1 graph size) and ~50× that; 5 bounded iterations each; the
   scaling metric is seconds per iteration per million edges. Linear ⇒
   the one-shuffle-per-iteration plan holds.
2. **MinHash+LSH dedup** — synthetic corpora (LCG token soup, 1% injected
   near-dup neighbors so output size stays LINEAR in corpus size — pure
   replication would create quadratic-output clusters and measure output
   materialization, not the operator) at 5k and 50× docs; metric:
   seconds per 1k docs, plus found-pair counts proving the injected dups
   are recovered at both scales.
3. **Disk-store refresh ratio vs state size** — the bench.py steady-state
   protocol at 150× and 450× replicated contributions. The incremental
   thesis predicts the refresh:recompute RATIO falls as state grows
   (refresh cost tracks the delta, recompute tracks the state).
4. **Media perceptual dedup** (round 6) — real JPEG decode + aHash +
   banded LSH at 5k and 50× images; planted near-pairs make found ==
   expected an exact recall check at both scales.
5. **Star-CC on a path graph** (round 6) — the high-diameter adversary:
   10× the diameter must cost ~log₂(10) extra ROUNDS, not 10×.
6. **SCD2 point-in-time join** (round 6) — history built by the real
   scd2_apply at 1× and 10× (keys AND facts); the equi-join + residual
   range filter must scale ~linearly in facts (no range-join blowup).
7. **Refresh cost vs store depth** (round 6, section 3b) — 12 successive
   thin refreshes on one 150× store: with constant-size read plans the
   per-refresh wall must stay within 2.5× of the early-depth band, and a
   compact() resets it.

Usage: python bench/stress.py  [--quick]
Prints one JSON line; appends it to bench/results/stress-<date>.json and
regenerates bench/results/STRESS.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import date, datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
QUICK = "--quick" in sys.argv


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .appName("spark-graft-stress")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    out: dict = {
        "metric": "stress_scaling",
        "unit": "sec",
        "ts": datetime.now(timezone.utc).isoformat(timespec="seconds"),
        "cpus": int(CPUS),
    }
    # Invariant violations are RECORDED, not asserted mid-run: one noisy
    # measurement must not discard every earlier section's results before
    # the JSON line is persisted (ADVICE r6). Each check appends here and
    # sets an *_ok field in its section; main() exits nonzero AFTER saving.
    violations: list[str] = []

    # ---- 1. PageRank per-iteration scaling ------------------------------
    from incr_iter_hadoop_spark.operators.generators import gen_graph_edges
    from incr_iter_hadoop_spark.operators.iterative import pagerank

    def time_pagerank(n_nodes: int, iters: int = 5):
        edges = gen_graph_edges(spark, n_nodes, avg_degree=8)
        n_edges = edges.count()
        t0 = time.perf_counter()
        res = pagerank(edges, max_iterations=iters)
        res.state.count()
        wall = time.perf_counter() - t0
        res.state.unpersist()
        return n_edges, round(wall, 2), round(wall / iters / (n_edges / 1e6), 3)

    small_nodes = 150_000  # ≈ the sf0.1 graph's 0.59M edges
    big_nodes = small_nodes * (10 if QUICK else 50)
    e1, w1, c1 = time_pagerank(small_nodes)
    e2, w2, c2 = time_pagerank(big_nodes)
    out["pagerank"] = {
        "edges_small": e1, "wall_small_sec": w1, "sec_per_iter_per_Medges_small": c1,
        "edges_big": e2, "wall_big_sec": w2, "sec_per_iter_per_Medges_big": c2,
        # < 1 means the big run is CHEAPER per edge (fixed overhead
        # amortized); > 1 means super-linear growth
        "scaling_ratio": round(c2 / c1, 3) if c1 else None,
    }

    # ---- 2. MinHash+LSH dedup scaling -----------------------------------
    from incr_iter_hadoop_spark.operators.dedup import minhash_lsh_pairs

    def synth_docs(n_docs: int):
        """LCG token soup, 40 tokens/doc over a 50k-token vocab: accidental
        near-dups are vanishingly rare, so pair output is driven by the
        INJECTED dups — every doc with id % 100 == 0 gets a neighbor
        (id+1) sharing all but two tokens."""
        base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
        # md5-hashed tokens: a LINEAR formula (d·a + j·b mod V) makes every
        # doc an arithmetic progression — docs become shifted copies of
        # each other and everything near-dups everything (observed: 3.4k
        # accidental pairs at 5k docs). Hashing (base_id, j) kills the
        # additive structure; accidental 3-shingle overlap is then ~0.
        base_id = (
            F.col("doc_id") - (F.col("doc_id") % 100 == 1).cast("long")
        )
        tok = F.transform(
            F.sequence(F.lit(0), F.lit(39)),
            lambda j: F.concat(
                F.lit("t"),
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("_", base_id, j)), 1, 7
                    ),
                    16,
                    10,
                )
                % 50_000,
            ),
        )
        # docs with id%100==1 reuse id-1's tokens (via base_id), then
        # mutate two positions -> a guaranteed near-dup pair per 100 docs
        # (3-shingle Jaccard 36/40 = 0.9 > the 0.8 threshold)
        mutated = F.when(
            F.col("doc_id") % 100 == 1,
            F.concat(
                F.slice(tok, 1, 38),
                F.array(
                    F.concat(F.lit("x"), F.col("doc_id")),
                    F.concat(F.lit("y"), F.col("doc_id")),
                ),
            ),
        ).otherwise(tok)
        return base.select(
            "doc_id", F.array_join(mutated, " ").alias("text")
        )

    def time_minhash(n_docs: int):
        docs = synth_docs(n_docs).persist()
        docs.count()
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(docs, "doc_id", "text")
        n_pairs = pairs.count()
        wall = time.perf_counter() - t0
        docs.unpersist()
        return n_pairs, round(wall, 2), round(wall / (n_docs / 1e3), 3)

    small_docs = 5_000
    big_docs = small_docs * (10 if QUICK else 50)
    p1, mw1, mc1 = time_minhash(small_docs)
    p2, mw2, mc2 = time_minhash(big_docs)
    out["minhash"] = {
        "docs_small": small_docs, "pairs_small": p1, "wall_small_sec": mw1,
        "sec_per_kdocs_small": mc1,
        "docs_big": big_docs, "pairs_big": p2, "wall_big_sec": mw2,
        "sec_per_kdocs_big": mc2,
        "scaling_ratio": round(mc2 / mc1, 3) if mc1 else None,
    }

    # ---- 2b. Substring decontamination scaling (r10) --------------------
    # corpus vs benchmark containment on the same synthetic docs: docs
    # with id % 100 == 0 land in the "benchmark" split, and synth_docs
    # already gives each of them a near-copy at id+1 (38 of 40 tokens, a
    # ~200-char shared prefix run — far above the 32-char gram floor), so
    # exactly one corpus doc per 100 is contaminated by construction.
    # Work is O(corpus fingerprints) with the benchmark grams broadcast;
    # s/kdoc must stay ~flat at 50x, and the flag COUNT must scale
    # exactly linearly (recall invariance — a run this long cannot miss
    # the content gate).
    from incr_iter_hadoop_spark.operators.dedup import (
        benchmark_gram_set,
        decontaminate_spans,
        fingerprint_grams,
    )

    def time_decontam(n_docs: int):
        docs = synth_docs(n_docs).persist()
        docs.count()
        corpus = docs.where(F.col("doc_id") % 100 != 0)
        bench = docs.where(F.col("doc_id") % 100 == 0)
        t0 = time.perf_counter()
        flagged = decontaminate_spans(
            fingerprint_grams(corpus, "doc_id", "text"),
            benchmark_gram_set(bench, "doc_id", "text"),
        ).count()
        wall = time.perf_counter() - t0
        docs.unpersist()
        return flagged, round(wall, 2), round(wall / (n_docs / 1e3), 3)

    df1, dw1, dc1 = time_decontam(small_docs)
    df2, dw2, dc2 = time_decontam(big_docs)
    if df1 != small_docs // 100 or df2 != big_docs // 100:
        violations.append(
            f"decontam: flagged {df1}/{df2}, expected "
            f"{small_docs // 100}/{big_docs // 100} (one planted "
            f"contaminated doc per 100)"
        )
    out["decontam"] = {
        "docs_small": small_docs, "flagged_small": df1,
        "wall_small_sec": dw1, "sec_per_kdocs_small": dc1,
        "docs_big": big_docs, "flagged_big": df2,
        "wall_big_sec": dw2, "sec_per_kdocs_big": dc2,
        "scaling_ratio": round(dc2 / dc1, 3) if dc1 else None,
        "flags_ok": df1 == small_docs // 100 and df2 == big_docs // 100,
    }

    # ---- 2c. Paragraph-dedup scaling (r10) -------------------------------
    # the CCNet keep-first corpus mutation on the same synthetic docs,
    # re-chunked into 4-token paragraphs: the id%100==1 near-copy shares
    # tokens 1-36 with id-1 (paragraphs 1-9 identical; paragraph 10
    # carries the two mutated tokens), so EXACTLY 9 paragraphs drop per
    # planted pair and sum(n_dropped) = 9 * n/100 by construction
    # (accidental 4-hashed-token chunk collisions ~ 0). s/kdoc must stay
    # ~flat at 50x (content-keyed hash agg + id-keyed reassembly, both
    # linear); the drop invariant is recall/exactness at scale. The
    # incremental pass (a seen set) is timed steady-state on the big corpus: the
    # id%100==1 near-copies are the arriving batch, everything else is
    # the committed base (its seen set materialized off the clock) —
    # delta work must be a small fraction of the at-rest wall.
    from incr_iter_hadoop_spark.operators.dedup import (
        _para_explode,
        dedup_paragraphs,
    )

    def para_docs(n_docs: int):
        toks = F.split(F.col("text"), " ")
        return synth_docs(n_docs).select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(37), F.lit(4)),
                    lambda i: F.array_join(F.slice(toks, i, 4), " "),
                ),
                "\n\n",
            ).alias("text"),
        )

    def time_paragraphs(n_docs: int):
        docs = para_docs(n_docs).persist()
        docs.count()
        t0 = time.perf_counter()
        dropped = (
            dedup_paragraphs(docs, "doc_id", "text")
            .agg(F.sum("n_dropped").alias("d"))
            .collect()[0]["d"]
        )
        wall = time.perf_counter() - t0
        docs.unpersist()
        return int(dropped), round(wall, 2), round(wall / (n_docs / 1e3), 3)

    pd1, pw1, pc1 = time_paragraphs(small_docs)
    pd2, pw2, pc2 = time_paragraphs(big_docs)
    exp1, exp2 = 9 * (small_docs // 100), 9 * (big_docs // 100)
    if pd1 != exp1 or pd2 != exp2:
        violations.append(
            f"paragraphs: dropped {pd1}/{pd2}, expected {exp1}/{exp2} "
            "(9 shared paragraphs per planted pair)"
        )
    # incremental pass, steady-state at the big scale: the id%100==1
    # near-copies arrive as the batch; everything else is committed base.
    # FRAMING (measured, r10): the delta pass is bounded by the seen-set
    # SCAN — on a RAM-resident 2.5M-paragraph corpus that is the same
    # order as simply re-running the at-rest agg, so incr_vs_full sits
    # near 1 here BY CONSTRUCTION and is recorded as a floor, not a win
    # (a bucketed-at-rest seen table was measured too: the sort survives
    # with >1 file per bucket and it is no faster at this scale). The
    # incremental claim is an I/O property — the delta pass never
    # re-READS the corpus text — which shows up when the corpus lives on
    # disk (bench.py extras: incr_dedup_paragraphs_sec ~ 1/3 of
    # dedup_paragraphs_sec at sf0.1) and dominates at 100 TB, where
    # re-reading the corpus is the cost and the seen set is the small
    # relation. What 50x must pin here is EXACTNESS under scale: the
    # drop count.
    big_para = para_docs(big_docs).persist()
    big_para.count()
    p_base = big_para.where(F.col("doc_id") % 100 != 1)
    p_delta = big_para.where(F.col("doc_id") % 100 == 1)
    seen_dir = tempfile.mkdtemp(prefix="stress_para_seen_")
    _para_explode(p_base, "doc_id", "text", "\n\n")[0].select(
        "para"
    ).distinct().write.parquet(os.path.join(seen_dir, "seen"))
    p_seen = spark.read.parquet(os.path.join(seen_dir, "seen"))
    t0 = time.perf_counter()
    incr_dropped = (
        dedup_paragraphs(p_delta, "doc_id", "text", seen=p_seen)
        .agg(F.sum("n_dropped").alias("d"))
        .collect()[0]["d"]
    )
    incr_wall = round(time.perf_counter() - t0, 2)
    big_para.unpersist()
    shutil.rmtree(seen_dir, ignore_errors=True)
    if int(incr_dropped) != exp2:
        violations.append(
            f"incr paragraphs: dropped {incr_dropped}, expected {exp2}"
        )
    out["paragraph_dedup"] = {
        "docs_small": small_docs, "dropped_small": pd1,
        "wall_small_sec": pw1, "sec_per_kdocs_small": pc1,
        "docs_big": big_docs, "dropped_big": pd2,
        "wall_big_sec": pw2, "sec_per_kdocs_big": pc2,
        "scaling_ratio": round(pc2 / pc1, 3) if pc1 else None,
        "drops_ok": pd1 == exp1 and pd2 == exp2 and int(incr_dropped) == exp2,
        "incr_delta_wall_big_sec": incr_wall,
        # ~1 at this scale by construction — see the framing note above
        "incr_vs_full_big": round(incr_wall / pw2, 3) if pw2 else None,
    }

    # ---- 2d. Boilerplate skew on the content-keyed dedup (r11) ----------
    # VERDICT r10 ask #5: the adversary for any content-keyed agg is ONE
    # paragraph present in EVERY doc (nav bar / license header) — its
    # content key receives n_docs rows, the maximal skew. The plan
    # argument says partial aggregation collapses the hot key map-side
    # (each task emits one (para, min-struct) partial), so the reduce
    # side sees ~n_partitions rows for the hot key and the wall stays
    # LINEAR in corpus size, within a small factor of the uniform
    # corpus. Both properties are measured: wall_skew/wall_uniform at
    # 50x must stay < 2.0, and the drop count stays EXACT under skew —
    # every doc but the global first loses its boilerplate copy, on top
    # of the 9-per-planted-pair drops (exactness under skew, the thing
    # a sampling/skew-mitigation shortcut would silently break).
    def boiler_docs(n_docs: int):
        return para_docs(n_docs).select(
            "doc_id",
            F.concat(
                F.lit("shared boilerplate nav header\n\n"), F.col("text")
            ).alias("text"),
        )

    def time_boiler(n_docs: int):
        docs = boiler_docs(n_docs).persist()
        docs.count()
        t0 = time.perf_counter()
        dropped = (
            dedup_paragraphs(docs, "doc_id", "text")
            .agg(F.sum("n_dropped").alias("d"))
            .collect()[0]["d"]
        )
        wall = time.perf_counter() - t0
        docs.unpersist()
        return int(dropped), round(wall, 2), round(wall / (n_docs / 1e3), 3)

    bd1, bw1, bc1 = time_boiler(small_docs)
    bd2, bw2, bc2 = time_boiler(big_docs)
    # per-pair drops unchanged (9 each) + one boilerplate copy per doc
    # beyond the global first occurrence
    bexp1 = 9 * (small_docs // 100) + (small_docs - 1)
    bexp2 = 9 * (big_docs // 100) + (big_docs - 1)
    if bd1 != bexp1 or bd2 != bexp2:
        violations.append(
            f"boilerplate skew: dropped {bd1}/{bd2}, expected "
            f"{bexp1}/{bexp2} (9/pair + one boilerplate copy per doc)"
        )
    skew_vs_uniform = round(bw2 / pw2, 3) if pw2 else None
    if skew_vs_uniform is not None and skew_vs_uniform > 2.0:
        violations.append(
            f"boilerplate skew: 50x wall {bw2}s is {skew_vs_uniform}x the "
            f"uniform corpus ({pw2}s) — hot content key not collapsing "
            "map-side"
        )
    out["paragraph_skew"] = {
        "docs_small": small_docs, "dropped_small": bd1,
        "wall_small_sec": bw1, "sec_per_kdocs_small": bc1,
        "docs_big": big_docs, "dropped_big": bd2,
        "wall_big_sec": bw2, "sec_per_kdocs_big": bc2,
        "scaling_ratio": round(bc2 / bc1, 3) if bc1 else None,
        "skew_wall_vs_uniform_big": skew_vs_uniform,
        "drops_ok": bd1 == bexp1 and bd2 == bexp2,
        "skew_ok": skew_vs_uniform is None or skew_vs_uniform <= 2.0,
    }

    # ---- 2e. fp-vs-content paragraph dedup at >= 1 KB paragraphs (r12) --
    # VERDICT r11 ask #1: the fp twin's claim is "shuffle bytes dominate
    # at corpus scale", but sf0.1's ~40-char synthetic paragraphs made it
    # 1.5x SLOWER in wall-time (md5 + map-side rebuild overhead). This
    # section is the missing crossover measurement: REALISTIC paragraphs —
    # 6 per doc, each 32 md5-wide tokens (~1.06 KB, the size of real
    # prose paragraphs) — where the value-keyed plan must shuffle each
    # paragraph's full text twice (content exchange + reassembly) and the
    # fp plan shuffles 16-byte hashes + one id-keyed doc-row join. Both
    # wall-time and measured shuffle bytes are recorded at 1x and Nx;
    # exactness (planted drop counts) is pinned for BOTH variants.
    import bench as _bench
    from incr_iter_hadoop_spark.operators.dedup import dedup_paragraphs_fp

    def fat_para_docs(n_docs: int):
        """6 paragraphs/doc, ~1.06 KB each; doc id % 100 == 1 reuses
        id-1's first 5 paragraphs (the planted pair: exactly 5 drops),
        paragraph 6 is always the doc's own — md5-hashed (owner, p, j)
        tokens kill accidental structure exactly like synth_docs."""
        base_id = F.col("doc_id") - (F.col("doc_id") % 100 == 1).cast("long")
        paras = F.transform(
            F.sequence(F.lit(0), F.lit(5)),
            lambda p: F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(31)),
                    lambda j: F.md5(
                        F.concat_ws(
                            "_",
                            F.when(p < 5, base_id).otherwise(F.col("doc_id")),
                            p,
                            j,
                        )
                    ),
                ),
                " ",
            ),
        )
        return spark.range(n_docs).select(
            F.col("id").alias("doc_id"),
            F.array_join(paras, "\n\n").alias("text"),
        )

    def time_para_fp_pair(n_docs: int):
        # FULL-output materialization (noop write of every column incl.
        # text_clean) with the drop count riding the same action via
        # df.observe — an agg(sum(n_dropped)) probe would let Catalyst
        # PRUNE text_clean and skip the content plan's reassembly
        # exchange entirely, understating its shuffle bytes (measured:
        # the pruned probe halves them)
        from pyspark.sql import Observation

        docs = fat_para_docs(n_docs).persist()
        docs.count()
        res = {}
        for label, op in (
            ("content", dedup_paragraphs),
            ("fp", dedup_paragraphs_fp),
        ):
            obs = Observation(f"para_fp_{label}_{n_docs}")
            m0 = _bench._max_stage_id(spark)
            t0 = time.perf_counter()
            op(docs, "doc_id", "text").observe(
                obs, F.sum("n_dropped").alias("d")
            ).write.format("noop").mode("overwrite").save()
            res[label] = {
                "wall_sec": round(time.perf_counter() - t0, 2),
                "shuffle_mb": round(
                    _bench.shuffle_write_bytes_after(spark, m0) / 1e6, 3
                ),
                "dropped": int(obs.get["d"]),
            }
        docs.unpersist()
        return res

    fp_small = time_para_fp_pair(small_docs)
    fp_big = time_para_fp_pair(big_docs)
    fexp1, fexp2 = 5 * (small_docs // 100), 5 * (big_docs // 100)
    for scale, res, exp in (
        ("small", fp_small, fexp1),
        ("big", fp_big, fexp2),
    ):
        for label in ("content", "fp"):
            if res[label]["dropped"] != exp:
                violations.append(
                    f"para_fp {scale}/{label}: dropped "
                    f"{res[label]['dropped']}, expected {exp}"
                )
    out["paragraph_fp_ab"] = {
        "docs_small": small_docs,
        "docs_big": big_docs,
        "para_bytes": 32 * 33 - 1,
        "small": fp_small,
        "big": fp_big,
        "wall_ratio_fp_vs_content_big": (
            round(fp_big["fp"]["wall_sec"] / fp_big["content"]["wall_sec"], 3)
            if fp_big["content"]["wall_sec"]
            else None
        ),
        "shuffle_ratio_fp_vs_content_big": (
            round(
                fp_big["fp"]["shuffle_mb"] / fp_big["content"]["shuffle_mb"], 3
            )
            if fp_big["content"]["shuffle_mb"]
            else None
        ),
        "drops_ok": all(
            res[label]["dropped"] == exp
            for res, exp in ((fp_small, fexp1), (fp_big, fexp2))
            for label in ("content", "fp")
        ),
    }

    # ---- 2f. Terasort under adversarial key skew (r12) -------------------
    # VERDICT r11 missing #2 / ask #5: the registered sort_skewed_validate
    # checks ORDER exactness at 200k rows; this section checks the SCALE
    # property — composite (key, id) range partitioning keeps partitions
    # balanced when ~10% of all rows share one hot key, at 1x and Nx. A
    # key-only range partitioner necessarily puts the hot key's whole
    # mass in one partition (3.2x the mean at 32 partitions) — the gate
    # here is max/mean <= 2.0 at BOTH scales, plus linear s/Mrows.
    from incr_iter_hadoop_spark.operators.windows import _skewed_keys

    def time_skewed_sort(n_rows: int):
        # the REGISTERED fixture at a parameterized scale — not a copy
        # that could drift if the distribution is ever tuned
        df = _skewed_keys(spark, n_rows).persist()
        df.count()
        n_parts = int(CPUS)
        t0 = time.perf_counter()
        sizes = [
            r["n"]
            for r in df.repartitionByRange(n_parts, "key", "id")
            .sortWithinPartitions("key", "id")
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ]
        wall = time.perf_counter() - t0
        df.unpersist()
        balance = round(max(sizes) / (n_rows / n_parts), 3)
        return round(wall, 2), round(wall / (n_rows / 1e6), 3), balance

    sort_small = 200_000
    sort_big = sort_small * (10 if QUICK else 50)
    tw1, tc1, tb1 = time_skewed_sort(sort_small)
    tw2, tc2, tb2 = time_skewed_sort(sort_big)
    if tb1 > 2.0 or tb2 > 2.0:
        violations.append(
            f"skewed sort: max/mean partition balance {tb1}/{tb2} exceeds "
            "2.0 — the composite range partitioner is not splitting the "
            "hot key"
        )
    out["skewed_sort"] = {
        "rows_small": sort_small, "wall_small_sec": tw1,
        "sec_per_Mrows_small": tc1, "balance_small": tb1,
        "rows_big": sort_big, "wall_big_sec": tw2,
        "sec_per_Mrows_big": tc2, "balance_big": tb2,
        "scaling_ratio": round(tc2 / tc1, 3) if tc1 else None,
        "balance_ok": tb1 <= 2.0 and tb2 <= 2.0,
    }

    # ---- 2g. ANN LSH recall + scaling (r12) ------------------------------
    # The last family without a scale row: hyperplane-LSH ANN claims its
    # candidate set is bounded by bucket occupancy (linear in corpus for
    # balanced buckets), and recall for near-identical planted neighbors
    # is (1 - theta/pi)^planes ~ 0.99. Both are measured: 50 fixed
    # queries against a 10k and a Nx corpus of md5-deterministic vectors
    # where id % 100 == 1 is a +-1% perturbed copy of id-1 — the true
    # top-1 of query q is q+1 by construction (any unrelated 64-dim
    # vector's |cos| ~ 0.12). Gate: recall@1 >= 0.9 at BOTH scales
    # (misses are deterministic bucket-boundary flips, expected ~1%),
    # and s/kvec must FALL at scale (fixed costs amortize; candidate
    # growth is per-bucket, not per-corpus).
    from incr_iter_hadoop_spark.operators.similarity import ann_lsh_topk

    def synth_vecs(n_vecs: int):
        u32 = float(0xFFFFFFFF)
        base_id = F.col("id") - (F.col("id") % 100 == 1).cast("long")

        def unit(seed_col):
            return (
                F.conv(F.substring(F.md5(seed_col), 1, 8), 16, 10).cast(
                    "double"
                )
                / u32
            )

        comp = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda d: (
                (unit(F.concat_ws("_", base_id, d)) * 2.0 - 1.0)
                + F.when(
                    F.col("id") % 100 == 1,
                    (unit(F.concat_ws("p", F.col("id"), d)) - 0.5) * 0.02,
                ).otherwise(0.0)
            ).cast("float"),
        )
        return spark.range(n_vecs).select(
            F.col("id").alias("vec_id"), comp.alias("embedding")
        )

    def time_ann(n_vecs: int):
        vecs = synth_vecs(n_vecs).persist()
        vecs.count()
        queries = vecs.where(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 5000)
        )
        t0 = time.perf_counter()
        top1 = (
            ann_lsh_topk(vecs, queries, k=1)
            .where(F.col("pos") == 1)
            .select("qid", "nid")
            .collect()
        )
        wall = time.perf_counter() - t0
        vecs.unpersist()
        hits = sum(1 for r in top1 if r["nid"] == r["qid"] + 1)
        return (
            round(hits / 50.0, 3),
            round(wall, 2),
            round(wall / (n_vecs / 1e3), 3),
        )

    ann_small = 10_000
    ann_big = ann_small * (10 if QUICK else 50)
    ar1, aw1, ac1 = time_ann(ann_small)
    ar2, aw2, ac2 = time_ann(ann_big)
    if ar1 < 0.9 or ar2 < 0.9:
        violations.append(
            f"ann_lsh: recall@1 {ar1}/{ar2} below 0.9 — bucketing is "
            "losing planted near-identical neighbors"
        )
    out["ann_lsh"] = {
        "vecs_small": ann_small, "recall_small": ar1,
        "wall_small_sec": aw1, "sec_per_kvecs_small": ac1,
        "vecs_big": ann_big, "recall_big": ar2,
        "wall_big_sec": aw2, "sec_per_kvecs_big": ac2,
        "scaling_ratio": round(ac2 / ac1, 3) if ac1 else None,
        "recall_ok": ar1 >= 0.9 and ar2 >= 0.9,
    }

    # ---- 2h. SemDeDup at 10x vectors (round 13) -------------------------
    # Same planted-twin fixture as 2g (ids % 100 == 1 are near-identical
    # perturbations of id-1 → 1% known duplicate pairs). K grows with the
    # corpus (n/625, the published deployment's discipline: occupancy,
    # not corpus size, bounds the pair join), tau = 0.9 so ONLY planted
    # twins can pair (random 64-dim cosines concentrate near 0 — 0.9 is
    # ~7 sigma). Pins: every vector gets a verdict row, twin recall >= 0.9
    # (a twin pair can only be missed if the quantizer splits it across
    # cells), and ZERO false drops (dropped <= planted).
    # Staged timing: the quantizer (N x K dots; K grows with N, so this
    # term is the flat-IVF N*K cost — the documented scale path past ~1M
    # cells is a hierarchical coarse quantizer) vs the prune (pair join;
    # occupancy is CONSTANT under the K = N/625 discipline, so its
    # per-unit cost must stay flat — that is the pinned claim).
    from incr_iter_hadoop_spark.operators.similarity import (
        _semantic_apply,
        _semantic_assign,
        _semantic_drops,
    )

    def time_semdedup(n_vecs: int):
        vecs = synth_vecs(n_vecs).persist()
        vecs.count()
        k_cells = max(16, n_vecs // 625)
        t0 = time.perf_counter()
        asgn = _semantic_assign(vecs, k_cells, "vec_id", "embedding").persist()
        asgn.count()
        t1 = time.perf_counter()
        res = _semantic_apply(
            asgn, _semantic_drops(asgn, asgn, 0.9), "vec_id"
        ).persist()
        n_dropped = res.where(~F.col("kept")).count()
        n_total = res.count()
        t2 = time.perf_counter()
        res.unpersist()
        asgn.unpersist()
        vecs.unpersist()
        planted = n_vecs // 100
        return (
            planted, n_dropped, n_total,
            round(t2 - t0, 2),
            round((t2 - t0) / (n_vecs / 1e3), 3),
            round(t1 - t0, 2),
            round((t2 - t1) / (n_vecs / 1e3), 3),
        )

    sd_small = 20_000
    sd_big = sd_small * 10
    sp1, sd1, st1, sw1, sc1, sa1, spr1 = time_semdedup(sd_small)
    sp2, sd2, st2, sw2, sc2, sa2, spr2 = time_semdedup(sd_big)
    for n, planted, dropped, total in (
        (sd_small, sp1, sd1, st1),
        (sd_big, sp2, sd2, st2),
    ):
        if total != n:
            violations.append(
                f"semantic_dedup: n={n} got {total} verdict rows"
            )
        if dropped < 0.9 * planted:
            violations.append(
                f"semantic_dedup: n={n} twin recall "
                f"{dropped}/{planted} below 0.9"
            )
        if dropped > planted:
            violations.append(
                f"semantic_dedup: n={n} {dropped} drops exceed the "
                f"{planted} planted pairs — false merges at tau=0.9"
            )
    if spr1 and spr2 / spr1 > 1.5:
        violations.append(
            f"semantic_dedup: prune-stage s/kvec grew {spr1} -> {spr2} "
            "(>1.5x) despite constant cell occupancy"
        )
    out["semantic_dedup"] = {
        "vecs_small": sd_small, "cells_small": max(16, sd_small // 625),
        "planted_small": sp1, "dropped_small": sd1,
        "wall_small_sec": sw1, "sec_per_kvecs_small": sc1,
        "vecs_big": sd_big, "cells_big": max(16, sd_big // 625),
        "planted_big": sp2, "dropped_big": sd2,
        "wall_big_sec": sw2, "sec_per_kvecs_big": sc2,
        "scaling_ratio": round(sc2 / sc1, 3) if sc1 else None,
        "assign_wall_small_sec": sa1, "assign_wall_big_sec": sa2,
        "prune_sec_per_kvecs_small": spr1,
        "prune_sec_per_kvecs_big": spr2,
        "prune_scaling_ratio": round(spr2 / spr1, 3) if spr1 else None,
        "twin_recall_small": round(sd1 / sp1, 4) if sp1 else None,
        "twin_recall_big": round(sd2 / sp2, 4) if sp2 else None,
        "exactness_ok": sd1 <= sp1 and sd2 <= sp2
        and st1 == sd_small and st2 == sd_big,
    }

    # ---- 3. Disk-store refresh ratio vs state size ----------------------
    from incr_iter_hadoop_spark.catalog import load_table
    from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    o_all = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .persist()
    )
    o_all.count()

    def disk_ratio(n_copies: int):
        """bench.py's steady-state disk protocol at a parameterized state
        size (150× is the headline scenario; bigger = the thesis test)."""
        rep = spark.range(n_copies).select(F.col("id").alias("_copy"))
        big = o_all.crossJoin(rep).select(
            "o_custkey",
            (F.col("o_orderkey") + F.col("_copy") * 10_000_000_000).alias(
                "o_orderkey"
            ),
            "o_totalprice",
        )
        root = tempfile.mkdtemp(prefix="stress_preserve_")
        store = PreserveStore(spark, os.path.join(root, "orders"))
        t0 = time.perf_counter()
        store.initialize(
            big,
            group_keys=["o_custkey"],
            source_keys=["o_orderkey"],
            agg_sql={
                "spend": "CAST(SUM(o_totalprice) AS DOUBLE)",
                "n_orders": "CAST(COUNT(1) AS BIGINT)",
            },
            num_buckets=64,
        )
        init_sec = round(time.perf_counter() - t0, 2)

        def mk_delta(mod, add_off, rm_copy):
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

        warmup = mk_delta(1871, 2_000_000_000_000, 5)
        warmup.count()
        store.refresh(warmup)
        timed = [
            mk_delta(1873 + 2 * k, (3 + k) * 1_000_000_000_000, 7 + k)
            for k in range(3)
        ]
        runs = []
        for d in timed:
            d.count()
            t0 = time.perf_counter()
            store.refresh(d)
            runs.append(round(time.perf_counter() - t0, 3))
        refresh_sec = sorted(runs)[1]
        base_contribs = spark.table(store._table_name("contribs"))
        both = warmup
        for d in timed:
            both = both.unionByName(d)
        t0 = time.perf_counter()
        minus_d = both.where(F.col("op") == "-").select("o_custkey", "o_orderkey")
        plus_d = both.where(F.col("op") == "+").drop("op")
        (
            base_contribs.join(minus_d, ["o_custkey", "o_orderkey"], "left_anti")
            .unionByName(plus_d)
            .groupBy("o_custkey")
            .agg(
                F.expr("CAST(SUM(o_totalprice) AS DOUBLE)").alias("spend"),
                F.expr("CAST(COUNT(1) AS BIGINT)").alias("n_orders"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(root, "full_out"))
        )
        full_sec = round(time.perf_counter() - t0, 3)
        shutil.rmtree(root, ignore_errors=True)
        return {
            "n_copies": n_copies,
            "init_sec": init_sec,
            "refresh_runs": runs,
            "refresh_sec": refresh_sec,
            "full_recompute_sec": full_sec,
            "ratio": round(refresh_sec / full_sec, 3) if full_sec else None,
        }

    scales = [150, 300] if QUICK else [150, 450]
    out["disk_refresh"] = [disk_ratio(c) for c in scales]

    # ---- 3b. Refresh cost vs STORE DEPTH (round 6) ----------------------
    # The r6 constant-plan fix (PreserveStore._layers: one multi-path scan,
    # _v from the layer path) claims refresh cost no longer grows with the
    # layer count through plan/listing overhead — only through the extra
    # thin files each fold reads, which compaction resets. Measure: one
    # 150x store, N successive thin refreshes (each adds one layer),
    # per-refresh wall recorded; then compact and refresh again from
    # depth 0. The pin: the late-depth median stays within 2.5x of the
    # early-depth median, and the post-compact refresh returns to the
    # early band.
    def depth_sweep(n_copies: int, n_refresh: int):
        rep = spark.range(n_copies).select(F.col("id").alias("_copy"))
        big = o_all.crossJoin(rep).select(
            "o_custkey",
            (F.col("o_orderkey") + F.col("_copy") * 10_000_000_000).alias(
                "o_orderkey"
            ),
            "o_totalprice",
        )
        root = tempfile.mkdtemp(prefix="stress_depth_")
        store = PreserveStore(spark, os.path.join(root, "orders"))
        store.initialize(
            big,
            group_keys=["o_custkey"],
            source_keys=["o_orderkey"],
            agg_sql={
                "spend": "CAST(SUM(o_totalprice) AS DOUBLE)",
                "n_orders": "CAST(COUNT(1) AS BIGINT)",
            },
            num_buckets=64,
        )

        def mk_delta(k: int):
            aff = F.col("o_custkey") % (1901 + 2 * k) == 0
            additions = (
                o_all.where(aff)
                .select(
                    "o_custkey",
                    (
                        F.col("o_orderkey") + F.lit((20 + k) * 1_000_000_000_000)
                    ).alias("o_orderkey"),
                    "o_totalprice",
                )
                .withColumn("op", F.lit("+"))
            )
            removals = (
                o_all.where(aff)
                .select(
                    "o_custkey",
                    (
                        F.col("o_orderkey") + F.lit((30 + k) * 10_000_000_000)
                    ).alias("o_orderkey"),
                    "o_totalprice",
                )
                .withColumn("op", F.lit("-"))
            )
            return additions.unionByName(removals).persist()

        walls = []
        for k in range(n_refresh):
            d = mk_delta(k)
            d.count()
            t0 = time.perf_counter()
            store.refresh(d)
            walls.append(round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        store.compact()
        compact_sec = round(time.perf_counter() - t0, 2)
        d = mk_delta(n_refresh)
        d.count()
        t0 = time.perf_counter()
        store.refresh(d)
        post_compact = round(time.perf_counter() - t0, 3)
        shutil.rmtree(root, ignore_errors=True)
        early = sorted(walls[1:4])[1]  # depths 2-4 (skip the cold first)
        late = sorted(walls[-3:])[1]  # the three deepest
        growth = round(late / early, 3) if early else None
        growth_ok = growth is not None and growth < 2.5
        if not growth_ok:
            violations.append(
                f"depth_sweep: growth {growth} >= 2.5 (early {early}, "
                f"late {late}, walls {walls})"
            )
        return {
            "depth_growth_ok": growth_ok,
            "n_copies": n_copies,
            "n_refresh": n_refresh,
            "walls": walls,
            "early_med": early,
            "late_med": late,
            "depth_growth": growth,
            "compact_sec": compact_sec,
            "post_compact_refresh": post_compact,
        }

    out["depth_sweep"] = depth_sweep(150, 8 if QUICK else 12)
    o_all.unpersist()

    # ---- 3c. Scd2Store history read vs ERA DEPTH + snapshot reset (r7) --
    # An SCD2 history never compacts away versions, so history_as_of pays
    # base + N layers + the key window forever; snapshot(e) folds
    # base+layers<=e into a new bucketed generation so the read becomes
    # generation + layers SINCE the snapshot. Measure: thin eras applied
    # one by one with the full-history read timed at each depth, then
    # snapshot at the deepest era and re-read. The pin (recorded, not
    # asserted mid-run): the post-snapshot read returns to the early-depth
    # band — i.e. snapshot cadence, not total history depth, bounds cost.
    def scd2_era_sweep(n_keys: int, n_eras: int):
        from incr_iter_hadoop_spark.sources.scd2_store import Scd2Store

        root = tempfile.mkdtemp(prefix="stress_scd2_depth_")
        dim = spark.range(n_keys).select(
            F.col("id").alias("k"), (F.col("id") % 997 * 1.0).alias("v")
        )
        store = Scd2Store(spark, os.path.join(root, "dim"))
        store.initialize(dim, key_cols=["k"], num_buckets=32)

        def read_sec():
            t0 = time.perf_counter()
            store.history_as_of().count()
            return round(time.perf_counter() - t0, 3)

        reads = []
        for e in range(1, n_eras + 1):
            ch = spark.range(n_keys // 1000).select(
                (F.col("id") * 1000 + e).alias("k"),
                (F.col("id") * 1.0 + e).alias("v"),
            )
            store.apply_era(ch)
            reads.append(read_sec())
        t0 = time.perf_counter()
        store.snapshot()
        snapshot_sec = round(time.perf_counter() - t0, 2)
        post_snap = read_sec()
        early = sorted(reads[1:4])[1]  # depths 2-4 (skip the cold first)
        late = sorted(reads[-3:])[1]  # the three deepest
        reset_ok = post_snap <= max(early * 1.5, early + 0.3)
        if not reset_ok:
            violations.append(
                f"scd2_era_sweep: post-snapshot read {post_snap}s not back "
                f"to the early band (early {early}, late {late}, reads "
                f"{reads})"
            )
        shutil.rmtree(root, ignore_errors=True)
        return {
            "n_keys": n_keys,
            "n_eras": n_eras,
            "reads": reads,
            "early_med": early,
            "late_med": late,
            "depth_growth": round(late / early, 3) if early else None,
            "snapshot_sec": snapshot_sec,
            "post_snapshot_read": post_snap,
            "reset_ok": reset_ok,
        }

    out["scd2_era_sweep"] = scd2_era_sweep(1_000_000, 8 if QUICK else 12)

    # ---- 4. Media path: JPEG decode + aHash + banded LSH (round 6) ------
    # Same question as MinHash but for images: does the decode-once +
    # only-hashes-shuffle plan stay linear, and does recall stay flat?
    # attach_jpeg_phash plants exactly 2 near-pairs per 50 docs
    # (md5-derived tiles — no accidental collisions). Unlike MinHash's
    # band scheme over many hash functions, 4 bands over ONE 64-bit aHash
    # only GUARANTEE a shared band for hamming <= 3 (pigeonhole); planted
    # pairs land at hamming 0-5 because mutating one tile shifts the image
    # mean and can flip mean-adjacent bits elsewhere. A hamming-4 pair
    # whose flips land one per band is invisible to the candidate join —
    # measured at 50k imgs: 3 of 2000 planted pairs (hamming histogram
    # {0:845, 1:764, 2:298, 3:71, 4:21, 5:1}; all 3 misses hamming-4,
    # one flip per band). That is banded LSH's designed false-negative
    # rate, so the pin is measured recall >= 0.99 at BOTH scales (not
    # exactness), reported per scale.
    from incr_iter_hadoop_spark.operators.multimodal import (
        _phash_bands,
        _phash_cands,
        _phash_verify,
        ahash_media,
        attach_jpeg_phash,
    )

    def time_media(n_imgs: int):
        ids = spark.range(n_imgs).select(F.col("id").alias("doc_id"))
        t0 = time.perf_counter()
        hashes = ahash_media(attach_jpeg_phash(ids, "doc_id")).localCheckpoint(
            eager=True
        )
        pairs = _phash_verify(_phash_cands(_phash_bands(hashes)), hashes)
        n_pairs = pairs.count()
        wall = time.perf_counter() - t0
        expected = sum(1 for d in range(n_imgs) if d % 50 in (1, 27) and d >= 1)
        return n_pairs, expected, round(wall, 2), round(wall / (n_imgs / 1e3), 3)

    small_imgs = 5_000
    big_imgs = small_imgs * (10 if QUICK else 50)
    ip1, ie1, iw1, ic1 = time_media(small_imgs)
    ip2, ie2, iw2, ic2 = time_media(big_imgs)
    rec1 = round(ip1 / ie1, 4) if ie1 else None
    rec2 = round(ip2 / ie2, 4) if ie2 else None
    recall_ok = (
        rec1 is not None and rec1 >= 0.99 and rec2 is not None and rec2 >= 0.99
    )
    if not recall_ok:
        violations.append(
            f"media_phash: recall below 0.99 (small {ip1}/{ie1}, big {ip2}/{ie2})"
        )
    out["media_phash"] = {
        "recall_ok": recall_ok,
        "imgs_small": small_imgs, "pairs_small": ip1, "expected_small": ie1,
        "recall_small": rec1,
        "wall_small_sec": iw1, "sec_per_kimgs_small": ic1,
        "imgs_big": big_imgs, "pairs_big": ip2, "expected_big": ie2,
        "recall_big": rec2,
        "wall_big_sec": iw2, "sec_per_kimgs_big": ic2,
        "scaling_ratio": round(ic2 / ic1, 3) if ic1 else None,
    }

    # ---- 5. Star-CC on a HIGH-DIAMETER graph (round 6) -------------------
    # A path graph is the adversarial case for min-label propagation
    # (rounds = diameter = n); the two-phase star rewrite must close it in
    # O(log n) rounds. The pin: 10x the diameter costs ~log-many extra
    # rounds, not 10x.
    from incr_iter_hadoop_spark.operators.iterative import (
        connected_components_star,
    )

    def time_star(n_nodes: int):
        path = spark.range(n_nodes - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
        t0 = time.perf_counter()
        res = connected_components_star(path, max_iterations=40)
        n_comp = res.state.select("comp").distinct().count()
        wall = time.perf_counter() - t0
        res.state.unpersist()
        if not (n_comp == 1 and res.converged):
            violations.append(
                f"star_cc_path: n={n_nodes} components {n_comp}, "
                f"converged {res.converged}"
            )
        return res.iterations, round(wall, 2), round(wall / res.iterations, 3)

    small_path = 20_000
    big_path = small_path * 10
    sr1, sw1, sp1 = time_star(small_path)
    sr2, sw2, sp2 = time_star(big_path)
    out["star_cc_path"] = {
        "nodes_small": small_path, "rounds_small": sr1,
        "wall_small_sec": sw1, "sec_per_round_small": sp1,
        "nodes_big": big_path, "rounds_big": sr2,
        "wall_big_sec": sw2, "sec_per_round_big": sp2,
        # diameter grew 10x; rounds must grow by ~log2(10) ≈ 3, not 10x
        "round_growth": sr2 - sr1,
    }

    # ---- 5c. Label propagation at 10-25x edges (round 13, VERDICT r12
    # ask #6) — planted communities with an EXACT-agreement pin. Graph:
    # disjoint 20-node communities, each node chorded to offsets {1,2,3}
    # mod 20 — non-bipartite (triangles), and synchronous min-tie LPA
    # provably collapses every community to its MINIMUM node id in 4
    # rounds (verified by direct simulation), stable at round 5. So after
    # 5 bounded rounds: label(v) == 20*floor(v/20) for EVERY node — exact
    # planted-community recovery, pinned as a violation on any miss.
    from incr_iter_hadoop_spark.operators.iterative import label_propagation

    _LPA_M = 20  # community size

    def lpa_edges(n_nodes: int):
        ids = spark.range(n_nodes)
        base = (F.floor(F.col("id") / _LPA_M) * _LPA_M).cast("long")
        off = F.col("id") % _LPA_M
        return ids.select(
            F.col("id").alias("src"),
            F.explode(
                F.array(
                    *[
                        (base + (off + d) % _LPA_M).cast("long")
                        for d in (1, 2, 3)
                    ]
                )
            ).alias("dst"),
        )

    def time_lpa(n_nodes: int, rounds: int = 5):
        edges = lpa_edges(n_nodes).persist()
        n_edges = edges.count()
        t0 = time.perf_counter()
        res = label_propagation(edges, max_iterations=rounds)
        wrong = res.state.where(
            F.col("label")
            != (F.floor(F.col("node") / _LPA_M) * _LPA_M).cast("long")
        ).count()
        wall = time.perf_counter() - t0
        res.state.unpersist()
        edges.unpersist()
        if wrong:
            violations.append(
                f"lpa_communities: n={n_nodes} nodes, {wrong} labels off "
                "the planted community minimum"
            )
        return n_edges, round(wall, 2), round(
            wall / rounds / (n_edges / 1e6), 3
        ), wrong

    lpa_small = 100_000
    lpa_big = lpa_small * (10 if QUICK else 25)
    le1, lw1, lc1, lx1 = time_lpa(lpa_small)
    le2, lw2, lc2, lx2 = time_lpa(lpa_big)
    out["lpa_communities"] = {
        "edges_small": le1, "wall_small_sec": lw1,
        "sec_per_round_per_Medges_small": lc1,
        "edges_big": le2, "wall_big_sec": lw2,
        "sec_per_round_per_Medges_big": lc2,
        "scaling_ratio": round(lc2 / lc1, 3) if lc1 else None,
        "labels_wrong_small": lx1, "labels_wrong_big": lx2,
        "agreement_exact": lx1 == 0 and lx2 == 0,
    }

    # ---- 6. SCD2 point-in-time join at replicated history (round 6) -----
    # History built by the REAL scd2_apply operator (3 eras: every 2nd key
    # updated at era 1, every 3rd at era 2), facts join on the equi key
    # with the validity range as a residual filter. The pin: 10x keys AND
    # 10x facts together cost ~10x wall (hash join, no range-join blowup).
    from incr_iter_hadoop_spark.operators.incremental import scd2_apply

    def time_scd2(n_keys: int, n_facts: int):
        base = spark.range(n_keys).select(
            F.col("id").alias("k"),
            (F.col("id") % 1000).cast("double").alias("attr"),
            F.lit(0).cast("bigint").alias("valid_from"),
            F.lit(999_999).cast("bigint").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        ch1 = spark.range(n_keys).where(F.col("id") % 2 == 0).select(
            F.col("id").alias("k"),
            ((F.col("id") % 1000) + 1).cast("double").alias("attr"),
        )
        ch2 = spark.range(n_keys).where(F.col("id") % 3 == 0).select(
            F.col("id").alias("k"),
            ((F.col("id") % 1000) + 2).cast("double").alias("attr"),
        )
        hist = scd2_apply(
            scd2_apply(base, ch1, key_cols=["k"], era=1),
            ch2, key_cols=["k"], era=2,
        ).persist()
        n_versions = hist.count()
        facts = spark.range(n_facts).select(
            (F.col("id") % n_keys).alias("k"),
            (F.col("id") % 3).cast("bigint").alias("era"),
        )
        t0 = time.perf_counter()
        joined = (
            facts.join(hist, "k")
            .where(
                (F.col("era") >= F.col("valid_from"))
                & (F.col("era") < F.col("valid_to"))
            )
            .groupBy("era")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("attr").alias("attr_sum"),
            )
        )
        rows = {r["era"]: r["n"] for r in joined.collect()}
        wall = time.perf_counter() - t0
        hist.unpersist()
        # exactly-one-version-per-fact: counts must sum to n_facts
        if sum(rows.values()) != n_facts:
            violations.append(
                f"scd2_pit_join: version counts {rows} sum != {n_facts}"
            )
        return n_versions, round(wall, 2), round(wall / (n_facts / 1e6), 3)

    small_keys, small_facts = 200_000, 2_000_000
    mult = 5 if QUICK else 10
    tv1, tw1, tc1 = time_scd2(small_keys, small_facts)
    tv2, tw2, tc2 = time_scd2(small_keys * mult, small_facts * mult)
    out["scd2_pit_join"] = {
        "versions_small": tv1, "facts_small": small_facts,
        "wall_small_sec": tw1, "sec_per_Mfacts_small": tc1,
        "versions_big": tv2, "facts_big": small_facts * mult,
        "wall_big_sec": tw2, "sec_per_Mfacts_big": tc2,
        "scaling_ratio": round(tc2 / tc1, 3) if tc1 else None,
    }

    # ---- 6b. STORE-BACKED pit_join: split-by-touched at scale (r7) ------
    # The durable twin reads history from an Scd2Store whose latest era
    # touched ~0.1% of keys. The plan claim under test: cold keys (the
    # 99.9%) sort-merge against the bucketed generation base while the
    # touched keys' history BROADCASTS — so per-Mfact cost must stay flat
    # as keys AND facts grow 10x together (the touched set grows with the
    # dimension, but stays O(|changes|) << |facts|).
    def time_store_pit(n_keys: int, n_facts: int):
        from incr_iter_hadoop_spark.sources.scd2_store import Scd2Store

        root = tempfile.mkdtemp(prefix="stress_store_pit_")
        dim = spark.range(n_keys).select(
            F.col("id").alias("k"),
            (F.col("id") % 1000).cast("double").alias("attr"),
        )
        store = Scd2Store(spark, os.path.join(root, "dim"))
        store.initialize(dim, key_cols=["k"], num_buckets=32)
        ch = spark.range(n_keys // 1000).select(
            (F.col("id") * 1000).alias("k"),
            ((F.col("id") % 1000) + 1.0).alias("attr"),
        )
        store.apply_era(ch)
        facts = spark.range(n_facts).select(
            (F.col("id") % n_keys).alias("k"),
            (F.col("id") % 2).cast("bigint").alias("era"),
        )
        t0 = time.perf_counter()
        joined = (
            store.pit_join(facts, "era")
            .groupBy("era")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("attr").alias("s"))
        )
        rows = {r["era"]: r["n"] for r in joined.collect()}
        wall = time.perf_counter() - t0
        if sum(rows.values()) != n_facts:
            violations.append(
                f"store_pit_join: counts {rows} sum != {n_facts}"
            )
        shutil.rmtree(root, ignore_errors=True)
        return round(wall, 2), round(wall / (n_facts / 1e6), 3)

    sw1, sc1 = time_store_pit(small_keys, small_facts)
    sw2, sc2 = time_store_pit(small_keys * mult, small_facts * mult)
    out["scd2_store_pit_join"] = {
        "keys_small": small_keys, "facts_small": small_facts,
        "wall_small_sec": sw1, "sec_per_Mfacts_small": sc1,
        "keys_big": small_keys * mult, "facts_big": small_facts * mult,
        "wall_big_sec": sw2, "sec_per_Mfacts_big": sc2,
        "scaling_ratio": round(sc2 / sc1, 3) if sc1 else None,
    }

    out["violations"] = violations
    line = json.dumps(out)
    print(line)
    results_dir = os.path.join(REPO, "bench", "results")
    os.makedirs(results_dir, exist_ok=True)
    path = os.path.join(results_dir, f"stress-{date.today().isoformat()}.json")
    with open(path, "a") as fh:
        fh.write(line + "\n")
    _write_stress_md(results_dir)
    if violations:
        print(f"STRESS VIOLATIONS ({len(violations)}):", file=sys.stderr)
        for v in violations:
            print(f"  {v}", file=sys.stderr)
        sys.exit(1)


def _write_stress_md(results_dir: str) -> None:
    rows = []
    for fn in sorted(os.listdir(results_dir)):
        if fn.startswith("stress-") and fn.endswith(".json"):
            with open(os.path.join(results_dir, fn)) as fh:
                rows += [json.loads(ln) for ln in fh if ln.strip()]
    lines = [
        "# Scale-stress results (synthetic 10-50x workloads; see bench/stress.py)",
        "",
        "| run | pagerank s/iter/Medges 1x -> Nx (ratio) | minhash s/kdocs"
        " 1x -> Nx (ratio) | disk ratio by state copies | media-phash"
        " s/kimgs 1x -> Nx (ratio, recall) | star-CC path rounds"
        " 1x -> 10x | lpa s/round/Medges 1x -> Nx (ratio, exact-agree)"
        " | scd2 PIT s/Mfacts 1x -> Nx (ratio) | store PIT s/Mfacts"
        " 1x -> Nx (ratio) | decontam s/kdocs 1x -> Nx (ratio, flags ok)"
        " | para-dedup s/kdocs 1x -> Nx (ratio, drops ok, incr/full)"
        " | para-skew s/kdocs 1x -> Nx (ratio, drops ok, skew/uniform)"
        " | para-fp@1KB Nx wall fp/content (shuffle fp/content, drops ok)"
        " | skewed-sort s/Mrows 1x -> Nx (ratio, balance)"
        " | ann-lsh s/kvecs 1x -> Nx (ratio, recall@1)"
        " | semdedup s/kvecs 1x -> 10x (ratio, twin-recall, exact)"
        " | depth sweep"
        " early -> late med (growth; post-compact) | scd2 era sweep"
        " early -> late read (growth; post-snapshot) |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|"
        "---|---|",
    ]
    for r in rows:
        pg, mh = r.get("pagerank", {}), r.get("minhash", {})
        mp, sc, t2 = (
            r.get("media_phash", {}),
            r.get("star_cc_path", {}),
            r.get("scd2_pit_join", {}),
        )
        disks = ", ".join(
            f"{d['n_copies']}x:{d['ratio']}" for d in r.get("disk_refresh", [])
        )
        media = (
            f"{mp.get('sec_per_kimgs_small')} -> {mp.get('sec_per_kimgs_big')}"
            f" ({mp.get('scaling_ratio')},"
            f" recall {mp.get('recall_small', mp.get('recall_exact'))}"
            f"/{mp.get('recall_big', '')})"
            if mp else "—"
        )
        star = (
            f"{sc.get('rounds_small')} -> {sc.get('rounds_big')}"
            f" (+{sc.get('round_growth')})"
            if sc else "—"
        )
        lp = r.get("lpa_communities", {})
        lpa = (
            f"{lp.get('sec_per_round_per_Medges_small')}"
            f" -> {lp.get('sec_per_round_per_Medges_big')}"
            f" ({lp.get('scaling_ratio')}, {lp.get('agreement_exact')})"
            if lp else "—"
        )
        scd2 = (
            f"{t2.get('sec_per_Mfacts_small')} -> {t2.get('sec_per_Mfacts_big')}"
            f" ({t2.get('scaling_ratio')})"
            if t2 else "—"
        )
        sp = r.get("scd2_store_pit_join", {})
        store_pit = (
            f"{sp.get('sec_per_Mfacts_small')} -> {sp.get('sec_per_Mfacts_big')}"
            f" ({sp.get('scaling_ratio')})"
            if sp else "—"
        )
        dc = r.get("decontam", {})
        decon = (
            f"{dc.get('sec_per_kdocs_small')} -> {dc.get('sec_per_kdocs_big')}"
            f" ({dc.get('scaling_ratio')}, {dc.get('flags_ok')})"
            if dc else "—"
        )
        pa = r.get("paragraph_dedup", {})
        para = (
            f"{pa.get('sec_per_kdocs_small')} -> {pa.get('sec_per_kdocs_big')}"
            f" ({pa.get('scaling_ratio')}, {pa.get('drops_ok')},"
            f" {pa.get('incr_vs_full_big')})"
            if pa else "—"
        )
        ps = r.get("paragraph_skew", {})
        para_skew = (
            f"{ps.get('sec_per_kdocs_small')} -> {ps.get('sec_per_kdocs_big')}"
            f" ({ps.get('scaling_ratio')}, {ps.get('drops_ok')},"
            f" {ps.get('skew_wall_vs_uniform_big')})"
            if ps else "—"
        )
        pf = r.get("paragraph_fp_ab", {})
        para_fp = (
            f"x{pf.get('wall_ratio_fp_vs_content_big')}"
            f" (x{pf.get('shuffle_ratio_fp_vs_content_big')},"
            f" {pf.get('drops_ok')})"
            if pf else "—"
        )
        al = r.get("ann_lsh", {})
        ann = (
            f"{al.get('sec_per_kvecs_small')} -> {al.get('sec_per_kvecs_big')}"
            f" ({al.get('scaling_ratio')},"
            f" {al.get('recall_small')}/{al.get('recall_big')})"
            if al else "—"
        )
        sdd = r.get("semantic_dedup", {})
        semded = (
            f"{sdd.get('sec_per_kvecs_small')}"
            f" -> {sdd.get('sec_per_kvecs_big')}"
            f" ({sdd.get('scaling_ratio')},"
            f" {sdd.get('twin_recall_small')}/{sdd.get('twin_recall_big')},"
            f" {sdd.get('exactness_ok')})"
            if sdd else "—"
        )
        ss = r.get("skewed_sort", {})
        skew_sort = (
            f"{ss.get('sec_per_Mrows_small')} -> {ss.get('sec_per_Mrows_big')}"
            f" ({ss.get('scaling_ratio')},"
            f" {ss.get('balance_small')}/{ss.get('balance_big')})"
            if ss else "—"
        )
        ds = r.get("depth_sweep", {})
        depth = (
            f"{ds.get('early_med')} -> {ds.get('late_med')}"
            f" ({ds.get('depth_growth')}; {ds.get('post_compact_refresh')})"
            if ds else "—"
        )
        es = r.get("scd2_era_sweep", {})
        era = (
            f"{es.get('early_med')} -> {es.get('late_med')}"
            f" ({es.get('depth_growth')}; {es.get('post_snapshot_read')})"
            if es else "—"
        )
        pgc = (
            f"{pg.get('sec_per_iter_per_Medges_small')}"
            f" -> {pg.get('sec_per_iter_per_Medges_big')}"
            f" ({pg.get('scaling_ratio')})"
            if pg else "—"
        )
        mhc = (
            f"{mh.get('sec_per_kdocs_small')}"
            f" -> {mh.get('sec_per_kdocs_big')} ({mh.get('scaling_ratio')})"
            if mh else "—"
        )
        lines.append(
            f"| {r.get('ts', '?')} | {pgc} | {mhc}"
            f" | {disks or '—'} | {media} | {star} | {lpa} | {scd2}"
            f" | {store_pit}"
            f" | {decon} | {para} | {para_skew} | {para_fp} | {skew_sort}"
            f" | {ann} | {semded} | {depth} | {era} |"
        )
    with open(os.path.join(results_dir, "STRESS.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
