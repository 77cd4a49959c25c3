"""Durable decontamination index: the benchmark gram set through the
PreserveStore layer (r11, VERDICT r10 ask #4).

The registered decontaminate_streamed/incr_decontaminate queries rebuild
the benchmark gram set inline per query (documented convention); the
store-backed path materializes it ONCE, appends a newly-shipped eval
suite as a refresh layer, and probes the COMMITTED index across process
restarts. This suite pins, mirroring test_streaming_restart.py:

- a fresh store handle (simulated process restart) reconstructs the same
  gram set from committed meta + layers;
- streamed micro-batches before and after an era append: the restarted
  stream resumes from the SAME checkpoint (already-processed batches are
  skipped) and probes the index state as of each batch's run;
- benchmark retirement: '-' contributions shrink the probe set, so a
  previously-flagged doc stops matching.
"""

from __future__ import annotations

import pytest

import glob
import os
import random
import string

from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.dedup import (
    append_benchmark_era,
    benchmark_gram_set,
    decontaminate_spans,
    decontamination_index_store,
    fingerprint_grams,
    store_gram_set,
)
from incr_iter_hadoop_spark.streaming.incremental_stream import (
    streaming_decontaminate,
)


def _rand_text(rng, n):
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def _flags(df):
    return {
        r["id"]: (r["n_dup_spans"], r["dup_chars"]) for r in df.collect()
    }


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_store_backed_index_survives_restart_and_era_append(
    spark, tmp_path
):
    from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore

    rng = random.Random(411)
    passage_a = _rand_text(rng, 200)
    passage_b = _rand_text(rng, 200)
    # corpus: doc 0 carries the old-benchmark passage, docs 1 and 3 the
    # new-benchmark passage (doc 3 arrives only after the era append),
    # doc 2 is clean
    docs = [
        (0, _rand_text(rng, 40) + passage_a + _rand_text(rng, 40)),
        (1, _rand_text(rng, 30) + passage_b + _rand_text(rng, 30)),
        (2, _rand_text(rng, 300)),
        (3, passage_b + _rand_text(rng, 60)),
    ]
    corpus = spark.createDataFrame(docs, "id long, body string")
    old_b = spark.createDataFrame(
        [(1000, _rand_text(rng, 30) + passage_a)], "id long, body string"
    )
    new_b = spark.createDataFrame(
        [(2000, passage_b + _rand_text(rng, 30))], "id long, body string"
    )

    store_path = str(tmp_path / "bench_grams")
    store = decontamination_index_store(
        spark, store_path, old_b, "id", "body", num_buckets=4
    )
    assert store.version == 0

    # ---- restart durability (batch): a FRESH handle reconstructs the
    # same committed gram set from disk
    reopened = PreserveStore(spark, store_path)
    g1 = {r["gram"] for r in store_gram_set(store).collect()}
    g2 = {r["gram"] for r in store_gram_set(reopened).collect()}
    assert g1 == g2 and g1, "reopened handle must serve the same index"

    # ---- streamed probe, era 0: batch 1 (docs 0-2) sees only passage A
    feed = tmp_path / "feed"
    feed.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def land(batch_df, n):
        staging = str(tmp_path / f"stage{n}")
        batch_df.coalesce(1).write.parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        os.rename(part, str(feed / f"batch{n}.parquet"))

    land(corpus.where("id < 3"), 1)

    def run_stream(gram_probe):
        stream = (
            spark.readStream.schema("id long, body string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(feed))
        )
        q = streaming_decontaminate(
            stream, gram_probe, "id", "body", sink, ckpt
        )
        assert q.awaitTermination(120), "stream did not drain"
        q.stop()

    run_stream(store_gram_set(store))
    out1 = _flags(spark.read.parquet(*sorted(glob.glob(sink + "/batch=*"))))
    ref1 = _flags(
        decontaminate_spans(
            fingerprint_grams(corpus.where("id < 3"), "id", "body"),
            benchmark_gram_set(old_b, "id", "body"),
        )
    )
    assert out1 == ref1
    assert 0 in out1 and 1 not in out1, "passage B must not match at era 0"

    # ---- era append: the new eval suite is ONE refresh layer
    v = append_benchmark_era(store, new_b, "id", "body", token="suite-2")
    assert v == 1
    # idempotent replay of the same orchestrator task: no double-apply
    assert append_benchmark_era(store, new_b, "id", "body", token="suite-2") == 1

    # ---- restart: fresh handle AND fresh stream from the SAME
    # checkpoint; only the new batch is processed, probed against the
    # COMMITTED post-append index
    land(corpus.where("id = 3"), 2)
    restarted = PreserveStore(spark, store_path)
    run_stream(store_gram_set(restarted))
    parts = sorted(glob.glob(sink + "/batch=*"))
    out_all = _flags(spark.read.parquet(*parts))
    # doc 3 (arrived post-append) matches passage B via the layered index;
    # docs 0-2 keep their era-0 flags (their batch was checkpointed, not
    # re-probed — exactly-once against the index state of their run)
    assert 3 in out_all and out_all[3][1] >= 150
    for doc_id, flag in ref1.items():
        assert out_all[doc_id] == flag
    assert 1 not in out_all and 2 not in out_all

    # ---- retirement: the era-append's contributions retract as '-' rows
    # built by the SAME helper the append used (byte-identical pairs are
    # what makes count-to-zero exact); the probe set shrinks and passage
    # B stops matching
    from incr_iter_hadoop_spark.operators.dedup import (
        SPAN_K,
        SPAN_KEEP_HEX,
        bench_gram_pairs,
    )

    retract = bench_gram_pairs(new_b, "id", "body").withColumn(
        "op", F.lit("-")
    )
    store.refresh(retract)
    after = {r["gram"] for r in store_gram_set(store).collect()}
    assert after == g1, "retiring the new suite must restore the era-0 set"
    # direct probe of doc 3 against the post-retirement committed set
    from incr_iter_hadoop_spark.operators.dedup import _merge_spans

    hits = (
        fingerprint_grams(
            corpus.where("id = 3"), "id", "body", SPAN_K, SPAN_KEEP_HEX
        )
        .join(F.broadcast(store_gram_set(store)), "gram", "left_semi")
        .select("id", "pos")
    )
    assert _merge_spans(hits, SPAN_K).collect() == []
