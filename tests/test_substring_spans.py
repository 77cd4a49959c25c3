"""Exact-substring duplicate spans: the alignment-independence property.

Content-defined gram sampling (the md5 gate on gram CONTENT) must detect a
shared run regardless of where it sits in each document — the property a
positional stride grid cannot provide. These tests plant a long verbatim
run at DIFFERENT offsets in two documents and require both sides to report
a span covering (most of) it; documents without shared content must be
absent from the output."""

from __future__ import annotations

import random
import string

from incr_iter_hadoop_spark.operators.dedup import (
    SPAN_K,
    duplicate_substring_spans,
)


def _rand_text(rng, n):
    return "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(n))


def _spans(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, body string"
    )
    rows = duplicate_substring_spans(df, "id", "body").collect()
    return {r["id"]: (r["n_dup_spans"], r["dup_chars"]) for r in rows}


def test_shifted_run_detected_on_both_sides(spark):
    rng = random.Random(1234)
    run = _rand_text(rng, 300)
    # doc 0: run at offset 0; doc 1: run at offset 17 (off any grid);
    # doc 2: unrelated
    doc0 = run + _rand_text(rng, 200)
    doc1 = _rand_text(rng, 17) + run + _rand_text(rng, 150)
    doc2 = _rand_text(rng, 400)
    got = _spans(spark, [doc0, doc1, doc2])
    assert 0 in got and 1 in got, f"shared run missed: {got}"
    assert 2 not in got, "unique doc must produce no spans"
    # both sides sample the SAME grams inside the run (content-defined),
    # so the reported mass is identical and covers a chunk of the run
    assert got[0][1] == got[1][1]
    assert got[0][1] >= SPAN_K


def test_no_output_when_nothing_shared(spark):
    rng = random.Random(99)
    got = _spans(spark, [_rand_text(rng, 300) for _ in range(4)])
    assert got == {}


def test_short_docs_dropped_not_crashed(spark):
    rng = random.Random(5)
    shared = _rand_text(rng, 120)
    got = _spans(spark, ["tiny", "", shared, shared + " tail"])
    assert set(got) <= {2, 3}


def _decontam(spark, corpus_texts, bench_texts):
    from incr_iter_hadoop_spark.operators.dedup import (
        benchmark_gram_set,
        decontaminate_spans,
        fingerprint_grams,
    )

    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus_texts)], "id long, body string"
    )
    bench = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(bench_texts)],
        "id long, body string",
    )
    rows = decontaminate_spans(
        fingerprint_grams(corpus, "id", "body"),
        benchmark_gram_set(bench, "id", "body"),
    ).collect()
    return {r["id"]: (r["n_dup_spans"], r["dup_chars"]) for r in rows}


def test_decontaminate_flags_planted_benchmark_overlap(spark):
    """A corpus doc embedding a benchmark passage verbatim (at an
    arbitrary offset) is flagged with a span covering (a chunk of) the
    passage; corpus docs sharing nothing with the benchmark are absent —
    even when they duplicate EACH OTHER (containment is against the
    benchmark, not within-corpus)."""
    rng = random.Random(42)
    passage = _rand_text(rng, 300)  # the "benchmark" eval item
    clean = _rand_text(rng, 400)
    got = _decontam(
        spark,
        corpus_texts=[
            _rand_text(rng, 23) + passage + _rand_text(rng, 100),
            clean,
            clean,  # within-corpus dup, NOT contamination
        ],
        bench_texts=[passage + _rand_text(rng, 50), _rand_text(rng, 200)],
    )
    assert 0 in got and got[0][1] >= SPAN_K, got
    assert 1 not in got and 2 not in got, got


def test_decontaminate_empty_benchmark_flags_nothing(spark):
    rng = random.Random(7)
    got = _decontam(
        spark,
        corpus_texts=[_rand_text(rng, 300)],
        bench_texts=["short", ""],  # below gram width / empty
    )
    assert got == {}


def test_contaminated_mass_bounded_by_duplicate_mass(spark, sf_dir):
    """Cross-operator invariant on the real corpus: every contaminated
    gram (shared with a benchmark doc) is by definition duplicated in
    the union corpus, so per doc contam_chars <= the union's dup_chars
    and every contaminated doc appears in the union's duplicate set."""
    from pyspark.sql import functions as F

    from incr_iter_hadoop_spark.catalog import load_table
    from incr_iter_hadoop_spark.operators.dedup import (
        _NEW_DOC_MOD,
        benchmark_gram_set,
        decontaminate_spans,
        duplicate_substring_spans,
        fingerprint_grams,
    )

    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % _NEW_DOC_MOD != 0)
    bench = d.where(F.col("doc_id") % _NEW_DOC_MOD == 0)
    contam = {
        r["id"]: r["dup_chars"]
        for r in decontaminate_spans(
            fingerprint_grams(corpus, "doc_id", "text"),
            benchmark_gram_set(bench, "doc_id", "text"),
        ).collect()
    }
    dup = {
        r["id"]: r["dup_chars"]
        for r in duplicate_substring_spans(d, "doc_id", "text").collect()
    }
    assert contam, "fixture must plant at least one contaminated doc"
    for doc, chars in contam.items():
        assert doc in dup, f"contaminated doc {doc} missing from dup set"
        assert chars <= dup[doc], (doc, chars, dup[doc])
