"""Hypothesis property tests for the paragraph-dedup family.

The example-based suite (tests/test_dedup_paragraphs.py) pins chosen
hostile documents; these search the input space over a 3-word vocabulary
(so cross-doc and within-doc duplicates abound) plus blank/whitespace
segments for the two CORE invariants:

- keep-first: the operator equals the sequential keep-first reference
  for ANY document set, and every distinct non-blank paragraph value
  survives exactly once corpus-wide (conservation);
- incremental == full: for ANY base/delta split, base output plus the
  incremental delta output equals the full keep-first recompute under
  arrival order (base before delta).
"""

from __future__ import annotations

import pytest

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from incr_iter_hadoop_spark.operators.dedup import (
    _para_explode,
    dedup_paragraphs,
)

# tiny vocab + blanks: collisions everywhere, every edge reachable
_SEG = st.sampled_from(["alpha", "beta", "gamma", "alpha beta", "", " "])
_DOC = st.lists(_SEG, min_size=0, max_size=5).map("\n\n".join)
_DOCS = st.lists(_DOC, min_size=1, max_size=6)

_SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _ref_keep_first(ordered_docs, sep="\n\n"):
    """Sequential keep-first over (arrival, pos): the CCNet rule stated
    directly."""
    seen: set[str] = set()
    out = {}
    for i, t in ordered_docs:
        segs = [s for s in t.split(sep) if re.search(r"\S", s)]
        if not segs:
            continue
        kept = []
        for s in segs:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[i] = (len(segs), len(segs) - len(kept), sep.join(kept))
    return out


def _collect(df):
    return {
        r["id"]: (r["n_paras"], r["n_dropped"], r["text_clean"])
        for r in df.collect()
    }


@_SET
@given(texts=_DOCS)
@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_keep_first_equals_reference_and_conserves(spark, texts):
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, body string"
    )
    got = _collect(dedup_paragraphs(docs, "doc_id", "body"))
    ref = _ref_keep_first(list(enumerate(texts)))
    assert got == ref
    # the fingerprint-keyed twin (r11): identical contract, md5-keyed
    # first-occurrence agg + map-side reassembly — must equal the same
    # sequential reference on every generated document set
    from incr_iter_hadoop_spark.operators.dedup import dedup_paragraphs_fp

    got_fp = _collect(dedup_paragraphs_fp(docs, "doc_id", "body"))
    assert got_fp == ref
    # conservation: the kept paragraphs, over all docs, are exactly the
    # distinct non-blank paragraph values of the corpus, each once
    kept_all = [
        s
        for _, (_, _, clean) in sorted(got.items())
        for s in clean.split("\n\n")
        if s
    ]
    distinct_all = {
        s
        for t in texts
        for s in t.split("\n\n")
        if re.search(r"\S", s)
    }
    assert len(kept_all) == len(set(kept_all))
    assert set(kept_all) == distinct_all


@_SET
@given(texts=_DOCS, cut=st.integers(0, 6))
@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_incremental_equals_arrival_order_full(spark, texts, cut):
    cut = min(cut, len(texts))
    base_rows = list(enumerate(texts[:cut]))
    delta_rows = [(100 + i, t) for i, t in enumerate(texts[cut:])]
    full_ref = _ref_keep_first(base_rows + delta_rows)
    base = spark.createDataFrame(
        base_rows or [(0, "")], "doc_id long, body string"
    )
    if not base_rows:
        base = base.where("doc_id < 0")  # empty base, typed
    delta = spark.createDataFrame(
        delta_rows or [(0, "")], "doc_id long, body string"
    )
    if not delta_rows:
        delta = delta.where("doc_id < 0")
    seen = _para_explode(base, "doc_id", "body", "\n\n")[0].select(
        "para"
    ).distinct()
    got = _collect(dedup_paragraphs(base, "doc_id", "body"))
    got.update(
        _collect(dedup_paragraphs(delta, "doc_id", "body", seen=seen))
    )
    assert got == full_ref
    # the fp-keyed incremental pass: 16-byte seen set, same
    # arrival-order contract — must equal the same sequential reference
    from incr_iter_hadoop_spark.operators.dedup import (
        _para_fp_explode,
        dedup_paragraphs_fp,
    )

    seen_fps = _para_fp_explode(base, "doc_id", "body", "\n\n")[1].select(
        "fp"
    ).distinct()
    got_fp = _collect(dedup_paragraphs_fp(base, "doc_id", "body"))
    got_fp.update(
        _collect(
            dedup_paragraphs_fp(delta, "doc_id", "body", seen=seen_fps)
        )
    )
    assert got_fp == full_ref


def test_whitespace_normalizer_cross_engine_equivalence(spark):
    """The paragraph synthesis normalizes ALL Unicode whitespace to spaces
    (r11, ADVICE r10) via Java's (?U)\\s on the Spark side and WS_RE2_CLASS
    on the DuckDB side. This pins the two expressions to the same character
    set over every plausible candidate: Unicode White_Space members, the
    ASCII separators Java's plain \\s would miss-or-match differently, and
    near-miss codepoints (ZWSP, BOM, Mongolian vowel separator) that are
    NOT whitespace in either engine."""
    import duckdb
    from pyspark.sql import functions as F

    from incr_iter_hadoop_spark.operators.dedup import WS_RE2_CLASS

    cands = [
        0x09, 0x0A, 0x0B, 0x0C, 0x0D,           # tab..CR
        0x1C, 0x1D, 0x1E, 0x1F,                  # info separators (NOT ws)
        0x20, 0x85, 0xA0, 0x1680,                # space, NEL, NBSP, ogham
        *range(0x2000, 0x200C),                  # en/em/etc spaces + ZWSP
        0x2028, 0x2029, 0x202F, 0x205F, 0x3000,  # LS, PS, NNBSP, MMSP, ideo
        0xFEFF, 0x180E,                          # BOM, MVS (NOT ws)
    ]
    texts = [f"x{chr(c)}y" for c in cands]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    spark_out = [
        r[0]
        for r in df.select(F.regexp_replace("t", r"(?U)\s", " ")).collect()
    ]
    con = duckdb.connect()
    try:
        ddb_out = [
            con.sql(
                f"SELECT regexp_replace(?, '{WS_RE2_CLASS}', ' ', 'g')",
                params=[t],
            ).fetchone()[0]
            for t in texts
        ]
    finally:
        con.close()
    bad = [
        (hex(c), repr(s), repr(d))
        for c, s, d in zip(cands, spark_out, ddb_out)
        if s != d
    ]
    assert not bad, f"whitespace class divergence: {bad}"
