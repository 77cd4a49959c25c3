"""Cross-document paragraph dedup vs a pure-Python reference.

The registered query (dedup_paragraphs_global) synthesizes newline-free
paragraph chunks because the sf corpora carry no newlines; these tests pin
the REAL '\\n\\n' (and '\\n') split path on hostile documents — blank
segments, within-doc repeats, full-document wipeouts, Unicode whitespace —
against a first-occurrence reference implementing the CCNet keep-first
rule directly."""

from __future__ import annotations

import re

from incr_iter_hadoop_spark.operators.dedup import dedup_paragraphs


def _ref(docs: dict[int, str], sep: str):
    """Keep-first-by-(id, pos) reference: iterate ids ascending, positions
    ascending — exactly min(struct(id, pos)) per distinct paragraph."""
    segs = {}
    for i in sorted(docs):
        lst = [s for s in docs[i].split(sep) if re.search(r"\S", s)]
        if lst:
            segs[i] = lst
    seen: set[str] = set()
    out = {}
    for i in sorted(segs):
        kept = []
        for s in segs[i]:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[i] = (len(segs[i]), len(segs[i]) - len(kept), sep.join(kept))
    return out


def _run(spark, docs: dict[int, str], sep: str = "\n\n"):
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, body string"
    )
    rows = dedup_paragraphs(df, "doc_id", "body", sep=sep).collect()
    return {
        r["id"]: (r["n_paras"], r["n_dropped"], r["text_clean"])
        for r in rows
    }


def test_hostile_docs_match_reference(spark):
    docs = {
        0: "alpha beta\n\ngamma\n\nalpha beta",  # within-doc repeat
        1: "gamma\n\ndelta",  # cross-doc repeat of 'gamma'
        2: "",  # empty: no output row
        3: "   \n\n   \n\n",  # blank/NBSP segments only: no row
        4: "alpha beta\n\ngamma",  # fully duplicated: wiped to ''
        5: "\n\nzeta\n\n\n\n",  # leading/trailing blanks dropped
    }
    got = _run(spark, docs)
    assert got == _ref(docs, "\n\n")
    assert got[4] == (2, 2, "")  # the wipeout survives as a row
    assert 2 not in got and 3 not in got
    assert got[5] == (1, 0, "zeta")


def test_line_separator_variant(spark):
    docs = {
        0: "a\nb\na",
        1: "b\nc",
        2: "c\nc\nc",
    }
    assert _run(spark, docs, sep="\n") == _ref(docs, "\n")


def test_first_occurrence_is_lowest_id_then_position(spark):
    # 'dup' appears at position 1 of doc 0 and position 0 of doc 1:
    # doc 0 keeps it (lower id wins over lower position)
    docs = {0: "x\n\ndup", 1: "dup\n\ny"}
    got = _run(spark, docs)
    assert got[0] == (2, 0, "x\n\ndup")
    assert got[1] == (2, 1, "y")


def test_reassembly_preserves_original_order(spark):
    docs = {0: "c\n\na\n\nb"}  # kept order is positional, never sorted
    got = _run(spark, docs)
    assert got[0] == (3, 0, "c\n\na\n\nb")


def _run_incr(spark, base_docs, delta_docs, sep="\n\n"):
    from incr_iter_hadoop_spark.operators.dedup import (
        _para_explode,
        dedup_paragraphs,
    )

    base = spark.createDataFrame(
        sorted(base_docs.items()), "doc_id long, body string"
    )
    delta = spark.createDataFrame(
        sorted(delta_docs.items()), "doc_id long, body string"
    )
    seen = _para_explode(base, "doc_id", "body", sep)[0].select(
        "para"
    ).distinct()
    rows = dedup_paragraphs(delta, "doc_id", "body", sep=sep, seen=seen)
    return {
        r["id"]: (r["n_paras"], r["n_dropped"], r["text_clean"])
        for r in rows.collect()
    }


def _ref_arrival(base_docs, delta_docs, sep):
    """Full keep-first recompute under arrival order: every base doc
    precedes every delta doc; (id, pos) within each batch."""
    segs = {}
    order = [("b", i) for i in sorted(base_docs)] + [
        ("d", i) for i in sorted(delta_docs)
    ]
    import re as _re

    for tag, i in order:
        t = (base_docs if tag == "b" else delta_docs)[i]
        lst = [s for s in t.split(sep) if _re.search(r"\S", s)]
        if lst:
            segs[(tag, i)] = lst
    seen: set[str] = set()
    out = {}
    for key in [k for k in order if k in segs]:
        kept = []
        for s in segs[key]:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[key] = (len(segs[key]), len(segs[key]) - len(kept), sep.join(kept))
    return out


def test_incremental_delta_matches_arrival_order_recompute(spark):
    base = {
        0: "alpha\n\nbeta",
        1: "beta\n\ngamma",  # base's own dup: beta dropped here
    }
    delta = {
        10: "beta\n\ndelta",  # beta seen in base (even its dropped copy)
        11: "delta\n\nepsilon\n\ndelta",  # within-delta dup + cross hit
        12: "alpha\n\nbeta\n\ngamma",  # fully wiped by base values
        13: "",  # degenerate: no row
    }
    got = _run_incr(spark, base, delta)
    ref = _ref_arrival(base, delta, "\n\n")
    assert got == {i: ref[("d", i)] for i in delta if ("d", i) in ref}
    assert got[12] == (3, 3, "")  # the wipeout survives as a row
    assert got[10] == (2, 1, "delta")  # 'delta' is new: doc 10 keeps it
    # doc 11's 'delta' copies both lose to doc 10's within the SAME batch
    assert got[11] == (3, 2, "epsilon")


def test_incremental_base_values_include_dropped_copies(spark):
    # a paragraph the BASE run itself dropped is still 'seen' — the
    # delta copy must not resurrect it
    base = {0: "x\n\nx"}
    delta = {10: "x"}
    got = _run_incr(spark, base, delta)
    assert got[10] == (1, 1, "")


def test_separator_with_regex_metachars_is_literal(spark):
    # sep is a LITERAL: '. ' must not behave as match-any-char-plus-space
    docs = {0: "one. two. one", 1: "two. three"}
    got = _run(spark, docs, sep=". ")
    assert got == _ref(docs, ". ")
    assert got[0] == (3, 1, "one. two")  # within-doc repeat of 'one'
    assert got[1] == (2, 1, "three")
