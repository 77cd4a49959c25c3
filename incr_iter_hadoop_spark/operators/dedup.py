"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup. All are
pure DataFrame ops — hashing via xxhash64/md5 (JVM-side), candidate
generation via equi-joins on bucket keys, verification via array set ops —
so they scale by shuffle, not driver.

Verification contract: the candidate-generating schemes (MinHash, SimHash)
*verify* candidates with the exact n-gram Jaccard before emitting, so their
output equals the exact all-pairs result whenever the scheme's recall is 1
(with 32 bands × 4 rows resp. 8 SimHash blocks, a miss at jac ≥ 0.8 has
probability < 1e-7 per pair; the correctness harness checks equality against
the exact DuckDB oracle).

Scale notes: the exact inverted-index join is quadratic in per-shingle
document frequency — MinHash/SimHash are the 100 TB path because their join
keys (band signatures / 8-bit blocks) bound bucket sizes; embedding near-dup
has a brute-force baseline here and an LSH-bucketed variant in similarity.py.
"""

from __future__ import annotations

import itertools
import os

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, spread_scan
from ..functions.text import token_ngrams, ws_tokens
from ..registry import register

JACCARD_THRESHOLD = 0.8
SHINGLE_N = 3
# candidate-generation document-frequency cap: shingles present in more than
# this many docs are boilerplate and are excluded from the inverted index
# (NOT from verification) — bounds the quadratic per-shingle join blowup at
# scale (a shingle in f docs yields f² candidate rows). Clusters larger than
# the cap (every shared shingle hot) are covered by the per-doc md5-minimal
# anchor shingle retained regardless of df — see ngram_jaccard_pairs.
NGRAM_MAX_DF = 50


def _tokens(text: Column) -> Column:
    """Single-space tokens, empties dropped — mirrored exactly by the
    oracle's string_split + list_filter so shingle sets match."""
    return ws_tokens(text)


def shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_N) -> DataFrame:
    """(id, shingles array<string>) — distinct n-word shingles per doc;
    docs with fewer than n tokens are dropped (both sides of the oracle).
    Built on the one guarded n-gram builder (functions/text.token_ngrams)."""
    df = spread_scan(df, id_col)  # single-row-group scans tokenize one wave wide
    return (
        df.select(F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            "id",
            F.array_distinct(
                token_ngrams(F.col("toks"), n)
            ).alias("shingles"),
        )
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: groups of identical texts, keeper = min id
    (hash-groupBy; one shuffle on the md5 key)."""
    fp = df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min("id").alias("keeper"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# candidate count above which verification switches to the spread shape —
# below it the single-task plan finishes in well under the extra stages'
# fixed cost (measured at sf0.1: 406k candidates = 14.1s single-task vs
# 2.2s spread; 300 candidates = 0.3s single-task vs ~1s of spread overhead)
_VERIFY_SPREAD_MIN_CANDS = 20_000


def _verify_pairs(
    cands: DataFrame,
    sets: DataFrame,
    threshold: float,
    n_cands: int | None = None,
) -> DataFrame:
    """Join candidate (i, j) pairs back to shingle sets and keep pairs with
    exact Jaccard ≥ threshold. Output (i, j, jac).

    Shape: the Jaccard compute is the expensive part
    — O(|candidates| · shingles-per-doc) set intersections — so for large
    candidate streams it must run at candidate parallelism. Left to itself
    the planner broadcasts the CANDIDATE side (its size estimate is the
    smallest) and streams the tiny doc-set relation, which serializes every
    intersection onto the set side's (often single, AQE-coalesced)
    partitions — measured 14.1s single-task vs 2.2s parallel for the
    SimHash family at sf0.1. Callers that already materialize a candidate
    count pass it as ``n_cands``; above ``_VERIFY_SPREAD_MIN_CANDS`` the
    candidates are hash-repartitioned on (i, j) to the session's shuffle
    parallelism and the set sides become the BUILD sides of two broadcast
    joins, so the Jaccard compute streams over the candidate partitioning.
    (A semi-join reduction of the broadcast side to candidate-touched docs
    was measured and REJECTED here: each broadcast build re-derives the id
    set, costing more than it saves at every tested scale — at broadcast-cap
    corpus sizes the caller should pre-reduce ``sets`` instead.) Below the
    cutoff (or with no count available) the plan stays the lean three-join
    shape whose fixed cost is lower."""
    a = sets.select(F.col("id").alias("i"), F.col("shingles").alias("sa"))
    b = sets.select(F.col("id").alias("j"), F.col("shingles").alias("sb"))
    jac = F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb"))
    if n_cands is not None and n_cands >= _VERIFY_SPREAD_MIN_CANDS:
        spark = cands.sparkSession
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        cands = cands.repartition(n, "i", "j")
        a, b = F.broadcast(a), F.broadcast(b)
    return (
        cands.join(a, "i")
        .join(b, "j")
        .select("i", "j", jac.alias("raw_jac"))
        .where(F.col("raw_jac") >= threshold)
        .select("i", "j", F.round("raw_jac", 6).alias("jac"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    n: int = SHINGLE_N,
    max_df: int = NGRAM_MAX_DF,
) -> DataFrame:
    """Near-dup pairs via inverted-index join with a document-frequency cap:
    docs sharing ≥1 NON-HOT shingle (df ≤ max_df) are candidates, then
    verified with the full exact Jaccard. The cap bounds the per-shingle
    join from f² rows for a boilerplate shingle shared by f docs — without
    it one viral sentence makes the candidate stream quadratic in corpus
    size.

    Blind-spot mitigation: a cluster of MORE than max_df
    mutually-similar docs makes every shared shingle hot, so the capped
    index alone would emit zero pairs for exactly the template/boilerplate
    clusters dedup exists for. Each doc therefore also retains ONE anchor
    shingle — the one with the minimal md5 — regardless of df, and docs
    sharing an anchor are candidates too. By the MinHash argument,
    P(same anchor) = jaccard ≥ 0.8 per pair, and within a large near-dup
    cluster the anchors collide en masse, so the cluster surfaces. The
    anchor join key has at most one row per doc, so it stays linear.
    Residual miss: a pair whose every shared shingle is hot AND whose
    anchors differ (≤ 20% at the 0.8 threshold) — ``minhash_lsh_pairs`` is
    the uncapped-recall path. Verification is unchanged (full shingle
    sets); the oracle mirrors both candidate rules exactly."""
    sets = shingle_sets(df, id_col, text_col, n)
    inv = sets.select("id", F.explode("shingles").alias("sh"))
    docfreq = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    rare = inv.join(docfreq.where(F.col("df") <= max_df), "sh").select(
        "id", "sh"
    )
    cands = (
        rare.alias("a")
        .join(rare.alias("b"), "sh")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
    )
    # md5-minimal anchor shingle per doc (df-independent; md5 exists with
    # identical semantics in DuckDB, so the oracle replicates the key)
    anchor = inv.groupBy("id").agg(F.min(F.md5("sh")).alias("a_sh"))
    anchor_cands = (
        anchor.alias("a")
        .join(anchor.alias("b"), "a_sh")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
    )
    return _verify_pairs(
        cands.unionByName(anchor_cands).distinct(), sets, threshold
    )


_MH_M = 1 << 31  # permutation range: products stay < 2^62, no long overflow


def _mh_consts(num_hashes: int) -> list[tuple[int, int]]:
    """md5-derived (a, b) per permutation — a odd so x -> a·x+b is a
    bijection mod 2^31; deterministic across sessions/engines."""
    import hashlib

    out = []
    for k in range(num_hashes):
        ha = hashlib.md5(f"minhash|a|{k}".encode()).hexdigest()
        hb = hashlib.md5(f"minhash|b|{k}".encode()).hexdigest()
        out.append(((int(ha[:8], 16) % _MH_M) | 1, int(hb[:8], 16) % _MH_M))
    return out


def minhash_signatures(sets: DataFrame, num_hashes: int = 128) -> DataFrame:
    """(id, sig array<long>): sig[k] = min over shingles of the k-th linear
    permutation a_k·h + b_k (mod 2^31) of ONE base hash h = xxhash64(shingle)
    mod 2^31. One string hash per shingle row + 128 multiply-adds — ~an
    order of magnitude cheaper than 128 independent string hashes, the
    standard MinHash permutation-family construction. Arithmetic stays below
    2^62 so it is exact under ANSI mode (the driver's bare session).

    Shape note: ONE collect_list aggregate + a nested higher-order
    transform, not 128 separate min-agg columns — the execution work is
    identical (still 128·|shingles| multiply-adds per doc, JVM-side) but
    Catalyst optimizes a 2-expression plan instead of a 128-aggregate one
    (measured ~3× faster cold end-to-end at sf0.01; the per-doc hash list
    is the same size as the shingle array already held per row)."""
    consts = _mh_consts(num_hashes)
    a_arr = F.array(*[F.lit(a) for a, _b in consts])
    b_arr = F.array(*[F.lit(b) for _a, b in consts])
    exploded = sets.select("id", F.explode("shingles").alias("sh")).select(
        "id", F.pmod(F.xxhash64("sh"), F.lit(_MH_M)).alias("h")
    )
    hs = exploded.groupBy("id").agg(F.collect_list("h").alias("hs"))
    return hs.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda k: F.array_min(
                F.transform(
                    F.col("hs"),
                    lambda h: F.pmod(
                        F.element_at(a_arr, k + 1) * h
                        + F.element_at(b_arr, k + 1),
                        F.lit(_MH_M),
                    ),
                )
            ),
        ).alias("sig"),
    )


def _band_structs(bands: int, rows: int):
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(
                    *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def _banded_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, bands: int
) -> tuple[DataFrame, DataFrame]:
    """(shingle sets, banded LSH keys) — both lazily checkpointed.

    The banded join references the signatures on BOTH sides, and without a
    materialization barrier Catalyst inlines the 128-expression agg subtree
    into every branch of the downstream joins — the optimizer then spends
    minutes on the exploded plan (measured 464s → ~12s at sf0.1 with the
    barriers). The barriers are local checkpoints, not caches: the result
    is returned lazily, so no one could release a cache after it is read,
    and a checkpoint's blocks are freed when its DataFrame is dropped."""
    rows = num_hashes // bands
    sets = shingle_sets(df, id_col, text_col).localCheckpoint(eager=False)
    banded = (
        minhash_signatures(sets, num_hashes)
        .select("id", F.explode(_band_structs(bands, rows)).alias("bb"))
        .select("id", "bb.band", "bb.bucket")
        .localCheckpoint(eager=False)
    )
    return sets, banded


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """MinHash + banded LSH candidates, exact-Jaccard verified.

    32 bands × 4 rows: P(miss | jac=0.8) = (1−0.8⁴)^32 ≈ 5e-8 — effectively
    recall 1 at the threshold, with bucket sizes bounded by band collisions
    (the 100 TB-safe join key)."""
    sets, banded = _banded_signatures(df, id_col, text_col, num_hashes, bands)
    cands = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # eager materialization: the verify join then plans against the
    # checkpointed candidate/shingle leaves instead of re-optimizing the
    # full signature tree (measured 67s → 18s at sf0.1 for the SimHash
    # variant)
    n_cands = cands.count()
    return _verify_pairs(cands, sets, threshold, n_cands=n_cands)


def minhash_lsh_pairs_incr(
    df: DataFrame,
    new_ids: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Incremental MinHash dedup step (I7 applied to the dedup domain): a
    corpus delta of NEW documents arrives, the preserved base pairs stay
    valid verbatim (old×old similarity cannot change), and only pairs
    touching a new document are candidate-generated and verified — the
    banded join's left side is restricted to new docs, so per-delta work is
    O(|new| × bucket collisions), not O(|corpus|²-candidates).

    ``new_ids``: one-column (id) relation of the delta's doc ids. Returns
    verified (i, j, jac) pairs with at least one new endpoint; union with
    the preserved base pairs reconstructs the full pair set."""
    sets, banded = _banded_signatures(df, id_col, text_col, num_hashes, bands)
    banded_new = banded.join(
        new_ids.select(F.col(new_ids.columns[0]).alias("id")), "id", "left_semi"
    )
    cands = (
        banded_new.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .where(F.col("a.id") != F.col("b.id"))
        .select(
            F.least("a.id", "b.id").alias("i"),
            F.greatest("a.id", "b.id").alias("j"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_cands = cands.count()  # eager: see minhash_lsh_pairs
    return _verify_pairs(cands, sets, threshold, n_cands=n_cands)


def _simhash_blocks_udf(n_blocks: int):
    """Arrow-vectorized SimHash: hs (array<long> of 64-bit shingle hashes)
    -> ``n_blocks`` block values. Bit j's vote is Σ ±1 over hashes (+1 when
    bit set); bit value = vote ≥ 0; block b packs its bits little-endian.
    Pure int64 arithmetic (no floats), so results are exactly the values
    the former Catalyst lambda expression produced."""
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    bits_per_block = 64 // n_blocks
    shifts = np.arange(64, dtype=np.uint64)[:, None]
    packs = np.arange(bits_per_block, dtype=np.int64)[None, :]

    @F.pandas_udf(ArrayType(IntegerType()))
    def simhash_blocks(hs_col: pd.Series) -> pd.Series:
        out = []
        for hs_list in hs_col:
            h = np.asarray(hs_list, dtype=np.int64).view(np.uint64)
            bits = (h[None, :] >> shifts) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=1)
            blocks = (
                (votes >= 0).astype(np.int64).reshape(n_blocks, bits_per_block)
                << packs
            ).sum(axis=1)
            out.append(blocks.astype(np.int32))
        return pd.Series(out)

    return simhash_blocks


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    n_blocks: int = 8,
) -> DataFrame:
    """64-bit SimHash over shingle hashes; candidates share ≥1 of
    ``n_blocks`` 8-bit blocks (pigeonhole: catches hamming ≤ n_blocks−1),
    then exact-Jaccard verified."""
    bits_per_block = 64 // n_blocks
    sets = shingle_sets(df, id_col, text_col).localCheckpoint(eager=False)
    exploded = sets.select("id", F.explode("shingles").alias("sh")).select(
        "id", F.xxhash64("sh").alias("h")
    )
    # per-bit signed vote: +1 if bit set else -1; sign of the sum is the
    # bit. The votes were a 64-lambda interpreted higher-order expression
    # (Catalyst never codegens lambda bodies — 64·|shingles| interpreted
    # steps per doc, measured 5.4s at sf0.1); they now run in ONE
    # Arrow-vectorized pandas UDF doing the same integer arithmetic as a
    # numpy bit-matrix (guide §4.2) — measured 2.0s-to-sub-second for the
    # same stage, bit-exact (pinned by test_simhash_blocks_match_expr).
    hs = exploded.groupBy("id").agg(F.collect_list("h").alias("hs"))
    blocks = (
        hs.select(
            "id", _simhash_blocks_udf(n_blocks)("hs").alias("blks")
        )
        .select(
            "id",
            *[
                F.element_at("blks", b + 1).alias(f"blk{b}")
                for b in range(n_blocks)
            ],
        )
        .localCheckpoint(eager=False)
    )
    stacked = blocks.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("blk_id"), F.col(f"blk{b}").alias("val"))
                    for b in range(n_blocks)
                ]
            )
        ).alias("s"),
    ).select("id", "s.blk_id", "s.val")
    cands = (
        stacked.alias("a")
        .join(stacked.alias("b"), ["blk_id", "val"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_cands = cands.count()  # eager: see minhash_lsh_pairs
    return _verify_pairs(cands, sets, threshold, n_cands=n_cands)


# ---------------------------------------------------------------------------
# registered queries — all near-dup variants share the exact-Jaccard oracle

_JACCARD_ORACLE = f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS s
      FROM tok WHERE len(w) >= 3
    )
    SELECT a.doc_id AS i, b.doc_id AS j,
           ROUND(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / len(list_distinct(list_concat(a.s, b.s))) >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keeper,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="exact dedup by content hash (hash-groupBy).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_duplicates(d, "doc_id", "text")


_NGRAM_DF_CAPPED_ORACLE = f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), x -> x <> '') AS w
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS s
      FROM tok WHERE len(w) >= 3
    ), inv AS MATERIALIZED (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), df AS (
      SELECT shingle, COUNT(*) AS n_docs FROM inv GROUP BY shingle
    ), rare AS (
      SELECT i.doc_id, i.shingle
      FROM inv i JOIN df ON df.shingle = i.shingle
      WHERE df.n_docs <= {NGRAM_MAX_DF}
    ), anchor AS (
      SELECT doc_id, MIN(md5(shingle)) AS a_sh FROM inv GROUP BY doc_id
    ), cand AS (
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      UNION
      SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      FROM anchor a JOIN anchor b
        ON a.a_sh = b.a_sh AND a.doc_id < b.doc_id
    )
    SELECT c.i, c.j,
           ROUND(len(list_intersect(a.s, b.s))::DOUBLE
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
    FROM cand c JOIN sh a ON a.doc_id = c.i JOIN sh b ON b.doc_id = c.j
    WHERE len(list_intersect(a.s, b.s))::DOUBLE
          / len(list_distinct(list_concat(a.s, b.s))) >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_ngram_pairs",
    oracle=_NGRAM_DF_CAPPED_ORACLE,
    doc="3-gram Jaccard near-dup pairs: inverted-index candidates with a "
    f"document-frequency cap (shingle df <= {NGRAM_MAX_DF} — bounds the "
    "per-shingle quadratic blowup at scale) PLUS a per-doc md5-minimal "
    "anchor shingle retained regardless of df (so >max_df near-dup "
    "clusters still generate candidates), full-set Jaccard verify; the "
    "oracle mirrors both candidate rules exactly.",
)
def dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text")


@register(
    "dedup_minhash_pairs",
    oracle=_JACCARD_ORACLE,
    doc="MinHash(128)+LSH(32×4) candidates, exact-verified — equals the "
    "exact result at recall ≈ 1−5e-8; the 100 TB dedup path.",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text")


@register(
    "dedup_simhash_pairs",
    oracle=_JACCARD_ORACLE,
    doc="SimHash(64-bit, 8 blocks) candidates, exact-verified.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text")


_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_JACCARD_ORACLE}),
    edges AS MATERIALIZED (
      SELECT i AS src, j AS dst FROM pairs
      UNION
      SELECT j AS src, i AS dst FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node
    """


@register(
    "dedup_cc_clusters",
    oracle=_CC_ORACLE,
    doc="near-dup cluster assignment: MinHash+LSH verified pairs (the "
    "100 TB candidate path, exact after verification) as undirected edges, "
    "connected components by min-label propagation to fixpoint (cluster id "
    "= min doc_id of the component — the keeper a dedup pipeline retains); "
    "singleton docs are their own cluster. Oracle: recursive-CTE "
    "transitive closure over exact-Jaccard pairs, exact match despite the "
    "convergence-driven loop.",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    edges = pairs.select(F.col("i").alias("src"), F.col("j").alias("dst"))
    res = connected_components(
        edges, nodes=d.select(F.col("doc_id").alias("node"))
    )
    return res.state.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster")
    )


# ---------------------------------------------------------------------------
# incremental dedup — the reference's preserve/delta discipline (SURVEY
# §2.8 I6-I8) applied to the LLM-pipeline domain: a corpus delta of new
# documents lands; preserved old×old pairs stay valid verbatim, only pairs
# touching a new doc are generated and verified, and the near-dup clusters
# warm-start from the preserved labeling instead of a cold fixpoint.

_NEW_DOC_MOD = 10  # delta = every 10th doc (held out of the base corpus)


def _doc_split(spark: SparkSession, sf_dir: str):
    # spread the one-row-group scan so the gram/fingerprint map work
    # downstream runs one task wave wide (catalog.spread_scan)
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    base = d.where(F.col("doc_id") % _NEW_DOC_MOD != 0)
    new = d.where(F.col("doc_id") % _NEW_DOC_MOD == 0)
    return d, base, new


@register(
    "incr_dedup_minhash_pairs",
    oracle=_JACCARD_ORACLE,
    doc="incremental MinHash+LSH dedup (I7 on the dedup domain): base "
    f"corpus = doc_id % {_NEW_DOC_MOD} != 0, delta = the held-out tenth; "
    "preserved base pairs are reused verbatim (old-by-old similarity "
    "cannot change under insertion) and only candidates touching a new "
    "doc are banded-joined and verified — per-delta work is O(|new| x "
    "bucket collisions). Union equals the full-corpus pair set; oracle = "
    "exact all-pairs Jaccard over the whole corpus.",
)
def incr_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, base, new = _doc_split(spark, sf_dir)
    base_pairs = minhash_lsh_pairs(base, "doc_id", "text")
    delta_pairs = minhash_lsh_pairs_incr(
        d, new.select(F.col("doc_id").alias("id")), "doc_id", "text"
    )
    # disjoint by construction: base pairs are old-by-old, delta pairs
    # touch at least one new doc
    return base_pairs.unionByName(delta_pairs)


@register(
    "incr_dedup_clusters",
    oracle=_CC_ORACLE,
    doc="incremental near-dup clustering: the preserved base clusters "
    "(min-label CC over base pairs) warm-start the propagation after the "
    "delta's pairs land — labels only decrease under edge additions, so "
    "re-convergence walks the merge boundary instead of whole-component "
    "diameters (SURVEY §3.3 on the CC workload). Oracle: recursive-CTE "
    "transitive closure over the full corpus's exact-Jaccard pairs.",
)
def incr_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import connected_components

    d, base, new = _doc_split(spark, sf_dir)
    base_pairs = minhash_lsh_pairs(base, "doc_id", "text")
    base_cc = connected_components(
        base_pairs.select(F.col("i").alias("src"), F.col("j").alias("dst")),
        nodes=base.select(F.col("doc_id").alias("node")),
    )
    warm = base_cc.state  # (node, comp) — eager-checkpointed per round
    delta_pairs = minhash_lsh_pairs_incr(
        d, new.select(F.col("doc_id").alias("id")), "doc_id", "text"
    )
    all_edges = (
        base_pairs.unionByName(delta_pairs)
        .select(F.col("i").alias("src"), F.col("j").alias("dst"))
    )
    res = connected_components(
        all_edges,
        nodes=d.select(F.col("doc_id").alias("node")),
        init_labels=warm,
    )
    return res.state.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster")
    )


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_JACCARD_ORACLE}),
    edges AS MATERIALIZED (
      SELECT i AS src, j AS dst FROM pairs
      UNION
      SELECT j AS src, i AS dst FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    clusters AS (
      SELECT node AS doc_id, MIN(lbl) AS cluster FROM reach GROUP BY node
    ),
    toks AS (
      SELECT doc_id,
             len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
               AS tok
      FROM documents
    ),
    ranked AS (
      SELECT c.cluster, c.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY c.cluster
                                ORDER BY t.tok DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.cluster) AS n_members
      FROM clusters c JOIN toks t USING (doc_id)
    )
    SELECT cluster, doc_id AS keeper, CAST(tok AS BIGINT) AS keeper_tokens,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
    doc="dedup keeper selection: within each near-dup cluster (MinHash+LSH "
    "pairs → connected components) KEEP the longest member — the "
    "representative-selection pass a dedup pipeline runs after clustering "
    "(longest-version-wins is the common C4/RefinedWeb policy; singletons "
    "keep themselves). Ordering is integer-only (token count DESC, doc_id "
    "ASC) so the pick is reproducible across engines. One window over the "
    "cluster assignment — partitioned by cluster, never a global sort.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    clusters = dedup_cc_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.size(ws_tokens(F.col("text"))).alias("tok"))
    joined = clusters.join(toks, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("tok"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster")
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("keeper"),
            F.col("tok").cast("bigint").alias("keeper_tokens"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (the suffix-array training-data dedup of
# Lee et al., "Deduplicating Training Data Makes Language Models Better",
# re-expressed as a distributed fingerprint join). The reference has no
# substring surface at all; this is north-star LLM-pipeline coverage.

SPAN_K = 32  # gram length (chars): spans shorter than this are invisible
# content-defined sampling gate: a gram is FINGERPRINTED iff the md5 hex
# prefix of the gram ITSELF falls under this threshold (~1/8 of grams).
# Sampling by content — not by position stride — is the load-bearing choice:
# two documents sharing a run sample the SAME grams inside it regardless of
# where the run sits in each document, so cross-doc matches never need
# positional alignment (the winnowing insight, Schleimer et al. 2003).
# A positional stride would only match runs that happen to share alignment
# with the stride grid — near-zero recall on real shifted duplicates.
SPAN_KEEP_HEX = "20"


def duplicate_substring_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SPAN_K,
    keep_hex: str = SPAN_KEEP_HEX,
    *,
    base_index: DataFrame | None = None,
) -> DataFrame:
    """Per-document merged spans of text duplicated verbatim in ANOTHER
    document: (id, n_dup_spans, dup_chars).

    Pipeline (all DataFrame ops, no Python row path):
      1. fingerprint: per doc, keep the char-k-gram start positions whose
         gram content passes the md5 gate (``fingerprint_grams``);
      2. a single window over the gram key (``min(id) != max(id)``)
         marks each position whose gram appears in ≥2 distinct docs — one
         scan of the fingerprints, and LINEAR in hits (never a doc-pair
         join: a boilerplate gram in f docs costs f rows here, not f², so
         hot grams can't blow up the plan — the failure mode the
         pair-generating schemes above need df-caps for). The window
         replaces a groupBy + self-semi-join, whose two branches each
         re-ran the md5 gram pass (measured 5.7s → 3.3s at sf0.1);
      3. per-doc interval merge of [pos, pos+k-1] via the classic
         gaps-and-islands windows — partitioned by doc id (max-cardinality
         key: no skew, no global sort).

    ``base_index``: the preserved (gram, n_base) index of a corpus
    disjoint from ``docs`` (``substring_gram_index``). With it, a position
    is also a hit when its gram occurs in the indexed corpus — a left
    probe of the index at the docs' gram keys (in a deployed store, the
    bucket-pruned point read of sources/preserve_store.py). The output is
    then the spans of ``docs`` against (docs ∪ indexed corpus): the
    steady-state delta pass, O(|docs|), never re-reading the base corpus.

    Detection contract: a shared run of length L ≥ k contains L-k+1 grams,
    each fingerprinted w.p. ~keep_hex/256 by content — deterministic given
    the text, identical for every copy of the run, so recall is the same
    on every run/cluster size and the whole operator is exactly
    SQL-oracle-checkable. Spans whose every gram misses the gate are
    missed (P ≈ (1-1/8)^(L-31)); raise ``keep_hex`` to trade scan cost
    for short-span recall."""
    from pyspark.sql.window import Window

    g = fingerprint_grams(docs, id_col, text_col, k, keep_hex)
    wg = Window.partitionBy("gram")
    dup = F.min("id").over(wg) != F.max("id").over(wg)
    if base_index is None:
        hits = g.withColumn("dup", dup).where("dup")
    else:
        hits = (
            g.withColumn("dup_new", dup)
            .join(base_index, "gram", "left")
            .where(F.col("dup_new") | F.col("n_base").isNotNull())
        )
    return _merge_spans(hits.select("id", "pos"), k)


def fingerprint_grams(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SPAN_K,
    keep_hex: str = SPAN_KEEP_HEX,
) -> DataFrame:
    """(id, pos, gram): the content-gated k-gram fingerprints of each doc.
    The gate runs inside an array ``filter`` over ``sequence(1,
    len-k+1)``, so unkept grams are never exploded into rows (no k× row
    amplification at the scan)."""
    text = F.col(text_col)
    kept_pos = F.filter(
        F.sequence(F.lit(1), F.length(text) - (k - 1)),
        lambda i: F.substring(F.md5(text.substr(i, F.lit(k))), 1, 2)
        < F.lit(keep_hex),
    )
    return (
        docs.where(F.length(text) >= k)
        .select(
            F.col(id_col).alias("id"),
            text.alias("_t"),
            F.explode(kept_pos).alias("pos"),
        )
        .select("id", "pos", F.expr(f"substring(_t, pos, {k})").alias("gram"))
    )


def _merge_spans(hits: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of [pos, pos+k-1] hit intervals per doc →
    (id, n_dup_spans, dup_chars)."""
    from pyspark.sql.window import Window

    w_prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + (k - 1)).over(w_prev)
    runs = hits.withColumn(
        "new_span",
        (prev_end.isNull() | (F.col("pos") > prev_end)).cast("int"),
    ).withColumn("span_id", F.sum("new_span").over(w_run))
    spans = runs.groupBy("id", "span_id").agg(
        F.min("pos").alias("s"), (F.max("pos") + (k - 1)).alias("e")
    )
    return spans.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_chars"),
    )


_SUBSTRING_SPANS_ORACLE = f"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, pos, substr(text, CAST(pos AS INTEGER), {SPAN_K}) AS gram
      FROM (
        SELECT doc_id, text,
               unnest(list_filter(
                 range(1, length(text) - {SPAN_K - 2}),
                 i -> substr(md5(substr(text, CAST(i AS INTEGER), {SPAN_K})),
                             1, 2) < '{SPAN_KEEP_HEX}')) AS pos
        FROM documents WHERE length(text) >= {SPAN_K}
      )
    ), shared AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ), h AS (
      SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN MAX(pos + {SPAN_K - 1}) OVER w IS NULL
                    OR pos > MAX(pos + {SPAN_K - 1}) OVER w
                  THEN 1 ELSE 0 END AS new_span
      FROM h
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), runs AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl
    ), spans AS (
      SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + {SPAN_K - 1} AS e
      FROM runs GROUP BY doc_id, span_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars
    FROM spans GROUP BY doc_id
"""


def _spans_out(spans: DataFrame) -> DataFrame:
    """The registered substring-span schema: (doc_id, n_dup_spans,
    dup_chars bigint)."""
    return spans.select(
        F.col("id").alias("doc_id"),
        "n_dup_spans",
        F.col("dup_chars").cast("bigint").alias("dup_chars"),
    )


@register(
    "dedup_substring_spans",
    oracle=_SUBSTRING_SPANS_ORACLE,
    doc="exact-substring duplicate spans (Lee et al. suffix-array dedup, "
    "re-expressed distributed): content-defined char-32-gram fingerprints "
    "(md5 gate on the gram itself — alignment-independent, the winnowing "
    "trick), a single window over the gram key (min(id) != max(id)) marks "
    "positions of grams in >= 2 docs — LINEAR in hits (never doc-pair "
    "quadratic), per-doc "
    "gaps-and-islands windows merge them into maximal spans. Output: "
    "per-doc span count + duplicated char mass.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return _spans_out(duplicate_substring_spans(d, "doc_id", "text"))


@register(
    "dedup_cc_star",
    oracle=_CC_ORACLE,
    doc="same near-dup clustering contract as dedup_cc_clusters, computed "
    "by the alternating large-star/small-star edge-rewrite algorithm "
    "(Kiveris et al. Two-Phase) instead of min-label propagation: O(log n) "
    "rounds regardless of component diameter — the right variant when "
    "components are long chains/meshes rather than near-cliques. Exact "
    "same recursive-CTE oracle (identical fixpoint).",
)
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import connected_components_star

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    edges = pairs.select(F.col("i").alias("src"), F.col("j").alias("dst"))
    res = connected_components_star(
        edges, nodes=d.select(F.col("doc_id").alias("node"))
    )
    return res.state.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster")
    )


@register(
    "incr_dedup_substring",
    oracle=f"""
    WITH full_spans AS ({_SUBSTRING_SPANS_ORACLE})
    SELECT * FROM full_spans WHERE doc_id % {_NEW_DOC_MOD} = 0
    """,
    doc="incremental substring dedup (I7/I8 × the linear-refresh "
    "discipline): delta = the held-out tenth of the corpus; the base "
    "corpus's gram→distinct-doc-count index is the PRESERVED state, and "
    "because base and delta doc sets are DISJOINT the merged count is the "
    "linear sum base+delta (the invertible-aggregate fast path of "
    "incr_refresh_orders_linear — no base contribution re-reads). Only "
    "delta-doc positions are fingerprinted, probed (left join at delta "
    "gram keys — in a deployed store this is the bucket-pruned point "
    "read, sources/preserve_store.py), and span-merged. Output = exactly "
    "the full-corpus operator restricted to delta docs; oracle = the "
    "full oracle with that restriction.",
)
def incr_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, base, new = _doc_split(spark, sf_dir)
    base_index = substring_gram_index(base, "doc_id", "text")
    return _spans_out(
        duplicate_substring_spans(new, "doc_id", "text", base_index=base_index)
    )


def substring_gram_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SPAN_K,
    keep_hex: str = SPAN_KEEP_HEX,
) -> DataFrame:
    """(gram, n_base): the preserved gram→distinct-doc-count index — the
    state a deployed pipeline materializes once and refreshes linearly
    (disjoint corpus batches sum)."""
    return (
        fingerprint_grams(docs, id_col, text_col, k, keep_hex)
        .groupBy("gram")
        .agg(F.count_distinct("id").alias("n_base"))
    )


def benchmark_gram_set(
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SPAN_K,
    keep_hex: str = SPAN_KEEP_HEX,
) -> DataFrame:
    """The benchmark's distinct content-gated grams — the PREPARED
    decontamination index a deployed pipeline materializes once
    (benchmarks change rarely; the corpus streams) and probes on every
    ingest batch (``streaming/incremental_stream.streaming_decontaminate``)."""
    return (
        fingerprint_grams(bench, id_col, text_col, k, keep_hex)
        .select("gram")
        .distinct()
    )


def _contam_hits(corpus_fp: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """(id, pos) of every corpus fingerprint whose gram is a benchmark
    gram: the one decontamination probe (see ``decontaminate_spans``)."""
    return (
        corpus_fp.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select("id", "pos")
    )


def decontaminate_spans(
    corpus_fp: DataFrame,
    bench_grams: DataFrame,
    k: int = SPAN_K,
    *,
    preserved_hits: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-contamination spans: per CORPUS document, the merged
    character spans whose content appears verbatim in ANY benchmark
    document — the Lee et al. / GPT-3 train-test overlap
    (decontamination) step every pretraining pipeline runs before
    training, as substring containment rather than the token-shingle
    variant (``decontaminate_overlap``). Output: (id, n_dup_spans,
    dup_chars) for contaminated corpus docs only.

    Inputs: ``corpus_fp``, the corpus's ``fingerprint_grams`` — the same
    content-defined winnowing gate as ``duplicate_substring_spans``, so
    both relations sample the SAME grams inside a shared run and matches
    never need positional alignment; ``bench_grams``, a prepared gram set
    (``benchmark_gram_set`` or a store's ``store_gram_set``). Corpus
    fingerprints LEFT-SEMI join against the gram set (each corpus gram
    either is or isn't a benchmark gram — never a pair product), and hits
    merge into maximal per-doc spans. Per-doc output, no cross-doc state,
    so a corpus split into ingest batches probes batch by batch and the
    union equals the at-rest result exactly.

    ``preserved_hits``: the (id, pos) hits of benchmark grams already
    probed — the state a deployed pipeline keeps when the benchmark GROWS
    (I7/I8): only the newly shipped suite's grams are then passed as
    ``bench_grams``, and its hits union with the preserved ones (distinct
    on (id, pos) — a gram can be in both suites) before the span merge,
    which re-runs over hit positions only, O(|hits|), never O(corpus).
    Exact: the semi-join distributes over the gram-set union, fp ⋉
    (grams_old ∪ grams_new) = (fp ⋉ grams_old) ∪ (fp ⋉ grams_new).

    Normalized matching (Lee et al. / GPT-3 appendix C) is a projection
    the caller applies to both relations with ``normalize_for_matching``
    before fingerprinting; spans are then in normalized-text space.

    100 TB shape: the benchmark side is tiny by construction (eval
    suites are MBs; the corpus is the 100 TB side), so the gram set is
    hash-broadcast — the corpus fingerprint scan is map-side gated with
    ZERO shuffle of corpus data; only the surviving hit positions (rare)
    reach the per-doc span-merge window. The ``F.broadcast`` hint is
    DELIBERATE and unconditional (Spark honors explicit hints regardless
    of size estimates; AQE never demotes them) — a caller probing a
    pathological multi-GB "benchmark" should drop the hint (plain
    equi-join lets the planner pick shuffle) rather than rely on a
    fallback that does not exist. Detection floor: overlaps shorter than
    ``k`` chars are invisible, and a span whose every gram misses the
    content gate is missed (P ≈ (1-1/8)^(L-k+1)); raise ``keep_hex`` in
    ``fingerprint_grams`` for shorter-span recall."""
    hits = _contam_hits(corpus_fp, bench_grams)
    if preserved_hits is not None:
        hits = preserved_hits.unionByName(hits).distinct()
    return _merge_spans(hits, k)


# The full-benchmark decontamination oracle — shared verbatim by the
# at-rest (decontaminate_substring), streamed (decontaminate_streamed),
# and incremental (incr_decontaminate) registrations: all three MUST
# equal the same full recompute.
_DECONTAM_ORACLE = f"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, pos, substr(text, CAST(pos AS INTEGER), {SPAN_K}) AS gram
      FROM (
        SELECT doc_id, text,
               unnest(list_filter(
                 range(1, length(text) - {SPAN_K - 2}),
                 i -> substr(md5(substr(text, CAST(i AS INTEGER), {SPAN_K})),
                             1, 2) < '{SPAN_KEEP_HEX}')) AS pos
        FROM documents WHERE length(text) >= {SPAN_K}
      )
    ), b AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_NEW_DOC_MOD} = 0
    ), h AS (
      SELECT g.doc_id, g.pos FROM g JOIN b USING (gram)
      WHERE g.doc_id % {_NEW_DOC_MOD} <> 0
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN MAX(pos + {SPAN_K - 1}) OVER w IS NULL
                    OR pos > MAX(pos + {SPAN_K - 1}) OVER w
                  THEN 1 ELSE 0 END AS new_span
      FROM h
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), runs AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl
    ), spans AS (
      SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + {SPAN_K - 1} AS e
      FROM runs GROUP BY doc_id, span_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_contam_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS contam_chars
    FROM spans GROUP BY doc_id
    """


def _contam_out(spans: DataFrame) -> DataFrame:
    """The registered decontamination schema: (doc_id, n_contam_spans,
    contam_chars), both counts bigint."""
    return spans.select(
        F.col("id").alias("doc_id"),
        F.col("n_dup_spans").cast("bigint").alias("n_contam_spans"),
        F.col("dup_chars").cast("bigint").alias("contam_chars"),
    )


def _decontaminate_query(
    corpus: DataFrame, bench_grams: DataFrame
) -> DataFrame:
    """The at-rest decontamination query body: fingerprint ``corpus``
    (doc_id, text), probe ``bench_grams``, project the output schema."""
    corpus_fp = fingerprint_grams(corpus, "doc_id", "text")
    return _contam_out(decontaminate_spans(corpus_fp, bench_grams))


@register(
    "decontaminate_substring",
    oracle=_DECONTAM_ORACLE,
    doc="train-test DECONTAMINATION by substring containment (the Lee "
    "et al./GPT-3 overlap step): corpus docs (doc_id % "
    f"{_NEW_DOC_MOD} != 0) containing any >= {SPAN_K}-char run that "
    f"appears verbatim in the planted benchmark split (doc_id % "
    f"{_NEW_DOC_MOD} == 0) are flagged with their merged contaminated "
    "span count + char mass. The benchmark's distinct content-gated "
    "grams broadcast; corpus fingerprints LEFT-SEMI against them "
    "(plan-pinned: broadcast, no pair product, zero corpus shuffle "
    "before the per-doc span merge). Complements decontaminate_overlap "
    "(token-shingle flavor) with the exact-substring flavor on the "
    "shared gram-index machinery (substring_gram_index probe side).",
)
def decontaminate_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, corpus, bench = _doc_split(spark, sf_dir)
    return _decontaminate_query(
        corpus, benchmark_gram_set(bench, "doc_id", "text")
    )


# The Lee et al. / GPT-3 appendix-C matching normalization, as ONE shared
# expression pair: collapse every run of anything outside [a-zA-Z0-9]
# (punctuation, whitespace, every non-ASCII codepoint) to a single space
# FIRST, then lowercase, then trim. The order is the cross-engine fence:
# stripping non-ASCII *before* the case map means lower() only ever acts
# on pure ASCII, where every engine agrees — lowering first would route
# Unicode one-to-many / combining-mark case maps through the class and
# the engines DIVERGE exactly where a fold crosses the ASCII boundary
# (confirmed live: Java lower('İ') = 'i'+U+0307 → the
# combining mark strips to a spurious space, DuckDB's utf8proc gives
# plain 'i'; Java upper('ß')='SS' vs DuckDB 'ẞ' is the same class of
# hazard). Cost: non-ASCII content (including folds that would land in
# ASCII, e.g. Kelvin K) never reaches the grams — deterministic
# cross-engine matching beats exotic-case recall for a train/test
# overlap gate. Pinned over a hostile battery incl. MID-WORD İ in
# tests/test_incr_decontaminate.py.
_NORM_SQL = "trim(lower(regexp_replace({src}, '[^a-zA-Z0-9]+', ' ', 'g')))"


def normalize_for_matching(col: Column) -> Column:
    """Spark half of ``_NORM_SQL`` (char-for-char the same semantics:
    strip-then-lower — see the ordering note on ``_NORM_SQL``)."""
    return F.trim(F.lower(F.regexp_replace(col, "[^a-zA-Z0-9]+", " ")))


# benchmark-side perturbation for the registered query: ASCII uppercase +
# comma noise after every space — washes out under normalization, so
# normalized matching must find every overlap raw matching finds on the
# unperturbed split, while RAW matching against the perturbed split finds
# nothing (pinned in tests/test_incr_decontaminate.py). translate() (same
# 3-arg semantics both engines) rather than upper(): full-Unicode upper
# DIVERGES across engines (Java upper('ß')='SS' → normalizes to ASCII
# 'ss'; DuckDB gives 'ẞ' → stripped), and ASCII-only case noise proves
# case-insensitivity without touching that edge.
_PERTURB_SQL = (
    "replace(translate({src}, 'abcdefghijklmnopqrstuvwxyz', "
    "'ABCDEFGHIJKLMNOPQRSTUVWXYZ'), ' ', ' , ')"
)

def _normalized_split(spark: SparkSession, sf_dir: str):
    """(corpus, benchmark) of the normalized decontamination queries: the
    benchmark split perturbed by ``_PERTURB_SQL``, then both relations
    projected through ``normalize_for_matching`` — so spans are in
    normalized-text space, where the match is defined (a normalized span
    has no unique raw preimage)."""
    _, corpus, bench = _doc_split(spark, sf_dir)
    norm = normalize_for_matching(F.col("text")).alias("text")
    bench_n = bench.select(
        "doc_id", F.expr(_PERTURB_SQL.format(src="text")).alias("text")
    ).select("doc_id", norm)
    return corpus.select("doc_id", norm), bench_n


_NORM_CORPUS = _NORM_SQL.format(src="text")
_NORM_BENCH = _NORM_SQL.format(src=_PERTURB_SQL.format(src="text"))

_DECONTAM_NORM_ORACLE = f"""
    WITH nd AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_NEW_DOC_MOD} = 0
                  THEN {_NORM_BENCH}
                  ELSE {_NORM_CORPUS} END AS text
      FROM documents
    ), g AS MATERIALIZED (
      SELECT doc_id, pos, substr(text, CAST(pos AS INTEGER), {SPAN_K}) AS gram
      FROM (
        SELECT doc_id, text,
               unnest(list_filter(
                 range(1, length(text) - {SPAN_K - 2}),
                 i -> substr(md5(substr(text, CAST(i AS INTEGER), {SPAN_K})),
                             1, 2) < '{SPAN_KEEP_HEX}')) AS pos
        FROM nd WHERE length(text) >= {SPAN_K}
      )
    ), b AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_NEW_DOC_MOD} = 0
    ), h AS (
      SELECT g.doc_id, g.pos FROM g JOIN b USING (gram)
      WHERE g.doc_id % {_NEW_DOC_MOD} <> 0
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN MAX(pos + {SPAN_K - 1}) OVER w IS NULL
                    OR pos > MAX(pos + {SPAN_K - 1}) OVER w
                  THEN 1 ELSE 0 END AS new_span
      FROM h
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), runs AS (
      SELECT doc_id, pos,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM isl
    ), spans AS (
      SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + {SPAN_K - 1} AS e
      FROM runs GROUP BY doc_id, span_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_contam_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS contam_chars
    FROM spans GROUP BY doc_id
    """


@register(
    "decontaminate_normalized",
    oracle=_DECONTAM_NORM_ORACLE,
    doc="NORMALIZED train-test decontamination (the Lee et al./GPT-3 "
    "appendix-C matching discipline): both "
    "relations are lowercased, punctuation-stripped, and whitespace-"
    "collapsed before gram fingerprinting, so benchmark text differing "
    "from its corpus copy only in case/spacing/punctuation still hits — "
    "the variants the raw-verbatim decontaminate_substring misses. To "
    "prove exactly that on the sf corpora, the benchmark split is "
    "PERTURBED (uppercased, comma noise after every space — identically "
    "on both engines) before matching: raw containment against the "
    "perturbed split finds nothing, normalized matching must recover "
    "every overlap (recall-vs-raw pinned in tests). Span coordinates "
    "are in normalized-text space (the match is defined there). Same "
    "plan shape as the raw flavor: normalized benchmark grams "
    "broadcast, corpus map-side fingerprinted, LEFT-SEMI gate, zero "
    "corpus shuffle before the per-doc span merge, never a product.",
)
def decontaminate_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus, bench = _normalized_split(spark, sf_dir)
    return _decontaminate_query(
        corpus, benchmark_gram_set(bench, "doc_id", "text")
    )


@register(
    "incr_decontaminate_normalized",
    oracle=_DECONTAM_NORM_ORACLE,
    doc="incremental NORMALIZED decontamination: the "
    "production composition — benchmarks grow (I7/I8) AND matching is "
    "case/punct/whitespace-insensitive. Same perturbed benchmark split "
    "as decontaminate_normalized (ASCII-translate uppercase + comma "
    "noise, washed out by normalization), same preserved-state "
    "discipline as incr_decontaminate: the NORMALIZED corpus "
    "fingerprint relation is materialized once, the old benchmark "
    "half's hits are the preserved state, and only the newly-shipped "
    "half's normalized grams (broadcast) probe the fingerprints — the "
    "corpus is never re-read. Semi-joins distribute over gram-set "
    "union, so the result equals the full normalized recompute exactly "
    "(the oracle is decontaminate_normalized's verbatim). Demonstrates "
    "that normalization composes with the whole incremental machinery "
    "unchanged: it is a map-side expression in front of the shared "
    "fingerprint scan, invisible to the probe/union/merge layers.",
)
def incr_decontaminate_normalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _incr_decontaminate_query(*_normalized_split(spark, sf_dir))


@register(
    "decontaminate_streamed",
    oracle=_DECONTAM_ORACLE,
    doc="decontamination AT INGEST (§2.9 × the "
    "decontaminate_substring family, the Kappa pattern a real pipeline "
    "runs so contaminated documents never land in the corpus): the same "
    "corpus split arrives as two file-source micro-batches; the "
    "benchmark gram set is materialized ONCE (localCheckpoint — the "
    "prepared index, benchmarks change rarely), each micro-batch probes "
    "it via foreachBatch and lands its flagged spans in a per-batch "
    "parquet partition whose overwrite makes replays idempotent "
    "(exactly-once output under at-least-once foreachBatch). "
    "Containment is per-doc against static state — no cross-batch "
    "state — so the drained union must equal the at-rest operator "
    "exactly: the oracle is decontaminate_substring's verbatim.",
)
def decontaminate_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, corpus, bench = _doc_split(spark, sf_dir)
    # the prepared index: materialized once, probed per batch
    # (localCheckpoint, not persist — registered queries cannot unpersist
    # after the driver collects)
    bench_grams = benchmark_gram_set(
        bench, "doc_id", "text"
    ).localCheckpoint(eager=True)
    return _drain_decontaminate_stream(
        spark, corpus.select("doc_id", "text"), bench_grams,
        "decontam_stream_",
    )


def _drain_decontaminate_stream(
    spark: SparkSession, docs: DataFrame, bench_grams: DataFrame, prefix: str
) -> DataFrame:
    """The shared driver harness of the streamed decontamination
    registered queries (one copy, so a harness fix — the finally
    q.stop(), the pre-cleanup localCheckpoint, the utime batch ordering —
    cannot silently diverge between the raw and normalized flavors):
    land ``docs`` as two parity-split micro-batch files, drain
    ``streaming_decontaminate`` against the prepared ``bench_grams``,
    and return the flagged spans materialized before the temp dir goes
    away."""
    import glob
    import shutil
    import tempfile

    from ..streaming.incremental_stream import streaming_decontaminate

    root = tempfile.mkdtemp(prefix=prefix)
    feed = os.path.join(root, "feed")
    sink = os.path.join(root, "sink")
    os.makedirs(feed)
    q = None
    try:
        # two deterministic micro-batches split by doc-id parity
        for i, half in enumerate(
            [docs.where(F.col("doc_id") % 2 == 0),
             docs.where(F.col("doc_id") % 2 == 1)],
            start=1,
        ):
            staging = os.path.join(root, f"stage{i}")
            half.coalesce(1).write.parquet(staging)
            part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
            dst = os.path.join(feed, f"batch{i}.parquet")
            os.rename(part, dst)
            os.utime(dst, (i, i))
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        q = streaming_decontaminate(
            stream,
            bench_grams,
            "doc_id",
            "text",
            sink,
            os.path.join(root, "checkpoint"),
        )
        if not q.awaitTermination(120):
            raise RuntimeError("streamed decontamination did not drain")
        parts = sorted(glob.glob(os.path.join(sink, "batch=*")))
        flagged = spark.read.parquet(*parts)
        out = _contam_out(flagged).localCheckpoint(eager=True)
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "decontaminate_normalized_streamed",
    oracle=_DECONTAM_NORM_ORACLE,
    doc="NORMALIZED decontamination AT INGEST (the normalized family's "
    "streamed member, mirroring the raw family's "
    "at-rest/incremental/streamed trio): the same corpus split arrives "
    "as two file-source micro-batches, each probing the PREPARED "
    "normalized benchmark gram set (materialized once) via foreachBatch "
    "with idempotent per-batch partition overwrites. Normalization is a "
    "map-side expression on the streaming relation itself — the "
    "streaming machinery (streaming_decontaminate) is byte-identical to "
    "the raw flavor's, which is the point: the Kappa-pattern gate "
    "composes with normalized matching with zero new moving parts. "
    "Containment is per-doc against static state, so the drained union "
    "equals decontaminate_normalized exactly (verbatim oracle).",
)
def decontaminate_normalized_streamed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    corpus, bench = _normalized_split(spark, sf_dir)
    # the prepared normalized index: materialized once, probed per batch
    bench_grams = benchmark_gram_set(
        bench, "doc_id", "text"
    ).localCheckpoint(eager=True)
    return _drain_decontaminate_stream(
        spark, corpus, bench_grams, "decontam_norm_stream_"
    )


_DEL_DOC_MOD = 7  # deletion delta: every 7th doc leaves the corpus


@register(
    "incr_dedup_minhash_delete",
    oracle=f"""
    WITH full_pairs AS ({_JACCARD_ORACLE})
    SELECT * FROM full_pairs
    WHERE i % {_DEL_DOC_MOD} != 0 AND j % {_DEL_DOC_MOD} != 0
    """,
    doc="incremental dedup under DELETIONS (the retraction side of I7, "
    "UpdatePageRankGraph.java:47-52's removal fixture applied to the "
    "dedup domain): pair similarity is a pure function of the two "
    "documents — no corpus statistics — so removing docs retracts "
    "exactly the preserved pairs touching them, a single anti-join "
    "against the deleted-id set, zero recomputation (contrast the "
    "CC clusters, which can SPLIT under deletion and need a recompute, "
    "and substring spans, whose df counts shift). Oracle: the exact "
    "all-pairs Jaccard restricted to the surviving corpus.",
)
def incr_dedup_minhash_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # preserved state: the full-corpus verified pair set
    base_pairs = minhash_lsh_pairs(d, "doc_id", "text")
    deleted = d.where(F.col("doc_id") % _DEL_DOC_MOD == 0).select(
        F.col("doc_id").alias("del_id")
    )
    return (
        base_pairs.join(
            deleted, base_pairs.i == deleted.del_id, "left_anti"
        )
        .join(deleted, base_pairs.j == deleted.del_id, "left_anti")
    )


@register(
    "incr_decontaminate",
    oracle=_DECONTAM_ORACLE,
    doc="incremental DECONTAMINATION under a growing benchmark (the "
    "I7/I8 refresh discipline applied to the train-test overlap "
    f"step): benchmark docs (doc_id % {_NEW_DOC_MOD} == 0) split into an "
    "already-probed OLD half (doc_id % 20 == 0) and a newly-shipped NEW "
    "half; the preserved state is the corpus fingerprint relation plus "
    "the old hit positions, and the delta pass probes ONLY the new "
    "split's grams (broadcast) against the preserved fingerprints — the "
    "corpus text is never re-read, per-delta work is O(|new grams| + "
    "|hits|). Semi-joins distribute over gram-set union, so the "
    "incremental result equals the full recompute exactly: the oracle "
    "is the verbatim full-benchmark decontamination oracle.",
)
def incr_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, corpus, bench = _doc_split(spark, sf_dir)
    return _incr_decontaminate_query(corpus, bench)


def _bench_eras(bench: DataFrame):
    """(old, new) halves of the benchmark split: the already-probed suite
    (doc_id % 20 == 0) and the newly shipped one."""
    return (
        bench.where(F.col("doc_id") % 20 == 0),
        bench.where(F.col("doc_id") % 20 != 0),
    )


def _incr_decontaminate_query(
    corpus: DataFrame, bench: DataFrame
) -> DataFrame:
    """Shared body of the incremental decontamination registered queries
    (raw and normalized inputs, one copy so the split convention and the
    preserved-state discipline cannot diverge between the flavors). The
    preserved state — corpus fingerprints plus the old suite's hits — is
    built inline at query granularity, as incr_dedup_substring's base
    index is. The fingerprints are MATERIALIZED once (localCheckpoint,
    the decontaminate_streamed prepared-index pattern): the old-hit
    rebuild and the delta probe both consume them, and lazily the full
    corpus md5 fingerprint scan would run twice in the query whose point
    is that the corpus is read once."""
    old_b, new_b = _bench_eras(bench)
    corpus_fp = fingerprint_grams(corpus, "doc_id", "text").localCheckpoint(
        eager=True
    )
    old_hits = _contam_hits(
        corpus_fp, benchmark_gram_set(old_b, "doc_id", "text")
    )
    return _contam_out(
        decontaminate_spans(
            corpus_fp,
            benchmark_gram_set(new_b, "doc_id", "text"),
            preserved_hits=old_hits,
        )
    )


def bench_gram_pairs(
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SPAN_K,
    keep_hex: str = SPAN_KEEP_HEX,
) -> DataFrame:
    """Distinct (gram, bench_id) contribution rows of a benchmark
    relation — THE canonical store contribution builder, shared by
    initialize, era append, and retirement (retraction only shrinks the
    probe set if '-' rows reproduce EXACTLY the pairs the append
    inserted, so all three paths must build from one helper)."""
    return (
        fingerprint_grams(bench, id_col, text_col, k, keep_hex)
        .select("gram", F.col("id").alias("bench_id"))
        .distinct()
    )


def decontamination_index_store(
    spark: SparkSession,
    path: str,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SPAN_K,
    keep_hex: str = SPAN_KEEP_HEX,
    num_buckets: int = 16,
):
    """Materialize the benchmark gram index as a durable ``PreserveStore``:
    the prepared decontamination index lives in the I6 store layer
    instead of being rebuilt per query, so a benchmark update is an era/layer APPEND
    (``append_benchmark_era``) and the streamed/at-rest probes read the
    COMMITTED index across process restarts instead of re-fingerprinting
    the benchmark every run.

    Store shape: contributions = distinct (gram, bench_id) pairs of the
    content-gated fingerprints, grouped by ``gram`` with
    n_bench = COUNT(1) — i.e. the gram's benchmark-document frequency,
    the same relation as ``substring_gram_index``. A benchmark RETIRED
    from the suite retracts as '-' rows of exactly its (gram, bench_id)
    contributions — the store's re-reduce recomputes the touched grams'
    counts and a gram whose count hits zero leaves the probe set; the
    broadcast probe itself only needs the gram column."""
    from ..sources.preserve_store import PreserveStore

    pairs = bench_gram_pairs(bench, id_col, text_col, k, keep_hex)
    store = PreserveStore(spark, path)
    store.initialize(
        pairs,
        group_keys=["gram"],
        source_keys=["bench_id"],
        agg_sql={"n_bench": "CAST(COUNT(1) AS BIGINT)"},
        num_buckets=num_buckets,
    )
    return store


def append_benchmark_era(
    store,
    new_bench: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SPAN_K,
    keep_hex: str = SPAN_KEEP_HEX,
    token: str | None = None,
) -> int:
    """A newly-shipped eval suite lands as ONE store refresh layer of '+'
    (gram, bench_id) contributions — O(|new benchmark|) work, the
    committed corpus-side index untouched. Returns the new store
    version. ``token`` makes an at-least-once orchestrator replay a
    no-op (the store's idempotence contract)."""
    pairs = bench_gram_pairs(new_bench, id_col, text_col, k, keep_hex)
    return store.refresh(pairs.withColumn("op", F.lit("+")), token=token)


def store_gram_set(store) -> DataFrame:
    """The probe relation of a committed decontamination index store:
    every gram currently held by >= 1 benchmark doc (last-layer-wins
    reconstruction; a fully-retracted gram's group vanishes from the
    results)."""
    return store.current_results().where(F.col("n_bench") > 0).select("gram")


_DECONTAM_STORE_SEQ = itertools.count()


@register(
    "decontaminate_store",
    oracle=_DECONTAM_ORACLE,
    doc="decontamination through the DURABLE index store (closing the "
    "loop between the decontamination family and the I6 preserve-store "
    "substrate): the benchmark gram "
    "index is materialized as an on-disk PreserveStore (distinct "
    "(gram, bench_id) contributions grouped by gram, bucketed, staged "
    "OCC commits), the OLD benchmark half (doc_id % 20 == 0) as the "
    "base and the NEW half as ONE refresh layer — a benchmark update "
    "is an era append, never an index rebuild. The corpus probe then "
    "broadcasts the COMMITTED index's gram set (current_results "
    "reconstruction) into the same LEFT-SEMI gate as "
    "decontaminate_substring; old ∪ new = the full benchmark, so the "
    "oracle is the shared full-benchmark decontamination oracle "
    "verbatim. Restart durability (a fresh store handle probing the "
    "committed index across a simulated process restart, streamed "
    "micro-batches before and after an era append) is pinned in "
    "tests/test_decontam_store.py.",
)
def decontaminate_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re
    import tempfile

    from .incremental import _cleanup_at_exit

    _, corpus, bench = _doc_split(spark, sf_dir)
    old_b, new_b = _bench_eras(bench)
    # per-invocation unique store root: bench reps / repeated driver calls
    # must each build a fresh store (re-initializing + re-refreshing an
    # existing store would double-apply the new-half contributions)
    slug = re.sub(
        r"[^0-9a-zA-Z]+", "_", os.path.abspath(sf_dir)
    ).strip("_").lower()
    name = f"decontam_{slug}_p{os.getpid()}_{next(_DECONTAM_STORE_SEQ)}"
    root = os.path.join(tempfile.gettempdir(), "spark_graft_decontam", name)
    _cleanup_at_exit(os.path.dirname(root), name)
    store = decontamination_index_store(
        spark, os.path.join(root, "bench_grams"), old_b, "doc_id", "text"
    )
    append_benchmark_era(store, new_b, "doc_id", "text")
    # the probe IS the shared one — the store only changes where the gram
    # set comes from (an inline copy would let a future probe fix silently
    # skip the store-backed flavor)
    return _decontaminate_query(corpus, store_gram_set(store))


def dedup_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    *,
    seen: DataFrame | None = None,
) -> DataFrame:
    """Cross-document PARAGRAPH-level exact dedup (the CCNet / RefinedWeb
    / Dolma corpus-dedupe step): every repeated paragraph keeps its FIRST
    occurrence corpus-wide — ordered by (id, position) — and later
    occurrences are dropped from their documents; cleaned documents are
    reassembled in original paragraph order. Output per input doc with at
    least one non-blank paragraph: (id, n_paras, n_dropped, text_clean) —
    a fully-deduplicated doc survives with n_dropped == n_paras and
    text_clean == ''.

    Complements the within-document dup-line stats (textops.
    gopher_dup_lines — a per-doc quality SIGNAL) and the whole-doc /
    substring dedup families: this one MUTATES the corpus at paragraph
    granularity, which is how CCNet-style pipelines actually shed
    boilerplate (headers, nav bars, license blocks) that whole-doc hashes
    can't see and span stats only measure.

    Segmentation matches gopher_dup_lines: split on ``sep`` (a literal —
    used both as the split pattern and the reassembly joiner), segments
    with no Unicode non-whitespace dropped.

    ``seen``: the preserved distinct paragraph values (column ``para``)
    of an already-committed corpus — corpus GROWTH (I7), how a
    CCNet-style dedupe runs batch by ingest batch. Keep-first means an
    insertion can only drop NEW copies, never revise committed docs, so
    ``df`` is then the arriving batch and a paragraph survives iff it is
    the batch's first occurrence AND its value is absent from ``seen``
    (one equi anti-join of the winners). Processing order (committed
    corpus, then batch) is a total order on occurrences, so the
    committed output ∪ this output equals the full keep-first recompute
    under that arrival order exactly.

    100 TB shape: dedup-by-content NEEDS one shuffle keyed by paragraph
    content — that is the canonical CCNet plan, and grouping by the VALUE
    (not a 64-bit hash) keeps the operator exact / oracle-checkable while
    shuffling the same bytes a (hash, text)-keyed variant would. Two
    aggregation exchanges, both necessary: (1) paragraph text keyed by
    content for first-occurrence selection (min struct(id, pos) — one
    hash agg, never a window sort), (2) surviving paragraphs keyed by id
    for reassembly; the per-doc totals are MAP-ONLY (size of the split
    array, no aggregation) and the totals⋈rebuilt join has per-doc
    cardinality on both sides (broadcast at small scale, co-partitioned
    at cluster scale — no hint forced). Nothing is ever a pair join, and
    a boilerplate paragraph in f docs costs f rows, never f². (The
    probabilistic alternative — a Bloom/exact-hash filter map-side —
    trades exactness for zero shuffle and is what Dolma's dedupe tool
    does; this engine keeps the exact formulation.)

    The batch pass's win is an I/O property: it never re-reads the
    corpus text, only the seen set and the batch. On a RAM-resident
    corpus (bench/stress.py §2c) the seen-set scan costs about what
    re-running the at-rest agg does, so the ratio sits near 1; with the
    corpus on disk (bench.py extras at sf0.1) the batch pass is ~3x
    faster. Bucketing the seen set by ``para`` removes the probe's
    index-side Exchange but not its sort when buckets span multiple
    files, and bought nothing at that scale."""
    ex, totals = _para_explode(df, id_col, text_col, sep)
    # non-duplicated paragraphs are their own winners
    kept = _first_occurrence(ex, "para", seen)
    return _para_reassemble(kept, totals, sep)


def _para_segs(text_col: str, sep: str) -> Column:
    """Non-blank paragraph segments of ``text_col`` as an array column.

    ``sep`` is a LITERAL separator (the reassembly joiner), so the split
    pattern is Pattern.quote'd — a sep containing regex metacharacters
    (e.g. '. ') would otherwise split on match-any-char while rejoining
    with the literal, silently corrupting text_clean."""
    # java.util.regex.Pattern.quote: \Q...\E with embedded \E broken out
    quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    return F.filter(
        F.split(F.col(text_col), quoted), lambda x: x.rlike(r"(?U)\S")
    )


def _para_explode(df: DataFrame, id_col: str, text_col: str, sep: str):
    """(exploded (id, pos, para) of non-blank segments, per-doc totals)."""
    segs = _para_segs(text_col, sep)
    ex = df.select(F.col(id_col).alias("id"), F.posexplode(segs)).toDF(
        "id", "pos", "para"
    )
    totals = df.select(
        F.col(id_col).alias("id"), F.size(segs).alias("n_paras")
    ).where(F.col("n_paras") > 0)
    return ex, totals


def _first_occurrence(
    rows: DataFrame, key: str, seen: DataFrame | None
) -> DataFrame:
    """(id, pos, ``key``): the first occurrence by (id, pos) of each
    distinct ``key`` among ``rows`` — min struct(id, pos), one hash agg —
    less every key already in the preserved ``seen`` set."""
    winners = rows.groupBy(key).agg(F.min(F.struct("id", "pos")).alias("w"))
    if seen is not None:
        winners = winners.join(seen.select(key), key, "left_anti")
    return winners.select(
        F.col("w.id").alias("id"), F.col("w.pos").alias("pos"), key
    )


def _para_reassemble(
    kept: DataFrame, totals: DataFrame, sep: str
) -> DataFrame:
    """Rebuild cleaned docs from surviving (id, pos, para) rows + totals."""
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_clean"),
    )
    return totals.join(rebuilt, "id", "left").select(
        "id",
        F.col("n_paras").cast("bigint").alias("n_paras"),
        (F.col("n_paras") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_dropped"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )


# Unicode White_Space as an RE2 character class — char-for-char the set
# Java's (?U)\s matches ([\t\n\v\f\r] ∪ U+0085 ∪ U+2028/29 ∪ category Zs):
# the DuckDB half of the whitespace normalizer whose Spark half is
# regexp_replace(text, '(?U)\s', ' '). Cross-engine equivalence over every
# candidate codepoint is pinned in tests/test_paragraph_properties.py.
WS_RE2_CLASS = r"[\t\n\v\f\r\x{0085}\x{2028}\x{2029}\p{Zs}]"


def _para_oracle(order_by: str) -> str:
    """The full keep-first recompute oracle, shared by every paragraph
    registration (only the winner ORDER BY differs — plain (doc_id, pos)
    for the at-rest queries, arrival order (is_delta, doc_id, pos) for
    the incremental ones). One template so a synthesis edit cannot
    silently desynchronize them. ALL Unicode whitespace — not just
    newlines — is normalized to spaces before tokenizing, mirroring
    ``_synth_para_docs`` exactly: the synthesis round-trips chunks
    through a '\\n\\n' join the Spark side re-splits and then drops
    blank segments with rlike('(?U)\\S'), so a token made of non-space
    whitespace (a tab, an NBSP, U+2028) would survive the oracle's
    single-space split as a "token" while the engine side drops the
    blank chunk it lands in. The RE2 class here is char-for-char the set
    Java's (?U)\\s matches (Unicode White_Space = [\\t\\n\\v\\f\\r] ∪
    U+0085 ∪ U+2028/29 ∪ Zs) — equivalence pinned across both engines
    in tests/test_paragraph_properties.py."""
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(text,
                 '{WS_RE2_CLASS}', ' ', 'g')), ' '), x -> x <> '') AS w
      FROM documents
    ), arrs AS (
      SELECT doc_id,
             list_transform(range(1, len(w) + 1, 3),
                            i -> array_to_string(w[i:i+2], ' ')) AS paras
      FROM t WHERE len(w) > 0
    ), ex AS (
      SELECT doc_id, i AS pos, paras[i] AS para
      FROM (SELECT doc_id, paras, unnest(range(1, len(paras) + 1)) AS i
            FROM arrs)
    ), marked AS (
      SELECT doc_id, pos, para,
             ROW_NUMBER() OVER (PARTITION BY para
                                ORDER BY {order_by}) AS rn
      FROM ex
    ), stats AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras
      FROM ex GROUP BY doc_id
    ), kept AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text_clean
      FROM marked WHERE rn = 1 GROUP BY doc_id
    )
    SELECT s.doc_id, n_paras,
           CAST(n_paras - COALESCE(n_kept, 0) AS BIGINT) AS n_dropped,
           COALESCE(text_clean, '') AS text_clean
    FROM stats s LEFT JOIN kept k ON s.doc_id = k.doc_id
    """


def _para_out(cleaned: DataFrame) -> DataFrame:
    """The registered paragraph-dedup schema: ``id`` renamed ``doc_id``."""
    return cleaned.select(
        F.col("id").alias("doc_id"), "n_paras", "n_dropped", "text_clean"
    )


@register(
    "dedup_paragraphs_global",
    oracle=_para_oracle("doc_id, pos"),
    doc="cross-document paragraph-level exact dedup (the "
    "CCNet/RefinedWeb corpus-dedupe step: repeated paragraphs keep their "
    "first occurrence by (doc_id, position) corpus-wide, documents are "
    "reassembled without the dropped copies). The sf corpora carry no "
    "newlines, so the registered query synthesizes a deterministic "
    "paragraph structure IDENTICALLY on both engines — paragraphs = "
    "consecutive 3-token chunks joined by '\\n\\n' (the same chunking as "
    "text_dup_line_stats; ~3k cross-doc duplicate occurrences at sf0.01, "
    "non-vacuous) — and runs the REAL '\\n\\n'-split operator on the "
    "rebuilt text (tokens carry no newlines, so split∘join is the "
    "identity on chunks); the real newline path incl. blank segments and "
    "full-doc wipeouts is pinned against a pure-Python reference in "
    "tests/test_dedup_paragraphs.py. Exact value-keyed formulation: one "
    "content-keyed exchange (first-occurrence hash agg, min struct — "
    "never a global window sort), one id-keyed reassembly exchange, one "
    "narrow totals agg; never a pair product (a paragraph in f docs "
    "costs f rows, not f²). The oracle deliberately uses the "
    "ROW_NUMBER-window formulation as the independent cross-check.",
)
def dedup_paragraphs_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    synth = _synth_para_docs(spark, sf_dir)
    return _para_out(dedup_paragraphs(synth, "doc_id", "text"))


def dedup_paragraphs_fp(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n\n",
    *,
    seen: DataFrame | None = None,
) -> DataFrame:
    """FINGERPRINT-KEYED paragraph dedup — the 100 TB shuffle-bytes
    variant of ``dedup_paragraphs``. Identical contract (keep first
    occurrence by (id, pos) corpus-wide, reassemble cleaned docs, the
    same ``seen`` rule), different physical plan: the first-occurrence
    agg keys on a 128-bit md5 of the paragraph instead of its value, so
    the content-keyed exchange carries (fp BINARY(16), id, pos) — ~30
    bytes/row — instead of full paragraph text (hundreds of bytes for
    real prose; the dominant shuffle cost of the value-keyed plan at
    corpus scale). MEASURED crossover (bench/stress.py section 2e): at
    realistic ~1 KB paragraphs the fp plan shuffles 0.51x the bytes AND
    runs 0.5-0.6x the wall-time of the value-keyed plan (both at 5k and
    50x docs); at sf0.1's ~40-char synthetic paragraphs the md5 +
    rebuild overhead makes it ~1.5x SLOWER in wall — so the value-keyed
    plan stays primary for short-paragraph corpora and this one is the
    plan for prose-sized paragraphs. Winners come back as a per-doc
    kept-position ARRAY (narrow), joined to the original doc rows on id,
    and the cleaned text is rebuilt MAP-SIDE by indexing the re-split
    segment array at the kept positions — paragraph text crosses the
    wire exactly once (the id-keyed join of doc rows), vs twice in the
    value-keyed plan (content exchange + reassembly exchange), and the
    reassembly needs no collect_list at all.

    ``seen``: column ``fp`` (BINARY(16) md5) — the committed corpus's
    distinct paragraph fingerprints. At 100 TB the preserved seen set is
    the large relation a deployed dedupe carries between batches, and
    keying it by 16-byte fingerprints cuts its storage AND the batch
    probe's shuffle bytes by the same paragraph-size/16 factor as the
    at-rest content exchange.

    Exactness caveat (why the value-keyed variant stays registered as
    the exact one): two DISTINCT paragraphs colliding on md5 would dedup
    as one. P(collision) ≈ n²/2¹²⁹ — at 10¹² corpus paragraphs that is
    ~10⁻¹⁵, negligible but nonzero, so this variant is "exact up to
    128-bit hashing" while the value-keyed one is exact unconditionally.
    Both registered queries share the same full keep-first recompute
    oracle (a collision would fail the driver hash-check loudly, not
    silently).

    Plan shape (pinned in tests/test_plan_shapes.py): three hash
    exchanges — narrow (fp,id,pos) by fp, narrow winners by id, doc
    rows by id for the join — no window, no product, no global sort;
    the final per-doc projection is map-side on the join output."""
    docs, fp = _para_fp_explode(df, id_col, text_col, sep)
    return _para_rebuild_from_positions(
        docs, _first_occurrence(fp, "fp", seen), sep
    )


def _para_fp_explode(df: DataFrame, id_col: str, text_col: str, sep: str):
    """(doc rows (id, segs array), fingerprint rows (id, pos, fp)) — the
    shared front half of the fp-keyed paragraph family."""
    segs = _para_segs(text_col, sep)
    docs = df.select(F.col(id_col).alias("id"), segs.alias("segs")).where(
        F.size("segs") > 0
    )
    fp = (
        docs.select("id", F.posexplode("segs"))
        .toDF("id", "pos", "para")
        .select("id", "pos", F.unhex(F.md5("para")).alias("fp"))
    )
    return docs, fp


def _para_rebuild_from_positions(
    docs: DataFrame, winners: DataFrame, sep: str
) -> DataFrame:
    """Map-side reassembly of the fp-keyed family: winners (id, pos)
    collapse to per-doc kept-position arrays and each doc's cleaned text
    is rebuilt by indexing its re-split segment array — paragraph text
    never crosses a content-keyed exchange."""
    keep_pos = winners.groupBy("id").agg(
        F.sort_array(F.collect_list("pos")).alias("keep")
    )
    # a doc losing EVERY paragraph has no keep_pos row: coalesce the
    # ARRAY (size(NULL) is -1 under legacy sizeOfNull, so coalescing the
    # size would silently over-count drops)
    keep = F.coalesce(F.col("keep"), F.array().cast("array<int>"))
    return docs.join(keep_pos, "id", "left").select(
        "id",
        F.size("segs").cast("bigint").alias("n_paras"),
        (F.size("segs") - F.size(keep)).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.transform(
                keep,
                # posexplode positions are 0-based; element_at 1-based
                lambda p: F.element_at(F.col("segs"), p + 1),
            ),
            sep,
        ).alias("text_clean"),
    )


@register(
    "incr_dedup_paragraphs_fp",
    oracle=_para_oracle(
        f"CASE WHEN doc_id % {_NEW_DOC_MOD} = 0 THEN 1 ELSE 0 END, "
        "doc_id, pos"
    ),
    doc="incremental FP-KEYED paragraph dedup (the scale completion of "
    "the fingerprint family): identical arrival-order "
    "contract and verbatim oracle as incr_dedup_paragraphs, but the "
    "preserved seen set holds 16-byte md5 fingerprints instead of "
    "paragraph text — at 100 TB the seen set is the big preserved "
    "relation, so fingerprinting it cuts its storage and the per-batch "
    "anti-join probe's shuffle by the same order as the at-rest "
    "content exchange. Delta pass: batch-local fp-keyed "
    "first-occurrence agg + ONE 16-byte-keyed equi anti-join + "
    "map-side reassembly. Exact up to 128-bit hashing; a collision "
    "fails the shared exact-recompute oracle loudly.",
)
def incr_dedup_paragraphs_fp_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # preserved state: the committed corpus's distinct paragraph
    # FINGERPRINTS (16 bytes/paragraph vs full text)
    return _incr_para_query(
        spark,
        sf_dir,
        dedup_paragraphs_fp,
        lambda base: _para_fp_explode(base, "doc_id", "text", "\n\n")[1],
        "fp",
    )


@register(
    "dedup_paragraphs_fp",
    oracle=_para_oracle("doc_id, pos"),
    doc="fingerprint-keyed paragraph dedup: same keep-first contract and "
    "same full-recompute oracle as "
    "dedup_paragraphs_global, but the content-keyed exchange carries a "
    "16-byte md5 + (id, pos) instead of full paragraph text — an order "
    "of magnitude fewer shuffle bytes on real prose, the dominant cost "
    "of the value-keyed plan at 100 TB (bench.py records "
    "shuffle-bytes for both variants side by side). Cleaned docs are "
    "rebuilt map-side by indexing each doc's re-split segment array at "
    "its kept positions — paragraph text crosses the wire once (the "
    "id-keyed doc join), never through the content exchange. Exact up "
    "to 128-bit hashing (collision ~n²/2¹²⁹; the value-keyed variant "
    "stays the unconditional-exact registration; a collision would "
    "fail this query's own full-recompute oracle loudly).",
)
def dedup_paragraphs_fp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _para_out(
        dedup_paragraphs_fp(_synth_para_docs(spark, sf_dir), "doc_id", "text")
    )


def _synth_para_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared paragraph-structure synthesis for the registered
    paragraph-dedup queries: the sf corpora carry no newlines, so docs
    are rebuilt as 3-token chunks joined by '\\n\\n' — deterministically
    and identically on both engines. ALL Unicode whitespace is
    normalized to spaces FIRST (mirrored in ``_para_oracle``): the
    synthesis round-trips chunks through a '\\n\\n' join the operator
    re-splits and then drops blank segments with rlike('(?U)\\S'), so a
    hostile token made of NON-SPACE whitespace (tab, NBSP, U+2028 —
    ``ws_tokens`` splits on ' ' only, so such a token survives
    splitting) would otherwise produce a chunk the oracle counts but the
    engine silently drops — and an all-tab doc an oracle row with no
    engine counterpart. (?U) makes Java's \\s exactly Unicode
    White_Space, the set the oracle's RE2 class reproduces char-for-char
    (equivalence pinned in tests/test_paragraph_properties.py).

    NOT spread: a ``spread_scan`` here inserted a full-document-text
    exchange into every consumer's lineage — including the
    delta-restricted pass the bench times steady-state — and
    ``incr_dedup_paragraphs`` regressed on both core counts measured
    (0.733 → 2.537 s at 32 cores, 1.542 s at 8) while paragraph-family
    shuffle bytes grew deterministically 1.409 → 5.052 MB. The synthesis
    map work (one regexp_replace + split per doc) is far cheaper than
    moving the text, unlike the shingle/gram paths that keep their
    spread; at cluster scale the scan arrives already split, so the
    spread was a designed no-op there anyway — the exchange only ever
    existed at the scale where it hurt."""
    d = load_table(spark, sf_dir, "documents")
    w = ws_tokens(F.regexp_replace(F.col("text"), r"(?U)\s", " "))
    return (
        d.select("doc_id", w.alias("w"))
        .where(F.size("w") > 0)
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.size("w"), F.lit(3)),
                    lambda i: F.array_join(F.slice("w", i, 3), " "),
                ),
                "\n\n",
            ).alias("text"),
        )
    )


def _incr_para_query(
    spark: SparkSession, sf_dir: str, dedup, rows_of, key: str
) -> DataFrame:
    """Shared body of the incremental paragraph registrations: the base
    split (doc_id % _NEW_DOC_MOD != 0) is cleaned at rest and the held-out
    tenth arrives as the batch, cleaned by ``dedup`` against the base's
    distinct ``key`` column of ``rows_of(base)`` — the preserved seen set,
    built inline at query granularity. The synthesized corpus is
    MATERIALIZED once (localCheckpoint): the base split feeds both the
    seen-set build and the base cleaning pass, and lazily the synthesis
    would re-run per consumer, doubling the dominant scan in the query
    registered to demonstrate O(|delta|) incremental work."""
    synth = _synth_para_docs(spark, sf_dir).localCheckpoint(eager=True)
    base = synth.where(F.col("doc_id") % _NEW_DOC_MOD != 0)
    delta = synth.where(F.col("doc_id") % _NEW_DOC_MOD == 0)
    seen = rows_of(base).select(key).distinct()
    return _para_out(
        dedup(base, "doc_id", "text").unionByName(
            dedup(delta, "doc_id", "text", seen=seen)
        )
    )


@register(
    "incr_dedup_paragraphs",
    oracle=_para_oracle(
        f"CASE WHEN doc_id % {_NEW_DOC_MOD} = 0 THEN 1 ELSE 0 END, "
        "doc_id, pos"
    ),
    doc="incremental paragraph dedup under corpus growth (I7 on the "
    f"paragraph domain): base corpus = doc_id % {_NEW_DOC_MOD} != "
    "0 (committed, immutable under keep-first insertion), delta = the "
    "held-out tenth arriving as an ingest batch; the preserved state is "
    "the base's distinct paragraph-value set and the delta pass is a "
    "batch-local first-occurrence hash agg plus ONE equi anti-join "
    "against it — per-batch work O(|delta| + touched index), never "
    "O(corpus). Base output ∪ incremental delta output equals the full "
    "keep-first recompute under arrival order (base before delta) "
    "EXACTLY — the oracle is that full recompute, its ROW_NUMBER "
    "ordered by (is_delta, doc_id, pos); same 3-token-chunk paragraph "
    "synthesis as dedup_paragraphs_global.",
)
def incr_dedup_paragraphs_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # preserved state: the committed corpus's distinct paragraph values
    return _incr_para_query(
        spark,
        sf_dir,
        dedup_paragraphs,
        lambda base: _para_explode(base, "doc_id", "text", "\n\n")[0],
        "para",
    )
