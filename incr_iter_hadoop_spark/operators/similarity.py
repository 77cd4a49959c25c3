"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exactness baseline (oracle-checked); the
random-hyperplane LSH variant is the 100 TB path — bucket keys bound the
candidate set so the join is linear in bucket occupancy, not quadratic.
All vector math is zip_with/aggregate Column expressions (functions/vector.py)
— JVM-side, no Python in the row path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, spread_scan
from ..functions.vector import cosine, dot, norm2, unit
from ..registry import register

TOP_K = 5
N_QUERIES = 10  # queries = vec_id < 10 in the registered battery


def ann_bruteforce_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (excluding self). Cross join +
    window: at N queries × M vectors the work is N·M·dim multiply-adds spread
    across partitions — the correct baseline to judge approximate recall."""
    v = vectors.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec")
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    sims = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", cosine(F.col("qvec"), F.col("nvec")).alias("raw_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw_sim"), F.asc("nid"))
    return (
        sims.select(
            "qid",
            "nid",
            F.round("raw_sim", 6).alias("sim"),
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .where(F.col("pos") <= k)
    )


def _hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes from md5 — no RNG
    state, reproducible across sessions/engines."""
    planes = []
    for p in range(num_planes):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"plane{p}|dim{d}".encode()).hexdigest()
            vec.append(int(h[:8], 16) / float(0xFFFFFFFF) * 2.0 - 1.0)
        planes.append(vec)
    return planes


def _planes_sql_literal(planes: list[list[float]]) -> str:
    """(p, vec) VALUES literal for DuckDB — same md5-derived constants the
    Spark side inlines, so bucket assignments match bit-for-bit."""
    rows = ", ".join(
        f"({p}, [{', '.join(repr(x) for x in vec)}])"
        for p, vec in enumerate(planes)
    )
    return f"(VALUES {rows}) AS planes(p, vec)"


def lsh_bucket(vec_col, planes: list[list[float]]):
    """Bucket id = bit pattern of sign(vec · plane_i)."""
    expr = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(dot(F.col(vec_col), plane_col) >= 0, 1).otherwise(0)
        expr = expr + (bit.cast("long") * F.lit(2**i))
    return expr


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: random-hyperplane signatures; only same-bucket
    pairs are scored. Recall < 1 by construction (rows-only correctness;
    tests assert recall@k against the brute-force baseline)."""
    planes = _hyperplanes(num_planes, dim)
    v = vectors.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nvec"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qvec"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    sims = (
        v.join(F.broadcast(q), "bucket")
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", cosine(F.col("qvec"), F.col("nvec")).alias("raw_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw_sim"), F.asc("nid"))
    return (
        sims.select(
            "qid",
            "nid",
            F.round("raw_sim", 6).alias("sim"),
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .where(F.col("pos") <= k)
    )


def ann_ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer assigns every vector to
    its nearest of ``n_cells`` centroids (one k-means-style assignment pass);
    a query scores only vectors in its ``n_probe`` nearest cells. The 100 TB
    path: the index is a cell-keyed table, probing is an equi-join on cell id
    — candidate count scales with cell occupancy, not corpus size.

    Centroids are the first ``n_cells`` vectors by id (deterministic, same
    convention as the k-means init — IterKmeans.java:492-538)."""
    # Both quantizer passes are maps over ONE broadcast row carrying the
    # centroid table as array<struct> — r13 reformulation, measured on the
    # SemDeDup twin of this pass (bench/stress.py 2h ladder): the earlier
    # crossJoin x n_cells + groupBy(nid, nvec) argmax spent its time
    # hash-aggregating N*K array-keyed rows. Semantics unchanged
    # (max/sort on struct(s, -cell) == highest similarity, ties to the
    # smaller cell), so the oracle text is untouched.
    cents = (
        vectors.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("int").alias("cell"),
                    F.col(vec_col).alias("cvec"),
                )
            ).alias("cents")
        )
    )
    v = vectors.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nvec"))
    cell_sims = lambda vec: F.transform(  # noqa: E731 — local shape helper
        F.col("cents"),
        lambda c: F.struct(
            (-cosine(vec, c["cvec"])).alias("ns"), c["cell"].alias("cell")
        ),
    )
    # assignment pass: nearest centroid per vector (argmax = array_min on
    # struct(-s, cell): highest similarity first, ties to the smaller cell)
    v_cells = (
        v.crossJoin(F.broadcast(cents))
        .select(
            "nid",
            "nvec",
            F.array_min(cell_sims(F.col("nvec")))["cell"].alias("cell"),
        )
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
    # probe list: n_probe nearest cells per query (sorted prefix of the
    # same struct ordering)
    q_cells = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "qid",
            "qvec",
            F.explode(
                F.slice(F.array_sort(cell_sims(F.col("qvec"))), 1, n_probe)
            ).alias("pc"),
        )
        .select("qid", "qvec", F.col("pc.cell").alias("cell"))
    )
    sims = (
        v_cells.join(q_cells, "cell")
        .where(F.col("nid") != F.col("qid"))
        .select("qid", "nid", cosine(F.col("qvec"), F.col("nvec")).alias("raw_sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw_sim"), F.asc("nid"))
    return (
        sims.select(
            "qid",
            "nid",
            F.round("raw_sim", 6).alias("sim"),
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .where(F.col("pos") <= k)
    )


_COSINE_PAIRS_SQL = """
    WITH pairs AS (
      SELECT q.vec_id AS qid, n.vec_id AS nid,
             unnest(q.embedding)::DOUBLE AS qv, unnest(n.embedding)::DOUBLE AS nv
      FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    sims AS (
      SELECT qid, nid,
             CASE WHEN sqrt(SUM(qv*qv)) * sqrt(SUM(nv*nv)) > 0
                  THEN SUM(qv*nv) / (sqrt(SUM(qv*qv)) * sqrt(SUM(nv*nv)))
                  ELSE 0.0 END AS raw_sim
      FROM pairs GROUP BY qid, nid
    )
"""


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    {_COSINE_PAIRS_SQL}
    SELECT qid, nid, ROUND(raw_sim, 6) AS sim, pos FROM (
      SELECT qid, nid, raw_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY raw_sim DESC, nid) AS BIGINT) AS pos
      FROM sims
    ) WHERE pos <= {TOP_K}
    """,
    doc="exact cosine top-5 neighbors for queries vec_id<10.",
)
def ann_bruteforce_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return ann_bruteforce_topk(emb, emb.where(F.col("vec_id") < N_QUERIES))


def _lsh_buckets_cte() -> str:
    """DuckDB CTE assigning every embedding its hyperplane bucket — the
    exact constants the Spark side inlines (see embedding_top_pairs_lsh)."""
    from_planes = _planes_sql_literal(_hyperplanes(8, 64))
    return f"""
    buckets AS (
      SELECT e.vec_id,
             SUM(CASE WHEN list_dot_product(
                        list_transform(e.embedding, x -> x::DOUBLE),
                        planes.vec
                      ) >= 0
                 THEN CAST(POWER(2, planes.p) AS BIGINT) ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN {from_planes}
      GROUP BY e.vec_id
    )"""


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH {_lsh_buckets_cte()},
    cand AS (
      SELECT q.vec_id AS qid, n.vec_id AS nid
      FROM buckets q JOIN buckets n
        ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    pairs AS (
      SELECT c.qid, c.nid,
             unnest(eq.embedding)::DOUBLE AS qv, unnest(en.embedding)::DOUBLE AS nv
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.qid
      JOIN embeddings en ON en.vec_id = c.nid
    ),
    sims AS (
      SELECT qid, nid,
             CASE WHEN sqrt(SUM(qv*qv)) * sqrt(SUM(nv*nv)) > 0
                  THEN SUM(qv*nv) / (sqrt(SUM(qv*qv)) * sqrt(SUM(nv*nv)))
                  ELSE 0.0 END AS raw_sim
      FROM pairs GROUP BY qid, nid
    )
    SELECT qid, nid, ROUND(raw_sim, 6) AS sim, pos FROM (
      SELECT qid, nid, raw_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY raw_sim DESC, nid) AS BIGINT) AS pos
      FROM sims
    ) WHERE pos <= {TOP_K}
    """,
    doc="LSH-bucketed approximate top-5 (8 hyperplanes) — the scale path. "
    "The md5-derived bucketing is deterministic, so the oracle replicates "
    "it and the approximate result is still hash-exact (recall vs the "
    "brute-force baseline is separately asserted in tests).",
)
def ann_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return ann_lsh_topk(emb, emb.where(F.col("vec_id") < N_QUERIES))


_IVF_CELLS = 16
_IVF_PROBE = 4


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(vec_id AS INT) AS cell,
             list_transform(embedding, x -> x::DOUBLE) AS cvec
      FROM embeddings WHERE vec_id < {_IVF_CELLS}
    ),
    asgn_sims AS (
      -- explicit zero-norm-guarded cosine, NOT list_cosine_similarity:
      -- the builtin yields NaN for a zero vector (and NaN sorts FIRST in
      -- DuckDB's DESC), while the engine's cosine() convention is 0.0
      SELECT e.nid, c.cell,
             CASE WHEN sqrt(list_dot_product(e.ev, e.ev))
                       * sqrt(list_dot_product(c.cvec, c.cvec)) > 0
                  THEN list_dot_product(e.ev, c.cvec)
                       / (sqrt(list_dot_product(e.ev, e.ev))
                          * sqrt(list_dot_product(c.cvec, c.cvec)))
                  ELSE 0.0 END AS s
      FROM (SELECT vec_id AS nid,
                   list_transform(embedding, x -> x::DOUBLE) AS ev
            FROM embeddings) e
      CROSS JOIN cents c
    ),
    v_cells AS (
      SELECT nid, cell FROM (
        SELECT nid, cell, ROW_NUMBER() OVER (
          PARTITION BY nid ORDER BY s DESC, cell) AS rn
        FROM asgn_sims
      ) WHERE rn = 1
    ),
    q_cells AS (
      SELECT nid AS qid, cell FROM (
        SELECT nid, cell, ROW_NUMBER() OVER (
          PARTITION BY nid ORDER BY s DESC, cell) AS rk
        FROM asgn_sims WHERE nid < {N_QUERIES}
      ) WHERE rk <= {_IVF_PROBE}
    ),
    cand AS (
      SELECT q.qid, v.nid
      FROM q_cells q JOIN v_cells v ON q.cell = v.cell
      WHERE v.nid <> q.qid
    ),
    pairs AS (
      SELECT c.qid, c.nid,
             unnest(eq.embedding)::DOUBLE AS qv, unnest(en.embedding)::DOUBLE AS nv
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.qid
      JOIN embeddings en ON en.vec_id = c.nid
    ),
    sims AS (
      SELECT qid, nid,
             CASE WHEN sqrt(SUM(qv*qv)) * sqrt(SUM(nv*nv)) > 0
                  THEN SUM(qv*nv) / (sqrt(SUM(qv*qv)) * sqrt(SUM(nv*nv)))
                  ELSE 0.0 END AS raw_sim
      FROM pairs GROUP BY qid, nid
    )
    SELECT qid, nid, ROUND(raw_sim, 6) AS sim, pos FROM (
      SELECT qid, nid, raw_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY raw_sim DESC, nid) AS BIGINT) AS pos
      FROM sims
    ) WHERE pos <= {TOP_K}
    """,
    doc="IVF ANN: 16-cell coarse quantizer (centroids = first 16 vectors, "
    "cosine assignment, ties to the smaller cell), 4-probe — candidate "
    "count scales with cell occupancy, not corpus size (the 100 TB index "
    "path). Fully deterministic, so the oracle replicates the quantizer "
    "and the result is hash-exact.",
)
def ann_ivf_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return ann_ivf_topk(emb, emb.where(F.col("vec_id") < N_QUERIES))


_PAIR_PLANES = 8
_PAIR_DIM = 64
_PAIR_TOP = 20


def embedding_top_pairs_lsh(
    vectors: DataFrame,
    k: int = _PAIR_TOP,
    num_planes: int = _PAIR_PLANES,
    dim: int = _PAIR_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup top-k pairs, LSH-bucketed — the 100 TB path. Only same-bucket
    pairs are scored: with b hyperplanes the corpus splits into ~2^b buckets,
    so the pair stream is Σ|bucket|² instead of n²/2 — linear in corpus size
    for balanced buckets, and highly-similar pairs (small angle) land in the
    same bucket with probability (1 − θ/π)^b. The all-pairs twin
    (``embedding_top_pairs``) is the small-sf exactness baseline."""
    planes = _hyperplanes(num_planes, dim)
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    a = v.select(
        F.col("vid").alias("i"), F.col("vec").alias("va"), "bucket"
    )
    b = v.select(
        F.col("vid").alias("j"), F.col("vec").alias("vb"), "bucket"
    )
    sims = (
        a.join(b, "bucket")
        .where(F.col("i") < F.col("j"))
        .select("i", "j", cosine(F.col("va"), F.col("vb")).alias("raw_sim"))
    )
    # TakeOrdered over the bucketed pair stream, then the tiny 20-row window
    top = sims.orderBy(F.desc("raw_sim"), F.asc("i"), F.asc("j")).limit(k)
    w = Window.orderBy(F.desc("raw_sim"), F.asc("i"), F.asc("j"))
    return top.select(
        "i",
        "j",
        F.round("raw_sim", 6).alias("sim"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


@register(
    "embedding_top_pairs_lsh",
    oracle=f"""
    WITH buckets AS (
      SELECT e.vec_id,
             SUM(CASE WHEN list_dot_product(
                        list_transform(e.embedding, x -> x::DOUBLE),
                        planes.vec
                      ) >= 0
                 THEN CAST(POWER(2, planes.p) AS BIGINT) ELSE 0 END) AS bucket
      FROM embeddings e CROSS JOIN {_planes_sql_literal(_hyperplanes(_PAIR_PLANES, _PAIR_DIM))}
      GROUP BY e.vec_id
    ),
    cand AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    pairs AS (
      SELECT c.i, c.j,
             unnest(ea.embedding)::DOUBLE AS av, unnest(eb.embedding)::DOUBLE AS bv
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.i
      JOIN embeddings eb ON eb.vec_id = c.j
    ),
    sims AS (
      SELECT i, j,
             CASE WHEN sqrt(SUM(av*av)) * sqrt(SUM(bv*bv)) > 0
                  THEN SUM(av*bv) / (sqrt(SUM(av*av)) * sqrt(SUM(bv*bv)))
                  ELSE 0.0 END AS raw_sim
      FROM pairs GROUP BY i, j
    )
    SELECT i, j, ROUND(raw_sim, 6) AS sim, pos FROM (
      SELECT i, j, raw_sim,
             CAST(ROW_NUMBER() OVER (ORDER BY raw_sim DESC, i, j) AS BIGINT)
               AS pos
      FROM sims
    ) WHERE pos <= {_PAIR_TOP}
    """,
    doc="embedding near-dup scan, LSH-bucketed (8 hyperplanes): top-20 "
    "most-similar same-bucket pairs — the scale-path primary; the all-pairs "
    "variant is the small-sf baseline. Oracle replicates the md5-derived "
    "hyperplane bucketing, so the approximate result is still hash-exact.",
)
def embedding_top_pairs_lsh_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return embedding_top_pairs_lsh(emb)


@register(
    "embedding_top_pairs",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             unnest(a.embedding)::DOUBLE AS av, unnest(b.embedding)::DOUBLE AS bv
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ),
    sims AS (
      SELECT i, j,
             CASE WHEN sqrt(SUM(av*av)) * sqrt(SUM(bv*bv)) > 0
                  THEN SUM(av*bv) / (sqrt(SUM(av*av)) * sqrt(SUM(bv*bv)))
                  ELSE 0.0 END AS raw_sim
      FROM pairs GROUP BY i, j
    )
    SELECT i, j, ROUND(raw_sim, 6) AS sim, pos FROM (
      SELECT i, j, raw_sim,
             CAST(ROW_NUMBER() OVER (ORDER BY raw_sim DESC, i, j) AS BIGINT)
               AS pos
      FROM sims
    ) WHERE pos <= 20
    """,
    doc="embedding near-dup scan: top-20 most-similar pairs (all-pairs "
    "cosine baseline; LSH variant bounds it at scale).",
)
def embedding_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("vb"))
    sims = (
        a.join(b, F.col("i") < F.col("j"))
        .select("i", "j", cosine(F.col("va"), F.col("vb")).alias("raw_sim"))
    )
    # distributed TakeOrdered over the O(n^2) pair stream, then a 20-row
    # window — a global row_number window would single-partition every pair
    top = sims.orderBy(F.desc("raw_sim"), F.asc("i"), F.asc("j")).limit(20)
    w = Window.orderBy(F.desc("raw_sim"), F.asc("i"), F.asc("j"))
    return top.select(
        "i",
        "j",
        F.round("raw_sim", 6).alias("sim"),
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


_EMB_DIMS = 64


@register(
    "embedding_label_centroids",
    oracle=f"""
    SELECT e.label, r.i,
           ROUND(AVG(e.embedding[r.i + 1]), 6) AS c
    FROM embeddings e, range(0, {_EMB_DIMS}) r(i)
    GROUP BY 1, 2
    """,
    doc="per-label embedding centroids (class means — the nearest-class-"
    "mean classifier / clustering seed): one avg aggregate PER DIMENSION "
    "inside a single groupBy(label), so the plan is one shuffle of "
    "64-value partial-agg rows. The naive posexplode(embedding) → "
    "groupBy(label, pos) formulation shuffles dims x rows — 64x the "
    "traffic at 100 TB. Output is (label, dim, value) long-form.",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    aggs = [
        F.avg(F.col("embedding").getItem(i)).alias(f"c{i}")
        for i in range(_EMB_DIMS)
    ]
    wide = e.groupBy("label").agg(*aggs)
    stack_args = ", ".join(f"{i}, c{i}" for i in range(_EMB_DIMS))
    return wide.select(
        "label",
        F.expr(f"stack({_EMB_DIMS}, {stack_args}) as (i, c)"),
    ).select("label", F.col("i").cast("bigint").alias("i"), F.round("c", 6).alias("c"))


_CLUSTER_SIM = 0.40  # cosine threshold for a near-dup edge
_CLUSTER_BAND = 4    # planes per band; 2 bands OR-amplify recall


@register(
    "embedding_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE planes_dot AS MATERIALIZED (
      SELECT e.vec_id, planes.p,
             list_dot_product(list_transform(e.embedding, x -> x::DOUBLE),
                              planes.vec) AS d
      FROM embeddings e CROSS JOIN
           {_planes_sql_literal(_hyperplanes(2 * _CLUSTER_BAND, _PAIR_DIM))}
    ),
    buckets AS MATERIALIZED (
      SELECT vec_id,
             SUM(CASE WHEN p < {_CLUSTER_BAND} AND d >= 0
                 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS b0,
             SUM(CASE WHEN p >= {_CLUSTER_BAND} AND d >= 0
                 THEN CAST(POWER(2, p - {_CLUSTER_BAND}) AS BIGINT)
                 ELSE 0 END) AS b1
      FROM planes_dot GROUP BY vec_id
    ),
    cand AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM buckets a JOIN buckets b
        ON a.b0 = b.b0 AND a.vec_id < b.vec_id
      UNION
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM buckets a JOIN buckets b
        ON a.b1 = b.b1 AND a.vec_id < b.vec_id
    ),
    elems AS (
      SELECT c.i, c.j,
             unnest(ea.embedding)::DOUBLE AS av,
             unnest(eb.embedding)::DOUBLE AS bv
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.i
      JOIN embeddings eb ON eb.vec_id = c.j
    ),
    pairs AS (
      SELECT i, j FROM (
        SELECT i, j,
               CASE WHEN sqrt(SUM(av*av)) * sqrt(SUM(bv*bv)) > 0
                    THEN SUM(av*bv) / (sqrt(SUM(av*av)) * sqrt(SUM(bv*bv)))
                    ELSE 0.0 END AS raw_sim
        FROM elems GROUP BY i, j
      ) WHERE ROUND(raw_sim, 6) >= {_CLUSTER_SIM}
    ),
    edges AS MATERIALIZED (
      SELECT i AS src, j AS dst FROM pairs
      UNION
      SELECT j AS src, i AS dst FROM pairs
    ),
    reach AS (
      SELECT vec_id AS node, vec_id AS lbl FROM embeddings
      UNION
      SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS vec_id, MIN(lbl) AS cluster FROM reach GROUP BY node
    """,
    doc="semantic near-dup clustering over embeddings: banded hyperplane "
    f"LSH (2 bands x {_CLUSTER_BAND} planes, OR-amplified — a same-band "
    "collision in EITHER band makes a candidate, the same recall shape "
    f"MinHash dedup uses), cosine >= {_CLUSTER_SIM} verification, then "
    "connected components by min-label propagation (cluster id = min "
    "vec_id — the keeper). The pair stream is banded-join-bounded, never "
    "n²; the oracle replicates the md5-derived planes, both bands, and "
    "the recursive closure exactly, so the convergence-driven clustering "
    "is still hash-checked. Scale: identical plan shape to "
    "dedup_cc_clusters (the text twin) — Σ|bucket|² candidates per band, "
    "frontier-pruned CC rounds.",
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .iterative import connected_components

    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    planes = _hyperplanes(2 * _CLUSTER_BAND, _PAIR_DIM)
    v = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").alias("vec"),
        lsh_bucket("embedding", planes[:_CLUSTER_BAND]).alias("b0"),
        lsh_bucket("embedding", planes[_CLUSTER_BAND:]).alias("b1"),
    )
    cand = None
    for band in ("b0", "b1"):
        a = v.select(F.col("vid").alias("i"), F.col(band).alias("bk"))
        b = v.select(F.col("vid").alias("j"), F.col(band).alias("bk"))
        c = a.join(b, "bk").where(F.col("i") < F.col("j")).select("i", "j")
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.distinct()
    va = v.select(F.col("vid").alias("i"), F.col("vec").alias("va"))
    vb = v.select(F.col("vid").alias("j"), F.col("vec").alias("vb"))
    pairs = (
        cand.join(va, "i")
        .join(vb, "j")
        .where(
            F.round(cosine(F.col("va"), F.col("vb")), 6) >= _CLUSTER_SIM
        )
        .select(F.col("i").alias("src"), F.col("j").alias("dst"))
    )
    res = connected_components(
        pairs, nodes=emb.select(F.col("vec_id").alias("node"))
    )
    return res.state.select(
        F.col("node").alias("vec_id"), F.col("comp").alias("cluster")
    )


# SemDeDup-style semantic dedup (round 13): cluster-then-prune. The
# published recipe (Abbas et al. 2023, "SemDeDup") k-means-clusters the
# embedding space, then looks for high-cosine pairs ONLY within a cluster
# and keeps, of each duplicate pair, the example LESS similar to its
# cluster centroid (retaining the less-prototypical one preserves
# diversity). Scale shape: pair generation is an equi-join on cell id —
# sum(|cell|^2) candidates, never corpus^2 — and the published deployment
# keeps |cell| bounded by growing K with the corpus (50k clusters at 5B
# embeddings), so cell occupancy, not corpus size, bounds the work.
_SEMDEDUP_CELLS = 16
_SEMDEDUP_TAU = 0.35  # within-cell cosine at/above this = semantic dup


def semantic_dedup(
    vectors: DataFrame,
    n_cells: int = _SEMDEDUP_CELLS,
    tau: float = _SEMDEDUP_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup cluster-then-prune over an embedding column.

    1. Coarse quantizer: every vector goes to its max-cosine cell against
       ``n_cells`` deterministic centroids (first ``n_cells`` vectors by
       id — the IterKmeans.java:492-538 init convention the IVF index
       shares); ties break to the smaller cell. The same pass yields
       ``c_sim``, the vector's similarity to its own centroid.
    2. Prune: a row is dropped iff some OTHER row in its cell has
       cosine >= ``tau`` with it AND a strictly smaller priority key
       ``(round(c_sim, 6), id)`` — i.e. of every duplicate pair the
       LESS-prototypical member (lower centroid similarity) survives,
       ids breaking ties. Pairwise and deterministic: no iteration, one
       equi-self-join on cell, the drop set applied back as one join.

    Returns (id, cell, c_sim, kept). Catalyst shape: centroids broadcast
    (tiny dim table), assignment one hash-agg, candidate pairs equi-join
    on cell, never a non-broadcast cartesian."""
    # checkpointed: the quantizer pass (scan + broadcast-centroid cross +
    # per-row argmax agg) feeds BOTH sides of the pair join AND the final
    # apply — without it Catalyst re-executes that subtree three times
    # (seen in explain('formatted'); the incremental twin would pay 7x).
    # A lazy local checkpoint, not a cache: the result is returned lazily,
    # so no one could release a cache after it is read.
    asgn = _semantic_assign(vectors, n_cells, id_col, vec_col).localCheckpoint(
        eager=False
    )
    dropped = _semantic_drops(asgn, asgn, tau)
    return _semantic_apply(asgn, dropped, id_col)


def _semantic_assign(
    vectors: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> DataFrame:
    """Quantizer pass: (nid, nvec, cell, c_sim) — nearest-centroid cell
    (ties to the smaller cell) plus the rounded centroid similarity.
    Centroids = first ``n_cells`` vectors by id, broadcast; per-row
    results depend only on the row and the fixed centroid table, which
    is what makes the prune incrementalizable."""
    # Two measured reformulations (bench/stress.py, 20k -> 200k vectors):
    # 1. the argmax is array_max over ONE broadcast row holding the whole
    #    centroid table as array<struct<cell,cvec>> — a pure map, zero
    #    shuffle. The naive crossJoin x n_cells + groupBy(nid, nvec)
    #    .max(struct) spent its time hash-aggregating N*K rows keyed by
    #    the 64-float vector.
    # 2. every vector is NORMALIZED ONCE (unit vectors) so each of the
    #    N*K assignment tests and the occupancy-bounded pair tests is a
    #    single dot instead of dot + two norms — the similarity battery
    #    is evaluated as (non-codegen) higher-order expressions, so
    #    collapsing 3 array-folds to 1 is a direct ~3x on the flop-bound
    #    stages. dot(unit(a), unit(b)) keeps cosine()'s conventions:
    #    argmax and zero-norm-=-0.0 are unchanged, and the oracle
    #    normalizes identically (same fold order), so results stay
    #    hash-exact.
    # The returned frame carries the UNIT vector in ``nvec`` — every
    # downstream consumer (_semantic_drops) relies on that.
    cents = (
        vectors.orderBy(id_col)
        .limit(n_cells)
        .select(
            F.col(id_col).cast("int").alias("cell"),
            F.col(vec_col).alias("cvec"),
        )
        .withColumn("cn", norm2(F.col("cvec")))
        .select(
            F.collect_list(
                F.struct(
                    F.col("cell"),
                    unit(F.col("cvec"), F.col("cn")).alias("cvec"),
                )
            ).alias("cents")
        )
    )
    v = (
        vectors.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("raw")
        )
        .withColumn("nn", norm2(F.col("raw")))
        .select("nid", unit(F.col("raw"), F.col("nn")).alias("nvec"))
    )
    best = F.array_max(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                dot(F.col("nvec"), c["cvec"]).alias("s"),
                (-c["cell"]).alias("nc"),
            ),
        )
    )
    return (
        v.crossJoin(F.broadcast(cents))
        .withColumn("b", best)
        .select(
            "nid",
            "nvec",
            (-F.col("b.nc")).cast("int").alias("cell"),
            F.round(F.col("b.s"), 6).alias("c_sim"),
        )
    )


def _semantic_drops(
    asgn_a: DataFrame, asgn_b: DataFrame, tau: float
) -> DataFrame:
    """The nids dropped FROM the b side: j in b is dropped iff some i in
    a shares its cell, has cosine >= tau with it, and a strictly smaller
    priority key (c_sim, id). One equi-join on cell. Inputs carry UNIT
    vectors (what _semantic_assign returns), so the cosine test is a
    plain dot."""
    a = asgn_a.select(
        "cell",
        F.col("nid").alias("i"),
        F.col("nvec").alias("va"),
        F.col("c_sim").alias("ca"),
    )
    b = asgn_b.select(
        "cell",
        F.col("nid").alias("j"),
        F.col("nvec").alias("vb"),
        F.col("c_sim").alias("cb"),
    )
    return (
        a.join(b, "cell")
        .where(F.col("i") != F.col("j"))
        .where(F.round(dot(F.col("va"), F.col("vb")), 6) >= tau)
        .where(
            (F.col("ca") < F.col("cb"))
            | ((F.col("ca") == F.col("cb")) & (F.col("i") < F.col("j")))
        )
        .select(F.col("j").alias("nid"))
        .distinct()
    )


def _semantic_apply(
    asgn: DataFrame, dropped: DataFrame, id_col: str
) -> DataFrame:
    return asgn.join(
        dropped.withColumn("is_dup", F.lit(True)), "nid", "left"
    ).select(
        F.col("nid").alias(id_col),
        "cell",
        "c_sim",
        F.coalesce(~F.col("is_dup"), F.lit(True)).alias("kept"),
    )


# similarities are plain dots of pre-normalized unit vectors (the CTEs
# below normalize with the same fold order the Spark side uses, so the
# doubles — and the round-6 hash — stay identical)
_SEMDEDUP_COS = "list_dot_product({a}, {b})"

_SEMDEDUP_UNIT = (
    "CASE WHEN sqrt(list_dot_product({v}, {v})) > 0"
    " THEN list_transform({v}, x -> x / sqrt(list_dot_product({v}, {v})))"
    " ELSE list_transform({v}, x -> 0.0) END"
)


# the quantizer CTEs (cents/ev/asgn) are shared verbatim by every oracle
# that consumes cell assignments (semantic dedup, cluster-balanced sampling)
_SEMDEDUP_ASGN_CTES = f"""
    cents AS (
      SELECT cell, {_SEMDEDUP_UNIT.format(v='cvecd')} AS cvec FROM (
        SELECT CAST(vec_id AS INT) AS cell,
               list_transform(embedding, x -> x::DOUBLE) AS cvecd
        FROM embeddings WHERE vec_id < {_SEMDEDUP_CELLS}
      )
    ),
    ev AS (
      SELECT nid, {_SEMDEDUP_UNIT.format(v='evd')} AS ev FROM (
        SELECT vec_id AS nid,
               list_transform(embedding, x -> x::DOUBLE) AS evd
        FROM embeddings
      )
    ),
    asgn AS (
      SELECT nid, cell, ROUND(s, 6) AS c_sim FROM (
        SELECT e.nid, c.cell,
               {_SEMDEDUP_COS.format(a='e.ev', b='c.cvec')} AS s,
               ROW_NUMBER() OVER (PARTITION BY e.nid ORDER BY
                 {_SEMDEDUP_COS.format(a='e.ev', b='c.cvec')} DESC,
                 c.cell) AS rn
        FROM ev e CROSS JOIN cents c
      ) WHERE rn = 1
    )"""


_SEMDEDUP_ORACLE = f"""
    WITH {_SEMDEDUP_ASGN_CTES},
    dup AS (
      SELECT DISTINCT
             CASE WHEN (a.c_sim, a.nid) < (b.c_sim, b.nid)
                  THEN b.nid ELSE a.nid END AS nid
      FROM asgn a JOIN asgn b ON a.cell = b.cell AND a.nid < b.nid
      JOIN ev ea ON ea.nid = a.nid
      JOIN ev eb ON eb.nid = b.nid
      WHERE ROUND({_SEMDEDUP_COS.format(a='ea.ev', b='eb.ev')}, 6)
              >= {_SEMDEDUP_TAU}
    )
    SELECT a.nid AS vec_id, a.cell, a.c_sim,
           (d.nid IS NULL) AS kept
    FROM asgn a LEFT JOIN dup d ON d.nid = a.nid
    """


@register(
    "semantic_dedup_prune",
    oracle=_SEMDEDUP_ORACLE,
    doc="SemDeDup cluster-then-prune (round 13): 16-cell deterministic "
    "coarse quantizer (centroids = first 16 vectors, max-cosine "
    f"assignment, ties to the smaller cell), then within-cell pairs at "
    f"cosine >= {_SEMDEDUP_TAU} drop their MORE-prototypical member — "
    "priority key (round(c_sim,6), id), so of each duplicate pair the "
    "row less similar to its centroid survives, the published "
    "diversity-preserving keep rule. Pair stream is an equi-join on "
    "cell id (sum(|cell|^2), never corpus^2; at scale K grows with the "
    "corpus to bound occupancy — 50k clusters at 5B in the paper). "
    "Fully deterministic; the oracle replicates quantizer, priority "
    "rule, and drop set, so every row's kept flag is hash-checked.",
)
def semantic_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return semantic_dedup(emb)


_SEMDEDUP_NEW_MOD = 10  # delta = every 10th vector (held out of the base)


@register(
    "incr_semantic_dedup",
    oracle=_SEMDEDUP_ORACLE,  # the incremental union must equal the full recompute
    doc="incremental SemDeDup (I7 on the embedding domain): base corpus "
    f"= vec_id % {_SEMDEDUP_NEW_MOD} != 0, delta = the held-out tenth. "
    "The quantizer is FIXED (the full index's first-16 centroid table, "
    "trained once like a production coarse quantizer), so cell and "
    "c_sim are per-row facts that never change under insertion — and "
    "the drop rule is MONOTONE in the corpus (a row is dropped iff a "
    "smaller-key neighbor exists; insertions only add witnesses, never "
    "remove them). Preserved base-by-base drops are therefore reused "
    "verbatim; the delta recomputes only pairs touching a new vector "
    "(new-side drops AND old rows newly dropped by a less-prototypical "
    "new arrival) — per-delta work is O(|new| x cell occupancy), the "
    "same preserve/delta discipline as incr_dedup_minhash_pairs. Union "
    "of the three directed drop sets equals the full-recompute drop set "
    "exactly; oracle = the full recompute, so the equivalence is "
    "hash-checked row by row.",
)
def incr_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    # checkpointed, not cached: see semantic_dedup
    asgn = _semantic_assign(
        emb, _SEMDEDUP_CELLS, "vec_id", "embedding"
    ).localCheckpoint(eager=False)
    is_new = F.col("nid") % _SEMDEDUP_NEW_MOD == 0
    base, new = asgn.where(~is_new), asgn.where(is_new)
    tau = _SEMDEDUP_TAU
    dropped = (
        _semantic_drops(base, base, tau)      # preserved old-by-old
        .unionByName(_semantic_drops(new, asgn, tau))   # new drops anyone
        .unionByName(_semantic_drops(base, new, tau))   # old drops a new
        .distinct()
    )
    return _semantic_apply(asgn, dropped, "vec_id")



# ---------------------------------------------------------------------------
# cluster-balanced (diversity-preserving) sampling over the semantic cells
# ---------------------------------------------------------------------------


def cluster_balanced_sample(
    vectors: DataFrame,
    n_cells: int = _SEMDEDUP_CELLS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "cbal",
) -> DataFrame:
    """Exactly floor(sqrt(|cell|)) vectors per semantic cell, in
    deterministic md5 order — sqrt-temperature allocation, so dominant
    clusters are downsampled hard and small clusters keep representation
    (the cluster-balanced selection rule of DoReMi-style mixture work,
    run over the SAME fixed coarse quantizer the SemDeDup/IVF family
    uses). Scale shape: quantizer is a broadcast-centroid map, per-cell
    quotas are ONE tiny aggregate broadcast back, and the within-cell
    rank is the two-level stratified_rank — no whole-cell window task,
    no product."""
    from .sampling import stratified_rank

    # checkpointed: the quantizer pass feeds the quota aggregate, the
    # ranked side, AND stratified_rank's per-bucket counts — without it the
    # scan + broadcast-centroid map is planned three times (the same
    # measured fix, and the same checkpoint, as semantic_dedup's)
    asgn = (
        _semantic_assign(vectors, n_cells, id_col, vec_col)
        .select("nid", "cell")
        .localCheckpoint(eager=False)
    )
    quotas = (
        asgn.groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cell_n"))
        .withColumn(
            "quota", F.floor(F.sqrt(F.col("cell_n"))).cast("bigint")
        )
    )
    ranked = stratified_rank(asgn, "cell", "nid", seed)
    return (
        ranked.join(F.broadcast(quotas), "cell")
        .where(F.col("rk") <= F.col("quota"))
        .select(
            F.col("nid").alias(id_col),
            "cell",
            F.col("rk").cast("bigint").alias("rk"),
            "cell_n",
            "quota",
        )
    )


@register(
    "sample_cluster_balanced",
    oracle=f"""
    WITH {_SEMDEDUP_ASGN_CTES},
    cq AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_n,
             CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS quota
      FROM asgn GROUP BY cell
    ),
    r AS (
      SELECT nid, cell,
             ROW_NUMBER() OVER (PARTITION BY cell
               ORDER BY md5('cbal|' || CAST(nid AS VARCHAR))) AS rk
      FROM asgn
    )
    SELECT r.nid AS vec_id, r.cell, CAST(r.rk AS BIGINT) AS rk,
           cq.cell_n, cq.quota
    FROM r JOIN cq USING (cell) WHERE r.rk <= cq.quota
    """,
    doc="cluster-balanced coreset sampling (round 13): exactly "
    "floor(sqrt(|cell|)) vectors per coarse-quantizer cell in "
    "deterministic md5 order — the sqrt-temperature allocation that "
    "keeps dominant semantic clusters from swamping a curated subset "
    "while small clusters keep representation. Composes the FIXED "
    "SemDeDup/IVF quantizer (broadcast-centroid map, zero shuffle) with "
    "the two-level stratified rank (per-(cell, md5-bucket) row_number + "
    "broadcast offsets — no whole-cell window at 100 TB); quotas are "
    "floor(sqrt(BIGINT)) — IEEE-correctly-rounded in both engines, so "
    "the whole allocation is integer-exact. Oracle = quantizer CTEs "
    "shared verbatim with semantic_dedup_prune + single-window "
    "ROW_NUMBER recompute: every selected row and its rank is "
    "hash-checked.",
)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
    return cluster_balanced_sample(emb)
