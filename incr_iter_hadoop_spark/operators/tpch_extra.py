"""Extended TPC-H-shaped relational battery
(Q2/Q7/Q8/Q9/Q10/Q11/Q13/Q15/Q16/Q19/Q20/Q21/Q22).

The reference has no SQL layer; these queries widen the declared relational
surface (SURVEY §2.2-2.4, §2.6) over the driver's reduced TPC-H schema with
the canonical plan shapes a 100 TB deployment needs:

- Q7/Q8: fact-to-fact join on l_orderkey (the one unavoidable shuffle) with
  every dimension broadcast, then conditional/ratio aggregation.
- Q10: join → agg → deterministic global top-k (TakeOrdered, no full sort).
- Q13: left outer join + two-level aggregation (agg-of-agg distribution).
- Q15: agg → scalar-max self-join (view + HAVING-max shape).
- Q19: disjunctive multi-branch predicate pushed into a broadcast hash join.
- Q22: anti-join against orders + above-average scalar-subquery filter.

Adapted to the reduced schema (no partsupp / l_shipmode / c_phone — see
TESTDATA.md): substitutions are noted per query. All money aggregates use
functions/stable.py decimal accumulation so the DuckDB oracle hash matches
bit-for-bit regardless of partition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.stable import dsum, dsum_sql
from ..registry import register

_REV = "l_extendedprice * (1 - l_discount)"


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "q7_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT)
             AS l_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    WHERE sn.n_nationkey <> cn.n_nationkey
      AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (volume shipping between distinct nation pairs by "
    "year): single fact shuffle on l_orderkey, both nation dims broadcast "
    "twice under different aliases; theta predicate sn<>cn applied post-join.",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .where(F.col("sn_key") != F.col("cn_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).alias("l_year"),
        )
        .agg(dsum(_rev()).alias("revenue"))
    )


@register(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT)
             AS o_year,
           CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                    THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(27,6))
                    ELSE CAST(0 AS DECIMAL(27,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(27,6))) AS DOUBLE) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey  = p.p_partkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN region r   ON cn.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'STANDARD'
    GROUP BY 1
    """,
    doc="TPC-H Q8 shape (nation market share within a region by year): ratio "
    "of conditional decimal sums; part/customer/nation/region/supplier all "
    "broadcast, part filter prunes the fact rows at the join.",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev = _rev().cast("decimal(27,6)")
    zero = F.lit(0).cast("decimal(27,6)")
    nat = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(zero)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year(F.col("o_orderdate").cast("date")).alias("o_year"))
        .agg(
            (F.sum(nat).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT * FROM (
      SELECT c.c_custkey, c.c_name,
             {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
             ROUND(c.c_acctbal, 6) AS acctbal,
             n.n_name AS nation
      FROM customer c
      JOIN orders o   ON o.o_custkey  = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        AND CAST(o.o_orderdate AS DATE) <  DATE '1997-01-01'
      GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ) ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape (top customers by returned-item revenue): join → "
    "agg → global top-20 via TakeOrdered (per-partition heap + driver merge "
    "of 20 rows/partition — no total sort at 100 TB). Decimal-stable revenue "
    "plus the c_custkey tiebreaker make the cutoff deterministic across "
    "engines.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_rev()).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 6).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): left outer "
    "join with an extra join-side predicate, then agg-of-agg. First agg "
    "shuffles on c_custkey; the distribution agg is tiny. COUNT(col) "
    "null-skip semantics keep no-order customers at c_count=0.",
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (o.o_orderpriority != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {dsum_sql(_REV)} AS total_revenue
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape (top supplier by quarterly revenue): revenue view → "
    "scalar-max subquery filter. The view is computed once and reused for "
    "both the max and the filter (Spark reuses the shuffle via exchange "
    "reuse); decimal-stable sums make the argmax engine-independent.",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01").cast("date"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(_rev()).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 21)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 40)
    """,
    doc="TPC-H Q19 shape (disjunctive predicates spanning both join sides): "
    "broadcast hash join on p_partkey with the 3-branch OR evaluated as the "
    "join filter; per-side conjuncts (p_size>=1, quantity bounds) still "
    "prune before the join.",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br = F.col("p_brand")
    cond = (
        ((br == "Brand#15") & sz.between(1, 15) & q.between(1, 21))
        | ((br == "Brand#23") & sz.between(1, 25) & q.between(10, 30))
        | ((br == "Brand#34") & sz.between(1, 35) & q.between(20, 40))
    )
    return j.where(cond).agg(
        dsum(_rev()).alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@register(
    "q22_sales_opportunity",
    oracle="""
    WITH positive AS (
      SELECT * FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(27,6)))
                      AS DOUBLE), 6) AS totacctbal
    FROM positive c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6)))
                                     AS DOUBLE) / COUNT(c_acctbal)
                         FROM positive)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND CAST(o.o_orderdate AS DATE) >= DATE '1999-01-01')
    GROUP BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape (customers with above-average balance and no "
    "recent orders, by nation; c_phone country code replaced by "
    "c_nationkey): "
    "scalar-avg subquery filter + left anti-join against orders. The "
    "anti-join build side is just o_custkey — column-pruned before the "
    "shuffle. The avg threshold accumulates in decimal (stable.py) so the "
    "boundary comparison is engine-independent.",
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 0.0)
    o = (
        load_table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").cast("date")
            >= F.lit("1999-01-01").cast("date")
        )
        .select("o_custkey")
    )
    avg_bal = c.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(27,6)")).cast("double")
            / F.count("c_acctbal")
        ).alias("threshold")
    )
    rich = c.join(
        F.broadcast(avg_bal), F.col("c_acctbal") > F.col("threshold")
    )
    no_orders = rich.join(
        o, rich.c_custkey == o.o_custkey, "left_anti"
    )
    return no_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(27,6)")).cast("double"), 6
        ).alias("totacctbal"),
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT)
             AS o_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)'
                     ' - 0.6 * p.p_retailprice * l.l_quantity')} AS sum_profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey  = p.p_partkey
    JOIN supplier s ON l.l_suppkey  = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (product-type profit by supplier nation and year). "
    "No partsupp table in the reduced schema, so ps_supplycost is replaced "
    "by the 0.6·p_retailprice·l_quantity cost proxy — same plan shape: "
    "LIKE-filtered part broadcast prunes the fact scan, supplier/nation "
    "broadcast, one aggregate over the surviving rows.",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = _rev() - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("l_shipdate").cast("date")).alias("o_year"),
        )
        .agg(dsum(profit).alias("sum_profit"))
    )


@register(
    "q2_min_acctbal_supplier",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
    ), costs AS (
      SELECT ps.partkey, s.s_suppkey, s.s_acctbal, s.s_name, n.n_name
      FROM ps
      JOIN supplier s ON ps.suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), mins AS (
      SELECT partkey, MIN(s_acctbal) AS min_bal FROM costs GROUP BY partkey
    )
    SELECT c.partkey AS p_partkey, c.s_name, c.n_name,
           ROUND(c.s_acctbal, 6) AS acctbal
    FROM costs c
    JOIN mins m ON c.partkey = m.partkey AND c.s_acctbal = m.min_bal
    JOIN part p ON p.p_partkey = c.partkey
    WHERE p.p_size < 20
    """,
    doc="TPC-H Q2 shape (correlated scalar-min subquery): per part, the "
    "EUROPE supplier with minimum account balance among those who shipped "
    "it (partsupp absent — the distinct lineitem part/supp pairs stand in; "
    "s_acctbal stands in for ps_supplycost). Plan: dims broadcast, the "
    "min-per-part agg joined back on equality with the min.",
)
def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    ps = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    costs = (
        ps.join(F.broadcast(s), ps.suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.where(F.col("r_name") == "EUROPE")),
              n.n_regionkey == r.r_regionkey)
        .select("partkey", "s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    mins = costs.groupBy("partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        costs.join(mins, "partkey")
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .join(F.broadcast(p.where(F.col("p_size") < 20)),
              F.col("partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "s_name",
            "n_name",
            F.round("s_acctbal", 6).alias("acctbal"),
        )
    )


@register(
    "q11_important_parts",
    oracle=f"""
    WITH asia_lines AS (
      SELECT l.l_partkey,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(27,6))
               AS val
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    ), per_part AS (
      SELECT l_partkey AS p_partkey, SUM(val) AS value_dec
      FROM asia_lines GROUP BY l_partkey
    ), total AS (
      SELECT SUM(val) AS total_dec FROM asia_lines
    )
    SELECT p_partkey, ROUND(CAST(value_dec AS DOUBLE), 6) AS part_value
    FROM per_part, total
    WHERE value_dec > total_dec * 0.001
    """,
    doc="TPC-H Q11 shape (group agg filtered against a global scalar): "
    "ASIA-supplied revenue per part, keeping parts above 0.1% of the total "
    "(availqty*supplycost absent — discounted revenue stands in). Plan: one "
    "agg reused for both the per-part and global totals, scalar broadcast "
    "into the HAVING filter; decimal comparison keeps the cut exact.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    lines = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
              n.n_regionkey == r.r_regionkey)
        .select(
            "l_partkey",
            (_rev()).cast("decimal(27,6)").alias("val"),
        )
    )
    per_part = lines.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum("val").alias("value_dec")
    )
    # the total is the sum of the exact decimal per-part sums: both sides
    # read one per-part exchange, so the fact side is scanned once and
    # nothing is left cached
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    out = (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_dec") > F.col("total_dec") * F.lit(0.001))
        .select(
            "p_partkey",
            F.round(F.col("value_dec").cast("double"), 6).alias("part_value"),
        )
    )
    return out


@register(
    "q16_part_supplier_counts",
    oracle="""
    WITH ok_supp AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal >= 1000
    ), pairs AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey
      FROM lineitem l JOIN ok_supp s ON l.l_suppkey = s.s_suppkey
    )
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
           CAST(COUNT(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr JOIN part p ON pr.l_partkey = p.p_partkey
    WHERE p.p_type <> 'PROMO' AND p.p_size < 15
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q16 shape (distinct-count with an excluded-supplier "
    "anti-set): suppliers per (brand, type, size) over shipped pairs, "
    "excluding low-balance suppliers (the complaints NOT IN analogue) and "
    "PROMO parts. Plan: semi-join on the kept suppliers, broadcast part "
    "dim, COUNT(DISTINCT) hash agg.",
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    ok = s.where(F.col("s_acctbal") >= 1000).select("s_suppkey")
    pairs = (
        li.join(F.broadcast(ok), li.l_suppkey == ok.s_suppkey, "left_semi")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        pairs.join(
            F.broadcast(
                p.where((F.col("p_type") != "PROMO") & (F.col("p_size") < 15))
            ),
            pairs.l_partkey == p.p_partkey,
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_shippers",
    oracle="""
    WITH widget_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'
    ), heavy AS (
      SELECT l.l_suppkey
      FROM lineitem l JOIN widget_parts w ON l.l_partkey = w.p_partkey
      WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l.l_shipdate AS DATE) <  DATE '1998-01-01'
      GROUP BY l.l_partkey, l.l_suppkey
      HAVING SUM(l.l_quantity) > 50
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'AMERICA'
      AND s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
    doc="TPC-H Q20 shape (nested semi-joins): AMERICA suppliers who shipped "
    "more than 50 units of some widget part during 1997 (availqty absent — "
    "the per-(part,supplier) 1997 quantity stands in). Plan: name-filtered "
    "part dim broadcast into the fact, HAVING on the pair agg, then a "
    "semi-join into the supplier dim.",
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    widgets = p.where(F.col("p_name").like("%widget%")).select("p_partkey")
    ship = F.col("l_shipdate").cast("date")
    heavy = (
        li.where(
            (ship >= F.lit("1997-01-01").cast("date"))
            & (ship < F.lit("1998-01-01").cast("date"))
        )
        .join(F.broadcast(widgets), li.l_partkey == widgets.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.where(F.col("r_name") == "AMERICA")),
              n.n_regionkey == r.r_regionkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    WITH f_lines AS (
      SELECT l.l_orderkey, l.l_suppkey, CAST(l.l_shipdate AS DATE) AS ship
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             MAX(ship) AS mx,
             COUNT(DISTINCT l_suppkey) AS nsupp
      FROM f_lines GROUP BY l_orderkey
    ), latest AS (
      SELECT DISTINCT f.l_orderkey, f.l_suppkey
      FROM f_lines f JOIN per_order p
        ON f.l_orderkey = p.l_orderkey AND f.ship = p.mx
    ), holders AS (
      SELECT l.l_orderkey, MIN(l.l_suppkey) AS l_suppkey
      FROM latest l JOIN per_order p ON l.l_orderkey = p.l_orderkey
      WHERE p.nsupp >= 2
      GROUP BY l.l_orderkey HAVING COUNT(*) = 1
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM holders h JOIN supplier s ON h.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (exists + not-exists over sibling lines): for "
    "finished multi-supplier orders, the supplier whose shipment is the "
    "STRICT latest held the order up (commit/receipt dates absent — the "
    "per-order max shipdate with a unique argmax stands in); count held "
    "orders per supplier. Plan: per-order windows (max + distinct "
    "count) over one fact exchange, the argmax filter, HAVING "
    "count(*)=1 as the not-exists.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    f_lines = (
        li.join(
            o.where(F.col("o_orderstatus") == "F").select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left_semi",
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.col("l_shipdate").cast("date").alias("ship"),
        )
    )
    # the per-order max and distinct-supplier count as windows over one
    # l_orderkey exchange: the fact side is scanned once, with no cache
    # and no join back
    w = Window.partitionBy("l_orderkey")
    latest = (
        f_lines.select(
            "l_orderkey",
            "l_suppkey",
            "ship",
            F.max("ship").over(w).alias("mx"),
            F.size(F.collect_set("l_suppkey").over(w)).alias("nsupp"),
        )
        .where(F.col("ship") == F.col("mx"))
        .select("l_orderkey", "l_suppkey", "nsupp")
        .distinct()
    )
    holders = (
        latest.where(F.col("nsupp") >= 2)
        .groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("l_suppkey"),
            F.count(F.lit(1)).alias("n_latest"),
        )
        .where(F.col("n_latest") == 1)
    )
    return (
        holders.join(F.broadcast(s), holders.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
