"""Second wave of TPC-H-shaped validation queries, adapted to the slimmed
fixture schema (no partsupp/comment/commitdate columns — see TESTDATA.md).

Same determinism protocol as operators/relational.py: exact-decimal money
sums (`_dsum`), decimal-sum ÷ count averages, double comparisons only
between bitwise-identical operands, unique sort tiebreakers. Each query has
a DuckDB oracle twin.

Plan shapes these queries pin down (tests/test_plans.py extends here):
exists/not-exists as semi/anti joins (never a count-based subquery), scalar
aggregates as broadcast cross joins, correlated averages as a groupBy +
re-join (the decorrelation Catalyst can't always do for us at the API
level), disjunctive predicate pushdown.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .relational import DEC, _davg, _dsum, _dsumd, ld


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: priority counts for orders with at least one
    late-shipped line (EXISTS → left-semi join; the semi join keeps the
    orders side's cardinality so the count never double-counts lines)."""
    o = ld(spark, sf_dir, "orders", fanout=False).filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01"))
    l = ld(spark, sf_dir, "lineitem", fanout=False)
    late = o.join(l, (o.o_orderkey == l.l_orderkey)
                  & (l.l_shipdate > o.o_orderdate), "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


ORACLE_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. Both nation dims broadcast; the fact-side shuffle is
    lineitem⋈orders only."""
    n1 = ld(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("supp_nk"), F.col("n_name").alias("supp_nation"))
    n2 = ld(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cust_nk"), F.col("n_name").alias("cust_nation"))
    s = ld(spark, sf_dir, "supplier")
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders", fanout=False)
    l = ld(spark, sf_dir, "lineitem", fanout=False)
    pair = ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")) | \
           ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("supp_nk"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cust_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(_dsumd(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year"))


ORACLE_Q7 = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation × order year, with
    p_retailprice·quantity·0.6 standing in for the missing supplycost.
    The per-row money expression is pure double IEEE math (bitwise equal in
    both engines) cast to decimal once for the exact sum."""
    p = ld(spark, sf_dir, "part").filter(F.col("p_name").contains("a"))
    s = ld(spark, sf_dir, "supplier")
    n = ld(spark, sf_dir, "nation")
    o = ld(spark, sf_dir, "orders", fanout=False)
    l = ld(spark, sf_dir, "lineitem", fanout=False)
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.col("p_retailprice") * F.col("l_quantity") * 0.6)
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount.cast(DEC)).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year")))


ORACLE_Q9 = """
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                - p_retailprice * l_quantity * 0.6 AS DECIMAL(28,6)))
            AS DOUBLE) AS sum_profit
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%a%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q12_priority_by_status(spark, sf_dir):
    """TPC-H Q12 shape (shipmode → linestatus): per line status, how many
    lines belong to high- vs low-priority orders — conditional counts after
    one fact-fact join."""
    o = ld(spark, sf_dir, "orders", fanout=False)
    l = ld(spark, sf_dir, "lineitem", fanout=False).filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"))
            .orderBy("l_linestatus"))


ORACLE_Q12 = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: distribution of order counts per customer — left outer
    join so zero-order customers land in the c_count=0 bucket."""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders", fanout=False)
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


ORACLE_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: promo revenue share. Both operands of the final division
    are exact decimals cast to double, so the ratio is bitwise portable."""
    p = ld(spark, sf_dir, "part")
    l = ld(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .agg((F.lit(100.0) * F.sum(promo.cast(DEC)).cast("double")
                  / F.sum(rev.cast(DEC)).cast("double"))
                 .alias("promo_revenue_pct")))


ORACLE_Q14 = """
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount)
                     ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(28,6))) AS DOUBLE) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1997-03-01' AND l_shipdate < '1997-04-01'
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: supplier(s) with maximum quarterly revenue. The scalar
    max arrives via a broadcast cross join of a 1-row aggregate; equality
    is exact decimal=decimal."""
    s = ld(spark, sf_dir, "supplier")
    l = ld(spark, sf_dir, "lineitem", fanout=False).filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01"))
    rev = (l.groupBy("l_suppkey")
           .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (rev.join(F.broadcast(mx),
                     rev.total_revenue == mx.max_revenue)
            .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
            .select("s_suppkey", "s_name",
                    F.col("total_revenue").cast("double")
                    .alias("total_revenue"))
            .orderBy("s_suppkey"))


ORACLE_Q15 = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue lost to small orders — lines with quantity
    below half their part's average. The correlated AVG decorrelates into a
    per-part aggregate re-joined to the fact (broadcast: one row per part);
    both engines compare the same decimal-sum÷count double."""
    l = ld(spark, sf_dir, "lineitem")
    p = ld(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    per_part = (l.groupBy(F.col("l_partkey").alias("ap_partkey"))
                .agg(_davg(F.col("l_quantity")).alias("avg_qty")))
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .join(F.broadcast(per_part),
                  l.l_partkey == F.col("ap_partkey"))
            .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
            .agg((F.sum(F.col("l_extendedprice").cast(DEC)).cast("double")
                  / 7.0).alias("avg_yearly")))


ORACLE_Q17 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (SELECT l_partkey AS ap_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS avg_qty
      FROM lineitem GROUP BY l_partkey) a ON l_partkey = ap_partkey
WHERE p_brand = 'Brand#11' AND l_quantity < 0.5 * avg_qty
"""


def q19_disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across the join — the classic test that
    disjunctions still prune and the join stays a hash join."""
    p = ld(spark, sf_dir, "part")
    l = ld(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#21") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 30)))
        | ((F.col("p_brand") == "Brand#15") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 50))))
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .filter(cond)
            .agg(_dsumd(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue")))


ORACLE_Q19 = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
            AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#21' AND p_size BETWEEN 10 AND 30
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""


def q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 shape: rich customers with no urgent orders —
    scalar-average threshold (broadcast 1-row cross join) + NOT EXISTS
    (left-anti join), aggregated per nation. (Every fixture customer has
    ≥1 order, so the anti-join targets the urgent subset to stay
    non-degenerate.)"""
    c = ld(spark, sf_dir, "customer")
    o = ld(spark, sf_dir, "orders", fanout=False).filter(
        F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg(_davg(F.col("c_acctbal")).alias("avg_bal")))
    return (c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("avg_bal"))
            .join(o, c.c_custkey == o.o_custkey, "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 _dsumd(F.col("c_acctbal")).alias("totacctbal"))
            .orderBy("c_nationkey"))


ORACLE_Q22 = """
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                          / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def corr_above_nation_avg(spark, sf_dir):
    """Correlated-subquery pattern: customers above their own nation's
    average balance. Decorrelated into groupBy + broadcast re-join."""
    c = ld(spark, sf_dir, "customer")
    nat_avg = (c.groupBy(F.col("c_nationkey").alias("nk"))
               .agg(_davg(F.col("c_acctbal")).alias("nation_avg")))
    return (c.join(F.broadcast(nat_avg), c.c_nationkey == F.col("nk"))
            .filter(F.col("c_acctbal") > F.col("nation_avg"))
            .select("c_custkey", "c_nationkey", "c_acctbal")
            .orderBy("c_custkey"))


ORACLE_CORR_AVG = """
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer c
JOIN (SELECT c_nationkey AS nk,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS nation_avg
      FROM customer GROUP BY c_nationkey) a ON c.c_nationkey = a.nk
WHERE c_acctbal > nation_avg
ORDER BY c_custkey
"""


def having_global_share(spark, sf_dir):
    """HAVING against a global scalar: nations holding ≥ 5% of total
    customer balance. Scalar total broadcast; comparison double vs double
    with identical operands on both engines."""
    c = ld(spark, sf_dir, "customer")
    total = c.agg(_dsum(F.col("c_acctbal")).alias("grand_total"))
    per_nation = (c.groupBy("c_nationkey")
                  .agg(_dsum(F.col("c_acctbal")).alias("nation_total")))
    return (per_nation.join(F.broadcast(total))
            .filter(F.col("nation_total").cast("double")
                    >= 0.05 * F.col("grand_total").cast("double"))
            .select("c_nationkey",
                    F.col("nation_total").cast("double").alias("nation_total"))
            .orderBy("c_nationkey"))


ORACLE_HAVING_SHARE = """
SELECT c_nationkey,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS nation_total
FROM customer
GROUP BY c_nationkey
HAVING CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
       >= 0.05 * (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
                  FROM customer)
ORDER BY c_nationkey
"""

def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) for
    parts outside an excluded brand, suppliers outside a blocked set
    (NOT IN → left-anti join on a filtered dim)."""
    p = ld(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#11")
    l = ld(spark, sf_dir, "lineitem")
    blocked = ld(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0).select("s_suppkey")
    return (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .join(F.broadcast(blocked),
                  l.l_suppkey == blocked.s_suppkey, "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
            .limit(50))


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#11'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
"""


def q20_part_share_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who shipped more than half their
    nation's average line quantity of PROMO parts — nested IN chains
    decorrelated into semi joins + a broadcast aggregate."""
    p = ld(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO") \
        .select("p_partkey")
    l = ld(spark, sf_dir, "lineitem")
    s = ld(spark, sf_dir, "supplier")
    n = ld(spark, sf_dir, "nation")
    promo_qty = (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
                 .groupBy("l_suppkey")
                 .agg(_dsum(F.col("l_quantity")).alias("promo_qty")))
    joined = (s.join(promo_qty, s.s_suppkey == promo_qty.l_suppkey)
              .join(F.broadcast(n), s.s_nationkey == n.n_nationkey))
    # "above half the nation average" as a cross-multiplication — exact
    # decimal/integer arithmetic only (a double-summed average is
    # order-dependent and could flip boundary rows between engines)
    nat = (joined.groupBy(F.col("n_nationkey").alias("ank"))
           .agg(F.sum("promo_qty").alias("nation_total"),
                F.count(F.lit(1)).alias("nation_cnt")))
    return (joined.join(F.broadcast(nat), joined.n_nationkey == nat.ank)
            .filter(F.col("promo_qty") * 2 * F.col("nation_cnt")
                    > F.col("nation_total"))
            .select("s_suppkey", "s_name", "n_name",
                    F.col("promo_qty").cast("double").alias("promo_qty"))
            .orderBy("s_suppkey"))


ORACLE_Q20 = """
WITH promo AS (
  SELECT l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(28,6))) AS promo_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
  GROUP BY l_suppkey
), joined AS (
  SELECT s_suppkey, s_name, n_nationkey, n_name, promo_qty
  FROM supplier
  JOIN promo ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
), nat AS (
  SELECT n_nationkey AS ank,
         SUM(promo_qty) AS nation_total,
         COUNT(*) AS nation_cnt
  FROM joined GROUP BY n_nationkey
)
SELECT s_suppkey, s_name, n_name, CAST(promo_qty AS DOUBLE) AS promo_qty
FROM joined JOIN nat ON n_nationkey = ank
WHERE promo_qty * 2 * nation_cnt > nation_total
ORDER BY s_suppkey
"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each part in a size/type slice, the
    region-local supplier(s) offering the minimum cost (correlated scalar
    MIN subquery → per-part aggregate re-joined on equality). The fixture
    has no partsupp, so cost(part, supplier) = MIN(l_extendedprice) seen
    in lineitem — exact decimal, so the equality join is safe."""
    eu = (ld(spark, sf_dir, "supplier")
          .join(F.broadcast(ld(spark, sf_dir, "nation")),
                F.col("s_nationkey") == F.col("n_nationkey"))
          .join(F.broadcast(ld(spark, sf_dir, "region")
                            .filter(F.col("r_name") == "EUROPE")),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    p = ld(spark, sf_dir, "part").filter(
        (F.col("p_size") < 10) & (F.col("p_type") == "STANDARD")) \
        .select("p_partkey", "p_name")
    l = ld(spark, sf_dir, "lineitem")
    cost = (l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .join(F.broadcast(eu.select("s_suppkey")),
                  l.l_suppkey == F.col("s_suppkey"), "left_semi")
            .groupBy("l_partkey", "l_suppkey")
            .agg(F.min(F.col("l_extendedprice").cast(DEC)).alias("supplycost")))
    mc = (cost.groupBy(F.col("l_partkey").alias("mpk"))
          .agg(F.min("supplycost").alias("min_cost")))
    return (cost.join(F.broadcast(mc),
                      (cost.l_partkey == mc.mpk)
                      & (cost.supplycost == mc.min_cost))
            .join(F.broadcast(eu), cost.l_suppkey == eu.s_suppkey)
            .join(F.broadcast(p), cost.l_partkey == p.p_partkey)
            .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                    F.col("supplycost").cast("double").alias("supplycost"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"))


ORACLE_Q2 = """
WITH eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), pslice AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_size < 10 AND p_type = 'STANDARD'
), cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(28,6))) AS supplycost
  FROM lineitem
  JOIN pslice ON l_partkey = p_partkey
  WHERE l_suppkey IN (SELECT s_suppkey FROM eu)
  GROUP BY l_partkey, l_suppkey
), mc AS (
  SELECT l_partkey AS mpk, MIN(supplycost) AS min_cost
  FROM cost GROUP BY l_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(supplycost AS DOUBLE) AS supplycost
FROM cost
JOIN mc ON l_partkey = mpk AND supplycost = min_cost
JOIN eu ON l_suppkey = s_suppkey
JOIN pslice ON l_partkey = p_partkey
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_3's share of ECONOMY-part revenue sold to
    ASIA customers, by order year. Numerator and denominator are exact
    decimal sums; the final share is one double division of
    bitwise-identical operands, so it is engine-portable."""
    asia_cust = (ld(spark, sf_dir, "customer")
                 .join(F.broadcast(ld(spark, sf_dir, "nation")),
                       F.col("c_nationkey") == F.col("n_nationkey"))
                 .join(F.broadcast(ld(spark, sf_dir, "region")
                                   .filter(F.col("r_name") == "ASIA")),
                       F.col("n_regionkey") == F.col("r_regionkey"))
                 .select("c_custkey"))
    supp_nat = (ld(spark, sf_dir, "supplier")
                .join(F.broadcast(ld(spark, sf_dir, "nation").select(
                    F.col("n_nationkey").alias("snk"),
                    F.col("n_name").alias("supp_nation"))),
                      F.col("s_nationkey") == F.col("snk"))
                .select("s_suppkey", "supp_nation"))
    p = ld(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY") \
        .select("p_partkey")
    o = ld(spark, sf_dir, "orders", fanout=False)
    l = ld(spark, sf_dir, "lineitem", fanout=False)
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(F.broadcast(p), l.l_partkey == p.p_partkey)
            .join(F.broadcast(asia_cust), o.o_custkey == F.col("c_custkey"),
                  "left_semi")
            .join(F.broadcast(supp_nat), l.l_suppkey == F.col("s_suppkey"))
            .groupBy(F.year("o_orderdate").alias("o_year"))
            .agg(F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)
                       .otherwise(F.lit(0).cast(DEC))).alias("nation_volume"),
                 F.sum(vol).alias("total_volume"))
            .withColumn("mkt_share",
                        F.col("nation_volume").cast("double")
                        / F.col("total_volume").cast("double"))
            .select("o_year",
                    F.col("nation_volume").cast("double")
                    .alias("nation_volume"),
                    F.col("total_volume").cast("double").alias("total_volume"),
                    "mkt_share")
            .orderBy("o_year"))


ORACLE_Q8 = """
SELECT EXTRACT(year FROM o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE) AS nation_volume,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
            AS DOUBLE) AS total_volume,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))
                ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
              AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY'
  AND o_custkey IN (
    SELECT c_custkey FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA')
GROUP BY o_year
ORDER BY o_year
"""


def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part shipped value from one nation's
    suppliers, kept only when above a fraction of the nation's total — a
    scalar global aggregate broadcast back over the per-part aggregate
    (HAVING against a subquery total). Threshold compare is done in
    doubles derived from identical exact decimals on both engines."""
    supp = (ld(spark, sf_dir, "supplier")
            .join(F.broadcast(ld(spark, sf_dir, "nation")
                              .filter(F.col("n_name") == "NATION_1")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey"))
    l = ld(spark, sf_dir, "lineitem")
    val = (l.join(F.broadcast(supp), l.l_suppkey == F.col("s_suppkey"),
                  "left_semi")
           .groupBy(F.col("l_partkey").alias("partkey"))
           .agg(_dsum(F.col("l_extendedprice")).alias("value")))
    total = val.agg(F.sum("value").alias("grand_total"))
    return (val.join(F.broadcast(total))
            .filter(F.col("value").cast("double") * 600
                    > F.col("grand_total").cast("double"))
            .select("partkey", F.col("value").cast("double").alias("value"))
            .orderBy(F.desc("value"), "partkey"))


ORACLE_Q11 = """
WITH val AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS value
  FROM lineitem
  WHERE l_suppkey IN (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1')
  GROUP BY l_partkey
)
SELECT partkey, CAST(value AS DOUBLE) AS value
FROM val
WHERE CAST(value AS DOUBLE) * 600 > (SELECT CAST(SUM(value) AS DOUBLE) FROM val)
ORDER BY val.value DESC, partkey
"""


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers whose line was the *only* late one in a
    finalized multi-supplier order. EXISTS → left-semi on other-supplier
    lines; NOT EXISTS → left-anti on other-supplier *late* lines. "Late"
    is adapted to the slimmed schema (no commit/receipt dates):
    l_shipdate > o_orderdate + 90 days."""
    o = ld(spark, sf_dir, "orders", fanout=False) \
        .filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey", "o_orderdate")
    l = ld(spark, sf_dir, "lineitem", fanout=False).select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    late = (l.join(o, l.l_orderkey == o.o_orderkey)
            .filter(F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
            .select("l_orderkey", "l_suppkey"))
    others = l.select(F.col("l_orderkey").alias("ok2"),
                      F.col("l_suppkey").alias("sk2"))
    late_others = late.select(F.col("l_orderkey").alias("ok3"),
                              F.col("l_suppkey").alias("sk3"))
    lone_late = (late
                 .join(others, (late.l_orderkey == others.ok2)
                       & (late.l_suppkey != others.sk2), "left_semi")
                 .join(late_others, (late.l_orderkey == late_others.ok3)
                       & (late.l_suppkey != late_others.sk3), "left_anti"))
    s = ld(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (lone_late.join(F.broadcast(s),
                           lone_late.l_suppkey == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name"))


ORACLE_Q21 = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND l_shipdate > o_orderdate + INTERVAL 90 DAY
)
SELECT s_name, COUNT(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


def window_range_frame(spark, sf_dir):
    """RANGE frame (value-based, not row-based): for each order, how many
    of the customer's orders fall within ±1000 of its total price, and
    their summed price. RANGE frames dedupe-tie semantics differ from ROWS
    — this pins them cross-engine."""
    o = ld(spark, sf_dir, "orders", fanout=False).filter(
        F.col("o_custkey") < 200)
    w = (Window.partitionBy("o_custkey").orderBy("o_totalprice")
         .rangeBetween(-1000, 1000))
    return (o.select(
        "o_orderkey", "o_custkey",
        F.count(F.lit(1)).over(w).alias("near_price_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double")
        .alias("near_price_sum"))
        .orderBy("o_orderkey"))


ORACLE_WINDOW_RANGE_FRAME = """
SELECT o_orderkey, o_custkey,
       COUNT(*) OVER w AS near_price_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE)
         AS near_price_sum
FROM orders WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
ORDER BY o_orderkey
"""


def scalar_null_semantics(spark, sf_dir) -> DataFrame:
    """Three-valued-logic battery: the NOT IN vs NOT EXISTS vs ANTI JOIN
    divergence every SQL migration trips over. A NULL in the NOT IN
    subquery makes the predicate UNKNOWN for every probe row (zero rows
    survive); NOT EXISTS and LEFT ANTI use equality matching and keep
    the non-matching rows. The battery materializes all three counts —
    plus the null-safe distinct-from variant — over the same
    deliberately NULL-poisoned key set (NULLIF injects the NULL), so
    the row counts PROVE the semantic contract instead of documenting
    it. Exact integer counts; joins are AQE-sized equi/anti joins.

    Reference relevance: DB2 and Spark agree on standard 3VL, so a
    migrated workload's NOT IN behavior must survive bit-for-bit — this
    is the regression canary for that.
    """
    from .relational import ld

    o = ld(spark, sf_dir, "orders")
    c = ld(spark, sf_dir, "customer")
    o.createOrReplaceTempView("o_3vl")
    # keys 0..49, with key 3 poisoned to NULL
    c.filter("c_custkey < 50").select(
        F.expr("NULLIF(c_custkey, 3)").alias("k")
    ).createOrReplaceTempView("k_3vl")
    return spark.sql("""
        SELECT
          (SELECT COUNT(*) FROM o_3vl) AS n_orders,
          (SELECT COUNT(*) FROM k_3vl WHERE k IS NULL) AS n_null_keys,
          (SELECT COUNT(*) FROM o_3vl
            WHERE o_custkey NOT IN (SELECT k FROM k_3vl)) AS not_in_count,
          (SELECT COUNT(*) FROM o_3vl t
            WHERE NOT EXISTS (SELECT 1 FROM k_3vl s
                              WHERE s.k = t.o_custkey))
            AS not_exists_count,
          (SELECT COUNT(*) FROM o_3vl t LEFT ANTI JOIN k_3vl s
             ON s.k = t.o_custkey) AS anti_join_count,
          (SELECT COUNT(*) FROM o_3vl
            WHERE o_custkey IN (SELECT k FROM k_3vl)) AS in_count
    """)


ORACLE_NULL_SEMANTICS = """
WITH k_3vl AS (
  SELECT NULLIF(c_custkey, 3) AS k FROM customer WHERE c_custkey < 50)
SELECT
  (SELECT COUNT(*) FROM orders) AS n_orders,
  (SELECT COUNT(*) FROM k_3vl WHERE k IS NULL) AS n_null_keys,
  (SELECT COUNT(*) FROM orders
    WHERE o_custkey NOT IN (SELECT k FROM k_3vl)) AS not_in_count,
  (SELECT COUNT(*) FROM orders t
    WHERE NOT EXISTS (SELECT 1 FROM k_3vl s
                      WHERE s.k = t.o_custkey)) AS not_exists_count,
  (SELECT COUNT(*) FROM orders t
    WHERE NOT EXISTS (SELECT 1 FROM k_3vl s
                      WHERE s.k = t.o_custkey)) AS anti_join_count,
  (SELECT COUNT(*) FROM orders
    WHERE o_custkey IN (SELECT k FROM k_3vl)) AS in_count
"""


def sql_pipe_syntax_battery(spark, sf_dir) -> DataFrame:
    """Spark 4.1 SQL pipe syntax (``|>``) — the linear query-flow dialect
    (SQL-pipes paper / GoogleSQL "pipe query syntax") the engine parses
    natively: each ``|>`` stage names ONE relational operator in reading
    order instead of the inside-out SELECT nesting. The battery chains
    FROM |> WHERE |> EXTEND (pre-agg derivation) |> AGGREGATE … GROUP BY
    |> EXTEND (post-agg derivation) |> SELECT |> ORDER BY over lineitem
    with q1's decimal sum protocol; the oracle is the IDENTICAL classic
    SQL, proving the pipe operators compile to the same semantics —
    pipes are parser sugar, the logical plan (and every pushdown) is
    unchanged, zero runtime cost."""
    from .relational import ld

    ld(spark, sf_dir, "lineitem").createOrReplaceTempView("pipe_lineitem_v")
    return spark.sql("""
        FROM pipe_lineitem_v
        |> WHERE l_shipdate <= '1998-09-02'
        |> EXTEND CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(28,6)) AS disc_price
        |> AGGREGATE COUNT(*) AS n_rows,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(28,6)))
                          AS DOUBLE) AS sum_qty,
                     CAST(SUM(disc_price) AS DOUBLE) AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> EXTEND revenue / n_rows AS avg_revenue
        |> SELECT l_returnflag, l_linestatus, n_rows, sum_qty,
                  revenue, avg_revenue
        |> ORDER BY l_returnflag, l_linestatus
    """)


ORACLE_SQL_PIPE = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
         AS avg_revenue
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
