"""OLAP completeness pack II: the seven TPC-H query shapes the round-2
pack left out (Q8, Q9, Q11, Q15, Q16, Q20, Q21), adapted to the fixture
star schema (which has no ``partsupp`` table — `lineitem` plays the
part-supplier quote role, the same adaptation `analytics_queries.q2`
established).

With these, all 22 classic TPC-H shapes have a gate query: the engine a
reference user switches to can run the full standard OLAP suite, not
just the subset the reference's own workloads happened to need
(SURVEY §2.3/§2.4).

Shapes covered here and why they are distinct plan work:
- Q8  market share — conditional-sum / total-sum ratio over a 7-way
  join where one dim (nation) joins under two roles.
- Q9  profit by nation×year — measure built from columns of THREE
  tables (lineitem price, part retail cost), aggregated post-join.
- Q11 important parts — scalar-subquery HAVING: a grand total compared
  against per-group sums (broadcast one row, never a global window).
- Q15 top supplier — argmax against a scalar max of an aggregate.
- Q16 supplier counts — NOT-IN decorrelated to a broadcast anti-join
  under a count-distinct aggregate.
- Q20 promotion candidates — two-level nested aggregate feeding a
  semi-join chain (the EXISTS(EXISTS(...)) decorrelation).
- Q21 waiting suppliers — EXISTS + NOT-EXISTS self-correlation on the
  fact table, re-expressed as one per-order aggregate joined back
  (one pass over lineitem instead of three correlated scans).

All money math follows the repo-wide DECIMAL(18,2)-then-DOUBLE
convention (`functions/money.py`); ratio outputs divide two exact
decimal sums only after both are cast to DOUBLE, so Spark and DuckDB
perform the identical IEEE division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.money import dec2, disc_price
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import load_table

_DEC_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)


# --- Q8: national market share ------------------------------------------

def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of PROMO-part revenue delivered by NATION_1 suppliers to
    EUROPE customers, per order year.  Nation joins under two roles
    (supplier side for the share numerator, customer side for the
    market restriction) — both broadcast; region broadcast above the
    customer-nation join; part broadcast into the lineitem scan.  The
    only fact-sized shuffle is lineitem⋈orders.  Numerator and
    denominator are exact decimal sums of the same rows — one aggregate
    computes both (no second pass / no self-join), then one IEEE
    division per year row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_supp = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n_cust = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_rkey")
    )
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    vol = disc_price()
    return (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("c_rkey") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(
                F.lit(0).cast("decimal(18,2)"))).alias("_nat"),
            F.sum(vol).alias("_tot"),
        )
        .select(
            "o_year",
            (F.col("_nat").cast("double") / F.col("_tot").cast("double")).alias("mkt_share"),
            F.col("_tot").cast("double").alias("total_volume"),
        )
    )


Q8_ORACLE = f"""
SELECT year(o_orderdate) AS o_year,
       CAST(sum(CASE WHEN ns.n_name = 'NATION_1' THEN {_DEC_REV}
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(sum({_DEC_REV}) AS DOUBLE) AS mkt_share,
       CAST(sum({_DEC_REV}) AS DOUBLE) AS total_volume
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region   ON nc.n_regionkey = r_regionkey AND r_name = 'EUROPE'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# --- Q9: product-type profit by nation and year -------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin over retail for 'red' parts, by supplier nation × order
    year.  The measure mixes columns of three tables
    (l_extendedprice/l_discount, p_retailprice, l_quantity) so it can
    only be built above the joins — but every term stays exact decimal
    until the final cast, and Catalyst prunes part to
    (p_partkey, p_name, p_retailprice) at the scan.  The fixture has no
    ps_supplycost; retail price plays the unit-cost role (adapted shape,
    same plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = disc_price() - dec2("p_retailprice") * dec2("l_quantity")
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


Q9_ORACLE = f"""
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       CAST(sum({_DEC_REV}
                - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))
           ) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


# --- Q11: important parts (scalar-subquery HAVING) ----------------------

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose EUROPE-supplied revenue exceeds 0.1% of the total:
    the classic scalar-subquery-in-HAVING.  The grand total is the sum
    of the per-part sums — computed FROM the per-part aggregate (no
    second scan of lineitem), broadcast as one row, compared in exact
    decimal so the threshold cannot ulp-flip.  At 100 TB the fact scan
    happens once; everything above it is group-sized."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(eu_supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(disc_price()).alias("_val"))
    )
    total = per_part.agg(F.sum("_val").alias("_tot"))
    thresh = F.col("_tot") * F.lit("0.001").cast("decimal(18,3)")
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("_val") > thresh)
        .select("l_partkey", F.col("_val").cast("double").alias("part_value"))
    )


Q11_ORACLE = f"""
WITH per_part AS (
  SELECT l_partkey, sum({_DEC_REV}) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
  GROUP BY 1)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM per_part
WHERE val > (SELECT sum(val) FROM per_part) * CAST('0.001' AS DECIMAL(18,3))
"""


# --- Q15: top supplier (argmax vs scalar max of an aggregate) -----------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum Q1-1997 revenue.  The revenue view
    aggregates once; the scalar max comes from the SAME aggregate
    (Spark reuses the exchange — asserted pattern in
    test_plan_quality), broadcast as one row, equality-compared in
    exact decimal so ties are exact, not epsilon."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(F.sum(disc_price()).alias("_rev"))
    max_rev = revenue.agg(F.max("_rev").alias("_max"))
    return (
        revenue.join(F.broadcast(max_rev))
        .where(F.col("_rev") == F.col("_max"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.col("_rev").cast("double").alias("total_revenue"),
        )
    )


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey, sum({_DEC_REV}) AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY 1)
SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT max(rev) FROM revenue)
"""


# --- Q16: supplier counts by part attributes (NOT IN anti-join) ---------

def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) for a part slice,
    excluding 'complaint' suppliers (negative balance) — the NOT-IN
    subquery decorrelated to a broadcast LEFT ANTI join (null-safe by
    construction: the exclusion list has no nulls, so anti-join ≡
    NOT IN).  The supplier link comes from lineitem (the fixture's
    partsupp); count-distinct dedups (part,supplier) pairs map-side
    before the final shuffle on the 3-part group key."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


# --- Q20: promotion candidates (nested agg + semi-join chain) -----------

def q20_promotion_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than half of any 'small' part's 1997
    volume — Q20's EXISTS(correlated-agg) nest decorrelated: per-
    (supplier, part) quantities and per-part totals both derive from
    ONE aggregate (the finer one re-aggregates, no second lineitem
    scan), the >50% filter runs in exact decimal, and the surviving
    supplier keys semi-join back to the supplier dim.  distinct() on
    winners guards suppliers dominating several parts."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    supp = load_table(spark, sf_dir, "supplier")
    per_sp = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec2("l_quantity")).alias("_sq"))
    )
    per_part = per_sp.groupBy("l_partkey").agg(F.sum("_sq").alias("_pq"))
    winners = (
        per_sp.join(per_part, on="l_partkey")
        .where(F.col("_sq") * F.lit(2).cast("decimal(18,2)") > F.col("_pq"))
        .select("l_suppkey")
        .distinct()
    )
    return supp.join(winners, supp.s_suppkey == winners.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


Q20_ORACLE = """
WITH per_sp AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'small%'
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2),
per_part AS (SELECT l_partkey, sum(sq) AS pq FROM per_sp GROUP BY 1)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM per_sp JOIN per_part USING (l_partkey)
  WHERE sq * CAST(2 AS DECIMAL(18,2)) > pq)
"""


# --- Q21: suppliers who kept orders waiting (EXISTS + NOT EXISTS) -------

def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_1 suppliers solely responsible for lateness on finished
    multi-supplier orders.  TPC-H phrases this as EXISTS (another
    supplier's line) AND NOT EXISTS (another supplier's LATE line) —
    three correlated scans of lineitem.  Re-expressed Spark-first as
    ONE per-order aggregate (distinct suppliers, distinct late
    suppliers) joined back to the candidate late lines: a supplier is
    solely responsible iff the order has ≥2 suppliers and exactly 1
    late one (which must be the candidate, who is late by
    construction).  Late uses the repo-wide cross-fact rule
    (l_shipdate > o_orderdate + 60 days, as q12).  One lineitem
    shuffle on orderkey serves both the aggregate and the join —
    lineitem moves once, not three times."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_1")
    lines = li.join(orders.select("o_orderkey", "o_orderdate"),
                    li.l_orderkey == F.col("o_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    stats = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("_n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("_n_late"),
    )
    candidates = (
        lines.where(late)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("l_orderkey", "s_name")
        .distinct()
    )
    return (
        candidates.join(stats, on="l_orderkey")
        .where((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q21_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM (
  SELECT DISTINCT l1.l_orderkey, s_name
  FROM lineitem l1
  JOIN orders   ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
  JOIN supplier ON l1.l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey AND n_name = 'NATION_1'
  WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
    AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
) q
GROUP BY s_name
"""


SPECS = [
    QuerySpec("q8_national_market_share", q8_national_market_share, Q8_ORACLE, "Q8 share-of-total ratio"),
    QuerySpec("q9_product_profit", q9_product_profit, Q9_ORACLE, "Q9 3-table measure"),
    QuerySpec("q11_important_parts", q11_important_parts, Q11_ORACLE, "Q11 scalar HAVING"),
    QuerySpec("q15_top_supplier", q15_top_supplier, Q15_ORACLE, "Q15 argmax vs scalar max"),
    QuerySpec("q16_supplier_part_counts", q16_supplier_part_counts, Q16_ORACLE, "Q16 NOT-IN anti-join"),
    QuerySpec("q20_promotion_candidates", q20_promotion_candidates, Q20_ORACLE, "Q20 nested-agg semi-join"),
    QuerySpec("q21_waiting_suppliers", q21_waiting_suppliers, Q21_ORACLE, "Q21 EXISTS/NOT-EXISTS fold"),
]
