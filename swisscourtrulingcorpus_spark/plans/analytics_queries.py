"""Multi-way join analytics (TPC-H Q3/Q5/Q18 shapes) + fold-masking.

These queries exercise the join topologies that dominate cost at 100 TB:
fact ⋈ fact on a shared key (lineitem ⋈ orders on orderkey), long dim
chains, and aggregate-then-join-back.  The reference never joins two
big tables directly (its Postgres schema keeps facts star-shaped around
`decision`; see `scrc/utils/sql_select_utils.py:260-323`), but the
dataset creators' section/citation attachment is exactly an
orders⋈lineitem-shaped 1:N fact join once re-expressed relationally —
so these are the scale-up path of SURVEY §2.3 J2/J5.

Physical strategy notes (local[32] now, 1000 executors later):
- lineitem ⋈ orders: both sides shuffle on orderkey into a sort-merge
  join; AQE handles skew splitting.  With the bucketed-table path
  (`sources/bucketing.py`) the same join is shuffle-free.
- dims (nation/region/supplier) broadcast — never shuffled.
- customer is mid-sized: left to AQE, which broadcasts it below the
  threshold and shuffles it above (exactly the right behavior at both
  test scale and cluster scale).
- Aggregates sit ABOVE the join but Catalyst pushes the group-key
  projection down, so only join keys + agg inputs move in the shuffle.
- Money math in DECIMAL(18,2) until the final cast (engine-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.money import (
    disc_price,
    disc_price_sql,
)
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import catalog_sql, load_table

_revenue = disc_price
_revenue_sql = disc_price_sql


# --- Q3 shape: segment-filtered fact-fact join, top-10 by revenue -------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem with date predicates on both fact
    scans (pushdown), revenue agg per order, deterministic top-10
    (revenue DESC, then orderkey — the tiebreak makes the LIMIT set
    engine-independent).

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT l_orderkey, date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
       o_orderpriority, revenue
FROM (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         cast(sum({_revenue_sql()}) as double) AS revenue
  FROM (SELECT * FROM {view('lineitem')} WHERE l_shipdate > '1998-07-01')
  JOIN (SELECT * FROM {view('orders')} WHERE o_orderdate < '1998-07-01')
    ON l_orderkey = o_orderkey
  JOIN (SELECT * FROM {view('customer')} WHERE c_mktsegment = 'BUILDING')
    ON o_custkey = c_custkey
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    )


Q3_ORACLE = """
SELECT
  l_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  o_orderpriority,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- Q5 shape: 6-way join with a co-nationality predicate ---------------

def q5_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier with
    the classic c_nationkey = s_nationkey local-supplier condition.
    Two fact tables meet on orderkey (SMJ); region/nation broadcast.
    supplier scales with the corpus, so it gets no hint: AQE
    runtime-broadcasts it while small and shuffles it when it isn't.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT /*+ BROADCAST(n), BROADCAST(r) */
       r_name, n_name, cast(sum({_revenue_sql()}) as double) AS revenue
FROM {view('lineitem')}
JOIN (SELECT * FROM {view('orders')}
      WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1999-01-01')
  ON l_orderkey = o_orderkey
JOIN {view('customer')} ON o_custkey = c_custkey
JOIN {view('supplier')} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN {view('nation')} n ON s_nationkey = n_nationkey
JOIN {view('region')} r ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
    )


Q5_ORACLE = """
SELECT
  r_name,
  n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY r_name, n_name
"""


# --- Q18 shape: aggregate-filter then join back -------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold: groupBy lineitem
    first (map-side partial agg shrinks the shuffle to one row per
    order), HAVING-filter, then join the survivors back to orders ⋈
    customer.  The agg-before-join ordering is the load-bearing scale
    decision — joining first would move every lineitem row through the
    customer join.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT c_name, c_custkey, o_orderkey,
       date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
       o_totalprice AS totalprice,
       cast(sum_qty as double) AS sum_qty
FROM (
  SELECT * FROM (
    SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM {view('lineitem')}
    GROUP BY l_orderkey
  ) WHERE sum_qty > 300
)
JOIN {view('orders')} ON l_orderkey = o_orderkey
JOIN {view('customer')} ON o_custkey = c_custkey
""",
    )


Q18_ORACLE = """
SELECT
  c_name,
  c_custkey,
  o_orderkey,
  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
  o_totalprice AS totalprice,
  CAST(sum_qty AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# --- F11: citation masking as an aggregate fold -------------------------

_MASK_TOKENS = ["scan", "join", "hash"]


def mask_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 citation masking (`doc2doc_ir_dataset_creator.py:182-198`)
    in its relational form: fold an array of citation strings over the
    text with ``aggregate(...)``, replacing each occurrence with a mask
    token — the exact shape used for <ref-law>/<ref-ruling> masking,
    here with a fixed token list over the synthetic corpus.  Pure
    map-side expression (no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    cites = F.array(*[F.lit(t) for t in _MASK_TOKENS])
    # Bind the fold to a real column first: referenced twice below
    # (masked_text + n_masked), an inline expression would run the
    # whole-text triple replace twice per row.
    masked = docs.select(
        "doc_id",
        F.aggregate(
            cites,
            F.col("text"),
            lambda acc, c: F.replace(acc, c, F.lit("<ref>")),
        ).alias("masked_text"),
    )
    return masked.select(
        "doc_id",
        "masked_text",
        (
            F.size(F.split("masked_text", "<ref>", -1)) - F.lit(1)
        ).alias("n_masked"),
    )


MASK_ORACLE = """
SELECT
  doc_id,
  replace(replace(replace(text, 'scan', '<ref>'), 'join', '<ref>'), 'hash', '<ref>') AS masked_text,
  len(string_split(replace(replace(replace(text, 'scan', '<ref>'), 'join', '<ref>'), 'hash', '<ref>'), '<ref>')) - 1 AS n_masked
FROM documents
"""


# --- Q4 shape: EXISTS semi-join between two fact tables -----------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one line shipped after the order date,
    counted per priority — an EXISTS against another FACT table
    (`left_semi`), not a dim.  The semi-join shuffles both facts on
    orderkey but moves only the join key + predicate columns (Catalyst
    prunes the rest), and emits each order at most once — no fan-out,
    no post-join dedup.  Complements `semi_join_membership` (P2), whose
    semi-join chain runs against broadcast dims."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


# --- Q14 shape: conditional aggregate over a part-dim join --------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share per month: lineitem ⋈ part (mid-size dim —
    broadcast under the threshold, shuffle above; left to AQE), then a
    conditional sum (`CASE WHEN p_type = 'PROMO'`) over exact decimal
    revenue.  The ratio divides two exact decimal sums cast to double
    in the SAME order on both engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1998-01-01"))
        & (F.col("l_shipdate") < F.lit("1999-01-01"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
        )
    )


Q14_ORACLE = """
SELECT
  strftime(l_shipdate, '%Y-%m') AS ship_month,
  CAST(sum(CASE WHEN p_type = 'PROMO'
           THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
           THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY strftime(l_shipdate, '%Y-%m')
"""


# --- F15: regeste-style 3-way split (choose the shorter header) ---------

def regeste_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 regeste split (`regeste_dataset_creator.py:28-76`): split the
    text at the FIRST of two candidate markers and keep the variant
    with the shorter leading segment — the reference's disambiguation
    rule when both `Sachverhalt` and `Erwägungen` occur.  Here the
    synthetic corpus uses 'value' / 'table' as the marker pair.  Docs
    where neither marker occurs are dropped (reference drops empty
    regeste).  All built-ins; oracle via DuckDB split_part."""
    docs = load_table(spark, sf_dir, "documents")
    ha = F.substring_index("text", "value", 1)
    hb = F.substring_index("text", "table", 1)
    split_ = docs.select(
        "doc_id",
        F.col("text"),
        ha.alias("__ha"),
        hb.alias("__hb"),
    ).select(
        "doc_id",
        F.when(F.length("__ha") <= F.length("__hb"), F.lit("value"))
        .otherwise(F.lit("table"))
        .alias("marker"),
        F.when(F.length("__ha") <= F.length("__hb"), F.col("__ha"))
        .otherwise(F.col("__hb"))
        .alias("header"),
        (
            F.length("text")
            - F.least(F.length("__ha"), F.length("__hb"))
        ).alias("rest_len"),
    )
    return split_.where(F.col("rest_len") > 0)


REGESTE_SPLIT_ORACLE = """
WITH s AS (
  SELECT
    doc_id,
    text,
    split_part(text, 'value', 1) AS ha,
    split_part(text, 'table', 1) AS hb
  FROM documents
)
SELECT
  doc_id,
  CASE WHEN len(ha) <= len(hb) THEN 'value' ELSE 'table' END AS marker,
  CASE WHEN len(ha) <= len(hb) THEN ha ELSE hb END AS header,
  len(text) - least(len(ha), len(hb)) AS rest_len
FROM s
WHERE len(text) - least(len(ha), len(hb)) > 0
"""


# --- Range join: bucketed interval containment --------------------------

def range_join_first_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events (any user's) falling inside the 2-hour window that opens
    at each early user's FIRST event — a pure interval-containment join
    with NO equi key, executed as `operators.relational.
    bucketed_range_join` (equi-join on 1-hour time buckets + residual
    filter) instead of the nested-loop fallback.  Output: per window
    owner, how many events and distinct users landed in their window."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        bucketed_range_join,
    )

    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us

    ev = load_table(spark, sf_dir, "events")
    points = ev.select("event_id", "user_id", epoch_us("ts").alias("p"))
    two_hours = 2 * 3600 * 1_000_000
    intervals = (
        ev.where(F.col("user_id") < 50)
        .groupBy(F.col("user_id").alias("owner_id"))
        .agg(F.min(epoch_us("ts")).alias("lo"))
        .withColumn("hi", F.col("lo") + F.lit(two_hours))
    )
    pairs = bucketed_range_join(
        points, intervals, "p", "lo", "hi", bucket_width=3600 * 1_000_000
    )
    return pairs.groupBy("owner_id").agg(
        F.count(F.lit(1)).alias("n_events_in_window"),
        F.countDistinct("user_id").alias("n_users_in_window"),
    )


RANGE_JOIN_ORACLE = """
WITH intervals AS (
  SELECT user_id AS owner_id,
         min(epoch_us(ts)) AS lo,
         min(epoch_us(ts)) + CAST(7200 AS BIGINT)*1000000 AS hi
  FROM events WHERE user_id < 50 GROUP BY user_id),
points AS (SELECT event_id, user_id, epoch_us(ts) AS p FROM events)
SELECT owner_id,
       count(*) AS n_events_in_window,
       count(DISTINCT user_id) AS n_users_in_window
FROM points JOIN intervals ON p >= lo AND p <= hi
GROUP BY owner_id
"""


# --- Q2 shape: correlated scalar subquery (argmin per group) ------------

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape: for each large part, the supplier quoting the
    MINIMUM unit price — the correlated scalar subquery
    (``price = (SELECT min(price) WHERE partkey = outer.partkey)``)
    decorrelated the way Catalyst would: a per-key min aggregate joined
    back on the same key.  The reference's closest analogue is the
    best-match snap of J6 (`dataset_creator.py:277-284`), which is the
    same argmin-per-group shape.

    Plan: the part restriction joins BELOW the argmin, so the aggregate
    runs only on qualifying parts' quotes.  The min branch partial-
    aggregates map-side and exchanges one row per (partition, partkey);
    the probe branch is the only fact-sized shuffle — lineitem moves
    once, the part join broadcasts (AQE) at test scale and shuffles
    above the threshold.  Supplier resolves after the argmin so only
    winners join.  Unit
    price is IEEE double division of the same source doubles in both
    engines, so min() and the equality back-join see identical bit
    patterns (decimal division would NOT parity — Spark and DuckDB
    assign different result scales).
    """
    part = load_table(spark, sf_dir, "part").where(F.col("p_size") >= 45)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    quotes = li.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    ).join(
        part.select("p_partkey", "p_name"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    min_price = quotes.groupBy("l_partkey").agg(
        F.min("unit_price").alias("min_price")
    )
    winners = (
        quotes.join(min_price, on="l_partkey")
        .where(F.col("unit_price") == F.col("min_price"))
        .groupBy("l_partkey", "p_partkey", "p_name")
        .agg(
            F.min("l_suppkey").alias("s_suppkey"),  # deterministic tie-break
            F.min("min_price").alias("min_unit_price"),
        )
    )
    return winners.join(supp, on="s_suppkey").select(
        "p_partkey", "p_name", "s_suppkey", "s_name", "min_unit_price"
    )


Q2_ORACLE = """
WITH quotes AS (
  SELECT l_partkey, l_suppkey, p_partkey, p_name,
         l_extendedprice / l_quantity AS unit_price
  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_size >= 45),
mins AS (
  SELECT l_partkey, min(unit_price) AS min_price FROM quotes GROUP BY 1),
winners AS (
  SELECT q.p_partkey, q.p_name,
         min(q.l_suppkey) AS s_suppkey,
         min(m.min_price) AS min_unit_price
  FROM quotes q JOIN mins m
    ON q.l_partkey = m.l_partkey AND q.unit_price = m.min_price
  GROUP BY 1, 2)
SELECT w.p_partkey, w.p_name, w.s_suppkey, s.s_name, w.min_unit_price
FROM winners w JOIN supplier s USING (s_suppkey)
"""


SPECS = [
    QuerySpec("q2_min_cost_supplier", q2_min_cost_supplier, Q2_ORACLE, "correlated-subquery argmin"),
    QuerySpec("q3_shipping_priority", q3_shipping_priority, Q3_ORACLE, "fact-fact join + top-k"),
    QuerySpec("q5_supplier_volume", q5_supplier_volume, Q5_ORACLE, "6-way join"),
    QuerySpec("q18_large_orders", q18_large_orders, Q18_ORACLE, "agg-filter join-back"),
    QuerySpec("q14_promo_revenue", q14_promo_revenue, Q14_ORACLE, "conditional agg over dim join"),
    QuerySpec("q4_order_priority", q4_order_priority, Q4_ORACLE, "fact-fact EXISTS semi-join"),
    QuerySpec("range_join_first_window", range_join_first_window, RANGE_JOIN_ORACLE, "bucketed range join"),
    QuerySpec("mask_tokens_documents", mask_tokens_documents, MASK_ORACLE, "F11 masking fold"),
    QuerySpec("regeste_split_documents", regeste_split_documents, REGESTE_SPLIT_ORACLE, "F15 3-way split"),
]
