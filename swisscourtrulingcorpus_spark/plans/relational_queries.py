"""Relational operator queries (SURVEY.md §2.2–2.6) over the star schema.

Each query exercises one operator family from the SURVEY §2 inventory,
re-expressed Spark-first, with a value-identical DuckDB oracle.

Scale notes (these run at sf0.1 locally but are written for 100 TB):
- dims (region/nation/customer/part/supplier) broadcast; the fact
  tables (lineitem/orders) shuffle at most once per query;
- all filters are plain column predicates -> parquet pushdown
  (verified via .explain in tests/test_plans.py);
- money arithmetic is DECIMAL(18,2) end-to-end (exact partial
  aggregation, engine-independent) and converts to DOUBLE only after
  the final merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.operators.relational import (
    date_stratified_split,
    value_counts_with_pct,
)
from swisscourtrulingcorpus_spark.functions.money import dec2 as _dec
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import catalog_sql, load_table


# --- A1/P1: pricing summary (TPC-H Q1 shape: scan+filter+agg) ----------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship aggregation: grouped sums/avgs with a pushed-down scan
    filter (reference analogue: the coverage/count queries of
    `scrc/utils/sql_select_utils.py:29-68`).  No round() in the
    averages: Spark round (BigDecimal HALF_UP) and DuckDB round disagree
    in the last place; both engines compute the SAME double expression.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.functions import money

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT l_returnflag, l_linestatus,
  cast(sum(l_quantity) as double) AS sum_qty,
  cast(sum({money.dec2_sql('l_extendedprice')}) as double) AS sum_base_price,
  cast(sum({money.disc_price_sql()}) as double) AS sum_disc_price,
  cast(sum({money.charge_sql()}) as double) AS sum_charge,
  sum(l_quantity) / count(1) AS avg_qty,
  cast(sum({money.dec2_sql('l_extendedprice')}) as double) / count(1) AS avg_price,
  count(1) AS count_order
FROM {view('lineitem')}
WHERE l_shipdate <= '2000-12-01'
GROUP BY l_returnflag, l_linestatus
""",
    )


Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  sum(l_quantity) / count(*) AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


# --- J1/J10/A1: flagship multi-join coverage query ----------------------

def coverage_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's flagship: the reference's judgment-coverage query
    (`sql_select_utils.py:51-68` — decision ⋈ chamber ⋈ spider ⋈
    judgment_map → countDistinct) re-shaped onto orders ⋈ customer ⋈
    nation ⋈ region.  Dims broadcast; orders shuffles once for the agg.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.functions import money

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT /*+ BROADCAST(c), BROADCAST(n), BROADCAST(r) */
  r_name,
  count(DISTINCT o_custkey) AS n_customers,
  count(1) AS n_orders,
  cast(sum({money.dec2_sql('o_totalprice')}) as double) AS total_value
FROM {view('orders')}
JOIN {view('customer')} c ON o_custkey = c_custkey
JOIN {view('nation')} n ON c_nationkey = n_nationkey
JOIN {view('region')} r ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    )


COVERAGE_ORACLE = """
SELECT
  r_name,
  count(DISTINCT o_custkey) AS n_customers,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- J2: map_join — collapse child rows to one value per parent --------

def map_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core denormalization (`sql_select_utils.py:240-257`
    json_agg per decision): lineitems collapsed to a deterministic
    sorted string per order.  Aggregate-before-join: the join's right
    side is one row per orderkey.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT o_orderkey, o_orderstatus, coalesce(items, '') AS items
FROM (SELECT o_orderkey, o_orderstatus FROM {view('orders')})
LEFT JOIN (
  SELECT o_orderkey, concat_ws(',', sort_array(collect_list(__item))) AS items
  FROM (
    SELECT l_orderkey AS o_orderkey,
           concat_ws(':', cast(l_linenumber as string),
                     cast(l_partkey as string)) AS __item
    FROM {view('lineitem')}
  )
  GROUP BY o_orderkey
) USING (o_orderkey)
""",
    )


MAP_JOIN_ORACLE = """
SELECT
  o.o_orderkey,
  o.o_orderstatus,
  coalesce(agg.items, '') AS items
FROM orders o
LEFT JOIN (
  SELECT l_orderkey,
         string_agg(l_linenumber || ':' || l_partkey, ',' ORDER BY l_linenumber || ':' || l_partkey) AS items
  FROM lineitem
  GROUP BY l_orderkey
) agg ON o.o_orderkey = agg.l_orderkey
"""


def salted_map_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe twin of `map_join_orders` (VERDICT r05 item 6):
    same denormalization through `operators/skew.py::salted_collect_agg`
    — phase-1 collect on (key, salt) spreads a hot key over 8 reducers,
    phase-2 merges per key, sort makes the result salt-invariant.
    Value-identical to the plain path by construction; this gate proves
    it against the SAME oracle, so the CH_BGer-style skew fix
    (`dataset_creator.py:424-439`: one court holds 40%+ of the corpus)
    is hash-checked, not just unit-tested."""
    from swisscourtrulingcorpus_spark.operators.skew import salted_collect_agg

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    item = F.concat_ws(
        ":", F.col("l_linenumber").cast("string"), F.col("l_partkey").cast("string")
    )
    agg = salted_collect_agg(
        li.select(F.col("l_orderkey").alias("o_orderkey"), item.alias("__item")),
        key="o_orderkey",
        value=F.col("__item"),
        alias="__items_arr",
        num_salts=8,
    )
    return (
        orders.select("o_orderkey", "o_orderstatus")
        .join(agg, on="o_orderkey", how="left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.coalesce(F.concat_ws(",", "__items_arr"), F.lit("")).alias("items"),
        )
    )


# --- P2/P3: chained semi-join membership predicate ----------------------

def semi_join_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 3-level nested-IN spider predicate
    (`sql_select_utils.py:108-118`) as chained left_semi joins:
    lineitems of orders of customers in region AMERICA.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.functions import money

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
WITH nations_in AS (
  SELECT /*+ BROADCAST(r) */ * FROM {view('nation')}
  LEFT SEMI JOIN (SELECT * FROM {view('region')} WHERE r_name = 'AMERICA') r
    ON n_regionkey = r_regionkey
),
custs_in AS (
  SELECT /*+ BROADCAST(n) */ * FROM {view('customer')}
  LEFT SEMI JOIN nations_in n ON c_nationkey = n_nationkey
),
orders_in AS (
  SELECT /*+ BROADCAST(ci) */ * FROM {view('orders')}
  LEFT SEMI JOIN (SELECT c_custkey FROM custs_in) ci
    ON o_custkey = c_custkey
),
li_in AS (
  SELECT * FROM {view('lineitem')}
  LEFT SEMI JOIN (SELECT o_orderkey FROM orders_in)
    ON l_orderkey = o_orderkey
)
SELECT l_returnflag, count(1) AS n_items,
       cast(sum({money.dec2_sql('l_extendedprice')}) as double) AS value
FROM li_in
GROUP BY l_returnflag
""",
    )


SEMI_JOIN_ORACLE = """
SELECT l_returnflag,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (
    SELECT c_custkey FROM customer WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey IN (
        SELECT r_regionkey FROM region WHERE r_name = 'AMERICA'))))
GROUP BY l_returnflag
"""


# --- J7: anti-join (incremental / not-found reporting) -------------------

def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders after 2000-01-01 — the new-files /
    not-found anti-join shape (`text_to_database.py:135-145`,
    `report_creator.py:346-370`)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.where(F.col("o_orderdate") >= F.lit("2000-01-01"))
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ANTI_JOIN_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
"""


# --- J6/W5: as-of join with tolerance ------------------------------------

def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the citation→ruling page snap, `dataset_creator.py:
    262-285`): each purchase event snaps to the user's most recent
    'click' at ts <= purchase ts, kept only if within 30 minutes.
    Sort-merge as-of: one shuffle on user_id, no range cross-join.

    Whole-query SQL-text construction (r12, session 2): the text below
    inlines `operators/relational.py::asof_join`'s union + running
    `last(..., true)` window shape verbatim (null-typed columns use the
    events fixture types — bigint ids, timestamp_ntz ts; a generator
    schema change moves the golden fingerprint loudly).  Optimized plan pinned in
    tests/fixtures/plan_fingerprints.json."""
    over = (
        "OVER (PARTITION BY user_id ORDER BY __ord ASC, __is_left ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    within = "((__ord - __m_on) < INTERVAL 30 MINUTES)"

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
WITH u AS (
  SELECT user_id, purchase_id, ts, ts AS __ord, 1 AS __is_left,
         cast(null as bigint) AS __r_click_id,
         cast(null as timestamp_ntz) AS __r_on
  FROM (SELECT user_id, event_id AS purchase_id, ts FROM {view('events')}
        WHERE event_type = 'purchase')
  UNION ALL
  SELECT user_id, cast(null as bigint) AS purchase_id,
         cast(null as timestamp_ntz) AS ts, ts AS __ord, 0 AS __is_left,
         click_id AS __r_click_id, ts AS __r_on
  FROM (SELECT user_id, event_id AS click_id, ts FROM {view('events')}
        WHERE event_type = 'click')
),
carried AS (
  SELECT user_id, purchase_id, ts, __is_left, __ord,
         last(__r_click_id, true) {over} AS __m_click_id,
         last(__r_on, true) {over} AS __m_on
  FROM u
)
SELECT purchase_id, user_id, asof_click_id AS click_id,
       date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS purchase_ts
FROM (
  SELECT user_id, purchase_id, ts,
         __m_click_id AS asof_click_id, __m_on AS asof_ts
  FROM (
    SELECT user_id, purchase_id, ts, __is_left, __ord,
           CASE WHEN {within} THEN __m_click_id END AS __m_click_id,
           CASE WHEN {within} THEN __m_on END AS __m_on
    FROM carried WHERE __is_left = 1
  )
)
""",
    )


ASOF_ORACLE = """
WITH p AS (SELECT user_id, event_id AS purchase_id, ts FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, event_id AS click_id, ts AS cts FROM events WHERE event_type = 'click')
SELECT
  p.purchase_id,
  p.user_id,
  CASE WHEN p.ts - c.cts < INTERVAL 30 MINUTE THEN c.click_id END AS click_id,
  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts
"""


# --- W1/W2: top-k per group ----------------------------------------------

def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment by value (the top-25/top-1000
    citation rankings, `doc2doc_ir_dataset_creator.py:110,327`).

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.functions import money

    over = (
        "OVER (PARTITION BY c_mktsegment"
        " ORDER BY price DESC, o_orderkey ASC)"
    )

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT c_mktsegment, o_orderkey, cast(price as double) AS price, rank
FROM (
  SELECT *, row_number() {over} AS rank
  FROM (
    SELECT c_mktsegment, o_orderkey, price
    FROM (
      SELECT *, row_number() {over} AS __rn
      FROM (
        SELECT /*+ BROADCAST(c) */ c_mktsegment, o_orderkey,
               {money.dec2_sql('o_totalprice')} AS price
        FROM {view('orders')} JOIN {view('customer')} c ON o_custkey = c_custkey
      )
    ) WHERE __rn <= 3
  )
)
""",
    )


TOPK_ORACLE = """
SELECT c_mktsegment, o_orderkey, CAST(price AS DOUBLE) AS price, rank
FROM (
  SELECT c_mktsegment, o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC, o_orderkey ASC) AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rank <= 3
"""


# --- A9: exact percentiles (quartile class boundaries) -------------------

def percentiles_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Criticality-quartile boundaries (`criticality_dataset_creator.py:
    251-256` uses pandas describe() = linear interpolation — matched by
    Spark `percentile` and DuckDB `quantile_cont`)."""
    orders = load_table(spark, sf_dir, "orders")
    # Interpolate over INTEGRAL doubles (floor of the price): with integer
    # lo/hi and quartile fractions k/4 (exact in binary), both Spark's
    # `percentile` and DuckDB's `quantile_cont` produce the exact same
    # double regardless of their interpolation formula's operation order.
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(floor(o_totalprice), 0.25)").alias("p25"),
        F.expr("percentile(floor(o_totalprice), 0.5)").alias("p50"),
        F.expr("percentile(floor(o_totalprice), 0.75)").alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


PERCENTILES_ORACLE = """
SELECT o_orderstatus,
       quantile_cont(floor(o_totalprice), 0.25) AS p25,
       quantile_cont(floor(o_totalprice), 0.5) AS p50,
       quantile_cont(floor(o_totalprice), 0.75) AS p75,
       count(*) AS n
FROM orders
GROUP BY o_orderstatus
"""


# --- A4/A5: hierarchical rollup ------------------------------------------

def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canton→court→chamber counter ladder (`count_computer.py:40-87`)
    as a native ROLLUP over region→nation: per-level totals in one pass
    (partial aggregation map-side, single shuffle).

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.functions import money

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT coalesce(r_name, '<ALL>') AS region,
       coalesce(n_name, '<ALL>') AS nation,
       n_customers, total_balance
FROM (
  SELECT /*+ BROADCAST(n), BROADCAST(r) */ r_name, n_name,
         count(1) AS n_customers,
         cast(sum({money.dec2_sql('c_acctbal')}) as double) AS total_balance
  FROM {view('customer')}
  JOIN {view('nation')} n ON c_nationkey = n_nationkey
  JOIN {view('region')} r ON n_regionkey = r_regionkey
  GROUP BY ROLLUP (r_name, n_name)
)
""",
    )


ROLLUP_ORACLE = """
SELECT
  coalesce(r_name, '<ALL>') AS region,
  coalesce(n_name, '<ALL>') AS nation,
  count(*) AS n_customers,
  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


# --- A10: value_counts with percent --------------------------------------

def value_counts_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute histogram + percent-of-total (`report_creator.py:126-163`)."""
    orders = load_table(spark, sf_dir, "orders")
    return value_counts_with_pct(orders, "o_orderpriority")


VALUE_COUNTS_ORACLE = """
SELECT o_orderpriority,
       count(*) AS cnt,
       count(*) * 100.0 / sum(count(*)) OVER () AS pct
FROM orders
GROUP BY o_orderpriority
"""


# --- A13: histogram binning ----------------------------------------------

def histogram_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-boundary bucketing (`dataset_creator.py:955-961` token-count
    buckets 0/512/1024/...): bucket = min(floor(price/50000), 9)."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("int")
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


HISTOGRAM_ORACLE = """
SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INTEGER) AS bucket, count(*) AS cnt
FROM orders
GROUP BY 1
"""


# --- A8: time-decay weighting ---------------------------------------------

def time_decay_customer_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay weighted counts (`criticality_dataset_creator.py:292-299`:
    counter * max(0, year-2001)/(now-2001)).  Exact decimal accumulation;
    one double division at the end."""
    orders = load_table(spark, sf_dir, "orders")
    weight = F.greatest(F.year("o_orderdate") - F.lit(1995), F.lit(0)).cast(
        "decimal(18,2)"
    )
    weighted = _dec("o_totalprice") * weight
    return (
        orders.groupBy("o_custkey")
        .agg(F.sum(weighted).alias("__wsum"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_custkey",
            (F.col("__wsum").cast("double") / 6.0).alias("decayed_value"),
            "n_orders",
        )
    )


TIME_DECAY_ORACLE = """
SELECT o_custkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                * CAST(greatest(year(o_orderdate) - 1995, 0) AS DECIMAL(18,2))) AS DOUBLE) / 6.0 AS decayed_value,
       count(*) AS n_orders
FROM orders
GROUP BY o_custkey
"""


# --- U1/U2: set operations -------------------------------------------------

def set_ops_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT set difference (`abstract_preprocessor.py:133-140` remaining-
    spiders): customers active in 1996 but not in 2000."""
    orders = load_table(spark, sf_dir, "orders")
    in_96 = orders.where(F.year("o_orderdate") == 1996).select(
        F.col("o_custkey").alias("custkey")
    )
    in_00 = orders.where(F.year("o_orderdate") == 2000).select(
        F.col("o_custkey").alias("custkey")
    )
    return in_96.subtract(in_00)  # EXCEPT DISTINCT semantics


SET_OPS_ORACLE = """
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2000
"""


# --- D8: date-stratified splits --------------------------------------------

def date_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-stratified split assignment (`dataset_creator.py:158-159,
    1058-1071`) with boundaries shifted into the fixture's 1995-2001
    range; returns per-split counts (a derived column, no extra shuffle
    beyond the count)."""
    orders = load_table(spark, sf_dir, "orders")
    df = date_stratified_split(
        orders.withColumn("year", F.year("o_orderdate")),
        train_start=1995,
        val_start=1998,
        test_start=2000,
        secret_start=2001,
    )
    return df.groupBy("split").agg(F.count(F.lit(1)).alias("cnt"))


DATE_SPLIT_ORACLE = """
SELECT CASE
         WHEN year(o_orderdate) < 1995 THEN NULL
         WHEN year(o_orderdate) < 1998 THEN 'train'
         WHEN year(o_orderdate) < 2000 THEN 'validation'
         WHEN year(o_orderdate) < 2001 THEN 'test'
         ELSE 'secret_test'
       END AS split,
       count(*) AS cnt
FROM orders
GROUP BY 1
"""


# --- P7: per-group cutoff filter -------------------------------------------

def cutoff_filter_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-court per-section minimum-token cutoffs (`dataset_creator.py:
    1146-1232`): per-returnflag quantity thresholds from a broadcast
    literal map; unknown groups fall back to the default."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoffs = {"A": 10, "N": 25, "R": 40}
    cutoff = F.coalesce(
        *[
            F.when(F.col("l_returnflag") == k, F.lit(v))
            for k, v in cutoffs.items()
        ],
        F.lit(0),
    )
    return (
        li.where(F.col("l_quantity") >= cutoff)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("l_quantity").cast("double").alias("qty_kept"),
        )
    )


CUTOFF_ORACLE = """
SELECT l_returnflag, count(*) AS n_kept, CAST(sum(l_quantity) AS DOUBLE) AS qty_kept
FROM lineitem
WHERE l_quantity >= CASE l_returnflag WHEN 'A' THEN 10 WHEN 'N' THEN 25 WHEN 'R' THEN 40 ELSE 0 END
GROUP BY l_returnflag
"""


# --- F9: binary judgment normalization (set-semantics CASE) ---------------

def binary_label_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`convert_to_binary_judgments` (`sql_select_utils.py:361-410`) —
    the same multi-label conflict-resolution set semantics applied to
    per-user event-type sets: purchase→approval, error→dismissal,
    signup→write_off (procedural, dropped), view/click ignored;
    approval+dismissal -> NULL."""
    from swisscourtrulingcorpus_spark.functions.domain import (
        normalize_binary_judgment,
    )

    ev = load_table(spark, sf_dir, "events")
    mapped = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", "approval")
        .when(F.col("event_type") == "error", "dismissal")
        .when(F.col("event_type") == "signup", "write_off")
        .alias("label"),
    ).where(F.col("label").isNotNull())
    per_user = mapped.groupBy("user_id").agg(
        F.sort_array(F.collect_set("label")).alias("labels")
    )
    return per_user.select(
        "user_id",
        normalize_binary_judgment("labels").alias("binary_label"),
    )


BINARY_LABEL_ORACLE = """
WITH mapped AS (
  SELECT user_id,
         CASE event_type WHEN 'purchase' THEN 'approval'
                         WHEN 'error' THEN 'dismissal'
                         WHEN 'signup' THEN 'write_off' END AS label
  FROM events
  WHERE event_type IN ('purchase', 'error', 'signup')
), per_user AS (
  SELECT user_id,
         bool_or(label = 'approval') AS has_app,
         bool_or(label = 'dismissal') AS has_dis
  FROM mapped GROUP BY user_id
)
SELECT user_id,
       CASE WHEN has_app AND has_dis THEN NULL
            WHEN has_app THEN 'approval'
            WHEN has_dis THEN 'dismissal'
            ELSE NULL END AS binary_label
FROM per_user
"""


# --- J4: self-join / pivot — one column per category per key ----------

def user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The header+footer self-join (`court_composition_extractor.py:
    53-62`) generalized: one row per user with per-event-type counts as
    columns.  A pivot = N conditional aggregations in ONE shuffle —
    replacing N self-joins."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


USER_EVENT_PIVOT_ORACLE = """
SELECT user_id,
       count(*) FILTER (event_type = 'click') AS n_click,
       count(*) FILTER (event_type = 'view') AS n_view,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup') AS n_signup,
       count(*) FILTER (event_type = 'error') AS n_error
FROM events
GROUP BY user_id
"""


# --- U1: union of per-partition datasets --------------------------------

def union_yearly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 concatenate-datasets (`dataset_creator.py:337-339`): two
    independently-derived subsets re-unioned by name, then aggregated —
    the per-court dataset union shape."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.where(F.year("o_orderdate") <= 1997).select(
        "o_custkey", F.lit("early").alias("era"), _dec("o_totalprice").alias("p")
    )
    late = orders.where(F.year("o_orderdate") >= 2000).select(
        F.lit("late").alias("era"), F.col("o_custkey"), _dec("o_totalprice").alias("p")
    )
    return (
        early.unionByName(late)  # column order differs on purpose
        .groupBy("era")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum("p").cast("double").alias("value"),
        )
    )


UNION_ORACLE = """
WITH u AS (
  SELECT o_custkey, 'early' AS era, CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders WHERE year(o_orderdate) <= 1997
  UNION ALL
  SELECT o_custkey, 'late' AS era, CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders WHERE year(o_orderdate) >= 2000)
SELECT era, count(DISTINCT o_custkey) AS n_customers, CAST(sum(p) AS DOUBLE) AS value
FROM u GROUP BY era
"""


SPECS = [
    QuerySpec("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE, "A1 scan+filter+agg"),
    QuerySpec("user_event_pivot", user_event_pivot, USER_EVENT_PIVOT_ORACLE, "J4 pivot"),
    QuerySpec("union_yearly_activity", union_yearly_activity, UNION_ORACLE, "U1 union"),
    QuerySpec("coverage_by_region", coverage_by_region, COVERAGE_ORACLE, "J1/J10 flagship"),
    QuerySpec("map_join_orders", map_join_orders, MAP_JOIN_ORACLE, "J2 map_join"),
    QuerySpec(
        "salted_map_join_orders",
        salted_map_join_orders,
        MAP_JOIN_ORACLE,
        "J2 map_join, skew-salted two-phase agg (value-identical)",
    ),
    QuerySpec("semi_join_membership", semi_join_membership, SEMI_JOIN_ORACLE, "P2 semi-join chain"),
    QuerySpec("anti_join_inactive_customers", anti_join_inactive_customers, ANTI_JOIN_ORACLE, "J7 anti-join"),
    QuerySpec("asof_purchase_attribution", asof_purchase_attribution, ASOF_ORACLE, "J6 as-of w/ tolerance"),
    QuerySpec("topk_orders_per_segment", topk_orders_per_segment, TOPK_ORACLE, "W1/W2 top-k"),
    QuerySpec("percentiles_order_value", percentiles_order_value, PERCENTILES_ORACLE, "A9 quantiles"),
    QuerySpec("rollup_region_nation", rollup_region_nation, ROLLUP_ORACLE, "A4 rollup"),
    QuerySpec("value_counts_priority", value_counts_priority, VALUE_COUNTS_ORACLE, "A10 histogram+pct"),
    QuerySpec("histogram_order_value", histogram_order_value, HISTOGRAM_ORACLE, "A13 binning"),
    QuerySpec("time_decay_customer_value", time_decay_customer_value, TIME_DECAY_ORACLE, "A8 decay"),
    QuerySpec("set_ops_lapsed_customers", set_ops_lapsed_customers, SET_OPS_ORACLE, "U1/U2 except"),
    QuerySpec("date_split_counts", date_split_counts, DATE_SPLIT_ORACLE, "D8 splits"),
    QuerySpec("cutoff_filter_lineitem", cutoff_filter_lineitem, CUTOFF_ORACLE, "P7 cutoffs"),
    QuerySpec("binary_label_per_user", binary_label_per_user, BINARY_LABEL_ORACLE, "F9 label set semantics"),
]


def key_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis over the orders fact's customer key
    (`operators/skew.py::key_skew_report`, the which-keys companion
    of the `skew_report_orders` summary gate): the top-10 heaviest
    o_custkey values with exact counts, micro-integer corpus share,
    and the distinct-key count — what you read before salting the
    customer join.  Ties break by key string ascending so both
    engines rank identically."""
    from swisscourtrulingcorpus_spark.operators.skew import (
        key_skew_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    return key_skew_report(orders, "o_custkey", top_k=10)


KEY_SKEW_ORACLE = """
WITH c AS (
  SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS n_rows
  FROM orders GROUP BY 1),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS nd FROM c),
r AS (SELECT key, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, key ASC) AS rank
      FROM c)
SELECT CAST(rank AS INTEGER) AS rank, key, n_rows,
       CAST(n_rows * 1000000 // total AS BIGINT) AS share_micro,
       nd AS n_distinct_keys
FROM r, t WHERE rank <= 10
"""


SPECS += [
    QuerySpec(
        "key_skew_orders",
        key_skew_orders,
        KEY_SKEW_ORACLE,
        "top-k heaviest join keys with exact micro-share, TakeOrdered not global sort",
    ),
]



def fk_integrity_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the TPC-H-ish star joins
    (`operators/expectations.py::foreign_key_audit`, composing the
    single-relationship `expect_foreign_key`): lineitem ->
    orders/part/supplier, orders -> customer, customer/supplier ->
    nation — the orphan report read before trusting any fact-dimension
    join."""
    from swisscourtrulingcorpus_spark.operators.expectations import (
        foreign_key_audit,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    return foreign_key_audit(
        [
            ("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
            ("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
            ("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey"),
            ("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"),
            ("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"),
            ("supplier.s_nationkey->nation", supp, "s_nationkey", nation, "n_nationkey"),
        ]
    )


def _fk_oracle() -> str:
    rels = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in rels:
        parts.append(f"""
SELECT '{name}' AS relationship,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN c.{ck} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys,
       CAST(sum(CASE WHEN c.{ck} IS NOT NULL AND p.{pk} IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
  ON c.{ck} = p.{pk}""")
    return "\nUNION ALL".join(parts)


FK_INTEGRITY_ORACLE = _fk_oracle()


SPECS += [
    QuerySpec(
        "fk_integrity_tpch",
        fk_integrity_tpch,
        FK_INTEGRITY_ORACLE,
        "referential-integrity orphan audit over the star joins",
    ),
]


def selfjoin_blowup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join blowup pre-flight (`operators/skew.py::
    selfjoin_blowup_report`) on lineitem's part key: the exact Σ n(k)²
    output size an inverted-index-style self-join would produce,
    computed from per-key counts alone — the decision report behind
    the ngram-Jaccard stop-shingle guard and the bibliographic-
    coupling hub cap, without materializing a single pair."""
    from swisscourtrulingcorpus_spark.operators.skew import (
        selfjoin_blowup_report,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return selfjoin_blowup_report(li, "l_partkey")


SELFJOIN_BLOWUP_ORACLE = """
WITH c AS (SELECT l_partkey AS key, count(*) AS n FROM lineitem GROUP BY 1)
SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct_keys,
       CAST(sum(n * n) AS BIGINT) AS predicted_pairs,
       CAST(max(n * n) AS BIGINT) AS max_key_pairs
FROM c
"""


SPECS += [
    QuerySpec(
        "selfjoin_blowup_lineitem",
        selfjoin_blowup_lineitem,
        SELFJOIN_BLOWUP_ORACLE,
        "exact self-join output-size prediction from per-key counts, no pairs materialized",
    ),
]


def order_value_trend_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of DAILY order revenue over time
    (`operators/relational.py::ols_trend`): x = day index from
    1992-01-01 (bounded integer), y = the day's total order value in
    exact cents, both aggregated to slim (priority, day) rows BEFORE
    the regression, so the moment sums Σx·y / Σx² stay inside int64 by
    construction and the slope/intercept doubles come out of one fixed
    cast shape on both engines.  Output: priority, n observed days,
    slope (cents/day) and intercept (cents) of the fitted line."""
    from swisscourtrulingcorpus_spark.operators.relational import ols_trend

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate"), F.lit("1992-01-01").cast("date")
        ).cast("bigint").alias("x"),
        (_dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    daily = o.groupBy("o_orderpriority", "x").agg(
        F.sum("cents").alias("y")
    )
    return ols_trend(
        daily, ["o_orderpriority"], "x", "y"
    ).withColumnsRenamed({"o_orderpriority": "priority", "n": "n_days"})


OLS_TREND_ORACLE = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS x,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1, 2),
sums AS (
  SELECT priority,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY 1)
SELECT priority, n AS n_days,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
            THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       END AS slope,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
            THEN (CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
       END AS intercept
FROM sums
"""


SPECS += [
    QuerySpec(
        "order_value_trend_by_priority",
        order_value_trend_by_priority,
        OLS_TREND_ORACLE,
        "per-group OLS line fit from integer-exact moment sums, one fixed double-cast shape",
    ),
]


def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem's bounded integer
    measures (`operators/relational.py::pearson_matrix`): quantity
    (1-50), discount in exact percent (0-10), tax in exact percent
    (0-8) — the one-pass moment-sum correlation matrix a feature-
    engineering sweep runs before model training.  All sums bigint-
    exact at any SF (values <= 50, squares <= 2500); the r doubles
    come from one fixed cast shape + correctly-rounded sqrt on both
    engines."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        pearson_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        _dec("l_quantity").cast("bigint").alias("quantity"),
        (_dec("l_discount") * 100).cast("bigint").alias("discount_pct"),
        (_dec("l_tax") * 100).cast("bigint").alias("tax_pct"),
    )
    return pearson_matrix(li, ["quantity", "discount_pct", "tax_pct"])


def _corr_matrix_oracle() -> str:
    cols = {
        "quantity": "CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)",
        "discount_pct": "CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)",
        "tax_pct": "CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)",
    }
    names = list(cols)
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1 :]
    ]
    sel = ", ".join(
        ["count(*) AS n"]
        + [
            s
            for c in names
            for s in (
                f"CAST(sum({cols[c]}) AS BIGINT) AS s_{c}",
                f"CAST(sum({cols[c]} * {cols[c]}) AS BIGINT) AS ss_{c}",
            )
        ]
        + [
            f"CAST(sum({cols[a]} * {cols[b]}) AS BIGINT) AS sp_{a}_{b}"
            for a, b in pairs
        ]
    )
    cells = []
    for a, b in pairs:
        # greatest(..., 0.0) mirrors the engine's clamp of the
        # double-rounded variance term (see pearson_matrix)
        da = f"sqrt(greatest(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE), 0.0))"
        db = f"sqrt(greatest(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE), 0.0))"
        num = f"(CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        cells.append(
            f"SELECT '{a}' AS col_x, '{b}' AS col_y, n, "
            f"CASE WHEN {da} <> 0.0 AND {db} <> 0.0 "
            f"THEN {num} / ({da} * {db}) END AS r FROM sums"
        )
    return (
        "WITH sums AS (SELECT " + sel + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(cells)
    )


SPECS += [
    QuerySpec(
        "corr_matrix_lineitem",
        corr_matrix_lineitem,
        _corr_matrix_oracle(),
        "one-pass Pearson correlation matrix from integer-exact moment sums",
    ),
]


def exact_median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT lower median of the order value in cents via distributed
    selection (`operators/relational.py::exact_kth_value`) — iterative
    histogram narrowing, no global sort: each round is one map-side-
    combined binning aggregate and the driver only ever sees a
    ≤ bins-row histogram.  The exact-answer complement of the
    mergeable histogram-quantile sketch gate.  Output one row:
    (n_rows, k, median_cents)."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        exact_kth_value,
    )

    o = load_table(spark, sf_dir, "orders").select(
        (_dec("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    n = o.count()
    k = (n + 1) // 2
    med = exact_kth_value(o, "cents", k)
    return spark.createDataFrame(
        [(n, k, med)], "n_rows: long, k: long, median_cents: long"
    )


EXACT_MEDIAN_ORACLE = """
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders),
n AS (SELECT count(*) AS n_rows, (count(*) + 1) // 2 AS k FROM o)
SELECT n.n_rows, CAST(n.k AS BIGINT) AS k,
       (SELECT cents FROM o ORDER BY cents LIMIT 1 OFFSET (SELECT k - 1 FROM n)) AS median_cents
FROM n
"""


SPECS += [
    QuerySpec(
        "exact_median_order_value",
        exact_median_order_value,
        EXACT_MEDIAN_ORACLE,
        "exact order statistic by iterative histogram narrowing, no global sort",
    ),
]


def weighted_median_line_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted exact lower median of the line price
    (`exact_kth_value` with ``weight_col``): the price point at which
    half of all SHIPPED UNITS cost less — the inventory-weighted
    median a pricing analysis needs, where the row-weighted median
    (every line equal) would overweight small orders.  Same iterative
    histogram narrowing, cumulative-WEIGHT rank."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        exact_kth_value,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        (_dec("l_extendedprice") * 100).cast("bigint").alias("cents"),
        _dec("l_quantity").cast("bigint").alias("qty"),
    )
    total_w = li.agg(F.sum("qty")).collect()[0][0]
    k = (total_w + 1) // 2
    med = exact_kth_value(li, "cents", k, weight_col="qty")
    return spark.createDataFrame(
        [(int(total_w), int(k), int(med))],
        "total_units: long, k: long, weighted_median_cents: long",
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH li AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS qty
  FROM lineitem),
t AS (SELECT CAST(sum(qty) AS BIGINT) AS total_units,
             CAST((sum(qty) + 1) // 2 AS BIGINT) AS k FROM li),
cum AS (
  SELECT cents,
         sum(qty) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
  FROM (SELECT cents, CAST(sum(qty) AS BIGINT) AS qty FROM li GROUP BY 1))
SELECT t.total_units, t.k,
       (SELECT min(cents) FROM cum, t WHERE cw >= t.k) AS weighted_median_cents
FROM t
"""


SPECS += [
    QuerySpec(
        "weighted_median_line_price",
        weighted_median_line_price,
        WEIGHTED_MEDIAN_ORACLE,
        "weighted exact order statistic (cumulative-weight rank, histogram narrowing)",
    ),
]


def fd_check_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit (`operators/expectations.py::
    expect_functional_dependency`) over candidate dependencies a
    schema-inference pass would test — the audit REPORTS violation
    counts, it does not assert: on the synthetic corpus the composite
    (l_orderkey, l_linenumber) candidate is violated (the generator
    samples line numbers independently — exactly the discovery such an
    audit exists to make), l_partkey → l_suppkey fails for every part
    (parts ship from several suppliers), and o_orderkey → o_custkey
    holds (true PK).  One row per tested FD:
    (check, violations, total)."""
    from swisscourtrulingcorpus_spark.operators.expectations import (
        expect_functional_dependency,
    )

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    parts = [
        expect_functional_dependency(
            li, "lineitem", ["l_orderkey", "l_linenumber"], "l_partkey"
        ),
        expect_functional_dependency(li, "lineitem", ["l_partkey"], "l_suppkey"),
        expect_functional_dependency(o, "orders", ["o_orderkey"], "o_custkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


FD_CHECK_ORACLE = """
WITH fd1 AS (
  SELECT 'lineitem.fd:l_orderkey,l_linenumber->l_partkey' AS check,
         CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS violations,
         count(*) AS total
  FROM (SELECT l_orderkey, l_linenumber, count(*) AS n
        FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey FROM lineitem)
        GROUP BY 1, 2)),
fd2 AS (
  SELECT 'lineitem.fd:l_partkey->l_suppkey' AS check,
         CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS violations,
         count(*) AS total
  FROM (SELECT l_partkey, count(*) AS n
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        GROUP BY 1)),
fd3 AS (
  SELECT 'orders.fd:o_orderkey->o_custkey' AS check,
         CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS violations,
         count(*) AS total
  FROM (SELECT o_orderkey, count(*) AS n
        FROM (SELECT DISTINCT o_orderkey, o_custkey FROM orders)
        GROUP BY 1))
SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL SELECT * FROM fd3
"""


SPECS += [
    QuerySpec(
        "fd_check_lineitem",
        fd_check_lineitem,
        FD_CHECK_ORACLE,
        "functional-dependency audit: violating lhs groups per candidate FD",
    ),
]


#: log10(1 + 1/d) for d = 1..9 as 17-significant-digit scientific
#: literals — both engines parse scientific notation as a correctly
#: rounded DOUBLE, so the constant is bit-identical everywhere
_BENFORD = {
    1: "3.01029995663981198e-01", 2: "1.76091259055681237e-01",
    3: "1.24938736608299919e-01", 4: "9.69100130080564198e-02",
    5: "7.91812460476248176e-02", 6: "6.69467896306132210e-02",
    7: "5.79919469776867327e-02", 8: "5.11525224473812906e-02",
    9: "4.57574905606751431e-02",
}


def benford_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the order values — the
    classic fabricated-data / unit-mixing screen (Benford 1938,
    public): observed first-digit counts of the positive cent values
    against the expected n·log10(1+1/d), with the per-digit chi²
    contribution.  First digit is extracted by STRING head (portable
    and exact — no float log10 near the data); the expected counts
    and contributions are one fixed double shape over the exact
    bigint counts and the shared scientific-notation constants.

    Scale shape: one map-side substring + a 9-key groupBy with
    map-side combine; the report is 9 rows whatever the input."""
    o = load_table(spark, sf_dir, "orders").select(
        (_dec("o_totalprice") * 100).cast("bigint").alias("cents")
    ).where(F.col("cents") > 0)
    digits = o.select(
        F.substring(F.col("cents").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    per = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    total = per.agg(F.sum("observed").alias("__n"))
    j = per.crossJoin(F.broadcast(total))
    # build expected via chained when on the digit (literal constants)
    exp_expr = None
    for d, lit in _BENFORD.items():
        branch = F.col("__n").cast("double") * F.expr(f"CAST({lit} AS DOUBLE)")
        exp_expr = (
            F.when(F.col("digit") == d, branch)
            if exp_expr is None
            else exp_expr.when(F.col("digit") == d, branch)
        )
    obs = F.col("observed").cast("double")
    return j.select(
        "digit",
        "observed",
        exp_expr.alias("expected"),
        ((obs - exp_expr) * (obs - exp_expr) / exp_expr).alias("contrib"),
    )


def _benford_oracle() -> str:
    cases_e = " ".join(
        f"WHEN digit = {d} THEN CAST(n AS DOUBLE) * CAST({lit} AS DOUBLE)"
        for d, lit in _BENFORD.items()
    )
    return f"""
WITH o AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders),
digits AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM o WHERE cents > 0),
per AS (SELECT digit, count(*) AS observed FROM digits GROUP BY 1),
t AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM per)
SELECT digit, observed,
       (CASE {cases_e} END) AS expected,
       (CAST(observed AS DOUBLE) - (CASE {cases_e} END))
       * (CAST(observed AS DOUBLE) - (CASE {cases_e} END))
       / (CASE {cases_e} END) AS contrib
FROM per, t
"""


SPECS += [
    QuerySpec(
        "benford_audit_orders",
        benford_audit_orders,
        _benford_oracle(),
        "Benford first-digit audit: string-extracted digits, shared double constants",
    ),
]


def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Gini coefficient of per-customer total spend
    (`operators/relational.py::exact_gini` over cent-sum integers) —
    the spend-concentration report (how unequal is the customer base),
    ties exact via closed-form group rank sums, one fixed-shape
    division.  Customers are the per-customer ORDER totals; customers
    with no orders don't appear (the reachable-population Gini)."""
    from swisscourtrulingcorpus_spark.operators.relational import exact_gini

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", (_dec("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    spend = o.groupBy("o_custkey").agg(F.sum("cents").alias("spend_cents"))
    return exact_gini(spend, "spend_cents")


GINI_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
  FROM orders GROUP BY 1),
per AS (SELECT v, count(*) AS cnt FROM spend GROUP BY 1),
stepped AS (
  SELECT v, cnt,
         CAST(coalesce(sum(cnt) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS below
  FROM per),
agg AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(v * cnt) AS BIGINT) AS total,
         CAST(sum(v * (below * cnt + cnt * (cnt + 1) // 2)) AS BIGINT)
           AS ranksum
  FROM stepped)
SELECT n, total,
       CAST(2 * ranksum - (n + 1) * total AS BIGINT) AS gini_num,
       CAST(n * total AS BIGINT) AS gini_den,
       CASE WHEN n * total <> 0
            THEN CAST(2 * ranksum - (n + 1) * total AS DOUBLE)
                 / CAST(n * total AS DOUBLE)
       END AS gini
FROM agg
"""


SPECS += [
    QuerySpec(
        "gini_customer_spend",
        gini_customer_spend,
        GINI_ORACLE,
        "exact Gini coefficient via closed-form tied rank sums over distinct values",
    ),
]
