"""Oracle-gated PORTABLE sketches — integer-exact HyperLogLog.

`operators/sketches.py` wraps Spark's built-in HLL++/KLL sketches, which
can never hash-match a DuckDB oracle (different algorithms and seeds by
design) and are therefore covered by accuracy-bound tests only.  This
module closes that gap with a from-scratch HyperLogLog whose every step
is engine-independent INTEGER arithmetic on the shared md5 hash
(`functions/hashing.py::h32_sql`), so the register table AND the cardinality
estimate are value-identical between Spark and DuckDB — the sketch
family's first full-strength driver gates.

Construction (p = 6, m = 64 registers, classic Flajolet et al. 2007):

- ``h``       32-bit md5-derived hash of the key (`h32`, seed "hll")
- ``register`` = top 6 bits  = ``h DIV 2^26``
- ``tail``     = low 26 bits = ``h % 2^26``
- ``rank``     = leading zeros of the 26-bit tail + 1
               = 27 when tail = 0, else ``27 - length(bin(tail))``
  (binary-digit count replaces floor(log2): both engines render exact
  binary strings — Spark ``conv(tail,10,2)``, DuckDB ``bin(tail)`` — so
  no float log enters the pipeline)
- per-register state = ``max(rank)`` — the mergeable HLL invariant: the
  map-side partial agg IS the sketch merge, so the shuffle carries at
  most m rows per partition regardless of input size.

The estimate stays integer too: with ``S = Σ_j 2^(27 - M[j])``
(empty registers contribute 2^27), the raw HLL estimate
``alpha_m * m^2 / Σ 2^(-M[j])`` equals ``alpha_m * m^2 * 2^27 / S``, so
``est_milli = (709 * 64 * 64 * 2^27) DIV (1000 * S) * 1000 ...`` — we
emit ``floor(1000 * estimate)`` via one bigint division (numerator
709*4096*2^27 ≈ 3.9e14 < 2^63).  alpha_64 = 0.709 per the paper.

At 100 TB this is THE counting pattern: the register table is a
64-row mergeable summary per group — distinct-user counts over any
union of day/court partitions come from max-merging stored registers,
never re-scanning raw data (the reference recomputes its counters from
scratch each run, `abstract_preprocessor.py:316-326`).

No small/large-range correction: the gate pins the raw estimator (the
correction branch is a driver-side if over the same S, exercised in
tests/test_sketches.py against the exact count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import h32_sql
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import load_table

_P = 6
_M = 1 << _P  # 64 registers
_TAIL_BITS = 32 - _P  # 26
_TAIL_MOD = 1 << _TAIL_BITS
_RANK_EMPTY_TERM = 1 << (_TAIL_BITS + 1)  # 2^27, the 2^(27-0) term
# alpha in thousandths (alpha_64 = 0.709), so _EST_NUM / S is already
# 1000 * estimate — one bigint division, no float alpha anywhere.
_EST_NUM = 709 * _M * _M * (1 << (_TAIL_BITS + 1))  # 709 * 4096 * 2^27


def _registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from swisscourtrulingcorpus_spark.operators.sketches import (
        portable_hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    return portable_hll_registers(ev, "user_id", p=_P, seed="hll")


def hll_register_table_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materializable sketch itself: (register, max_rank) rows for
    distinct events.user_id — at most 64 rows whatever the input size."""
    return _registers(spark, sf_dir)


def hll_estimate_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row integer-exact HLL cardinality estimate over the register
    table: m, observed register count, the exact dyadic sum S scaled to
    an integer, and floor(1000 * alpha*m^2/Σ2^-M)."""
    from swisscourtrulingcorpus_spark.operators.sketches import (
        portable_hll_estimate_milli,
    )

    return portable_hll_estimate_milli(_registers(spark, sf_dir), p=_P)


_HLL_REGS_CTE = f"""
WITH h AS (
  SELECT ('0x' || substr(md5('hll|' || CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS h
  FROM events),
r AS (
  SELECT CAST(h // {_TAIL_MOD} AS BIGINT) AS register,
         h % {_TAIL_MOD} AS tail
  FROM h),
ranked AS (
  SELECT register,
         CASE WHEN tail = 0 THEN {_TAIL_BITS + 1}
              ELSE {_TAIL_BITS + 1} - length(bin(tail)) END AS rank
  FROM r),
regs AS (
  SELECT register, CAST(max(rank) AS BIGINT) AS max_rank
  FROM ranked GROUP BY register)
"""

HLL_REGISTER_ORACLE = (
    _HLL_REGS_CTE
    + """
SELECT register, max_rank FROM regs
"""
)

HLL_ESTIMATE_ORACLE = (
    _HLL_REGS_CTE
    + f"""
SELECT CAST({_M} AS INTEGER) AS m,
       CAST(count(*) AS BIGINT) AS registers_used,
       CAST(sum(1::BIGINT << ({_TAIL_BITS + 1} - max_rank))
            + ({_M} - count(*)) * {_RANK_EMPTY_TERM} AS BIGINT) AS s_dyadic,
       CAST({_EST_NUM} // (sum(1::BIGINT << ({_TAIL_BITS + 1} - max_rank))
            + ({_M} - count(*)) * {_RANK_EMPTY_TERM}) AS BIGINT) AS est_milli
FROM regs
"""
)


# --- K-minimum-values (KMV / bottom-k) sketch ---------------------------
#
# The second classic distinct-count sketch, and the one HLL can't
# replace: bottom-k sketches support SET OPERATIONS — the k smallest
# hashes of A ∪ B are computable from the two sketches alone, and the
# overlap of the union-sketch with both input sketches estimates
# Jaccard (Bar-Yossef et al. 2002; the audience-overlap primitive).
# Same portability recipe as the HLL above: md5-derived 32-bit integer
# hashes, ranking and division all integer-exact.

_KMV_K = 32
_KMV_SPACE = 1 << 32  # h32 range


def _kmv_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("k")
    )
    return ev.selectExpr(f"{h32_sql('k', seed='kmv')} AS h").distinct()


def kmv_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch itself: the K smallest distinct hash values — a
    fixed-size, mergeable summary (merge = k smallest of the union).
    orderBy+limit compiles to TakeOrderedAndProject: each partition
    keeps its local bottom-k, only k rows per partition reach the
    driver-side merge — no full sort, no full shuffle."""
    return _kmv_hashes(spark, sf_dir).orderBy("h").limit(_KMV_K)


def kmv_estimate_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row distinct-count estimate: (k-1) * space / h_k with the
    k-th smallest hash h_k, in thousandths via one bigint division."""
    sk = kmv_sketch_users(spark, sf_dir)
    return sk.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.max("h").alias("h_k"),
    ).select(
        "k_used",
        "h_k",
        # greatest(h_k, 1): if the k-th smallest 32-bit hash were 0
        # (k_used = 1 and an all-zero md5 prefix), Spark's div returns
        # NULL while DuckDB's // raises — the engines would diverge
        # instead of both producing a value (ADVICE r06).  Mirrored in
        # the oracle.
        F.expr(
            f"(k_used - 1) * {_KMV_SPACE} * 1000 div greatest(h_k, 1)"
        ).alias("est_milli"),
    )


def kmv_jaccard_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every event-type pair from per-type KMV
    sketches alone: the k smallest hashes of the UNION of two sketches,
    counting how many sit in both — n_inter/k_used estimates Jaccard
    (emitted in ppm, integer-exact).  At 100 TB the per-type sketches
    are k-row tables maintained incrementally; every pairwise overlap
    question is then answered WITHOUT touching raw events — the
    reports this enables (audience overlap matrices, near-duplicate
    corpus slices) otherwise need a full self-join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("k")
    )
    hashed = ev.selectExpr("event_type", f"{h32_sql('k', seed='kmv')} AS h").distinct()
    from pyspark.sql import Window

    # two-phase bottom-k: a single window partitioned by event_type
    # funnels EVERY distinct hash of a type through one task (5 keys =
    # 5 tasks whatever the cluster) — instead rank within (type, salt)
    # first, so no task ever sees more than ~k rows per salt, then
    # rank the <= 64k survivors per type.  Value-identical: the global
    # k smallest of a type all survive their salt's bottom-k.
    w1 = Window.partitionBy("event_type", "salt").orderBy("h")
    w2 = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("salt", F.col("h") % 64)
        .withColumn("rnk1", F.row_number().over(w1))
        .where(F.col("rnk1") <= _KMV_K)
        .withColumn("rnk", F.row_number().over(w2))
        .where(F.col("rnk") <= _KMV_K)
        .select("event_type", "h")
    )
    types = sk.select(F.col("event_type").alias("t")).distinct()
    pairs = (
        types.alias("a")
        .join(types.withColumnRenamed("t", "u").alias("b"), F.col("t") < F.col("u"))
        .select("t", "u")
    )
    # expand each sketch row to the pairs its type participates in,
    # merge per (pair, hash), rank the union, keep its bottom-k
    exp = pairs.join(
        sk, (sk.event_type == pairs.t) | (sk.event_type == pairs.u)
    ).select(
        "t",
        "u",
        "h",
        (F.col("event_type") == F.col("t")).cast("int").alias("in_a"),
        (F.col("event_type") == F.col("u")).cast("int").alias("in_b"),
    )
    merged = exp.groupBy("t", "u", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    wu = Window.partitionBy("t", "u").orderBy("h")
    union_k = merged.withColumn("rnk", F.row_number().over(wu)).where(
        F.col("rnk") <= _KMV_K
    )
    return (
        union_k.groupBy(
            F.col("t").alias("type_a"), F.col("u").alias("type_b")
        )
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.sum(
                (F.col("in_a") * F.col("in_b")).cast("bigint")
            ).alias("n_inter"),
        )
        .select(
            "type_a",
            "type_b",
            "k_used",
            "n_inter",
            F.expr("n_inter * 1000000 div k_used").alias("jaccard_ppm"),
        )
    )


_KMV_HASHES_CTE = """
WITH hashed AS (
  SELECT DISTINCT ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS h
  FROM events)
"""

KMV_SKETCH_ORACLE = (
    _KMV_HASHES_CTE
    + f"""
SELECT CAST(h AS BIGINT) AS h FROM hashed ORDER BY h LIMIT {_KMV_K}
"""
)

KMV_ESTIMATE_ORACLE = (
    _KMV_HASHES_CTE
    + f""",
sk AS (SELECT h FROM hashed ORDER BY h LIMIT {_KMV_K})
SELECT CAST(count(*) AS BIGINT) AS k_used,
       CAST(max(h) AS BIGINT) AS h_k,
       CAST((count(*) - 1) * {_KMV_SPACE} * 1000 // greatest(max(h), 1) AS BIGINT) AS est_milli
FROM sk
"""
)

KMV_JACCARD_ORACLE = f"""
WITH hashed AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('kmv|' || CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT AS h
  FROM events),
sk AS (
  SELECT event_type, h
  FROM (SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rnk
        FROM hashed)
  WHERE rnk <= {_KMV_K}),
types AS (SELECT DISTINCT event_type AS t FROM sk),
pairs AS (SELECT a.t, b.t AS u FROM types a JOIN types b ON a.t < b.t),
exp AS (
  SELECT p.t, p.u, s.h,
         CAST(s.event_type = p.t AS INTEGER) AS in_a,
         CAST(s.event_type = p.u AS INTEGER) AS in_b
  FROM pairs p JOIN sk s ON s.event_type = p.t OR s.event_type = p.u),
merged AS (
  SELECT t, u, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM exp GROUP BY t, u, h),
union_k AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY t, u ORDER BY h) AS rnk
    FROM merged)
  WHERE rnk <= {_KMV_K})
SELECT t AS type_a, u AS type_b,
       CAST(count(*) AS BIGINT) AS k_used,
       CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
       CAST(sum(in_a * in_b) * 1000000 // count(*) AS BIGINT) AS jaccard_ppm
FROM union_k
GROUP BY 1, 2
"""


# --- fixed-bin histogram quantiles: the mergeable quantile summary -------
#
# Completes the mergeable-summary quartet (distinct: HLL/KMV; frequency:
# CMS; membership: Bloom; quantiles: THIS).  Unlike percentile_approx
# (KLL, engine-private) the equal-width histogram is portable: bins are
# pure integer arithmetic over [min, max], histograms of slices SUM
# into the corpus histogram, and any quantile reads off the cumulative
# counts with an integer within-bin interpolation — error bounded by
# one bin width (asserted vs the exact oracle-gated
# percentiles_order_value in tests/test_sketches.py).

_HQ_BINS = 128
_HQ_QS = [(1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")]


def histogram_quantiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority p50/p90/p99 of the order value read from a 128-bin
    equal-width histogram of exact cents: one pass for bounds (5-row
    broadcast back), one groupBy(priority, bin) whose exchange carries
    at most 5*128 rows per task however large orders grows, then the
    quantile pick over the tiny histogram.  est_cents = bin_lo +
    (pos_in_bin * (bin_width-1)) div bin_count — every step bigint."""
    from pyspark.sql import Window

    from swisscourtrulingcorpus_spark.functions.money import dec2

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    bounds = o.groupBy("o_orderpriority").agg(
        F.min("cents").alias("lo"),
        (F.max("cents") - F.min("cents") + 1).alias("span"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = (
        o.join(F.broadcast(bounds), "o_orderpriority")
        .select(
            "o_orderpriority",
            "lo",
            "span",
            "n",
            F.expr(f"(cents - lo) * {_HQ_BINS} div span").alias("bin"),
        )
        .groupBy("o_orderpriority", "lo", "span", "n", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum_w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.withColumn("cum", F.sum("cnt").over(cum_w)).withColumn(
        "cum_before", F.col("cum") - F.col("cnt")
    )
    picks = []
    for num, den, label in _HQ_QS:
        target = F.expr(f"(n * {num} + {den} - 1) div {den}")
        pick = (
            cum.where(
                (F.col("cum") >= target) & (F.col("cum_before") < target)
            )
            .select(
                F.col("o_orderpriority").alias("priority"),
                F.lit(label).alias("q"),
                F.col("bin").cast("int").alias("bin"),
                (
                    F.col("lo")
                    + F.expr(f"(bin * span + {_HQ_BINS} - 1) div {_HQ_BINS}")
                    + F.expr(
                        f"((n * {num} + {den} - 1) div {den} - cum_before - 1)"
                        f" * (((bin + 1) * span + {_HQ_BINS} - 1) div {_HQ_BINS}"
                        f"    - (bin * span + {_HQ_BINS} - 1) div {_HQ_BINS} - 1)"
                        f" div cnt"
                    )
                ).alias("est_cents"),
            )
        )
        picks.append(pick)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def _hq_oracle() -> str:
    parts = []
    for num, den, label in _HQ_QS:
        parts.append(f"""
SELECT o_orderpriority AS priority, '{label}' AS q,
       CAST(bin AS INTEGER) AS bin,
       CAST(lo + (bin * span + {_HQ_BINS} - 1) // {_HQ_BINS}
            + ((n * {num} + {den} - 1) // {den} - cum_before - 1)
              * (((bin + 1) * span + {_HQ_BINS} - 1) // {_HQ_BINS}
                 - (bin * span + {_HQ_BINS} - 1) // {_HQ_BINS} - 1)
              // cnt AS BIGINT) AS est_cents
FROM cum
WHERE cum >= (n * {num} + {den} - 1) // {den}
  AND cum_before < (n * {num} + {den} - 1) // {den}""")
    sel = "\nUNION ALL\n".join(parts)
    return f"""
WITH o AS (
  SELECT o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders),
bounds AS (
  SELECT o_orderpriority, min(cents) AS lo,
         max(cents) - min(cents) + 1 AS span,
         count(*) AS n
  FROM o GROUP BY 1),
binned AS (
  SELECT o.o_orderpriority, lo, span, n,
         (cents - lo) * {_HQ_BINS} // span AS bin,
         count(*) AS cnt
  FROM o JOIN bounds USING (o_orderpriority)
  GROUP BY 1, 2, 3, 4, 5),
cum AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) - cnt AS cum_before
  FROM binned)
{sel}
"""


def hll_distinct_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed sketch composition: per tumbling hour, the HLL register
    summary of distinct users plus the integer estimate AND the exact
    distinct count side by side — the report that justifies replacing
    exact countDistinct at scale (the exact column needs the full
    (window, user) distinct shuffle; the sketch column's exchange is
    capped at 64 rows per window whatever the traffic).  Both integer-
    exact, so the accuracy story is IN the gate output."""
    from swisscourtrulingcorpus_spark.operators.sketches import (
        portable_hll_estimate_milli,
        portable_hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format(
            F.window("ts", "1 hour").getField("start"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("window_start"),
        F.col("user_id").cast("string").alias("k"),
    )
    regs = portable_hll_registers(
        ev, "k", p=_P, seed="hll", group_cols=["window_start"]
    )
    est = portable_hll_estimate_milli(
        regs, p=_P, group_cols=["window_start"]
    ).select("window_start", "registers_used", "est_milli")
    exact = ev.groupBy("window_start").agg(
        F.countDistinct("k").alias("exact_distinct")
    )
    return est.join(exact, "window_start")


HLL_PER_HOUR_ORACLE = f"""
WITH ev AS (
  SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         CAST(user_id AS VARCHAR) AS k
  FROM events),
h AS (
  SELECT window_start,
         ('0x' || substr(md5('hll|' || k), 1, 8))::UBIGINT AS h, k
  FROM ev),
regs AS (
  SELECT window_start,
         CAST(h // {_TAIL_MOD} AS BIGINT) AS register,
         max(CASE WHEN h % {_TAIL_MOD} = 0 THEN {_TAIL_BITS + 1}
                  ELSE {_TAIL_BITS + 1} - length(bin(h % {_TAIL_MOD})) END)
           AS max_rank
  FROM h GROUP BY 1, 2),
est AS (
  SELECT window_start,
         CAST(count(*) AS BIGINT) AS registers_used,
         CAST({_EST_NUM} // (sum(1::BIGINT << ({_TAIL_BITS + 1} - max_rank))
              + ({_M} - count(*)) * {_RANK_EMPTY_TERM}) AS BIGINT) AS est_milli
  FROM regs GROUP BY 1),
exact AS (
  SELECT window_start, count(DISTINCT k) AS exact_distinct
  FROM ev GROUP BY 1)
SELECT window_start, registers_used, est_milli, exact_distinct
FROM est JOIN exact USING (window_start)
"""


_JS_WIDTH, _JS_DEPTH = 32, 4


def join_size_estimate_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS inner-product join-size estimation
    (`operators/sketches.py::cms_join_size`): predict
    |customer ⋈ supplier ON nationkey| — a genuinely many-to-many
    join — from two depth×width count-min sketches WITHOUT running the
    join, beside the exact size computed from the per-key count
    vectors (Σ_k cA(k)·cB(k), which also never materializes the
    join).  Output one row: (est_join_size, exact_join_size,
    overshoot) — overshoot >= 0 always (collision terms are
    non-negative).  Width 32 < 25 distinct keys × safety, so
    collisions actually occur and the estimator's bias is visible.

    Scale shape: two map-side fixed-size sketches + two slim per-key
    count tables; the fact tables are each read ONCE and nothing
    row-sized shuffles — the cost model a 100 TB optimizer needs
    before committing to a shuffle join."""
    from swisscourtrulingcorpus_spark.operators.sketches import (
        cms_join_size,
        cms_table,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("string").alias("k")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("string").alias("k")
    )
    est = cms_join_size(
        cms_table(cust, "k", width=_JS_WIDTH, depth=_JS_DEPTH),
        cms_table(supp, "k", width=_JS_WIDTH, depth=_JS_DEPTH),
    )
    ca = cust.groupBy("k").agg(F.count(F.lit(1)).alias("__na"))
    cb = supp.groupBy("k").agg(F.count(F.lit(1)).alias("__nb"))
    exact = (
        ca.join(cb, on="k")
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("exact_join_size"))
    )
    # 1×1 scalar crossJoin — the documented broadcast-scalar report
    # pattern (README, the profiler's reading notes), not a data-sized NLJ
    return est.crossJoin(F.broadcast(exact)).select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).alias(
            "overshoot"
        ),
    )


def _join_size_oracle(width: int = _JS_WIDTH, depth: int = _JS_DEPTH) -> str:
    def bucket(d: int, expr: str) -> str:
        return (
            f"CAST(('0x' || substr(md5('cms{d}|' || {expr}), 1, 8))::UBIGINT "
            f"AS BIGINT) % {width}"
        )

    sa = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'CAST(c_nationkey AS VARCHAR)')} AS bucket, "
        f"count(*) AS cnt FROM customer GROUP BY 2"
        for d in range(depth)
    )
    sb = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'CAST(s_nationkey AS VARCHAR)')} AS bucket, "
        f"count(*) AS cnt FROM supplier GROUP BY 2"
        for d in range(depth)
    )
    return f"""
WITH sa AS ({sa}), sb AS ({sb}),
ip AS (
  SELECT sa.d, CAST(sum(sa.cnt * sb.cnt) AS BIGINT) AS ip
  FROM sa JOIN sb ON sa.d = sb.d AND sa.bucket = sb.bucket
  GROUP BY 1),
-- min over the full depth domain (depths whose sketches share no
-- buckets have true inner product 0), mirroring cms_join_size
dd AS (SELECT DISTINCT d FROM (SELECT d FROM sa UNION ALL SELECT d FROM sb)),
est AS (
  SELECT CAST(min(coalesce(ip.ip, 0)) AS BIGINT) AS est_join_size
  FROM dd LEFT JOIN ip USING (d)),
exact AS (
  SELECT CAST(sum(ca.n * cb.n) AS BIGINT) AS exact_join_size
  FROM (SELECT c_nationkey AS k, count(*) AS n FROM customer GROUP BY 1) ca
  JOIN (SELECT s_nationkey AS k, count(*) AS n FROM supplier GROUP BY 1) cb
    USING (k))
SELECT est_join_size, exact_join_size,
       est_join_size - exact_join_size AS overshoot
FROM est, exact
"""


SPECS = [
    QuerySpec(
        "join_size_estimate_nations",
        join_size_estimate_nations,
        _join_size_oracle(),
        "CMS inner-product join-cardinality estimate beside the exact count-vector size",
    ),
    QuerySpec(
        "hll_register_table_users",
        hll_register_table_users,
        HLL_REGISTER_ORACLE,
        "portable integer-exact HyperLogLog register table (p=6) over events.user_id",
    ),
    QuerySpec(
        "hll_estimate_users",
        hll_estimate_users,
        HLL_ESTIMATE_ORACLE,
        "integer-exact HLL cardinality estimate (dyadic sum + bigint division)",
    ),
    QuerySpec(
        "kmv_sketch_users",
        kmv_sketch_users,
        KMV_SKETCH_ORACLE,
        "bottom-k (KMV) sketch: k smallest distinct md5 hashes, TakeOrdered plan",
    ),
    QuerySpec(
        "kmv_estimate_users",
        kmv_estimate_users,
        KMV_ESTIMATE_ORACLE,
        "KMV distinct-count estimate, one bigint division",
    ),
    QuerySpec(
        "kmv_jaccard_event_types",
        kmv_jaccard_event_types,
        KMV_JACCARD_ORACLE,
        "pairwise audience Jaccard from per-type KMV sketches (set-op sketch)",
    ),
    QuerySpec(
        "histogram_quantiles_orders",
        histogram_quantiles_orders,
        _hq_oracle(),
        "mergeable equal-width-histogram quantiles, integer interpolation",
    ),
    QuerySpec(
        "hll_distinct_per_hour",
        hll_distinct_per_hour,
        HLL_PER_HOUR_ORACLE,
        "windowed HLL: per-hour distinct-user estimate beside the exact count",
    ),
]


def audience_overlap_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT pairwise audience overlap between event types — the
    exact-answer twin of `kmv_jaccard_event_types` (which estimates
    the same quantity from bottom-k sketches): for every unordered
    type pair, the distinct users doing BOTH, each side's audience,
    and the exact Jaccard as one fixed-shape double division.

    Scale shape: distinct (user, type) first (one slim groupBy — the
    only row-count-sized shuffle), then a self-join ON user bounded by
    each user's type count (≤ |types| rows/user ⇒ ≤ |types|² pairs per
    user, a constant), then a |types|²-bounded pair aggregate with
    per-type totals broadcast back.  Never |users|×|users|, never an
    unbounded pair table."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ut = ev.distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    both = (
        a.join(b, on="user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    totals = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n")
    )
    out = (
        both.join(
            F.broadcast(totals.withColumnRenamed("event_type", "type_a")),
            on="type_a",
        )
        .withColumnRenamed("__n", "n_a")
        .join(
            F.broadcast(totals.withColumnRenamed("event_type", "type_b")),
            on="type_b",
        )
        .withColumnRenamed("__n", "n_b")
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        (F.col("n_both").cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


AUDIENCE_OVERLAP_ORACLE = """
WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
tot AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
both_t AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b,
       ta.n AS n_a, tb.n AS n_b, n_both,
       CAST(n_both AS DOUBLE)
       / CAST(ta.n + tb.n - n_both AS DOUBLE) AS jaccard
FROM both_t
JOIN tot ta ON ta.event_type = type_a
JOIN tot tb ON tb.event_type = type_b
"""


SPECS += [
    QuerySpec(
        "audience_overlap_event_types",
        audience_overlap_event_types,
        AUDIENCE_OVERLAP_ORACLE,
        "exact pairwise audience Jaccard (the exact twin of the KMV estimate gate)",
    ),
]
