"""Distribution-drift gates: KS, PSI, JS over the synthetic corpus.

The corpus-drift audit family (`operators/drift.py`): given two
slices of the same table, quantify distribution shift — the reports a
training-data pipeline runs between corpus snapshots before trusting
"same data, new crawl".  Slices here are deterministic halves
(even/odd doc_id = old/new snapshot; order priority classes), so both
engines pick identical populations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql
from swisscourtrulingcorpus_spark.functions.money import dec2 as _dec
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.plans.text_queries import _words_duck
from swisscourtrulingcorpus_spark.sources.catalog import load_table


def ks_drift_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D between the order-value
    distributions of URGENT and LOW priority orders
    (`operators/drift.py::ks_two_sample`): exact bigint ECDF-difference
    arithmetic over the distinct cents values, cumulated with the
    shared two-phase prefix-sum skeleton (no single-task window), one
    fixed-shape double division at the end."""
    from swisscourtrulingcorpus_spark.operators.drift import ks_two_sample

    o = load_table(spark, sf_dir, "orders").select(
        (_dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderpriority",
    )
    return ks_two_sample(o, "cents", "o_orderpriority", "1-URGENT", "5-LOW")


KS_DRIFT_ORACLE = """
WITH src AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         o_orderpriority AS g
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
tot AS (
  SELECT CAST(count(CASE WHEN g = '1-URGENT' THEN 1 END) AS BIGINT) AS na,
         CAST(count(CASE WHEN g = '5-LOW' THEN 1 END) AS BIGINT) AS nb
  FROM src),
per AS (
  SELECT v,
         CAST(count(CASE WHEN g = '1-URGENT' THEN 1 END) AS BIGINT) AS ca,
         CAST(count(CASE WHEN g = '5-LOW' THEN 1 END) AS BIGINT) AS cb
  FROM src GROUP BY 1),
cum AS (
  SELECT sum(nb * ca - na * cb)
           OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS diff
  FROM per, tot)
SELECT na AS n_a, nb AS n_b,
       CAST(max(abs(diff)) AS BIGINT) AS d_num,
       CAST(na * nb AS BIGINT) AS d_den,
       CAST(max(abs(diff)) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS d
FROM cum, tot
GROUP BY na, nb
"""


def ks_drift_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-REGION two-sample KS between URGENT and LOW order-value
    distributions (`operators/drift.py::ks_two_sample_by` — the
    fleet-wide drift audit: one job, one prefix-sum pass, zero driver
    collects for all slices at once).  Slice totals join in-plan as a
    broadcast; the single global prefix sum is exact per region
    because each region's diff terms sum to zero.  Customer→nation→
    region dims broadcast onto the orders fact."""
    from swisscourtrulingcorpus_spark.operators.drift import (
        ks_two_sample_by,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (_dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderpriority",
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return ks_two_sample_by(
        joined, "cents", "o_orderpriority", "1-URGENT", "5-LOW", "r_name"
    ).orderBy("slice")


KS_BY_REGION_ORACLE = """
WITH src AS (
  SELECT r.r_name AS s,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         o.o_orderpriority AS g
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')),
per AS (
  SELECT s, v,
         CAST(count(CASE WHEN g = '1-URGENT' THEN 1 END) AS BIGINT) AS ca,
         CAST(count(CASE WHEN g = '5-LOW' THEN 1 END) AS BIGINT) AS cb
  FROM src GROUP BY 1, 2),
tot AS (
  SELECT s, sum(ca) AS na, sum(cb) AS nb FROM per GROUP BY 1
  HAVING sum(ca) > 0 AND sum(cb) > 0),
cum AS (
  SELECT per.s, t.na, t.nb,
         sum(t.nb * per.ca - t.na * per.cb)
           OVER (PARTITION BY per.s ORDER BY per.v
                 ROWS UNBOUNDED PRECEDING) AS diff
  FROM per JOIN tot t USING (s))
SELECT s AS slice,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(max(abs(diff)) AS BIGINT) AS d_num,
       CAST(na * nb AS BIGINT) AS d_den,
       CAST(max(abs(diff)) AS DOUBLE) / CAST(na * nb AS DOUBLE) AS d
FROM cum
GROUP BY s, na, nb
ORDER BY s
"""


def psi_doclen_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the document-length distributions of the even- and
    odd-doc_id corpus halves (`operators/drift.py::psi_table` — the
    old-vs-new-snapshot drift report): fixed 256-char bins capped at
    40, per-bin exact counts + the micro-int rounded-log contribution,
    NULL where a side's bin is empty.  Reads only (doc_id, n_chars) —
    the text column never scans."""
    from swisscourtrulingcorpus_spark.operators.drift import psi_table

    docs = load_table(spark, sf_dir, "documents")
    return psi_table(
        docs.where(F.col("n_chars").isNotNull()),
        F.least(F.expr("n_chars div 256"), F.lit(40)),
        F.col("doc_id") % 2 == 0,
    ).orderBy("bin")


PSI_DOCLEN_ORACLE = """
WITH slim AS (
  SELECT least(n_chars // 256, 40) AS bin, doc_id % 2 = 0 AS a
  FROM documents WHERE n_chars IS NOT NULL),
per AS (
  SELECT bin,
         CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS cnt_a,
         CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS cnt_b
  FROM slim GROUP BY 1),
tot AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb FROM per)
SELECT CAST(bin AS BIGINT) AS bin, cnt_a, cnt_b,
       CASE WHEN cnt_a > 0 AND cnt_b > 0 THEN CAST(round(
         (CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE)
          - CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE))
         * ln((CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE))
              / (CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE)))
         * 1000000.0) AS BIGINT)
       END AS psi_contrib_micro
FROM per, tot
ORDER BY bin
"""


def js_token_drift_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token Jensen–Shannon divergence contributions between the
    even/odd doc_id corpus halves (`operators/drift.py::
    js_token_divergence` — "which tokens shifted between snapshots"):
    whitespace-split casefolded tokens (the `lexical_diversity` split),
    probabilities over the FULL token totals, only tokens with ≥ 20
    combined occurrences emitted; contributions micro-int rounded and
    non-negative by Jensen."""
    from swisscourtrulingcorpus_spark.operators.drift import (
        js_token_divergence,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        F.expr(f"explode({words_sql('text')})").alias("token"),
        (F.col("doc_id") % 2 == 0).alias("is_a"),
    )
    return js_token_divergence(
        toks, F.col("token"), F.col("is_a"), min_total=20
    )


JS_TOKEN_ORACLE = f"""
WITH toks AS (
  SELECT unnest({_words_duck("text")}) AS t,
         doc_id % 2 = 0 AS a
  FROM documents WHERE text IS NOT NULL),
per AS (
  SELECT t,
         CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS cnt_a,
         CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS cnt_b
  FROM toks WHERE t IS NOT NULL AND t <> '' GROUP BY 1),
tot AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb FROM per
        HAVING sum(cnt_a) > 0 AND sum(cnt_b) > 0),
big AS (
  SELECT t, cnt_a, cnt_b,
         CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
         CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE) AS pb
  FROM per, tot WHERE cnt_a + cnt_b >= 20)
SELECT t AS token, cnt_a, cnt_b,
       CAST(round(0.5 * (
         CASE WHEN cnt_a > 0 THEN pa * ln(pa / ((pa + pb) / 2.0))
              ELSE 0.0 END
         + CASE WHEN cnt_b > 0 THEN pb * ln(pb / ((pa + pb) / 2.0))
                ELSE 0.0 END) * 1000000.0) AS BIGINT)
         AS js_contrib_micro
FROM big
"""


SPECS = [
    QuerySpec(
        "ks_drift_order_priority",
        ks_drift_order_priority,
        KS_DRIFT_ORACLE,
        "exact two-sample KS via bigint ECDF differences + two-phase prefix sum",
    ),
    QuerySpec(
        "ks_drift_by_region",
        ks_drift_by_region,
        KS_BY_REGION_ORACLE,
        "per-slice exact KS: all slices in one prefix-sum pass, totals joined in-plan",
    ),
    QuerySpec(
        "psi_doclen_snapshots",
        psi_doclen_snapshots,
        PSI_DOCLEN_ORACLE,
        "per-bin PSI drift contributions, micro-int rounded logs",
    ),
    QuerySpec(
        "js_token_drift_snapshots",
        js_token_drift_snapshots,
        JS_TOKEN_ORACLE,
        "per-token Jensen-Shannon drift contributions over full-total probabilities",
    ),
]


def incremental_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING PSI twin value-gated (the `incremental_cusum_drift`
    probe-stage pattern): the odd-doc_id corpus half replays through
    the genuine streaming count-register fold
    (`streaming/stateful.py::make_psi_register_update` — the exact
    function `psi_register_stream` hands to applyInPandasWithState) as
    3 doc_id-ordered micro-batch chunks with cross-batch state carry,
    against a REGISTERED baseline: the even half's per-bin counts, a
    bin-bounded driver collect (the calibration-table pattern, ≤ 41
    rows here).  The final register emission then feeds the SAME
    micro-int PSI contribution expressions as the static `psi_table`
    (the python fold stays purely integer; both engines do the log),
    so the output must hash-equal the static even-vs-odd PSI oracle —
    register maintenance, union-bin emission and NULL empty-side
    semantics included."""
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        psi_register_batch_replay,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    )
    binned = docs.select(
        F.least(F.expr("n_chars div 256"), F.lit(40)).alias("bin"),
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("__even"),
    )
    base = {
        int(r["bin"]): int(r["cnt"])
        for r in binned.where(F.col("__even"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    live = binned.where(~F.col("__even")).select(
        F.lit("odd").alias("snapshot"),
        "bin",
        F.col("doc_id").alias("__ord"),
    )
    reg = psi_register_batch_replay(
        live, sorted(base), order_col="__ord", n_batches=3
    )
    base_df = spark.createDataFrame(
        sorted(base.items()), "bin: long, cnt_a: long"
    )
    j = (
        reg.join(F.broadcast(base_df), on="bin", how="left")
        .select(
            "bin",
            F.coalesce(F.col("cnt_a"), F.lit(0)).alias("cnt_a"),
            F.col("cnt").alias("cnt_b"),
        )
    )
    # totals WITHOUT a second replay execution (r11 review): the
    # baseline total is driver-known from the bounded collect, and the
    # live total is a window over the bin-bounded register itself —
    # the single-partition window is safe by construction (≤ |bins|
    # rows), like the prefix-sum offsets table
    from pyspark.sql import Window

    from swisscourtrulingcorpus_spark.operators.drift import (
        psi_contrib_micro,
    )

    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = j.withColumn("__na", F.lit(sum(base.values()))).withColumn(
        "__nb", F.sum("cnt_b").over(w_all)
    )
    contrib = psi_contrib_micro(
        F.col("cnt_a"), F.col("cnt_b"), F.col("__na"), F.col("__nb")
    )
    return out.select(
        "bin", "cnt_a", "cnt_b", contrib.alias("psi_contrib_micro")
    ).orderBy("bin")


# the oracle never streams: the static even-vs-odd PSI over the full
# table — hash equality IS the register-maintenance proof (the
# INCREMENTAL_CUSUM_ORACLE convention)
INCREMENTAL_PSI_ORACLE = PSI_DOCLEN_ORACLE


SPECS += [
    QuerySpec(
        "incremental_psi_drift",
        incremental_psi_drift,
        INCREMENTAL_PSI_ORACLE,
        "streaming PSI count register replayed as sequential micro-batch chunks vs the static oracle",
    ),
]


def psi_doclen_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE PSI between the even/odd snapshot halves' document
    length distributions (`operators/drift.py::psi_table_by` — the
    fleet-wide PSI audit: every language's drift report in ONE job,
    slice totals joined back as a broadcast, zero driver collects).
    Same bins and contribution conventions as `psi_doclen_snapshots`;
    probabilities normalize per language."""
    from swisscourtrulingcorpus_spark.operators.drift import psi_table_by

    docs = load_table(spark, sf_dir, "documents")
    return psi_table_by(
        docs.where(F.col("n_chars").isNotNull()),
        F.least(F.expr("n_chars div 256"), F.lit(40)),
        F.col("doc_id") % 2 == 0,
        F.col("lang"),
    ).orderBy("slice", "bin")


PSI_BY_LANG_ORACLE = """
WITH slim AS (
  SELECT lang AS s, least(n_chars // 256, 40) AS bin, doc_id % 2 = 0 AS a
  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
per AS (
  SELECT s, bin,
         CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS cnt_a,
         CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS cnt_b
  FROM slim GROUP BY 1, 2),
tot AS (SELECT s, sum(cnt_a) AS na, sum(cnt_b) AS nb FROM per GROUP BY 1)
SELECT s AS slice, CAST(bin AS BIGINT) AS bin, cnt_a, cnt_b,
       CASE WHEN cnt_a > 0 AND cnt_b > 0 THEN CAST(round(
         (CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE)
          - CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE))
         * ln((CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE))
              / (CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE)))
         * 1000000.0) AS BIGINT)
       END AS psi_contrib_micro
FROM per JOIN tot USING (s)
ORDER BY s, bin
"""


SPECS += [
    QuerySpec(
        "psi_doclen_by_lang",
        psi_doclen_by_lang,
        PSI_BY_LANG_ORACLE,
        "per-slice PSI drift: every language in one job, slice totals broadcast",
    ),
]


def cvm_drift_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Cramér–von Mises T between the URGENT and LOW
    order-value distributions (`operators/drift.py::cvm_two_sample` —
    the sum-squared complement of the KS gate on the same slices: KS
    flags the worst single ECDF gap, CvM integrates every gap).  One
    exact DECIMAL(38,0) numerator over the pooled multiplicities, one
    terminal double division."""
    from swisscourtrulingcorpus_spark.operators.drift import cvm_two_sample

    o = load_table(spark, sf_dir, "orders").select(
        (_dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderpriority",
    )
    return cvm_two_sample(o, "cents", "o_orderpriority", "1-URGENT", "5-LOW")


CVM_DRIFT_ORACLE = """
WITH src AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         o_orderpriority AS g
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
tot AS (
  SELECT CAST(count(CASE WHEN g = '1-URGENT' THEN 1 END) AS BIGINT) AS na,
         CAST(count(CASE WHEN g = '5-LOW' THEN 1 END) AS BIGINT) AS nb
  FROM src),
per AS (
  SELECT v,
         CAST(count(CASE WHEN g = '1-URGENT' THEN 1 END) AS BIGINT) AS ca,
         CAST(count(CASE WHEN g = '5-LOW' THEN 1 END) AS BIGINT) AS cb
  FROM src GROUP BY 1),
cum AS (
  SELECT ca, cb,
         sum(nb * ca - na * cb)
           OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS diff
  FROM per, tot),
u AS (
  SELECT CAST(sum(CAST(ca + cb AS DECIMAL(38,0))
               * CAST(diff AS DECIMAL(38,0))
               * CAST(diff AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS u_num
  FROM cum)
-- the denominator multiplies in DECIMAL(38,0): at sf1 group counts
-- (~3e5 each) the BIGINT product na*nb*(na+nb)^2 overflows int64 and
-- DuckDB raises; and u_num's DOUBLE cast routes through VARCHAR —
-- DuckDB's direct DECIMAL->DOUBLE double-rounds one ulp off Spark's
-- BigDecimal conversion past 2^64 (verify-skill gotcha; r11 review)
SELECT na AS n_a, nb AS n_b,
       CAST(u_num AS VARCHAR) AS u_num,
       CAST(CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
            * CAST(na + nb AS DECIMAL(38,0))
            * CAST(na + nb AS DECIMAL(38,0)) AS VARCHAR) AS u_den,
       CAST(CAST(u_num AS VARCHAR) AS DOUBLE)
         / CAST(CAST(CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))
                     * CAST(na + nb AS DECIMAL(38,0))
                     * CAST(na + nb AS DECIMAL(38,0)) AS VARCHAR)
                AS DOUBLE) AS t
FROM u, tot
"""


def js_token_drift_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE per-token Jensen–Shannon drift contributions
    between the even/odd snapshot halves
    (`operators/drift.py::js_token_divergence_by` — the grouped JS
    that completes the fleet-wide drift trio): every language's
    vocabulary-shift report in one job, slice totals broadcast,
    ≥ 20-occurrence emission bound per language."""
    from swisscourtrulingcorpus_spark.operators.drift import (
        js_token_divergence_by,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    toks = docs.select(
        F.col("lang"),
        F.expr(f"explode({words_sql('text')})").alias("token"),
        (F.col("doc_id") % 2 == 0).alias("is_a"),
    )
    return js_token_divergence_by(
        toks, F.col("token"), F.col("is_a"), F.col("lang"), min_total=20
    )


JS_BY_LANG_ORACLE = f"""
WITH toks AS (
  SELECT lang AS s,
         unnest({_words_duck("text")}) AS t,
         doc_id % 2 = 0 AS a
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
per AS (
  SELECT s, t,
         CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS cnt_a,
         CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS cnt_b
  FROM toks WHERE t IS NOT NULL AND t <> '' GROUP BY 1, 2),
tot AS (SELECT s, sum(cnt_a) AS na, sum(cnt_b) AS nb FROM per GROUP BY 1
        HAVING sum(cnt_a) > 0 AND sum(cnt_b) > 0),
big AS (
  SELECT per.s, t, cnt_a, cnt_b,
         CAST(cnt_a AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
         CAST(cnt_b AS DOUBLE) / CAST(nb AS DOUBLE) AS pb
  FROM per JOIN tot USING (s) WHERE cnt_a + cnt_b >= 20)
SELECT s AS slice, t AS token, cnt_a, cnt_b,
       CAST(round(0.5 * (
         CASE WHEN cnt_a > 0 THEN pa * ln(pa / ((pa + pb) / 2.0))
              ELSE 0.0 END
         + CASE WHEN cnt_b > 0 THEN pb * ln(pb / ((pa + pb) / 2.0))
                ELSE 0.0 END) * 1000000.0) AS BIGINT)
         AS js_contrib_micro
FROM big
"""


SPECS += [
    QuerySpec(
        "cvm_drift_order_priority",
        cvm_drift_order_priority,
        CVM_DRIFT_ORACLE,
        "exact Cramér–von Mises: multiplicity-weighted squared ECDF gaps, decimal numerator",
    ),
    QuerySpec(
        "js_token_drift_by_lang",
        js_token_drift_by_lang,
        JS_BY_LANG_ORACLE,
        "per-slice JS drift: every language's vocabulary shift in one job",
    ),
]


def ks_drift_fdr_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet-wide drift ALERT: per-NATION exact KS between URGENT
    and LOW order values (25 slices, `ks_two_sample_by`) composed with
    Benjamini–Hochberg FDR control (`operators/drift.py::bh_step_up`)
    over the one-term Smirnov tail p-values (`ks_tail_p_micro`) — the
    report a production monitor pages on: which slices drifted, with
    the false-discovery rate bounded at 5% instead of α·m false
    alarms per sweep.  BH decisions are exact integer cross-multiplies
    over micro-int p-values; the rank windows run over the 25-row
    report, not the corpus."""
    from swisscourtrulingcorpus_spark.operators.drift import (
        bh_step_up,
        ks_tail_p_micro,
        ks_two_sample_by,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (_dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderpriority",
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    ks = ks_two_sample_by(
        joined, "cents", "o_orderpriority", "1-URGENT", "5-LOW", "n_name"
    )
    with_p = ks.withColumn(
        "p_tail_micro",
        ks_tail_p_micro(
            F.col("d_num"), F.col("d_den"), F.col("n_a"), F.col("n_b")
        ),
    ).select("slice", "n_a", "n_b", "d_num", "d_den", "p_tail_micro")
    return bh_step_up(
        with_p, "p_tail_micro", "slice", alpha_micro=50_000
    ).orderBy("slice")


KS_FDR_ORACLE = """
WITH src AS (
  SELECT n.n_name AS s,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         o.o_orderpriority AS g
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')),
per AS (
  SELECT s, v,
         CAST(count(CASE WHEN g = '1-URGENT' THEN 1 END) AS BIGINT) AS ca,
         CAST(count(CASE WHEN g = '5-LOW' THEN 1 END) AS BIGINT) AS cb
  FROM src GROUP BY 1, 2),
tot AS (
  SELECT s, sum(ca) AS na, sum(cb) AS nb FROM per GROUP BY 1
  HAVING sum(ca) > 0 AND sum(cb) > 0),
cum AS (
  SELECT per.s, t.na, t.nb,
         sum(t.nb * per.ca - t.na * per.cb)
           OVER (PARTITION BY per.s ORDER BY per.v
                 ROWS UNBOUNDED PRECEDING) AS diff
  FROM per JOIN tot t USING (s)),
ks AS (
  SELECT s AS slice,
         CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
         CAST(max(abs(diff)) AS BIGINT) AS d_num,
         CAST(na * nb AS BIGINT) AS d_den
  FROM cum GROUP BY s, na, nb),
withp AS (
  SELECT slice, n_a, n_b, d_num, d_den,
         CAST(round(least(1.0, 2.0 * exp(-2.0
           * (CAST(d_num AS DOUBLE) / CAST(d_den AS DOUBLE))
           * (CAST(d_num AS DOUBLE) / CAST(d_den AS DOUBLE))
           * (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
              / CAST(n_a + n_b AS DOUBLE))))
           * 1000000.0) AS BIGINT) AS p_tail_micro
  FROM ks),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY p_tail_micro, slice) AS BIGINT)
           AS p_rank,
         CAST(count(*) OVER () AS BIGINT) AS m_tests
  FROM withp),
withk AS (
  SELECT *,
         max(CASE WHEN p_tail_micro * m_tests <= p_rank * 50000
                  THEN p_rank END) OVER () AS kmax
  FROM ranked)
SELECT slice, n_a, n_b, d_num, d_den, p_tail_micro, p_rank, m_tests,
       (p_rank <= coalesce(kmax, 0)) AS significant
FROM withk
ORDER BY slice
"""


SPECS += [
    QuerySpec(
        "ks_drift_fdr_by_nation",
        ks_drift_fdr_by_nation,
        KS_FDR_ORACLE,
        "BH-FDR drift alert: per-nation KS tail p-values, integer step-up decisions",
    ),
]
