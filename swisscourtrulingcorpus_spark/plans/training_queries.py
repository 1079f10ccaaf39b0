"""Gate queries for the round-3 training-pipeline additions: sequence
packing and PII redaction.

Both are 100 TB-first designs: packing runs the two-phase parallel
prefix-sum (no single-partition window), redaction is a pure codegen
regexp chain (no shuffle at all).  The fixture corpus contains no PII,
so the redaction gate salts each document with synthetic PII derived
deterministically from ``doc_id`` — both engines construct the same
string, so every regex family is exercised on every row instead of
matching nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql
from swisscourtrulingcorpus_spark.functions.redaction import (
    count_pii,
    oracle_count_sql,
    oracle_redact_sql,
    redact_pii,
)
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.plans.text_queries import _words_duck
from swisscourtrulingcorpus_spark.sources.catalog import load_table


# --- sequence packing ----------------------------------------------------

_CTX = 256


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split packing of the document corpus into 256-token
    context windows (`operators/training.py::pack_sequences`)."""
    from swisscourtrulingcorpus_spark.operators.training import pack_sequences

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    with_len = docs.select(
        "doc_id",
        F.expr(f"size({words_sql('text')})").alias("__n"),
    )
    return pack_sequences(with_len, "__n", "doc_id", context_len=_CTX)


PACKING_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_words_duck("text")}) AS BIGINT) AS n,
         md5('pack|' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT doc_id, n,
         CAST(sum(n) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS start
  FROM t)
SELECT doc_id,
       n AS n_tokens,
       start AS token_start,
       CAST(floor(start / {_CTX}) AS BIGINT) AS pack_id,
       CAST(start % {_CTX} AS BIGINT) AS pack_offset
FROM c
"""


# --- PII redaction -------------------------------------------------------

# Synthetic PII suffix, parameterized by doc_id so every row is unique:
# one e-mail, one Swiss phone, one AHV number, one IBAN.
_PII_SUFFIX_SQL = (
    "' Kontakt: user' || CAST(doc_id AS VARCHAR) || '@example.com, "
    "Tel. +41 44 123 45 67, AHV 756.1234.5678.90, "
    "IBAN CH93 0076 2011 6238 5295 7.'"
)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact all four PII families
    (`functions/redaction.py`); the redacted text is md5'd so the gate
    hash-compares the full rewritten string."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    salted = F.concat(
        F.col("text"),
        F.lit(" Kontakt: user"),
        F.col("doc_id").cast("string"),
        F.lit(
            "@example.com, Tel. +41 44 123 45 67, AHV 756.1234.5678.90, "
            "IBAN CH93 0076 2011 6238 5295 7."
        ),
    )
    return docs.select(
        "doc_id",
        count_pii(salted, "EMAIL").alias("n_emails"),
        count_pii(salted, "PHONE").alias("n_phones"),
        count_pii(salted, "AHV").alias("n_ahv"),
        count_pii(salted, "IBAN").alias("n_ibans"),
        F.md5(redact_pii(salted)).alias("redacted_md5"),
    )


PII_ORACLE = f"""
WITH s AS (
  SELECT doc_id, text || {_PII_SUFFIX_SQL} AS salted
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id,
       {oracle_count_sql('salted', 'EMAIL')} AS n_emails,
       {oracle_count_sql('salted', 'PHONE')} AS n_phones,
       {oracle_count_sql('salted', 'AHV')} AS n_ahv,
       {oracle_count_sql('salted', 'IBAN')} AS n_ibans,
       md5({oracle_redact_sql('salted')}) AS redacted_md5
FROM s
"""


# --- domain mixture sampling --------------------------------------------

_MIX_RATES = {"en": 0.5, "zh": 0.0, "fr": 0.25, "de": 1.0}


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-mixing downsample by language
    (`operators/training.py::domain_mix_sample`): en halved, zh dropped,
    fr quartered, de and everything else kept."""
    from swisscourtrulingcorpus_spark.operators.training import domain_mix_sample

    docs = load_table(spark, sf_dir, "documents")
    return domain_mix_sample(docs, "lang", "doc_id", _MIX_RATES).select(
        "doc_id", "lang", "source"
    )


def _mix_oracle() -> str:
    from swisscourtrulingcorpus_spark.operators.training import (
        oracle_domain_mix_predicate,
    )

    pred = oracle_domain_mix_predicate("lang", "doc_id", _MIX_RATES)
    return f"SELECT doc_id, lang, source FROM documents WHERE {pred}"


_N_SHARDS = 16


def q_length_grouped_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency length grouping
    (`operators/training.py::length_grouped_shards`): documents ranked
    by (token count, doc_id) split into 16 contiguous shards via the
    two-phase parallel rank — similar lengths batch together."""
    from swisscourtrulingcorpus_spark.operators.training import (
        length_grouped_shards,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    with_len = docs.select(
        "doc_id", F.expr(f"size({words_sql('text')})").alias("n_tokens")
    )
    return length_grouped_shards(with_len, "n_tokens", "doc_id", _N_SHARDS)


LENGTH_SHARDS_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len({_words_duck("text")}) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL)
SELECT doc_id, n_tokens,
       CAST((row_number() OVER (ORDER BY n_tokens, doc_id) - 1) * {_N_SHARDS}
            // (count(*) OVER ()) + 1 AS INT) AS shard
FROM t
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sampling
    (`operators/training.py::stratified_sample_exact`): 20 documents
    per language by seeded md5 order — hard per-stratum counts, unlike
    the rate-based domain mix."""
    from swisscourtrulingcorpus_spark.operators.training import (
        stratified_sample_exact,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return stratified_sample_exact(docs, "lang", "doc_id", 20)


STRATIFIED_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents)
SELECT doc_id, lang, n_chars FROM ranked WHERE rk <= 20
"""


# --- priority sampling: weight-proportional subset + unbiased total ------

_PSAMP_K = 64


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64 documents sampled proportional to whitespace token count
    (`operators/training.py::priority_sample`) — integer priorities,
    TakeOrdered plan."""
    from swisscourtrulingcorpus_spark.functions.text import token_count_ws
    from swisscourtrulingcorpus_spark.operators.training import priority_sample

    docs = load_table(spark, sf_dir, "documents")
    r = priority_sample(docs, token_count_ws("text"), "doc_id", k=_PSAMP_K)
    return r.where(F.col("is_sample") == 1).select(
        "doc_id", F.col("weight").alias("w_tokens"), "q_scaled", "rank"
    )


def q_priority_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased-total side of priority sampling: one row with the
    threshold priority tau (the k+1-th, already in weight units:
    q_scaled = w * 2^32 div (h+1) = floor(w/u)) and the estimated
    corpus token total sum(max(w_i, tau)) — integer-exact; the floor
    on tau biases the estimate down by at most k tokens, far inside
    the estimator's own ~1/sqrt(k-1) spread.  Accuracy vs the true
    total is asserted in tests/test_training_ops.py."""
    from swisscourtrulingcorpus_spark.functions.text import token_count_ws
    from swisscourtrulingcorpus_spark.operators.training import priority_sample
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    r = priority_sample(docs, token_count_ws("text"), "doc_id", k=_PSAMP_K)
    # tau as a window scalar over the k+1 rows (0 when the corpus has
    # <= k weighted rows and no threshold row exists)
    tau = F.coalesce(
        F.max(F.when(F.col("is_sample") == 0, F.col("q_scaled"))).over(
            Window.partitionBy()
        ),
        F.lit(0).cast("bigint"),
    )
    return (
        r.withColumn("tau_scaled", tau)
        .where(F.col("is_sample") == 1)
        .groupBy("tau_scaled")
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.sum(
                F.greatest(F.col("weight"), F.col("tau_scaled"))
            ).alias("est_total_tokens"),
        )
        .select("k_used", "tau_scaled", "est_total_tokens")
    )


_PSAMP_RANKED_CTE = f"""
WITH raw AS (
  SELECT doc_id,
         CAST(len({_words_duck("text")}) AS BIGINT) AS w_tokens,
         CAST(('0x' || substr(md5('psamp|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 1 AS BIGINT) AS m
  FROM documents
  WHERE len({_words_duck("text")}) > 0),
-- staged long division (the integer_hits identity, mirrored from the
-- Spark side): w*2^32 // m without the w*2^32 intermediate, so the
-- oracle doesn't hit DuckDB's int64 overflow error where Spark's
-- staged form still produces the exact quotient
pri AS (
  SELECT doc_id, w_tokens,
         (w_tokens // m) * {1 << 32}
           + (((w_tokens % m) * 65536) // m) * 65536
           + ((((w_tokens % m) * 65536) % m) * 65536) // m AS q_scaled
  FROM raw),
ranked AS (
  SELECT doc_id, w_tokens, CAST(q_scaled AS BIGINT) AS q_scaled,
         CAST(row_number() OVER (ORDER BY q_scaled DESC, doc_id) AS BIGINT) AS rank
  FROM pri)
"""

PSAMP_ORACLE = (
    _PSAMP_RANKED_CTE
    + f"""
SELECT doc_id, w_tokens, q_scaled, rank FROM ranked WHERE rank <= {_PSAMP_K}
"""
)

PSAMP_ESTIMATE_ORACLE = (
    _PSAMP_RANKED_CTE
    + f""",
tau AS (
  SELECT coalesce(max(CASE WHEN rank = {_PSAMP_K + 1} THEN q_scaled END), 0) AS tau_scaled
  FROM ranked)
SELECT CAST(count(*) AS BIGINT) AS k_used,
       CAST(t.tau_scaled AS BIGINT) AS tau_scaled,
       CAST(sum(greatest(w_tokens, t.tau_scaled)) AS BIGINT) AS est_total_tokens
FROM ranked r, tau t
WHERE r.rank <= {_PSAMP_K}
GROUP BY t.tau_scaled
"""
)


# --- token-budget mix planning -------------------------------------------

_BUDGET_TOKENS = 1_000_000
_MIX_WEIGHTS = {"de": 4, "fr": 3, "it": 2, "en": 1}  # integer weights


def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-allocation step of a training run: given a total token
    budget and per-language mix weights, how many tokens each language
    contributes and how many EPOCHS of its available data that implies
    (epochs > 1 = repetition, the signal to renegotiate the mix).
    One aggregation for per-language availability, then pure integer
    planning arithmetic: allocated = budget * w div Σw, epochs_milli =
    allocated * 1000 div available.  Languages outside the weight map
    get weight 0 — present in the report, allocated nothing."""
    from swisscourtrulingcorpus_spark.functions.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    w_expr = F.create_map(
        *[F.lit(x) for kv in _MIX_WEIGHTS.items() for x in kv]
    )
    avail = (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_ws("text").cast("bigint")).alias(
                "available_tokens"
            ),
        )
        .select(
            "lang",
            "n_docs",
            "available_tokens",
            F.coalesce(w_expr.getItem(F.col("lang")), F.lit(0)).alias("w"),
        )
    )
    total_w = sum(_MIX_WEIGHTS.values())
    return avail.select(
        "lang",
        "n_docs",
        "available_tokens",
        F.expr(f"CAST({_BUDGET_TOKENS} AS BIGINT) * w div {total_w}").alias(
            "allocated_tokens"
        ),
        F.expr(
            f"CAST({_BUDGET_TOKENS} AS BIGINT) * w * 1000"
            f" div ({total_w} * available_tokens)"
        ).alias("epochs_milli"),
    )


_BUDGET_W_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _MIX_WEIGHTS.items()
) + " ELSE 0 END"

TOKEN_BUDGET_ORACLE = f"""
WITH avail AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len({_words_duck("text")})) AS BIGINT)
           AS available_tokens,
         {_BUDGET_W_SQL} AS w
  FROM documents GROUP BY lang)
SELECT lang, n_docs, available_tokens,
       CAST({_BUDGET_TOKENS}::BIGINT * w // {sum(_MIX_WEIGHTS.values())} AS BIGINT)
         AS allocated_tokens,
       CAST({_BUDGET_TOKENS}::BIGINT * w * 1000
            // ({sum(_MIX_WEIGHTS.values())} * available_tokens) AS BIGINT)
         AS epochs_milli
FROM avail
"""


SPECS = [
    QuerySpec("sequence_packing_documents", q_sequence_packing, PACKING_ORACLE, "context-window packing"),
    QuerySpec("length_grouped_shards", q_length_grouped_shards, LENGTH_SHARDS_ORACLE, "padding-efficiency length bucketing"),
    QuerySpec("pii_redaction_documents", q_pii_redaction, PII_ORACLE, "PII count + redact"),
    QuerySpec("domain_mix_documents", q_domain_mix, _mix_oracle(), "mixture-rate downsample"),
    QuerySpec("stratified_sample_documents", q_stratified_sample, STRATIFIED_ORACLE, "exact per-stratum quota sample (seeded md5 order)"),
    QuerySpec("priority_sample_documents", q_priority_sample, PSAMP_ORACLE, "weight-proportional top-k (priority sampling)"),
    QuerySpec("priority_sample_total_estimate", q_priority_sample_estimate, PSAMP_ESTIMATE_ORACLE, "priority-sampling unbiased total, integer-exact"),
    QuerySpec("token_budget_plan", q_token_budget_plan, TOKEN_BUDGET_ORACLE, "per-language token-budget allocation + epoch implication"),
]
