"""Round-3c gate queries: the learned ANN layer
(`operators/clustering.py`), vocabulary building/application, data
quality + skew diagnostics, Gopher repetition rules, and the trained
char-trigram language classifier.

Determinism contract shared by the IVF/PQ gates: centroids/codewords
are the vectors of the smallest ids (exactly what
``kmeans_fit``/``pq_codebooks_from_rows`` use as their deterministic
init), so the oracle can reconstruct them relationally and the argmin
comparisons run over bit-identical doubles on both engines — the
squared-L2 surrogate ``c.c - 2 a.c`` is two flops over the
sequential-fold dot product already verified to match DuckDB's
``list_dot_product``.  Trained (post-Lloyd) centroids go through the
same ``assign_clusters`` plan; ``kmeans_fit`` itself is iterative and
covered by pytest (`tests/test_clustering.py`), not SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import h32_sql, words_sql
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.plans.text_queries import _h32_sql, _words_duck
from swisscourtrulingcorpus_spark.sources.catalog import load_table

_K = 8  # IVF centroids
_NPROBE = 3  # probe cells per query vector in the bucketed bitext gate
_M = 4  # PQ subspaces
_KSUB = 4  # PQ codewords per subspace
_DIM = 64
_MIN_FREQ = 2
_VOCAB_TOP = 1000


def _seed_centroids(emb: DataFrame, k: int) -> list[list[float]]:
    rows = (
        emb.where(F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .select("embedding")
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def q_ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantizer (`operators/clustering.py::assign_clusters`)
    with the deterministic seed centroids (vectors of the 8 smallest
    ids).  One broadcast argmin scan — the per-row cluster id every
    IVF/SemDeDup path downstream consumes."""
    from swisscourtrulingcorpus_spark.operators.clustering import assign_clusters

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_centroids(emb, _K)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__v")
    )
    return assign_clusters(vecs, cents, "__v", "vec_id").select(
        "vec_id", F.col("cluster").cast("int").alias("cluster")
    )


IVF_ASSIGNMENT_ORACLE = f"""
WITH c AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE embedding IS NOT NULL
  ORDER BY vec_id LIMIT {_K}),
sc AS (
  SELECT e.vec_id, c.cid,
         list_dot_product(c.cvec, c.cvec)
           - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec) AS score
  FROM embeddings e CROSS JOIN c WHERE e.embedding IS NOT NULL),
r AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
  FROM sc)
SELECT vec_id, cid AS cluster FROM r WHERE rn = 1
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding
    (`operators/clustering.py::pq_encode`): 64-dim floats -> 4 codes
    from 4-codeword seed codebooks, exploded to (vec_id, s, code) so
    the gate hashes plain ints."""
    from swisscourtrulingcorpus_spark.operators.clustering import (
        pq_codebooks_from_rows,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cbs = pq_codebooks_from_rows(emb, "embedding", "vec_id", _DIM, _M, _KSUB)
    codes = pq_encode(emb, cbs, "embedding", "vec_id")
    return codes.select(
        "vec_id", F.posexplode("codes").alias("s", "code")
    ).select("vec_id", F.col("s").cast("int"), F.col("code").cast("int"))


_SUB = _DIM // _M

PQ_CODES_ORACLE = f"""
WITH sub AS (SELECT CAST(s AS INTEGER) AS s FROM generate_series(0, {_M - 1}) t(s)),
seed AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
         embedding
  FROM embeddings WHERE embedding IS NOT NULL
  ORDER BY vec_id LIMIT {_KSUB}),
cb AS (
  SELECT sub.s, seed.code,
         CAST(array_slice(seed.embedding, sub.s * {_SUB} + 1, sub.s * {_SUB} + {_SUB}) AS DOUBLE[]) AS cvec
  FROM seed CROSS JOIN sub),
v AS (
  SELECT e.vec_id, sub.s,
         CAST(array_slice(e.embedding, sub.s * {_SUB} + 1, sub.s * {_SUB} + {_SUB}) AS DOUBLE[]) AS svec
  FROM embeddings e CROSS JOIN sub WHERE e.embedding IS NOT NULL),
sc AS (
  SELECT v.vec_id, v.s, cb.code,
         list_dot_product(cb.cvec, cb.cvec) - 2 * list_dot_product(v.svec, cb.cvec) AS score
  FROM v JOIN cb ON v.s = cb.s),
r AS (
  SELECT vec_id, s, code,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY score, code) AS rn
  FROM sc)
SELECT vec_id, s, code FROM r WHERE rn = 1
"""


def q_ivfpq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ encoding (`operators/clustering.py::ivfpq_encode`) with
    the deterministic seed construction end-to-end: coarse centroids =
    vectors of the 8 smallest ids, residual codebooks = residual
    slices of the 4 smallest ids.  Every compared double is a
    composition of the verified fold + exact elementwise subtraction,
    so cluster AND code assignments hash-match the oracle bit-for-bit."""
    from swisscourtrulingcorpus_spark.operators.clustering import (
        ivfpq_encode,
        ivfpq_seed,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_centroids(emb, _K)
    cbs = ivfpq_seed(emb, cents, "embedding", "vec_id", _DIM, _M, _KSUB)
    codes = ivfpq_encode(emb, cents, cbs, "embedding", "vec_id")
    return codes.select(
        "vec_id",
        F.col("cluster").cast("int"),
        F.posexplode("codes").alias("s", "code"),
    ).select("vec_id", "cluster", F.col("s").cast("int"), F.col("code").cast("int"))


IVFPQ_CODES_ORACLE = f"""
WITH c AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE embedding IS NOT NULL
  ORDER BY vec_id LIMIT {_K}),
a AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_dot_product(c.cvec, c.cvec)
             - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec),
           c.cid) AS rn
  FROM embeddings e CROSS JOIN c WHERE e.embedding IS NOT NULL),
asg AS (SELECT vec_id, v, cid FROM a WHERE rn = 1),
res AS (
  SELECT asg.vec_id, asg.cid,
         list_transform(asg.v, (x, i) -> x - c2.cvec[i]) AS r
  FROM asg JOIN c c2 ON asg.cid = c2.cid),
sub AS (SELECT CAST(s AS INTEGER) AS s FROM generate_series(0, {_M - 1}) t(s)),
seed AS (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT {_KSUB}),
cb AS (
  SELECT sub.s,
         CAST(row_number() OVER (PARTITION BY sub.s ORDER BY seed.vec_id) - 1 AS INTEGER) AS code,
         array_slice(seed.r, sub.s * {_SUB} + 1, sub.s * {_SUB} + {_SUB}) AS cvec
  FROM seed CROSS JOIN sub),
v2 AS (
  SELECT res.vec_id, res.cid, sub.s,
         array_slice(res.r, sub.s * {_SUB} + 1, sub.s * {_SUB} + {_SUB}) AS svec
  FROM res CROSS JOIN sub),
sc AS (
  SELECT v2.vec_id, v2.cid, v2.s, cb.code,
         row_number() OVER (PARTITION BY v2.vec_id, v2.s ORDER BY
           list_dot_product(cb.cvec, cb.cvec)
             - 2 * list_dot_product(v2.svec, cb.cvec),
           cb.code) AS rn
  FROM v2 JOIN cb ON v2.s = cb.s)
SELECT vec_id, cid AS cluster, s, code FROM sc WHERE rn = 1
"""


def q_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary build: whitespace tokens of the
    lowercased corpus, ``min_freq`` floor, id = dense rank by
    (freq DESC, token ASC), top-{_VOCAB_TOP}.

    The training-pipeline primitive behind token-id datasets: the heavy
    part (token counting) is a map-side-combined groupBy; the global
    rank runs over the *vocabulary* (<< corpus, bounded further by the
    frequency floor), never over the corpus itself."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counts = (
        docs.select(
            F.expr(f"explode({words_sql('text')})").alias("token")
        )
        .where(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= _MIN_FREQ)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return (
        counts.withColumn("vocab_id", F.row_number().over(w))
        .where(F.col("vocab_id") <= _VOCAB_TOP)
        .select("token", "freq", "vocab_id")
    )


VOCAB_ORACLE = rf"""
WITH toks AS (
  SELECT unnest({_words_duck("text")}) AS token
  FROM documents WHERE text IS NOT NULL),
counts AS (
  SELECT token, count(*) AS freq FROM toks
  WHERE len(token) > 0 GROUP BY token HAVING count(*) >= {_MIN_FREQ}),
ranked AS (
  SELECT token, freq,
         CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS INTEGER) AS vocab_id
  FROM counts)
SELECT token, freq, vocab_id FROM ranked WHERE vocab_id <= {_VOCAB_TOP}
"""


def q_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary application — the tokenizer stage after
    ``vocab_top_tokens``: tokens map to their frequency-ranked ids
    (OOV -> 0) via `operators/training.py::apply_token_vocab`, which
    picks the plan by vocabulary size: a literal-map projection for
    small vocabularies (this gate's top-1000), a posexplode +
    broadcast hash join for real 50k-100k BPE tables (inlining those
    as literals bloats plan/codegen).  Exploded to
    (doc_id, pos, token_id) for the gate hash."""
    from swisscourtrulingcorpus_spark.operators.training import (
        apply_token_vocab,
    )

    vocab = q_vocab_top_tokens(spark, sf_dir).select("token", "vocab_id")
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return apply_token_vocab(
        docs, vocab, "doc_id", F.expr(words_sql("text"))
    )


TOKEN_IDS_ORACLE = rf"""
WITH toks AS (
  SELECT unnest({_words_duck("text")}) AS token
  FROM documents WHERE text IS NOT NULL),
counts AS (
  SELECT token, count(*) AS freq FROM toks
  WHERE len(token) > 0 GROUP BY token HAVING count(*) >= {_MIN_FREQ}),
vocab AS (
  SELECT token, CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS INTEGER) AS vocab_id
  FROM counts QUALIFY vocab_id <= {_VOCAB_TOP}),
docw AS (
  SELECT doc_id,
         unnest({_words_duck("text")}) AS w,
         unnest(range(len({_words_duck("text")}))) AS pos
  FROM documents WHERE text IS NOT NULL)
SELECT d.doc_id, CAST(d.pos AS INTEGER) AS pos,
       CAST(coalesce(v.vocab_id, 0) AS INTEGER) AS token_id
FROM docw d LEFT JOIN vocab v ON d.w = v.token
"""


_HASH_DIM = 64


def q_hashed_bow_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words embedder: text -> a dense
    {_HASH_DIM}-dim integer count vector, token index = md5 mod dim —
    the model-free bridge from the documents table into the ANN layer
    (cosine/IVF/PQ all consume the resulting array directly).

    Shape: explode -> (doc, index) count -> map_from_entries ->
    dense transform.  Counts are integers, so the gate hash-matches
    exactly; emitted exploded as (doc_id, dim, value)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.expr(f"explode({words_sql('text')})").alias("token"),
    ).where(F.length("token") > 0)
    counts = (
        toks.selectExpr(
            "doc_id", f"cast({h32_sql('token')} % {_HASH_DIM} as int) AS idx"
        )
        .groupBy("doc_id", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dense = (
        counts.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("idx", "cnt")))
            ).alias("__m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(_HASH_DIM - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("__m"), i.cast("int")), F.lit(0)
                ),
            ).alias("vec"),
        )
    )
    return dense.select(
        "doc_id", F.posexplode("vec").alias("dim", "value")
    ).select("doc_id", F.col("dim").cast("int"), F.col("value").cast("bigint"))


HASHED_BOW_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest({_words_duck("text")}) AS token
  FROM documents WHERE text IS NOT NULL),
counts AS (
  SELECT doc_id, CAST({_h32_sql('token')} % {_HASH_DIM} AS INTEGER) AS idx,
         CAST(count(*) AS BIGINT) AS cnt
  FROM toks WHERE len(token) > 0 GROUP BY doc_id, idx),
dims AS (SELECT CAST(d AS INTEGER) AS dim FROM generate_series(0, {_HASH_DIM - 1}) t(d)),
docs AS (SELECT DISTINCT doc_id FROM counts)
SELECT docs.doc_id, dims.dim,
       CAST(coalesce(c.cnt, 0) AS BIGINT) AS value
FROM docs CROSS JOIN dims
LEFT JOIN counts c ON c.doc_id = docs.doc_id AND c.idx = dims.dim
"""


def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report (`operators/expectations.py`): all
    row-level checks per table in ONE aggregation scan, uniqueness via
    one groupBy, referential integrity via anti-joins — the
    between-stage validation pass a 100 TB pipeline runs unattended."""
    from swisscourtrulingcorpus_spark.operators import expectations as X

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    return X.quality_report(
        [
            X.table_expectations(
                orders,
                "orders",
                [
                    X.not_null("o_custkey"),
                    X.in_range("o_totalprice", 0, 1000000),
                    X.accepted_values("o_orderstatus", ["O", "F", "P"]),
                ],
            ),
            X.table_expectations(
                lineitem,
                "lineitem",
                [
                    X.not_null("l_quantity"),
                    X.in_range("l_discount", 0.0, 0.1),
                ],
            ),
            X.expect_unique(orders, "orders", ["o_orderkey"]),
            X.expect_foreign_key(
                orders, "orders", "o_custkey", customer, "c_custkey"
            ),
            X.expect_foreign_key(
                lineitem, "lineitem", "l_orderkey", orders, "o_orderkey"
            ),
        ]
    )


DATA_QUALITY_ORACLE = """
SELECT 'orders.not_null:o_custkey' AS check,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
       CAST(count(*) AS BIGINT) AS total FROM orders
UNION ALL
SELECT 'orders.in_range:o_totalprice',
       CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                      AND o_totalprice NOT BETWEEN 0 AND 1000000 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM orders
UNION ALL
SELECT 'orders.accepted_values:o_orderstatus',
       CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM orders
UNION ALL
SELECT 'lineitem.not_null:l_quantity',
       CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM lineitem
UNION ALL
SELECT 'lineitem.in_range:l_discount',
       CAST(sum(CASE WHEN l_discount IS NOT NULL
                      AND l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM lineitem
UNION ALL
-- per-group (n-1) sum, NOT count(*) - count(DISTINCT ...): DISTINCT
-- drops NULL keys, but expect_unique's groupBy counts the NULL group
-- like any other (k null rows = k-1 duplicates, not k)
SELECT 'orders.unique:o_orderkey',
       CAST(coalesce(sum(n - 1), 0) AS BIGINT),
       CAST(coalesce(sum(n), 0) AS BIGINT)
FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey) g
UNION ALL
SELECT 'orders.fk:o_custkey',
       CAST((SELECT count(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
       CAST((SELECT count(*) FROM orders) AS BIGINT)
UNION ALL
SELECT 'lineitem.fk:l_orderkey',
       CAST((SELECT count(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem) AS BIGINT)
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column statistics
    (`operators/expectations.py::table_profile`) on orders — rows,
    nulls, exact NDV, min/max per column in one aggregation pass."""
    from swisscourtrulingcorpus_spark.operators.expectations import table_profile

    return table_profile(
        load_table(spark, sf_dir, "orders"),
        "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


TABLE_PROFILE_ORACLE = """
SELECT 'orders.' || col AS column,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_nulls AS BIGINT) AS n_nulls,
       CAST(ndv AS BIGINT) AS ndv,
       min_value, max_value
FROM (
  SELECT 'o_orderkey' AS col, count(*) AS n_rows,
         count(*) - count(o_orderkey) AS n_nulls,
         count(DISTINCT o_orderkey) AS ndv,
         CAST(min(o_orderkey) AS VARCHAR) AS min_value,
         CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders
  UNION ALL
  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
         count(DISTINCT o_custkey),
         CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
         count(DISTINCT o_orderstatus),
         min(o_orderstatus), max(o_orderstatus) FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
         count(DISTINCT o_orderpriority),
         min(o_orderpriority), max(o_orderpriority) FROM orders
) t
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics on orders.o_custkey
    (`operators/skew.py::skew_report`) — the pre-join measurement that
    picks plain shuffle vs AQE skew split vs the salted two-phase
    agg."""
    from swisscourtrulingcorpus_spark.operators.skew import skew_report

    return skew_report(load_table(spark, sf_dir, "orders"), "o_custkey")


SKEW_REPORT_ORACLE = """
WITH counts AS (
  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS rows_, CAST(count(*) AS BIGINT) AS keys_,
         CAST(max(n) AS BIGINT) AS max_key_, CAST(min(n) AS BIGINT) AS min_key_
  FROM counts)
SELECT 'rows' AS metric, CAST(rows_ AS DOUBLE) AS value FROM agg
UNION ALL SELECT 'keys', CAST(keys_ AS DOUBLE) FROM agg
UNION ALL SELECT 'max_key', CAST(max_key_ AS DOUBLE) FROM agg
UNION ALL SELECT 'min_key', CAST(min_key_ AS DOUBLE) FROM agg
UNION ALL SELECT 'skew_ratio',
  CAST(max_key_ AS DOUBLE) / (CAST(rows_ AS DOUBLE) / CAST(keys_ AS DOUBLE)) FROM agg
"""


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (the family `gopher_quality_filter`'s
    length/stopword rules don't cover): fraction of tokens inside the
    most-common 2-gram and fraction of tokens whose word repeats.

    Shape at scale: two explode+groupBy passes keyed on (doc, gram) —
    the count table is corpus-sized but partial-aggregates map-side;
    fractions are exact int/int division so the oracle hash-matches
    bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    words = docs.select(
        "doc_id", F.expr(words_sql("text")).alias("__w")
    ).where(F.size("__w") > 0)
    grams = words.select(
        "doc_id",
        F.size("__w").alias("n_words"),
        F.explode(
            F.zip_with(
                F.slice(F.col("__w"), 1, F.size("__w") - 1),
                F.slice(F.col("__w"), 2, F.size("__w") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("gram"),
    )
    top2 = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(F.max("__c").alias("top_bigram_count"))
    )
    dupw = (
        words.select("doc_id", F.explode("__w").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(F.lit(0))).alias(
                "dup_word_tokens"
            )
        )
    )
    # LEFT join from the all-docs base: a single-word doc has no
    # bigrams but must still get a verdict (top_bigram_count = 0) —
    # an inner join would silently drop it from the kept set
    base = words.select("doc_id", F.size("__w").alias("n_words"))
    out = (
        base.join(dupw, on="doc_id")
        .join(top2, on="doc_id", how="left")
        .withColumn(
            "top_bigram_count", F.coalesce("top_bigram_count", F.lit(0))
        )
    )
    top_frac = (F.lit(2) * F.col("top_bigram_count")) / F.col("n_words")
    dup_frac = F.col("dup_word_tokens") / F.col("n_words")
    return out.select(
        "doc_id",
        "n_words",
        "top_bigram_count",
        "dup_word_tokens",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_word_frac"),
        ((top_frac <= 0.20) & (dup_frac <= 0.90)).alias("keep"),
    )


REPETITION_ORACLE = fr"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS words
  FROM documents WHERE text IS NOT NULL),
base AS (SELECT doc_id, words, len(words) AS n_words FROM w WHERE len(words) > 0),
grams AS (
  SELECT doc_id, words[i] || ' ' || words[i + 1] AS gram
  FROM base, unnest(range(1, n_words)) t(i)),
top2 AS (
  SELECT doc_id, max(c) AS top_bigram_count FROM (
    SELECT doc_id, gram, count(*) AS c
    FROM grams GROUP BY doc_id, gram) g
  GROUP BY doc_id),
dupw AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_word_tokens
  FROM (
    SELECT doc_id, w, count(*) AS c FROM (
      SELECT doc_id, unnest(words) AS w FROM base) u
    GROUP BY doc_id, w) wc
  GROUP BY doc_id)
SELECT b.doc_id, b.n_words,
       coalesce(t.top_bigram_count, 0) AS top_bigram_count,
       d.dup_word_tokens,
       (2 * coalesce(t.top_bigram_count, 0)) / b.n_words AS top_bigram_frac,
       d.dup_word_tokens / b.n_words AS dup_word_frac,
       ((2 * coalesce(t.top_bigram_count, 0)) / b.n_words <= 0.20
        AND d.dup_word_tokens / b.n_words <= 0.90) AS keep
FROM base b JOIN dupw d USING (doc_id) LEFT JOIN top2 t USING (doc_id)
"""


_TRI_TOP = 200  # model size per language


def q_trained_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language ID, train + apply in one DataFrame program —
    the E1 upgrade path beyond the stopword heuristic
    (`functions/text.py:100`): a char-trigram frequency model per
    language (top {_TRI_TOP} trigrams from the labeled corpus) applied
    back as an equi-join + integer-sum argmax.

    The model is the fastText-shape (character n-gram evidence) with
    INTEGER scores, so train and apply are both exactly
    oracle-checkable — no floating log-probs to diverge on.  At scale
    the model table is tiny (langs x {_TRI_TOP} rows, broadcast) and
    training is one explode + two aggregations over the labeled
    sample, not the full corpus."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "lang", "text")
    )
    return trained_language_id(docs)


def _lid_chain(docs: DataFrame):
    """The trained-LID chain pieces — (base, model, scores) over a
    (doc_id, lang, text) frame: base = docs with ≥ 1 trigram, model =
    top-{_TRI_TOP} char trigrams per language, scores = per-(doc,
    model-language) integer evidence sums.  ONE definition shared by
    `trained_language_id` and the k-class confident-joint gate
    (`label_noise_joint_language`)."""
    base = docs.select("doc_id", "lang", F.lower("text").alias("__t"))
    # texts shorter than 3 chars have no trigrams: F.sequence(1, 0)
    # would yield DESCENDING [1, 0] and fabricate short/empty
    # "trigrams" the oracle's range(1, 1) never produces — filter first
    base = base.where(F.length("__t") >= 3)
    tris = base.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("__t") - 2, F.lit(0))),
                lambda i: F.col("__t").substr(i, F.lit(3)),
            )
        ).alias("tri"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("cnt").desc(), F.col("tri").asc()
    )
    model = (
        tris.groupBy("lang", "tri")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= _TRI_TOP)
        .select(F.col("lang").alias("mlang"), "tri", "cnt")
    )
    scores = (
        tris.join(F.broadcast(model), on="tri")
        .groupBy("doc_id", "lang", "mlang")
        .agg(F.sum("cnt").alias("score"))
    )
    return base, model, scores


def trained_language_id(docs: DataFrame) -> DataFrame:
    """Train-and-apply over a (doc_id, lang, text) frame — see
    ``q_trained_language_id`` for the design; reusable so the
    multilingual fixture corpus tests real accuracy."""
    from pyspark.sql import Window

    _, _, scores = _lid_chain(docs)
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("mlang").asc()
    )
    return (
        scores.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") == 1)
        .select(
            "doc_id",
            F.col("mlang").alias("pred_lang"),
            "score",
            F.col("lang").alias("actual_lang"),
            (F.col("mlang") == F.col("lang")).alias("correct"),
        )
    )


def _lid_ctes() -> str:
    """The docs/tris/model/scores oracle CTE prefix of the trained-LID
    chain — ONE definition shared by `TRAINED_LID_ORACLE` and the
    k-class confident-joint oracle (mirrors :func:`_lid_chain`)."""
    return rf"""
WITH docs AS (
  SELECT doc_id, lang, lower(text) AS t FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL),
tris AS (
  SELECT doc_id, lang, substring(t, i, 3) AS tri
  FROM docs, unnest(range(1, greatest(length(t) - 2, 0) + 1)) u(i)),
model AS (
  SELECT lang AS mlang, tri, cnt FROM (
    SELECT lang, tri, count(*) AS cnt,
           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tri ASC) AS rn
    FROM tris GROUP BY lang, tri) m
  WHERE rn <= {_TRI_TOP}),
scores AS (
  SELECT t.doc_id, t.lang, m.mlang, CAST(sum(m.cnt) AS BIGINT) AS score
  FROM tris t JOIN model m ON t.tri = m.tri
  GROUP BY t.doc_id, t.lang, m.mlang)"""


TRAINED_LID_ORACLE = (
    _lid_ctes()
    + """,
ranked AS (
  SELECT doc_id, mlang, score, lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, mlang ASC) AS rn
  FROM scores)
SELECT doc_id, mlang AS pred_lang, score, lang AS actual_lang,
       (mlang = lang) AS correct
FROM ranked WHERE rn = 1
"""
)


def ivf_mutual_nn_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path of bitext mining: mutual-NN alignment restricted
    to IVF-bucket candidates (pairs whose vectors share a coarse cell)
    instead of the brute-force cross join — candidate count is
    sum-of-cell-products, not |A|x|B|, which is what survives 100 TB
    (same bucket-restriction argument as `semantic_dedup_groups` /
    `ivf_topk_bucketed`).  Recall vs the exact mutual-NN gate is
    measured in tests/test_clustering.py; precision is unchanged (the
    dot and mutual rule are identical on surviving candidates)."""
    from swisscourtrulingcorpus_spark.operators.clustering import (
        _probe_clusters,
    )
    from swisscourtrulingcorpus_spark.operators.similarity import (
        int8_pair_dot,
        int8_quantize_symmetric,
        max_abs_bound,
        mutual_rank_columns,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _seed_centroids(emb, _K)
    s = max_abs_bound(emb)
    # SYMMETRIC MULTI-PROBE: a mutual pair needs both vectors in one
    # candidate cell; single-probe recall was 0.25 on the fixture and
    # a-side-only probing 0.59 — probing BOTH sides' _NPROBE nearest
    # cells (pair is a candidate iff the probe lists overlap) lifts it
    # to the tested threshold at nprobe^2 x the per-cell candidate cost
    # — the standard IVF recall/cost dial.  A pair can now match via
    # several shared cells, so the scored rows (identical per pair)
    # collapse with distinct().
    probe = f"explode({_probe_clusters('embedding', cents, _NPROBE)}) AS cluster"
    qa = (
        int8_quantize_symmetric(
            emb.where(F.col("label") % 2 == 0), s, "embedding", "qa"
        )
        .where(F.col("qa").isNotNull())
        .selectExpr("vec_id AS id_a", "qa", probe)
    )
    qb = (
        int8_quantize_symmetric(
            emb.where(F.col("label") % 2 == 1), s, "embedding", "qb"
        )
        .where(F.col("qb").isNotNull())
        .selectExpr("vec_id AS id_b", "qb", probe)
    )
    scored = (
        qa.join(qb, on="cluster")
        .where("size(qa) = size(qb)")
        .selectExpr("id_a", "id_b", f"{int8_pair_dot('qa', 'qb')} AS dot_q")
        .distinct()
    )
    return (
        mutual_rank_columns(scored)
        .where((F.col("__ra") == 1) & (F.col("__rb") == 1))
        .select("id_a", "id_b", "dot_q")
    )


IVF_MUTUAL_NN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding,
         embedding IS NOT NULL AND len(list_filter(embedding,
           x -> x IS NULL OR isnan(x) OR NOT isfinite(x))) = 0 AS ok
  FROM embeddings),
cset AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE embedding IS NOT NULL
  ORDER BY vec_id LIMIT {_K}),
sc AS (
  SELECT e.vec_id, cset.cid,
         list_dot_product(cset.cvec, cset.cvec)
           - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), cset.cvec) AS score
  FROM embeddings e CROSS JOIN cset WHERE e.embedding IS NOT NULL),
bounds AS (
  SELECT CASE WHEN s > 0 THEN s ELSE 1.0 END AS s
  FROM (SELECT max(greatest(abs(list_min(embedding::DOUBLE[])),
                            abs(list_max(embedding::DOUBLE[])))) AS s
        FROM e WHERE ok)),
probe AS (
  SELECT vec_id, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
        FROM sc)
  WHERE rn <= {_NPROBE}),
qa AS (
  SELECT e.vec_id, a.cid,
         list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
           round(CAST(x AS DOUBLE) * 127.0 / s))) AS INTEGER)) AS q
  FROM e JOIN probe a USING (vec_id), bounds
  WHERE ok AND label % 2 = 0),
qb AS (
  SELECT e.vec_id, a.cid,
         list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
           round(CAST(x AS DOUBLE) * 127.0 / s))) AS INTEGER)) AS q
  FROM e JOIN probe a USING (vec_id), bounds
  WHERE ok AND label % 2 = 1),
scored AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid,
         CAST(list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) AS BIGINT) AS dot_q
  FROM qa a JOIN qb b ON a.cid = b.cid),
top_ab AS (
  SELECT qid, nid, dot_q
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid ASC) AS rn
        FROM scored)
  WHERE rn = 1),
top_ba AS (
  SELECT qid, nid
  FROM (SELECT *, row_number() OVER (PARTITION BY nid ORDER BY dot_q DESC, qid ASC) AS rn
        FROM scored)
  WHERE rn = 1)
SELECT x.qid AS id_a, x.nid AS id_b, x.dot_q
FROM top_ab x JOIN top_ba y ON x.qid = y.qid AND x.nid = y.nid
"""



SPECS: list[QuerySpec] = [
    QuerySpec(
        name="ivf_mutual_nn_bitext",
        spark=ivf_mutual_nn_bitext,
        oracle=IVF_MUTUAL_NN_ORACLE,
        doc="bucket-restricted mutual-NN bitext (the 100 TB path)",
    ),
    QuerySpec(
        name="ivf_assignment",
        spark=q_ivf_assignment,
        oracle=IVF_ASSIGNMENT_ORACLE,
        doc="IVF coarse assignment, broadcast argmin (clustering.py)",
    ),
    QuerySpec(
        name="pq_codes_embeddings",
        spark=q_pq_codes,
        oracle=PQ_CODES_ORACLE,
        doc="Product-quantization encoding (clustering.py::pq_encode)",
    ),
    QuerySpec(
        name="vocab_top_tokens",
        spark=q_vocab_top_tokens,
        oracle=VOCAB_ORACLE,
        doc="Frequency-ranked vocabulary build",
    ),
    QuerySpec(
        name="data_quality_report",
        spark=q_data_quality,
        oracle=DATA_QUALITY_ORACLE,
        doc="Single-pass constraint validation (expectations.py)",
    ),
    QuerySpec(
        name="skew_report_orders",
        spark=q_skew_report,
        oracle=SKEW_REPORT_ORACLE,
        doc="Key-skew diagnostics (skew.py::skew_report)",
    ),
    QuerySpec(
        name="repetition_filter_documents",
        spark=q_repetition_filter,
        oracle=REPETITION_ORACLE,
        doc="Gopher repetition rules: top-2-gram / duplicate-word fractions",
    ),
    QuerySpec(
        name="token_ids_documents",
        spark=q_token_ids,
        oracle=TOKEN_IDS_ORACLE,
        doc="Vocabulary application: literal-map tokenizer projection",
    ),
    QuerySpec(
        name="trained_language_id",
        spark=q_trained_language_id,
        oracle=TRAINED_LID_ORACLE,
        doc="Char-trigram language model: train + apply, integer-exact",
    ),
    QuerySpec(
        name="ivfpq_codes_embeddings",
        spark=q_ivfpq_codes,
        oracle=IVFPQ_CODES_ORACLE,
        doc="IVF-PQ residual encoding, bit-exact (clustering.py)",
    ),
    QuerySpec(
        name="hashed_bow_embeddings",
        spark=q_hashed_bow_embeddings,
        oracle=HASHED_BOW_ORACLE,
        doc="Hashing-trick BoW embedder: text -> dense count vector",
    ),
    QuerySpec(
        name="table_profile_orders",
        spark=q_table_profile,
        oracle=TABLE_PROFILE_ORACLE,
        doc="ANALYZE-style column stats in one pass (expectations.py)",
    ),
]


def label_noise_joint_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-class confident-learning joint over the trained language-ID
    scores (`operators/influence.py::confident_joint_kclass`): given
    label = the document's declared ``lang``, classes = the languages
    the char-trigram model knows, scores densified to one row per
    (doc, language) with 0 for no shared trigrams.  Off-diagonal cells
    are documents whose declared language confidently disagrees with
    the LID evidence — the k-class mislabel screen of Northcutt et
    al., on real multi-class scores rather than the binary NB margin.
    Model + classes broadcast; margins from one doc-partitioned window
    (r11, verdict "what's wrong" #3)."""
    from swisscourtrulingcorpus_spark.operators.influence import (
        confident_joint_kclass,
    )

    return confident_joint_kclass(_lid_dense_scores(spark, sf_dir))


def _lid_dense_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DENSE k-class scored frame over the trained-LID chain: one
    (doc, language) row for every model language, score 0 where the
    doc shares no model trigrams — the `confident_joint_kclass` input
    contract.  Shared by the joint and the candidate gate."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select("doc_id", "lang", "text")
    )
    base, model, scores = _lid_chain(docs)
    classes = model.select(F.col("mlang").alias("cls")).distinct()
    return (
        base.select("doc_id", "lang")
        .crossJoin(F.broadcast(classes))
        .join(
            scores.select("doc_id", F.col("mlang").alias("cls"), "score"),
            on=["doc_id", "cls"],
            how="left",
        )
        .select(
            "doc_id",
            F.col("lang").alias("given_label"),
            "cls",
            F.coalesce(F.col("score"), F.lit(0)).alias("score_micro"),
        )
    )


def _kclass_ctes() -> str:
    """The densify/margin/threshold/assignment CTE chain of the
    k-class confident joint over LID scores, through ``asg`` (per-doc
    assignment) and ``own`` (per-doc given label + own-class margin) —
    ONE definition shared by the joint and the doc-level candidate
    oracles."""
    return (
        _lid_ctes()
        + """,
base AS (SELECT doc_id, lang FROM docs WHERE length(t) >= 3),
classes AS (SELECT DISTINCT mlang AS cls FROM model),
dense AS (
  SELECT b.doc_id AS doc, b.lang AS given, c.cls,
         coalesce(s.score, CAST(0 AS BIGINT)) AS s
  FROM base b
  CROSS JOIN classes c
  LEFT JOIN scores s ON s.doc_id = b.doc_id AND s.mlang = c.cls),
m1 AS (
  SELECT doc, given, cls, s,
         max(s) OVER (PARTITION BY doc) AS mx
  FROM dense),
m2 AS (
  SELECT doc, given, cls, s, mx,
         count(CASE WHEN s = mx THEN 1 END) OVER (PARTITION BY doc) AS nmx,
         max(CASE WHEN s < mx THEN s END) OVER (PARTITION BY doc) AS mx2
  FROM m1),
marg AS (
  SELECT doc, given, cls, s,
         s - (CASE WHEN s = mx AND nmx = 1 THEN mx2 ELSE mx END) AS m
  FROM m2),
th AS (
  SELECT cls, CAST(sum(m) AS BIGINT) AS sm, count(*) AS n
  FROM marg WHERE cls = given GROUP BY 1),
qualified AS (
  SELECT marg.doc, marg.cls, marg.s
  FROM marg JOIN th USING (cls)
  WHERE th.n > 0 AND marg.m * th.n >= th.sm),
asg AS (
  SELECT doc, cls AS assigned FROM (
    SELECT doc, cls,
           row_number() OVER (PARTITION BY doc
                              ORDER BY s DESC, cls DESC) AS rn
    FROM qualified) q
  WHERE rn = 1),
own AS (SELECT doc, given, CAST(m AS BIGINT) AS own_m
        FROM marg WHERE cls = given)"""
    )


KCLASS_JOINT_ORACLE = (
    _kclass_ctes()
    + """
SELECT o.given AS given_label, a.assigned,
       count(*) AS n_docs
FROM own o LEFT JOIN asg a USING (doc)
GROUP BY 1, 2
ORDER BY 1, 2
"""
)


KCLASS_CANDIDATES_ORACLE = (
    _kclass_ctes()
    + """
SELECT o.doc AS doc_id, o.given AS given_label, a.assigned,
       o.own_m AS own_margin_micro
FROM own o JOIN asg a USING (doc)
WHERE a.assigned <> o.given
ORDER BY doc_id
"""
)


def mislabel_candidates_language(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Doc-level k-class mislabel candidates
    (`operators/influence.py::mislabel_candidates_kclass`): the rows
    behind `label_noise_joint_language`'s off-diagonal cells — every
    document whose declared language confidently disagrees with the
    LID evidence, with its own-class margin for triage (shared
    margin/threshold/assignment machinery with the joint)."""
    from swisscourtrulingcorpus_spark.operators.influence import (
        mislabel_candidates_kclass,
    )

    return mislabel_candidates_kclass(_lid_dense_scores(spark, sf_dir)).orderBy(
        "doc_id"
    )


SPECS += [
    QuerySpec(
        name="label_noise_joint_language",
        spark=label_noise_joint_language,
        oracle=KCLASS_JOINT_ORACLE,
        doc="k-class confident joint over LID scores: class-oriented margins, exact cross-multiply thresholds",
    ),
    QuerySpec(
        name="mislabel_candidates_language",
        spark=mislabel_candidates_language,
        oracle=KCLASS_CANDIDATES_ORACLE,
        doc="doc-level k-class mislabel candidates with own-class triage margins",
    ),
]
