"""Retrieval-ranking and record-linkage queries.

BM25 term ranking (the classic lexical-retrieval scorer the reference's
doc2doc IR dataset feeds into — `doc2doc_ir_dataset_creator.py:287-325`
stops at tf-idf; BM25 is its standard production upgrade) and a
SymSpell-style deletion-neighborhood fuzzy match (entity resolution /
vocab normalization for a training-data pipeline).

Both follow the registry's double-discipline: floating-point scores are
used ONLY for ordering; every output column is an int or string, so the
driver's dtype-sensitive value hash compares exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.plans.text_queries import _words_duck
from swisscourtrulingcorpus_spark.sources.catalog import load_table


# --- BM25 top terms ----------------------------------------------------

_K1 = "1.2"
_B = "0.75"


def bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 terms per document for doc_id < 20.

    score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)), k1=1.2, b=0.75.

    Same scale shape as `tfidf_top_terms`: the tf branch carries the
    doc_id predicate down to the scan (20 docs, broadcastable), while
    df / dl / avgdl stay corpus-wide — df is vocabulary-sized, dl is
    one count per doc (map-side partial agg), avgdl is a 1-row scalar.
    The corpus-wide tables are probed by the broadcast tf side, so
    nothing document-sized ever shuffles.  The double score orders
    rows only; output columns are all ints.
    """
    docs = load_table(spark, sf_dir, "documents")

    def _words(d: DataFrame) -> DataFrame:
        return d.selectExpr(
            "doc_id",
            f"explode({words_sql('text')}) AS term",
        )

    tf = (
        _words(docs.where("doc_id < 20"))
        .groupBy("doc_id", "term")
        .agg(F.expr("count(1) AS tf"))
    )
    # r12 (VERDICT r11 item 3): document frequency via a MAP-SIDE
    # per-doc distinct (explode array_distinct of the token array) +
    # plain count — the same fix tfidf_top_terms got in r11.  Same
    # number (df counts docs containing the term; doc_id is the
    # documents PK), but partial aggregation now compresses before the
    # exchange: ONE shuffle of (term, count) rows instead of
    # countDistinct's two-phase expansion that shuffled every distinct
    # (term, doc_id) pair — corpus-sized at 100 TB.  Plan: the df
    # branch drops from 2 Exchanges to 1 (plans/r12/bm25_top_terms_*).
    df_ = (
        docs.selectExpr(
            f"explode(array_distinct({words_sql('text')}))"
            " AS term"
        )
        .groupBy("term")
        .agg(F.expr("count(1) AS df"))
    )
    dl = _words(docs).groupBy("doc_id").agg(F.expr("count(1) AS dl"))
    scalars = dl.agg(
        F.expr("count(1) AS n_docs"),
        F.expr("(cast(sum(dl) as double) / count(1)) AS avgdl"),
    )
    scored = (
        df_.join(F.broadcast(tf), on="term")
        .join(F.broadcast(dl.where("doc_id < 20")), on="doc_id")
        .crossJoin(F.broadcast(scalars))
        .selectExpr(
            "*",
            f"((ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))"
            f" * (tf * ({_K1} + 1)))"
            f" / (tf + {_K1} * (1.0D - {_B} + {_B} * dl / avgdl))) AS score",
        )
    )
    # ADVICE r05: the ranking decision must not hinge on cross-engine
    # double ULPs (Spark's ln/÷ vs DuckDB's can differ in the last
    # bit).  Snap the score to a 9-decimal grid before row_number —
    # identically on both sides — so two DISTINCT near-equal scores
    # either agree on the grid or fall to the deterministic term
    # tie-break; a flip now needs a score within one ULP of a grid
    # boundary rather than any near-tie.
    return (
        scored.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY doc_id "
            "ORDER BY round(score, 9) DESC, term ASC) AS rank",
        )
        .where("rank <= 5")
        .select("doc_id", "term", "tf", "df", "dl", "rank")
    )


BM25_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest({_words_duck("text")}) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words WHERE doc_id < 20 GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
scalars AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, dl.dl,
         ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({_K1} + 1))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl)) AS score
  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN scalars s)
SELECT doc_id, term, tf, df, dl, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 9) DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


# --- BM25 ranked retrieval: query -> top-k documents -------------------

#: fixed query workload over the synthetic corpus vocabulary; the last
#: query carries a term absent from every document so the posting-list
#: inner join's pruning of unmatched terms is exercised on both sides.
BM25_QUERIES: list[tuple[str, str]] = [
    ("q_hash_join", "hash join merge"),
    ("q_scan", "table scan filter"),
    ("q_stream", "spark stream window"),
    ("q_sort", "sort order key"),
    ("q_group", "batch data group"),
    ("q_missing", "customer line zzzunseen"),
]


def bm25_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ranked retrieval (VERDICT r05 item 5): inverted-index
    build (`operators/retrieval.py::build_postings`) + posting-list
    search (`bm25_search`) — top-10 documents per query for a fixed
    6-query workload.

    The serving path the reference's doc2doc IR corpus feeds
    (`doc2doc_ir_dataset_creator.py:287-355` computes relevance labels;
    this ranks).  The postings join is the only document-sized input:
    query terms broadcast, postings pruned by the term equi-join,
    scores integer-exact micro-BM25 (see operators/retrieval.py) so
    rank AND score are engine-stable ints.
    """
    from swisscourtrulingcorpus_spark.operators.retrieval import (
        bm25_search,
        build_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(BM25_QUERIES, ["query_id", "text"])
    return bm25_search(build_postings(docs), queries, k=10)


def _bm25_query_values() -> str:
    return ", ".join(f"('{qid}', '{text}')" for qid, text in BM25_QUERIES)


BM25_TOPK_ORACLE = f"""
WITH q(query_id, qtext) AS (VALUES {_bm25_query_values()}),
qterms AS (
  SELECT DISTINCT query_id,
         unnest({_words_duck("qtext")}) AS term
  FROM q),
words AS (
  SELECT doc_id, unnest({_words_duck("text")}) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
scalars AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
per_term AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(round((ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * (tf.tf * ({_K1} + 1))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) * 1000000)
           AS BIGINT) AS score_micro_term
  FROM tf
  JOIN qterms qt USING (term)
  JOIN dfr USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN scalars s),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(score_micro_term) AS BIGINT) AS score_micro,
         count(*) AS n_hit_terms
  FROM per_term GROUP BY 1, 2)
SELECT query_id, doc_id, rank, score_micro, n_hit_terms
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


# --- Incremental posting-list maintenance ------------------------------

def postings_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance without rescanning history: build the index
    over 90% of the corpus, index the remaining docs separately, and
    `operators/retrieval.py::merge_postings` the two — this gate
    hash-checks the merged per-term statistics against a FULL REBUILD
    oracle, proving merge == rebuild while only ever touching the
    delta corpus + index-sized tables (the retrieval twin of
    `incremental_minhash_dedup`)."""
    from swisscourtrulingcorpus_spark.operators.retrieval import (
        build_postings,
        merge_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = build_postings(docs.where(F.col("doc_id") % 10 != 0))
    delta = build_postings(docs.where(F.col("doc_id") % 10 == 0))
    merged = merge_postings(base, delta)
    per_term = (
        merged["postings"]
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_postings"), F.sum("tf").alias("sum_tf"))
    )
    return (
        per_term.join(merged["df"], on="term")
        .crossJoin(F.broadcast(merged["scalars"].select("n_docs", "total_dl")))
        .select("term", "df", "n_postings", "sum_tf", "n_docs", "total_dl")
    )


POSTINGS_MERGE_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest({_words_duck("text")}) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
scalars AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl)
SELECT term,
       count(*) AS df,
       count(*) AS n_postings,
       CAST(sum(tf) AS BIGINT) AS sum_tf,
       s.n_docs, s.total_dl
FROM tf CROSS JOIN scalars s
GROUP BY term, s.n_docs, s.total_dl
"""


# --- Hybrid retrieval: BM25 + embedding cosine, RRF-fused ---------------

_RRF_K = 60
_RRF_SCALE = 1_000_000


def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc2doc hybrid retrieval for query docs 0-4: lexical BM25 over
    the inverted index + embedding cosine over the vectors, fused by
    Reciprocal Rank Fusion (Cormack et al. 2009, public):
    score = sum over systems of 1/(60 + rank).

    Each 1/(60+rank) term is snapped to a micro bigint before the sum
    (exactly like the BM25 micro-scores), so the fused score and final
    ranking are engine-exact integers.  Scale shape: both per-system
    rankings are the already-gated operators (postings probe /
    broadcast-query brute force); the fusion itself joins two
    (n_queries x k)-row frames — negligible at any corpus size.
    """
    from swisscourtrulingcorpus_spark.operators.retrieval import (
        bm25_search,
        build_postings,
    )
    from swisscourtrulingcorpus_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qdocs = docs.where(F.col("doc_id") < 5).select(
        F.col("doc_id").cast("string").alias("query_id"), "text"
    )
    # lexical: rank with the query doc itself still in the pool (it
    # matches at rank 1 by construction), drop it, close the rank gap
    # with a second window — mirrored verbatim in the oracle
    lex = (
        bm25_search(build_postings(docs), qdocs, k=11)
        .where(F.col("doc_id") != F.col("query_id").cast("long"))
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("score_micro").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .where(F.col("lex_rank") <= 10)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("doc_id"),
            "lex_rank",
        )
    )
    sem = (
        cosine_topk_bruteforce(emb, emb.where(F.col("vec_id") < 5), k=10)
        .select(
            F.col("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("sem_rank"),
        )
    )
    fused = (
        lex.join(sem, on=["query_id", "doc_id"], how="full_outer")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(
                    F.round(
                        F.lit(float(_RRF_SCALE)) / (F.lit(_RRF_K) + F.col("lex_rank"))
                    ).cast("long"),
                    F.lit(0),
                )
                + F.coalesce(
                    F.round(
                        F.lit(float(_RRF_SCALE)) / (F.lit(_RRF_K) + F.col("sem_rank"))
                    ).cast("long"),
                    F.lit(0),
                )
            ).alias("rrf_micro"),
            (
                F.col("lex_rank").isNotNull().cast("int")
                + F.col("sem_rank").isNotNull().cast("int")
            ).alias("n_systems"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "doc_id", "rank", "rrf_micro", "n_systems")
    )


RRF_HYBRID_ORACLE = f"""
WITH qterms AS (
  SELECT DISTINCT doc_id AS qid,
         unnest({_words_duck("text")}) AS term
  FROM documents WHERE doc_id < 5),
words AS (
  SELECT doc_id, unnest({_words_duck("text")}) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
scalars AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
per_term AS (
  SELECT qt.qid, tf.doc_id,
         CAST(round((ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * (tf.tf * ({_K1} + 1))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) * 1000000)
           AS BIGINT) AS sm
  FROM tf JOIN qterms qt USING (term) JOIN dfr USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN scalars s),
lex_scored AS (
  SELECT qid, doc_id, CAST(sum(sm) AS BIGINT) AS score_micro
  FROM per_term GROUP BY 1, 2),
lex_r1 AS (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id ASC) AS r1
  FROM lex_scored),
lex AS (
  SELECT qid AS query_id, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY score_micro DESC, doc_id ASC) AS lex_rank
  FROM lex_r1 WHERE r1 <= 11 AND doc_id != qid
  QUALIFY lex_rank <= 10),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id < 5 AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
c AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
sem AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
           doc_id ASC) AS sem_rank
  FROM c, q WHERE doc_id != query_id
  QUALIFY sem_rank <= 10),
fused AS (
  SELECT coalesce(l.query_id, s.query_id) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         coalesce(CAST(round({_RRF_SCALE}.0 / ({_RRF_K} + l.lex_rank)) AS BIGINT), 0)
           + coalesce(CAST(round({_RRF_SCALE}.0 / ({_RRF_K} + s.sem_rank)) AS BIGINT), 0)
           AS rrf_micro,
         CAST((l.lex_rank IS NOT NULL)::INT + (s.sem_rank IS NOT NULL)::INT AS INTEGER) AS n_systems
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id)
SELECT query_id, doc_id, rank, rrf_micro, n_systems
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC) AS rank
      FROM fused)
WHERE rank <= 5
"""


# --- SymSpell deletion-neighborhood fuzzy match ------------------------

def fuzzy_name_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct part-name pairs within Levenshtein distance 2, found
    the SymSpell way: every name spawns its <=2-deletion neighborhood
    (1 + L + L*(L-1)/2 variants), candidate pairs share a variant,
    and only candidates pay the exact levenshtein check.

    This is the linear-scale fuzzy self-join: work is
    names x neighborhood (~70 variants at L=11), never names**2 — the
    all-pairs form the DuckDB oracle runs is exactly the quadratic
    this operator exists to avoid at 100 TB.  The deletion-key
    property guarantees recall: lev(a, b) <= 2 implies some common
    string in del<=2(a) ∩ del<=2(b), so the candidate set is a
    superset of the true pair set and the verify step makes the
    result exact, not approximate.
    """
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    # del1(s) = drop char i (1-based); del2 = del1 of every del1
    # variant; the full neighborhood is {s} ∪ del1 ∪ del2, deduped.
    # One SQL expression (nested lambdas) so the whole fan-out stays
    # inside codegen — no Python touches a single variant.
    neighborhood = F.expr(
        "array_distinct(flatten(array("
        " array(name),"
        " transform(sequence(1, length(name)),"
        "   i -> concat(substring(name, 1, i - 1), substring(name, i + 1))),"
        " flatten(transform("
        "   transform(sequence(1, length(name)),"
        "     i -> concat(substring(name, 1, i - 1), substring(name, i + 1))),"
        "   v -> transform(sequence(1, length(v)),"
        "     j -> concat(substring(v, 1, j - 1), substring(v, j + 1)))))"
        ")))"
    )
    keyed = names.select(
        "name", F.explode(neighborhood).alias("variant")
    )
    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"), on="variant")
        .where(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .where(F.col("dist") <= 2)
    )
    return pairs


FUZZY_ORACLE = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
FROM names a, names b
WHERE a.name < b.name AND levenshtein(a.name, b.name) <= 2
"""


# --- BM25 hard-negative mining (DPR/ANCE training prep) ----------------

def bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval training (the DPR/ANCE prep
    step, Karpukhin et al. 2020, public): for a query workload derived
    from the corpus (every 50th document's first 8 normalized words),
    the top BM25 hits that are NOT the query's own source document —
    lexically confusable non-relevant docs, the negatives that actually
    teach a dense retriever.  Upgrades `doc2doc_triplets`' hash-random
    negatives to ranked ones.

    Scale shape: identical to `bm25_query_topk` (postings equi-join is
    the only document-sized input; query terms broadcast + pushed as a
    literal IN predicate) plus one anti-filter and a per-query
    re-rank window over <= k rows.  Output (query_id, doc_id, neg_rank,
    score_micro), all ints."""
    from swisscourtrulingcorpus_spark.operators.retrieval import (
        bm25_search,
        build_postings,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = F.expr(words_sql("text"))
    # NULL-text docs make no query on EITHER engine: Spark's concat_ws
    # would coerce NULL to '' (a live empty-term query) while DuckDB's
    # array_to_string propagates NULL — filtering is the mirrored form
    queries = docs.where(
        (F.col("doc_id") % 50 == 0) & F.col("text").isNotNull()
    ).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(words, 1, 8)).alias("text"),
    )
    hits = bm25_search(build_postings(docs), queries, k=10)
    wq = Window.partitionBy("query_id").orderBy("rank")
    return (
        hits.where(F.col("doc_id") != F.col("query_id"))
        .withColumn("neg_rank", F.row_number().over(wq))
        .where(F.col("neg_rank") <= 5)
        .select("query_id", "doc_id", "neg_rank", "score_micro")
    )


BM25_HARD_NEG_ORACLE = f"""
WITH w0 AS (
  SELECT doc_id, {_words_duck("text")} AS w
  FROM documents),
q AS (
  SELECT doc_id AS query_id, array_to_string(w[1:8], ' ') AS qtext
  FROM w0 WHERE doc_id % 50 = 0 AND w IS NOT NULL),
qterms AS (
  SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM q),
words AS (SELECT doc_id, unnest(w) AS term FROM w0),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY 1),
scalars AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
per_term AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(round((ln(1.0 + (s.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
           * (tf.tf * ({_K1} + 1))
           / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * dl.dl / s.avgdl))) * 1000000)
           AS BIGINT) AS score_micro_term
  FROM tf
  JOIN qterms qt USING (term)
  JOIN dfr USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN scalars s),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(score_micro_term) AS BIGINT) AS score_micro
  FROM per_term GROUP BY 1, 2),
topk AS (
  SELECT query_id, doc_id, score_micro, rank
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC) AS rank
        FROM scored)
  WHERE rank <= 10)
SELECT query_id, doc_id, neg_rank, score_micro
FROM (SELECT query_id, doc_id, score_micro,
             row_number() OVER (PARTITION BY query_id ORDER BY rank) AS neg_rank
      FROM topk WHERE doc_id != query_id)
WHERE neg_rank <= 5
"""


# --- exact phrase search over a positional index -----------------------

#: fixture phrases (vocabulary of the synthetic corpus); includes a
#: repeated-term phrase ("table table") so the distinct-slot anchor
#: logic is exercised, not just distinct-term alignment
_PHRASES = [
    "table table",
    "fast table value",
    "scan slow",
    "spark order data",
    "the line sort",
]


def phrase_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase queries served from a positional inverted index
    (`operators/retrieval.py::phrase_search`): slot-anchor alignment —
    one broadcast term join + one (phrase, doc, anchor) aggregation,
    never a k-way adjacency self-join.  The reference's regex-LIKE
    scans (`sql_select_utils.py` text filters) are the capability this
    replaces at scale: term-pruned postings probes instead of full
    text re-scans."""
    from swisscourtrulingcorpus_spark.operators.retrieval import (
        build_positional_postings,
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    phrases = spark.createDataFrame(
        list(enumerate(_PHRASES)), "phrase_id: long, phrase: string"
    )
    out = phrase_search(build_positional_postings(docs), phrases)
    return out.select(
        "phrase_id",
        "doc_id",
        "n_matches",
        F.col("first_pos").cast("long").alias("first_pos"),
    )


_PHRASE_VALUES = ", ".join(f"({i}, '{p}')" for i, p in enumerate(_PHRASES))

PHRASE_SEARCH_ORACLE = rf"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS w
  FROM documents WHERE text IS NOT NULL),
tok AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS p, w FROM w),
posidx AS (SELECT doc_id, w[p] AS term, p - 1 AS pos FROM tok),
ph AS (SELECT CAST(phrase_id AS BIGINT) AS phrase_id, phrase
       FROM (VALUES {_PHRASE_VALUES}) AS t(phrase_id, phrase)),
pt AS (SELECT phrase_id, string_split(phrase, ' ') AS pw FROM ph),
st AS (SELECT phrase_id, unnest(range(1, len(pw) + 1)) AS s, pw FROM pt),
terms AS (SELECT phrase_id, s - 1 AS slot, pw[s] AS term FROM st),
nslots AS (SELECT phrase_id, count(DISTINCT slot) AS n_slots FROM terms GROUP BY 1),
hits AS (
  SELECT t.phrase_id, d.doc_id, t.slot, d.pos - t.slot AS anchor
  FROM posidx d JOIN terms t USING (term)),
anch AS (
  SELECT phrase_id, doc_id, anchor, count(DISTINCT slot) AS slots_hit
  FROM hits WHERE anchor >= 0 GROUP BY 1, 2, 3)
SELECT a.phrase_id, a.doc_id,
       CAST(count(*) AS BIGINT) AS n_matches,
       CAST(min(a.anchor) AS BIGINT) AS first_pos
FROM anch a JOIN nslots n USING (phrase_id)
WHERE a.slots_hit = n.n_slots
GROUP BY 1, 2
"""


SPECS = [
    QuerySpec(
        "phrase_search_documents",
        phrase_search_documents,
        PHRASE_SEARCH_ORACLE,
        "exact phrase match via positional postings, slot-anchor alignment",
    ),
    QuerySpec(
        "bm25_hard_negatives",
        bm25_hard_negatives,
        BM25_HARD_NEG_ORACLE,
        "ranked hard-negative mining for retrieval training, int-exact",
    ),
    QuerySpec(
        "bm25_top_terms",
        bm25_top_terms,
        BM25_ORACLE,
        "Okapi BM25 top-5 terms per doc (A12 upgrade)",
    ),
    QuerySpec(
        "fuzzy_name_dedup_pairs",
        fuzzy_name_dedup_pairs,
        FUZZY_ORACLE,
        "SymSpell deletion-neighborhood fuzzy match, lev <= 2",
    ),
    QuerySpec(
        "bm25_query_topk",
        bm25_query_topk,
        BM25_TOPK_ORACLE,
        "BM25 ranked retrieval over an inverted index, top-10 per query",
    ),
    QuerySpec(
        "postings_incremental_merge",
        postings_incremental_merge,
        POSTINGS_MERGE_ORACLE,
        "incremental index merge == full rebuild (per-term stats)",
    ),
    QuerySpec(
        "rrf_hybrid_topk",
        rrf_hybrid_topk,
        RRF_HYBRID_ORACLE,
        "hybrid BM25 + cosine retrieval fused by integer-exact RRF",
    ),
]
