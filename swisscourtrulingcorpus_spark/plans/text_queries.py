"""Text-analysis / dedup / similarity queries (LLM-pipeline operators).

These are the training-data-pipeline operators a 100 TB corpus engine
needs beyond the reference's own inventory (sanctioned by BASELINE.md's
north star): exact + MinHash-LSH + SimHash + n-gram-Jaccard dedup,
brute-force and IVF-bucketed cosine similarity search, language ID,
quality scoring, token counting, n-gram mining (SURVEY.md A6), TF-IDF
relevance (A12), and rolling-hash fingerprinting.

Every oracle is generated from the SAME parameters as the Spark side
(hash seeds, band layout, stopword lists), so the two can't drift.
Hashes are md5-based (`functions.hashing.h32_sql`) — engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.text import (
    STOPWORDS,
    BPE_REGEX,
    PUNCT_CLASS,
    language_id_score,
    quality_features_sql,
    token_count_bpe,
    token_count_ws,
)
from swisscourtrulingcorpus_spark.functions.hashing import (
    collapse_ws_sql,
    h32_sql,
    split_ws_sql,
    word_shingles_from_words_sql,
    words_sql,
)
from swisscourtrulingcorpus_spark.operators.dedup import (
    LSH_BANDS,
    NUM_MINHASH,
    exact_dedup,
    minhash_dedup_groups,
    minhash_signatures,
    simhash64,
)
from swisscourtrulingcorpus_spark.operators.similarity import (
    lsh_bucketed_topk,
)
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import catalog_sql, load_table

# ---------------------------------------------------------------- SQL bits

def _h32_sql(expr: str) -> str:
    """DuckDB twin of functions.hashing.h32_sql — the first 8 hex chars of
    md5 as an unsigned 32-bit value, carried in a BIGINT (the oracles of
    this module and plans/ann_queries.py)."""
    return f"CAST(('0x' || substr(md5({expr}),1,8))::UBIGINT AS BIGINT)"


# The DuckDB twin of the whitespace tokenizer: every oracle splits and
# collapses whitespace through these three, never a pasted copy.
def _collapse_duck(expr: str) -> str:
    """Whitespace-collapse + trim, case kept — twin of
    functions.hashing.collapse_ws_sql (RE2's ``\\s`` is its class, and
    DuckDB's ``trim`` strips every space separator)."""
    return rf"trim(regexp_replace({expr}, '\s+', ' ', 'g'))"


def _split_duck(expr: str) -> str:
    """The word split, case kept — twin of functions.hashing.split_ws_sql."""
    return f"string_split({_collapse_duck(expr)}, ' ')"


def _words_duck(expr: str) -> str:
    """The whitespace tokenizer — twin of functions.hashing.words_sql."""
    return _split_duck(f"lower({expr})")


# Words for shingling.  ONE definition of each CTE piece (the
# parameterized builders below); the module-level constants used by the
# standalone oracles are derived from them so a shingling change cannot
# silently diverge between oracle families.
def _words_cte(source: str, suffix: str = "") -> str:
    w = _words_duck("text")
    return f"words{suffix} AS (SELECT doc_id, {w} AS w FROM {source})"


def _shingle_cte(suffix: str = "") -> str:
    return (
        f"sh_all{suffix} AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w)-1,1)), "
        f"i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingle FROM words{suffix})"
    )


def _distinct_sh_cte(suffix: str = "") -> str:
    return f"sh{suffix} AS (SELECT DISTINCT doc_id, shingle FROM sh_all{suffix})"


_WORDS_CTE = _words_cte("documents")
_SHINGLE_CTE = _shingle_cte()
_DISTINCT_SH_CTE = _distinct_sh_cte()


def _h32_window_sql(expr: str, window: int) -> str:
    """Window ``window`` (0..3) of an md5 digest as a 32-bit BIGINT —
    mirrors functions.hashing.md5_seeded_sql + h32_window_sql (hash j = 4s+w is
    hex window w of md5('s|'||shingle); 4 hashes per md5)."""
    return (
        f"CAST(('0x' || substr(md5({expr}),{1 + 8 * window},8))::UBIGINT AS BIGINT)"
    )


def _band_exprs() -> str:
    """The LSH band-key expressions of the `sig` CTE, shared by every
    MinHash oracle (pair join, dedup groups, incremental store probe) —
    one definition so a banding change cannot silently diverge
    between oracles."""
    rows = NUM_MINHASH // LSH_BANDS
    return ", ".join(
        "'" + str(b) + "|' || " + " || '|' || ".join(
            f"mh{b * rows + r}" for r in range(rows)
        )
        for b in range(LSH_BANDS)
    )


def _reps_ctes() -> str:
    """The bands -> bucket_min -> reps CTE chain (single-pass
    min-over-buckets representatives) — ONE definition shared by the
    dedup-groups and dedup-savings oracles, same convention as
    `_band_exprs` (a representative-rule change cannot silently
    diverge between the two gates)."""
    band_exprs = _band_exprs()
    return f"""bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sig),
bucket_min AS (SELECT band_key, min(doc_id) AS bucket_rep FROM bands GROUP BY band_key),
reps AS (
  SELECT b.doc_id,
         min(m.bucket_rep) AS representative,
         min(m.bucket_rep) = b.doc_id AS keep
  FROM bands b JOIN bucket_min m ON b.band_key = m.band_key
  GROUP BY b.doc_id)"""


def minhash_sig_ctes(source: str, suffix: str = "") -> str:
    """The words→shingles→signature CTE chain over an arbitrary source
    CTE/table, name-suffixed so TWO corpora can coexist in one query
    (the cross-corpus contamination oracle) — one definition of the
    hash/shingle arithmetic for every MinHash oracle."""
    mins = ", ".join(
        f"min({_h32_window_sql(repr(str(j // 4) + '|') + ' || shingle', j % 4)}) AS mh{j}"
        for j in range(NUM_MINHASH)
    )
    return (
        f"{_words_cte(source, suffix)}, "
        f"{_shingle_cte(suffix)}, "
        f"{_distinct_sh_cte(suffix)}, "
        f"sig{suffix} AS (SELECT doc_id, {mins} FROM sh{suffix} GROUP BY doc_id)"
    )


def _minhash_sql_cte() -> str:
    return "WITH " + minhash_sig_ctes("documents")


# ---------------------------------------------------------------- queries

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


EXACT_DEDUP_ORACLE = """
SELECT min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents
GROUP BY md5(text)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(docs, "text", "doc_id", spread=True)


MINHASH_ORACLE = _minhash_sql_cte() + "\nSELECT * FROM sig"


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        minhash_lsh_candidates_sql,
    )

    spread = spark.sparkContext.defaultParallelism
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: minhash_lsh_candidates_sql(
            view("documents"),
            "text",
            "doc_id",
            spread_partitions=spread,
        ),
    )


def _lsh_oracle() -> str:
    band_exprs = _band_exprs()
    return (
        _minhash_sql_cte()
        + f""",
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sig)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
"""
    )


def q_minhash_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        minhash_dedup_groups_sql,
    )

    spread = spark.sparkContext.defaultParallelism
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: minhash_dedup_groups_sql(
            view("documents"),
            "text",
            "doc_id",
            spread_partitions=spread,
        ),
    )


def _dedup_groups_oracle() -> str:
    return (
        _minhash_sql_cte()
        + f""",
{_reps_ctes()}
SELECT doc_id, representative, keep FROM reps
"""
    )


def q_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of the LSH candidate pairs
    (`operators/dedup.py::lsh_verified_pairs`): exact Levenshtein over
    the ASCII projection of the normalized text, cost bounded by the
    candidate count (never all-pairs), integer-exact output."""
    from swisscourtrulingcorpus_spark.operators.dedup import lsh_verified_pairs

    docs = load_table(spark, sf_dir, "documents")
    return lsh_verified_pairs(docs, "text", "doc_id")


def _lsh_verified_oracle(max_chars: int = 2000, threshold_pct: int = 30) -> str:
    band_exprs = _band_exprs()
    # DuckDB levenshtein counts BYTES; the ASCII projection (identical
    # regex on both engines) makes bytes == chars so it matches Spark's
    # char-based distance exactly.
    return (
        _minhash_sql_cte()
        + f""",
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
t AS (
  SELECT doc_id,
         substr(regexp_replace({_collapse_duck("lower(text)")},
                               '[^\\x20-\\x7e]', '', 'g'), 1, {max_chars}) AS tt
  FROM documents),
scored AS (
  SELECT c.id_a, c.id_b,
         CAST(levenshtein(ta.tt, tb.tt) AS BIGINT) AS edit_dist,
         CAST(greatest(greatest(length(ta.tt), length(tb.tt)), 1) AS BIGINT) AS max_len
  FROM cand c JOIN t ta ON ta.doc_id = c.id_a JOIN t tb ON tb.doc_id = c.id_b)
SELECT id_a, id_b, edit_dist, max_len,
       (100 * edit_dist) // max_len AS dist_pct,
       (edit_dist * 100 <= {threshold_pct} * max_len) AS verified
FROM scored
"""
    )


def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dup pairs
    (`operators/dedup.py::simhash_hamming_pairs`): block-banded
    candidates with pigeonhole-EXACT recall for d <= 3, verified by
    bit_count(xor)."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        simhash_hamming_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_hamming_pairs(docs, "text", "doc_id")


def _simhash_pairs_oracle(
    bits: int = 32, blocks: int = 4, max_hamming: int = 3
) -> str:
    width = bits // blocks
    mask = (1 << width) - 1
    return f"""
WITH {_simhash_sig_ctes(bits)},
bv AS (
  SELECT doc_id, simhash, block,
         (simhash >> (block * {width})) & {mask} AS bval
  FROM (SELECT doc_id, simhash,
               unnest(generate_series(0, {blocks - 1})) AS block
        FROM sig)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM bv a JOIN bv b
    ON a.block = b.block AND a.bval = b.bval AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


def q_verified_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full three-stage near-dup pipeline composed end to end:
    LSH candidates → exact edit-distance verification → EXACT connected
    components over the confirmed pairs
    (`operators/graph.py::connected_components_bigstar`).  This is the
    shape a production dedup actually ships — banding for recall,
    verification for precision, transitive closure for cluster
    assignment — and unlike the one-pass min-over-buckets
    `minhash_dedup_groups` it is exact on chains.  Output (node,
    cluster = min doc id of the verified component) for every doc in
    at least one verified pair."""
    from swisscourtrulingcorpus_spark.operators.dedup import lsh_verified_pairs
    from swisscourtrulingcorpus_spark.operators.graph import (
        connected_components_bigstar,
    )

    docs = load_table(spark, sf_dir, "documents")
    vp = (
        lsh_verified_pairs(docs, "text", "doc_id")
        .where(F.col("verified"))
        .select("id_a", "id_b")
    )
    return connected_components_bigstar(vp)


def _verified_clusters_oracle() -> str:
    # the verified-pair CTE chain plus a recursive transitive closure:
    # component sizes are small (near-dup groups), so enumerating
    # (node, reachable) pairs is cheap for the oracle even though the
    # Spark side uses the O(log)-round star algorithm.
    band_exprs = _band_exprs()
    return (
        "WITH RECURSIVE "
        + minhash_sig_ctes("documents")
        + f""",
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
t AS (
  SELECT doc_id,
         substr(regexp_replace({_collapse_duck("lower(text)")},
                               '[^\\x20-\\x7e]', '', 'g'), 1, 2000) AS tt
  FROM documents),
vp AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN t ta ON ta.doc_id = c.id_a JOIN t tb ON tb.doc_id = c.id_b
  WHERE levenshtein(ta.tt, tb.tt) * 100
        <= 30 * greatest(greatest(length(ta.tt), length(tb.tt)), 1)),
sym AS (SELECT id_a AS a, id_b AS b FROM vp UNION SELECT id_b, id_a FROM vp),
vnodes AS (SELECT DISTINCT a AS n FROM sym),
closure AS (
  SELECT n AS node, n AS m FROM vnodes
  UNION
  SELECT c.node, s.b AS m FROM closure c JOIN sym s ON s.a = c.m)
SELECT node, min(m) AS cluster FROM closure GROUP BY node
"""
    )


def q_quality_dedup_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware LSH representatives
    (`operators/dedup.py::quality_dedup_representatives`): each
    near-dup group keeps its LONGEST member — truncated copies collapse
    into the fullest version."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        quality_dedup_representatives,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quality_dedup_representatives(docs, "text", "doc_id")


def _quality_reps_oracle() -> str:
    band_exprs = _band_exprs()
    return (
        _minhash_sql_cte()
        + f""",
nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM words),
bands AS (SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sig),
sb AS (SELECT b.doc_id, b.band_key, nw.n_words FROM bands b JOIN nw USING (doc_id)),
bucket_best AS (
  SELECT band_key, doc_id AS best_id, n_words AS best_n
  FROM (SELECT *, row_number() OVER (PARTITION BY band_key
                                     ORDER BY n_words DESC, doc_id ASC) AS rn
        FROM sb)
  WHERE rn = 1),
joined AS (
  SELECT b.doc_id, u.best_id, u.best_n
  FROM bands b JOIN bucket_best u USING (band_key))
SELECT doc_id, best_id AS rep_id, best_n AS rep_n_words,
       (best_id = doc_id) AS keep
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY best_n DESC, best_id ASC) AS rn
      FROM joined)
WHERE rn = 1
"""
    )


def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report a data team reads off a dedup run: per near-dup
    cluster SIZE, how many clusters exist, how many documents dedup
    removes, and how many characters of storage that saves — the
    decision artifact for "is near-dup dedup worth running on this
    corpus".  Derived from `minhash_dedup_groups` representatives plus
    one slim (id, n_chars) join; all-int output, two aggregations over
    (rep, int) rows."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        minhash_dedup_groups,
    )

    docs = load_table(spark, sf_dir, "documents")
    reps = minhash_dedup_groups(docs, "text", "doc_id", spread=True)
    sizes = docs.select(
        "doc_id", F.coalesce(F.length("text"), F.lit(0)).cast("bigint").alias("n_chars")
    )
    # docs_removed counts keep=false rows, NOT cluster_size - 1: under
    # the single-pass min-over-buckets approximation a chain group's
    # nominal representative can itself point to a smaller id, leaving
    # zero kept rows in the cluster keyed by it
    per_cluster = (
        reps.join(sizes, on="doc_id")
        .groupBy("representative")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_removed"),
            F.sum(F.when(~F.col("keep"), F.col("n_chars")).otherwise(0)).alias(
                "chars_removed"
            ),
        )
    )
    return per_cluster.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n_removed").alias("docs_removed"),
        F.sum("chars_removed").alias("chars_removed"),
    )


def _dedup_savings_oracle() -> str:
    return (
        _minhash_sql_cte()
        + f""",
{_reps_ctes()},
sizes AS (SELECT doc_id, CAST(coalesce(length(text), 0) AS BIGINT) AS n_chars FROM documents),
per_cluster AS (
  SELECT representative,
         count(*) AS cluster_size,
         CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         CAST(sum(CASE WHEN NOT keep THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed
  FROM reps JOIN sizes USING (doc_id)
  GROUP BY 1)
SELECT cluster_size,
       count(*) AS n_clusters,
       CAST(sum(n_removed) AS BIGINT) AS docs_removed,
       CAST(sum(chars_removed) AS BIGINT) AS chars_removed
FROM per_cluster
GROUP BY 1
"""
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs, "text", "doc_id", spread=True)


def _simhash_sig_ctes(bits: int = 32) -> str:
    """words -> shingles -> votes -> ``sig(doc_id, simhash)`` CTE chain
    — ONE definition shared by the signature gate and the Hamming-pair
    gate (same convention as `minhash_sig_ctes`)."""
    h = _h32_sql("'sim|' || shingle")
    votes = ", ".join(
        f"sum(CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v{b} >= 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return (
        f"{_WORDS_CTE}, {_SHINGLE_CTE}, {_DISTINCT_SH_CTE},\n"
        f"votes AS (SELECT doc_id, {votes} FROM sh GROUP BY doc_id),\n"
        f"sig AS (SELECT doc_id, {sig} AS simhash FROM votes)"
    )


def _simhash_oracle(bits: int = 32) -> str:
    return f"""
WITH {_simhash_sig_ctes(bits)}
SELECT doc_id, simhash FROM sig
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-query SQL-text construction (r12, session 2): one parsed
    statement via the operator's SQL form; optimized plan pinned in
    tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        ngram_jaccard_pairs_sql,
    )

    spread = spark.sparkContext.defaultParallelism
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: ngram_jaccard_pairs_sql(
            view("documents"),
            "text",
            "doc_id",
            spread_partitions=spread,
        ),
    )


NGRAM_JACCARD_ORACLE = f"""
WITH {_WORDS_CTE}, {_SHINGLE_CTE}, {_DISTINCT_SH_CTE},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
hashed AS (SELECT doc_id, {_h32_sql('shingle')} AS h FROM sh),
freq AS (SELECT h, count(*) AS df FROM hashed GROUP BY h),
rare AS (SELECT s.doc_id, s.h FROM hashed s JOIN freq f ON s.h = f.h WHERE f.df <= 100),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, shared / (sa.n + sb.n - shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE shared / (sa.n + sb.n - shared) >= 0.2
"""


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.operators.similarity import (
        cosine_topk_bruteforce_sql,
    )

    def build(view) -> str:
        emb = view("embeddings")
        return cosine_topk_bruteforce_sql(
            emb, f"(SELECT * FROM {emb} WHERE vec_id < 8)", k=5
        )

    return catalog_sql(spark, sf_dir, build)


COSINE_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < 8 AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM c, q WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(emb, emb.where(F.col("vec_id") < 8), k=5)


IVF_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label FROM embeddings
           WHERE vec_id < 8 AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv) /
         (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM c JOIN q ON c.label = q.label WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs
    (`operators/similarity.py::cosine_neardup_pairs`): same coarse
    bucket (label = IVF centroid stand-in), cosine >= 0.3, id_a < id_b."""
    from swisscourtrulingcorpus_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, "vec_id", "embedding", "label", 0.3)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style representative per embedding near-dup set (same
    bucket, cosine >= 0.3) — the linear min-neighbor form of
    `operators/similarity.py::semantic_dedup_groups`."""
    from swisscourtrulingcorpus_spark.operators.similarity import (
        semantic_dedup_groups,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_groups(
        emb, id_col="vec_id", vec_col="embedding",
        bucket_col="label", threshold=0.3,
    )


SEMANTIC_DEDUP_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
vn AS (SELECT * FROM v WHERE list_dot_product(e, e) > 0),
nb AS (
  SELECT a.vec_id AS ida, MIN(b.vec_id) AS min_nb
  FROM vn a JOIN vn b ON a.label = b.label AND a.vec_id != b.vec_id
  WHERE list_dot_product(a.e, b.e) /
        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        >= 0.3
  GROUP BY a.vec_id
)
SELECT v.vec_id,
       LEAST(v.vec_id, COALESCE(nb.min_nb, v.vec_id)) AS representative,
       LEAST(v.vec_id, COALESCE(nb.min_nb, v.vec_id)) = v.vec_id AS keep
FROM v LEFT JOIN nb ON v.vec_id = nb.ida
"""


EMBEDDING_NEARDUP_ORACLE = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings
           WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.e, b.e) /
       (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS cosine
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.e, b.e) /
      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.3
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "lang", language_id_score("text").alias("lang_pred")
    )


def _lang_id_oracle() -> str:
    langs = sorted(STOPWORDS)
    hit_defs = ", ".join(
        "len(list_filter(w, x -> list_contains(["
        + ", ".join(repr(s) for s in STOPWORDS[lang])
        + f"], x))) AS hits_{lang}"
        for lang in langs
    )
    max_expr = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    n_at_max = " + ".join(
        f"CASE WHEN hits_{lang} = {max_expr} THEN 1 ELSE 0 END" for lang in langs
    )
    pick = " ".join(
        f"WHEN hits_{lang} = {max_expr} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH w_cte AS (SELECT doc_id, lang, {_words_duck("text")} AS w FROM documents),
hits AS (SELECT doc_id, lang, {hit_defs} FROM w_cte)
SELECT doc_id, lang,
       CASE WHEN {max_expr} = 0 OR ({n_at_max}) > 1 THEN 'und' {pick} ELSE 'und' END AS lang_pred
FROM hits
"""


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features_sql("text")
    return docs.selectExpr("doc_id", *[f"{e} AS {n}" for n, e in feats.items()])


def _quality_oracle() -> str:
    all_stop = sorted({w for ws in STOPWORDS.values() for w in ws})
    stop_list = ", ".join(repr(s) for s in all_stop)
    return f"""
WITH w_cte AS (SELECT doc_id, text, {_words_duck("text")} AS w FROM documents)
SELECT doc_id,
       length(text) AS n_chars,
       len(w) AS n_words,
       len(regexp_extract_all(text, '{PUNCT_CLASS}')) / greatest(length(text), 1) AS punct_ratio,
       len(list_filter(w, x -> list_contains([{stop_list}], x))) / greatest(len(w), 1) AS stopword_ratio,
       length(array_to_string(w, '')) / greatest(len(w), 1) AS mean_word_len
FROM w_cte
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_tokens_ws"),
        token_count_bpe("text").alias("n_tokens_bpe"),
    )


TOKEN_COUNTS_ORACLE = f"""
SELECT doc_id,
       len({_words_duck("text")}) AS n_tokens_ws,
       len(regexp_extract_all(text, '{BPE_REGEX}')) AS n_tokens_bpe
FROM documents
"""


def q_input_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-dataset input-length slicing as a derived partition column
    (`operators/relational.py::input_length_bucket`)."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        input_length_bucket,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tokens")
    )
    return docs.select(
        "doc_id",
        "n_tokens",
        input_length_bucket("n_tokens").alias("length_bucket"),
    )


INPUT_LENGTH_BUCKETS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len({_words_duck("text")}) AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens BETWEEN 1 AND 512 THEN 'between(0001,0512)'
            WHEN n_tokens BETWEEN 513 AND 1024 THEN 'between(0513,1024)'
            WHEN n_tokens BETWEEN 1025 AND 2048 THEN 'between(1025,2048)'
            WHEN n_tokens BETWEEN 2049 AND 4096 THEN 'between(2049,4096)'
            WHEN n_tokens BETWEEN 4097 AND 8192 THEN 'between(4097,8192)'
            ELSE NULL END AS length_bucket
FROM t
"""


def q_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 n-gram frequency mining (`pattern_extractor.py:154-187`:
    count >= 5 threshold): all 3-gram occurrences across the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.expr(words_sql("text")).alias("__w"))
    return (
        words.selectExpr(
            f"explode({word_shingles_from_words_sql('__w', 3)}) AS ngram"
        )
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 5)
    )


NGRAM_FREQ_ORACLE = f"""
WITH {_WORDS_CTE}, {_SHINGLE_CTE}
SELECT shingle AS ngram, count(*) AS cnt
FROM sh_all
GROUP BY shingle
HAVING count(*) >= 5
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 TF-IDF relevance (`doc2doc_ir_dataset_creator.py:287-325`,
    sklearn smooth-idf formula: idf = ln((1+N)/(1+df)) + 1): top-5 terms
    per document for doc_id < 20, ranked by tf*idf.  The double score is
    used only for ORDERING (ties share identical (tf, df) so both
    engines break them identically by term); output columns are ints.

    Whole-query SQL-text construction (r12, session 2): ONE parsed
    statement (~5 py4j round trips) instead of the chained DataFrame
    form's ~119 — the bench times construction 3× per query (guide §1).
    Optimized plan pinned in tests/fixtures/plan_fingerprints.json.

    Plan shape:
    - the doc_id predicate sits IN the tf branch (pushed to the scan),
      while document frequency stays corpus-wide;
    - df is a MAP-SIDE per-doc distinct (explode array_distinct) plus a
      plain count, so the partial aggregate compresses before ONE
      exchange of (term, count) rows — countDistinct would shuffle
      every (term, doc_id) pair (r11: 2 Exchanges -> 1);
    - N = count(1): doc_id is the documents PK;
    - tf (bounded by the 20 query docs) broadcasts, df streams;
    - rank on round(score, 9): an ULP of ln drift between Spark and
      DuckDB becomes a tie the term column breaks deterministically.
    """
    words = words_sql("text")

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
WITH tf AS (
  SELECT doc_id, term, count(1) AS tf
  FROM (SELECT doc_id, explode({words}) AS term
        FROM {view('documents')} WHERE doc_id < 20)
  GROUP BY doc_id, term
),
df_ AS (
  SELECT term, count(1) AS df
  FROM (SELECT explode(array_distinct({words})) AS term
        FROM {view('documents')})
  GROUP BY term
),
n AS (SELECT count(1) AS n_docs FROM {view('documents')}),
scored AS (
  SELECT /*+ BROADCAST(tf), BROADCAST(n) */ *,
         (tf * (ln((1 + n_docs) / (1 + df)) + 1)) AS score
  FROM df_ JOIN tf USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
           ORDER BY round(score, 9) DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
    )


TFIDF_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest({_words_duck("text")}) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * (ln((1 + n.n_docs) / (1 + df.df)) + 1) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, df, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 9) DESC, term ASC) AS rank
      FROM scored WHERE doc_id < 20)
WHERE rank <= 5
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: fold (acc*31 + h32(word)) mod
    2^31-1 over the word sequence — order-sensitive, so reordered
    near-dups fingerprint differently (unlike MinHash)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        f"aggregate(transform({words_sql('text')}, w -> {h32_sql('w')}), "
        "cast(0 as bigint), (acc, h) -> (acc * 31 + h) % 2147483647) AS fingerprint",
    )


FINGERPRINT_ORACLE = f"""
WITH {_WORDS_CTE}
SELECT doc_id,
       list_reduce(
         list_concat([CAST(0 AS BIGINT)],
                     list_transform(w, x -> {_h32_sql('x')})),
         (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
FROM words
"""


# --- decontamination: train/eval n-gram overlap --------------------------

def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination: eval docs (doc_id % 10 == 0) checked for
    5-gram overlap against the train rest of the corpus
    (`operators/dedup.py::contamination_check_sql`).

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        contamination_check_sql,
    )

    spread = spark.sparkContext.defaultParallelism

    def build(view) -> str:
        docs = view("documents")
        return contamination_check_sql(
            f"(SELECT * FROM {docs} WHERE (doc_id % 10) = 0)",
            f"(SELECT * FROM {docs} WHERE NOT ((doc_id % 10) = 0))",
            "text",
            "doc_id",
            k=5,
            spread_partitions=spread,
        )

    return catalog_sql(spark, sf_dir, build)


CONTAMINATION_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         {_words_duck("text")} AS w
  FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(w)-3, 1)),
                i -> w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4])) AS shingle
  FROM words),
ev AS (SELECT doc_id, {_h32_sql('shingle')} AS h FROM sh WHERE doc_id % 10 = 0),
tr AS (SELECT DISTINCT {_h32_sql('shingle')} AS h FROM sh WHERE doc_id % 10 != 0),
totals AS (SELECT doc_id, count(*) AS n_total FROM ev GROUP BY doc_id),
shared AS (
  SELECT doc_id, count(*) AS n_shared
  FROM ev WHERE h IN (SELECT h FROM tr) GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(s.n_shared, 0) AS n_shared,
       t.n_total,
       coalesce(s.n_shared, 0) / t.n_total AS contamination
FROM totals t LEFT JOIN shared s ON t.doc_id = s.doc_id
"""


# --- training-data prep: chunking + deterministic shuffle ---------------

def q_chunked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bounded chunking with overlap (64-token chunks, 16-token
    overlap) — the pretraining/embedding preprocessing step, map-side
    only (`operators/training.py::chunk_documents_sql`).

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.operators.training import (
        chunk_documents_sql,
    )

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: chunk_documents_sql(
            view("documents"),
            "text",
            "doc_id",
            chunk_size=64,
            overlap=16,
        ),
    )


CHUNKED_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         {_words_duck("text")} AS w
  FROM documents WHERE text IS NOT NULL),
starts AS (
  SELECT doc_id, w, len(w) AS n,
         unnest(range(1, greatest(len(w) - 16, 1) + 1, 48)) AS s
  FROM words)
SELECT doc_id,
       CAST((s - 1) / 48 AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(w, s, s + 63), ' ') AS chunk_text,
       least(64, n - s + 1) AS n_chunk_tokens
FROM starts
"""


def q_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: engine-independent global
    permutation via md5(seed|id) ranking.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    from swisscourtrulingcorpus_spark.operators.training import (
        deterministic_shuffle_sql,
    )

    return catalog_sql(
        spark,
        sf_dir,
        lambda view: deterministic_shuffle_sql(view("documents"), "doc_id"),
    )


def q_cms_token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for 10 probe values over the
    doc_id%50 token stream — the sketch bucket arithmetic is portable
    md5, so DuckDB reproduces the sketch (and thus every estimate)
    bit-for-bit."""
    from swisscourtrulingcorpus_spark.operators.sketches import (
        cms_estimate,
        cms_table,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 50).cast("string").alias("token")
    )
    sketch = cms_table(docs, "token", width=64, depth=4)
    probes = spark.range(10).select(F.col("id").cast("string").alias("token"))
    return cms_estimate(sketch, probes, "token", width=64, depth=4)


def _cms_oracle(width: int = 64, depth: int = 4) -> str:
    def bucket(d: int, expr: str) -> str:
        return (
            f"CAST(('0x' || substr(md5('cms{d}|' || {expr}), 1, 8))::UBIGINT "
            f"AS BIGINT) % {width}"
        )

    sketch_parts = " UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d, 'CAST(doc_id % 50 AS VARCHAR)')} AS bucket, "
        f"count(*) AS cnt FROM documents GROUP BY 2"
        for d in range(depth)
    )
    probe_parts = " UNION ALL ".join(
        f"SELECT CAST(i AS VARCHAR) AS token, {d} AS d, "
        f"{bucket(d, 'CAST(i AS VARCHAR)')} AS bucket FROM range(10) t(i)"
        for d in range(depth)
    )
    return f"""
WITH sketch AS ({sketch_parts}), probes AS ({probe_parts})
SELECT p.token, MIN(COALESCE(s.cnt, 0)) AS estimate
FROM probes p LEFT JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
GROUP BY p.token
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware (leakage-safe) split: the split coin is thrown on
    the exact-dedup representative, so byte-identical documents always
    land in the same split (`operators/training.py::group_aware_split`)."""
    from pyspark.sql import Window

    from swisscourtrulingcorpus_spark.operators.training import (
        group_aware_split,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = Window.partitionBy(F.md5("text"))
    grouped = docs.select(
        "doc_id", F.min("doc_id").over(w).alias("representative")
    )
    return group_aware_split(
        grouped,
        group_col="representative",
        weights={"train": 0.8, "validation": 0.1, "test": 0.1},
    ).select("doc_id", "representative", "split")


def _leakage_split_oracle() -> str:
    # the SAME bound arithmetic as group_aware_split (int(acc * 2^32)
    # over name-sorted weights) so the literals cannot drift
    weights = {"train": 0.8, "validation": 0.1, "test": 0.1}
    items = sorted(weights.items())
    coin = "('0x' || substr(md5('split|' || CAST(rep AS VARCHAR)), 1, 8))::UBIGINT"
    acc, cases = 0.0, []
    for name, wt in items[:-1]:
        acc += wt
        cases.append(f"WHEN {coin} < {int(acc * 4294967296)} THEN '{name}'")
    return f"""
WITH g AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM documents
)
SELECT doc_id, rep AS representative,
       CASE {' '.join(cases)} ELSE '{items[-1][0]}' END AS split
FROM g
"""


TRAINING_SHUFFLE_ORACLE = """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS shuffle_rank
FROM documents
"""



# --- number masking (numeric normalization for training corpora) -------

def number_mask_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric normalization: every digit run becomes <num> — the
    standard pre-tokenization rewrite that collapses the unbounded
    number vocabulary.  Pure map-side regexp_replace (JVM, codegen);
    the match count comes from regexp_extract_all so masked text and
    count stay consistent by construction.  The regex sticks to the
    Java∩RE2 common subset so the oracle is literally the same
    pattern."""
    from swisscourtrulingcorpus_spark.sources.catalog import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_replace("text", r"[0-9]+", "<num>").alias("masked_text"),
        F.size(F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)).alias(
            "n_masked"
        ),
    )


NUMBER_MASK_ORACLE = """
SELECT doc_id,
       regexp_replace(text, '[0-9]+', '<num>', 'g') AS masked_text,
       len(regexp_extract_all(text, '[0-9]+')) AS n_masked
FROM documents
"""


# --- lexical diversity (Gopher-style repetition signal) -----------------

def lexical_diversity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: distinct-word / total-word ratio per doc
    (the Gopher-rules family of quality filters — heavily repetitive
    machine-generated text scores low).  All array built-ins, map-side;
    the ratio is int/int division (bit-identical across engines)."""
    from swisscourtrulingcorpus_spark.sources.catalog import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    with_words = docs.select("doc_id", F.expr(words_sql("text")).alias("__w"))
    return with_words.select(
        "doc_id",
        F.size("__w").alias("n_words"),
        F.size(F.array_distinct("__w")).alias("n_distinct"),
        (F.size(F.array_distinct("__w")) / F.size("__w")).alias("diversity"),
    )


LEXICAL_DIVERSITY_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS ws
  FROM documents)
SELECT doc_id,
       len(ws) AS n_words,
       len(list_distinct(ws)) AS n_distinct,
       len(list_distinct(ws)) / len(ws) AS diversity
FROM w
"""


def q_lemma_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 lemma-counter fidelity: casefolded ALPHA tokens (the
    reference's isalpha()+POS proxy), function-word exclusion, and the
    rule-based per-language suffix stripper — counted per (lang,
    lemma).  The suffix/stopword rules compile from one data table
    into a CASE expression string valid in both engines
    (`functions/text.py::lemma_case_sql`), so the oracle runs
    LITERALLY the same logic.  Reference semantics:
    `abstract_preprocessor.py:387-410` (spacy lemma_ casefold + POS
    exclusions; rule-based approximation documented in COVERAGE.md)."""
    from swisscourtrulingcorpus_spark.functions.text import (
        LEMMA_TOKEN_SPLIT,
        lemma_case_sql,
        lemma_stopword_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower("text"), LEMMA_TOKEN_SPLIT)).alias("t"),
    ).where((F.length("t") >= 2) & ~F.expr(lemma_stopword_sql("t", "lang")))
    return (
        toks.select("lang", F.expr(lemma_case_sql("t", "lang")).alias("lemma"))
        .groupBy("lang", "lemma")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_BLOOM_M = 1 << 16
_BLOOM_K = 4


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (`operators/sketches.py::bloom_build/
    bloom_might_contain`): build the filter over BUILDING-segment
    customer keys, pre-filter the orders FACT side map-side with the
    broadcast word array, then count candidates vs exact members.
    The oracle models the filter as the equivalent distinct-bit-set
    (word packing is an implementation detail; the bit set is the
    semantics), so both the hash family and the false-positive set
    must match bit for bit.  At 100 TB the point is the shape: rows
    that cannot join never enter the exchange."""
    from swisscourtrulingcorpus_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    cust = load_table(spark, sf_dir, "customer")
    keys = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    words = [
        (r["word_idx"], r["word"])
        for r in bloom_build(keys, "c_custkey", _BLOOM_M, _BLOOM_K).collect()
    ]
    orders = load_table(spark, sf_dir, "orders")
    cand = bloom_might_contain(orders, words, "o_custkey", _BLOOM_M, _BLOOM_K)
    marked = cand.join(
        F.broadcast(keys.withColumn("__m", F.lit(1))),
        cand["o_custkey"] == keys["c_custkey"],
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count("__m").alias("n_exact"),
        (F.count(F.lit(1)) - F.count("__m")).alias("n_false_positives"),
    )


def _bloom_oracle() -> str:
    def h(j: str, key: str) -> str:
        return (
            f"CAST(CAST(('0x' || substr(md5('bloom{j}|' || CAST({key} AS VARCHAR)), 1, 8)) AS UBIGINT) "
            f"% {_BLOOM_M} AS BIGINT)"
        )

    probes = " AND ".join(
        f"{h(j, 'o_custkey')} IN (SELECT p FROM bits)" for j in range(_BLOOM_K)
    )
    inserts = " UNION ALL ".join(
        f"SELECT {h(j, 'c_custkey')} AS p FROM keys" for j in range(_BLOOM_K)
    )
    return f"""
WITH keys AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
bits AS (SELECT DISTINCT p FROM ({inserts})),
cand AS (SELECT o_custkey FROM orders WHERE {probes})
SELECT count(*) AS n_candidates,
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM keys) THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM keys) THEN 0 ELSE 1 END) AS BIGINT) AS n_false_positives
FROM cand
"""


BLOOM_PREFILTER_ORACLE = _bloom_oracle()


def pos_proxy_class_col(token: str = "t", lang: str = "lang"):
    """The deterministic POS-proxy classifier over a token column —
    factored out so the fidelity test (`tests/test_fidelity.py`) can
    measure per-token agreement against hand-labeled spaCy-style gold
    classes with exactly the expression the gate uses."""
    from swisscourtrulingcorpus_spark.functions.text import (
        de_noun_suffix_sql,
        lemma_stopword_sql,
    )

    is_func = F.expr(lemma_stopword_sql(f"lower({token})", lang))
    de_noun = F.expr(de_noun_suffix_sql(token, lang))
    return (
        F.when(F.col(token).rlike("^[0-9]"), F.lit("NUM"))
        .when(~F.col(token).rlike("[0-9A-Za-zÀ-ÿ]"), F.lit("PUNCT"))
        .when(is_func, F.lit("FUNC"))
        .when(F.col(token).rlike("^[A-ZÄÖÜÉÈÀ]") & de_noun, F.lit("WORD"))
        .when(F.col(token).rlike("^[A-ZÄÖÜÉÈÀ]"), F.lit("PROPN"))
        .otherwise(F.lit("WORD"))
    )


#: The POS proxy's salted text, as SQL both engines parse alike.
_POS_SALTED = (
    "text || ' Bundesgericht Art. ' || CAST(doc_id % 250 + 1 AS STRING)"
    " || ' BGG , 4C.55/2003 !'"
)


def q_pos_proxy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 counter_pos/counter_tag counterpart
    (`abstract_preprocessor.py:404-409`: per-token POS/tag counts).
    Without a statistical tagger the classes are deterministic word
    shapes — NUM (leading digit), PUNCT (no alphanumerics), FUNC
    (closed-class function words, the same list as the lemma gate),
    PROPN (capitalized), WORD (rest) — which preserves the operator
    shape (tokenize → classify → count per language) and is
    engine-reproducible.  Text is salted with a digits/punctuation/
    capitalized suffix so every class is exercised at every SF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr("lang", f"explode({split_ws_sql(_POS_SALTED)}) AS t")
    toks = toks.where(F.length("t") > 0)
    return (
        toks.select("lang", pos_proxy_class_col().alias("pos_class"))
        .groupBy("lang", "pos_class")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _pos_proxy_oracle() -> str:
    from swisscourtrulingcorpus_spark.functions.text import (
        de_noun_suffix_sql,
        lemma_stopword_sql,
    )

    stop = lemma_stopword_sql("lower(t)", "lang")
    de_noun = de_noun_suffix_sql("t", "lang")
    return rf"""
WITH toks AS (
  SELECT lang,
         unnest({_split_duck(_POS_SALTED)}) AS t
  FROM documents)
SELECT lang,
       CASE WHEN regexp_matches(t, '^[0-9]') THEN 'NUM'
            WHEN NOT regexp_matches(t, '[0-9A-Za-zÀ-ÿ]') THEN 'PUNCT'
            WHEN {stop} THEN 'FUNC'
            WHEN regexp_matches(t, '^[A-ZÄÖÜÉÈÀ]') AND {de_noun} THEN 'WORD'
            WHEN regexp_matches(t, '^[A-ZÄÖÜÉÈÀ]') THEN 'PROPN'
            ELSE 'WORD' END AS pos_class,
       count(*) AS n
FROM toks
WHERE length(t) > 0
GROUP BY 1, 2
"""


POS_PROXY_ORACLE = _pos_proxy_oracle()


def _lemma_counts_oracle() -> str:
    from swisscourtrulingcorpus_spark.functions.text import (
        LEMMA_TOKEN_SPLIT,
        lemma_case_sql,
        lemma_stopword_sql,
    )

    return f"""
WITH toks AS (
  SELECT lang, unnest(string_split_regex(lower(text), '{LEMMA_TOKEN_SPLIT}')) AS t
  FROM documents)
SELECT lang, {lemma_case_sql("t", "lang")} AS lemma, count(*) AS n
FROM toks
WHERE length(t) >= 2 AND NOT ({lemma_stopword_sql("t", "lang")})
GROUP BY 1, 2
"""


LEMMA_COUNTS_ORACLE = _lemma_counts_oracle()


# --- RAKE keyword extraction (Rose et al. 2010) ---------------------------

# stoplist shared verbatim by the Spark plan and the oracle SQL: the
# language-ID stopwords plus the bare function words the synthetic
# corpus uses as connectives.
def _rake_stoplist() -> list[str]:
    from swisscourtrulingcorpus_spark.functions.text import STOPWORDS

    extra = {"a", "of", "in", "to", "on", "at", "by"}
    return sorted({w for ws in STOPWORDS.values() for w in ws} | extra)


def rake_keywords_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: candidate phrases are maximal runs of
    non-stopword tokens; each word scores degree/frequency over the
    phrase corpus (degree = Σ length of phrases containing the word,
    frequency = occurrence count), and a phrase scores the sum of its
    word scores.  Emitted integer-exact as score_micro =
    Σ_w floor(degree(w)·10^6 / freq(w)) — the same floor in both
    engines — for the top-20 distinct phrases (ties by phrase).

    Plan shape: the stopword split and word explode are map-side; the
    word-stats groupBy and the stats-to-phrase-word equi-join shuffle
    only (word, int) rows; the final top-20 is TakeOrdered.  At 100 TB
    the word-stats table is vocabulary-sized and broadcastable.

    Stopword matching is a set-membership transform over the word
    array (In-expression hash lookup), NOT a regex alternation — the
    first form scanned every text with a 40-branch Java regex whose
    map-side CPU dominated everything (measured 56.6 s -> 1.41 s on
    the 10x scale corpus after the switch); it also sidesteps any
    engine \\b-semantics divergence."""
    stop = _rake_stoplist()
    docs = load_table(spark, sf_dir, "documents")
    phrases = (
        docs.select(F.expr(words_sql("text")).alias("ws"))
        .select(
            F.array_join(
                F.transform(
                    "ws",
                    lambda w: F.when(w.isin(*stop), F.lit("|")).otherwise(w),
                ),
                " ",
            ).alias("seg")
        )
        .select(F.explode(F.split("seg", r"\|")).alias("raw"))
        .select(F.expr(collapse_ws_sql("raw")).alias("phrase"))
        .where(F.col("phrase") != "")
    )
    pw = phrases.select(
        "phrase",
        F.split("phrase", " ").alias("ws"),
    ).select("phrase", F.size("ws").alias("plen"), F.explode("ws").alias("word"))
    stats = pw.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").alias("degree"),
    )
    scored = (
        pw.join(stats, "word")
        .groupBy("phrase")
        .agg(
            (F.count(F.lit(1)) / F.max("plen")).cast("bigint").alias("n_occ"),
            F.sum(F.expr("degree * 1000000 div freq")).alias("score_sum"),
        )
        .select(
            "phrase",
            "n_occ",
            F.expr("score_sum div n_occ").alias("score_micro"),
        )
    )
    return scored.orderBy(F.col("score_micro").desc(), F.col("phrase")).limit(20)


def _rake_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in _rake_stoplist())
    return rf"""
WITH seg AS (
  SELECT array_to_string(
           list_transform(
             {_words_duck("text")},
             w -> CASE WHEN w IN ({stop}) THEN '|' ELSE w END),
           ' ') AS seg
  FROM documents),
raws AS (SELECT unnest(string_split(seg, '|')) AS raw FROM seg),
phrases AS (
  SELECT {_collapse_duck("raw")} AS phrase
  FROM raws
  WHERE {_collapse_duck("raw")} != ''),
pw AS (
  SELECT phrase, len(string_split(phrase, ' ')) AS plen,
         unnest(string_split(phrase, ' ')) AS word
  FROM phrases),
stats AS (
  SELECT word, count(*) AS freq, sum(plen) AS degree
  FROM pw GROUP BY word),
scored AS (
  SELECT phrase,
         CAST(count(*) // max(plen) AS BIGINT) AS n_occ,
         CAST(sum(degree * 1000000 // freq)
              // (count(*) // max(plen)) AS BIGINT) AS score_micro
  FROM pw JOIN stats USING (word)
  GROUP BY phrase)
SELECT phrase, n_occ, score_micro
FROM scored
ORDER BY score_micro DESC, phrase
LIMIT 20
"""


# --- co-occurrence association mining (PMI/lift counts) -------------------

_COOC_MAX_OFF = 5
_COOC_MIN_PAIRS = 5


def cooccurrence_lift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-association mining over ±5-token windows — the counts
    behind PMI / GloVe-style statistics.  Pair generation is ENTIRELY
    map-side: for each offset k the token array zips with its own
    k-shifted slice (the `word_shingles_from_words_sql` trick), so no
    self-join ever runs; the only shuffles are the pair-count and
    word-count groupBys on slim string keys.  Association strength is
    the integer lift: pair_n * total_tokens * 10^6 div (c1 * c2) —
    PMI's exp-free core, identical in both engines (ln is not
    portable; lift orders pairs the same way).  Top-50 pairs seen at
    least {p} times, ties by pair text."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.expr(words_sql("text")).alias("ws"))
    pair_arrays = []
    for off in range(1, _COOC_MAX_OFF + 1):
        n = F.greatest(F.size("ws") - off, F.lit(0))
        pair_arrays.append(
            F.zip_with(
                F.slice("ws", 1, n),
                F.slice("ws", off + 1, n),
                lambda a, b: F.concat(
                    F.least(a, b), F.lit(" "), F.greatest(a, b)
                ),
            )
        )
    pairs = (
        words.select(F.explode(F.concat(*pair_arrays)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .where(F.col("pair_n") >= _COOC_MIN_PAIRS)
    )
    wc = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = words.select(
        F.sum(F.size("ws")).cast("bigint").alias("n_tokens")
    )
    out = (
        pairs.select(
            "pair",
            "pair_n",
            F.split("pair", " ").getItem(0).alias("w1"),
            F.split("pair", " ").getItem(1).alias("w2"),
        )
        .join(wc.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(wc.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "pair",
            "pair_n",
            "c1",
            "c2",
            # overflow-safe order: pair_n * n_tokens * 1e6 wraps int64
            # once the corpus passes ~10^13 token-pair products (Spark
            # wraps silently, DuckDB errors — a scale-dependent gate
            # break, r06 review).  n_tokens*1e6 div c1 stays < 2^63 for
            # any corpus under ~9e12 tokens, and pair_n <= c1 bounds
            # the second product by n_tokens*1e6.
            F.expr(
                "pair_n * (n_tokens * 1000000 div c1) div c2"
            ).alias("lift_micro"),
        )
    )
    return out.orderBy(F.col("lift_micro").desc(), F.col("pair")).limit(50)


def _cooc_oracle() -> str:
    return rf"""
WITH w AS (
  SELECT {_words_duck("text")} AS ws
  FROM documents),
pos AS (
  SELECT ws, unnest(generate_series(1, len(ws))) AS i FROM w),
pairs_raw AS (
  SELECT least(ws[i], ws[i + off]) || ' ' || greatest(ws[i], ws[i + off]) AS pair
  FROM pos, unnest(generate_series(1, {_COOC_MAX_OFF})) AS t(off)
  WHERE i + off <= len(ws)),
pairs AS (
  SELECT pair, count(*) AS pair_n FROM pairs_raw GROUP BY pair
  HAVING count(*) >= {_COOC_MIN_PAIRS}),
wc AS (
  SELECT word AS w, count(*) AS c
  FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word),
total AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS n_tokens FROM w)
SELECT pair,
       CAST(pair_n AS BIGINT) AS pair_n,
       CAST(c1.c AS BIGINT) AS c1,
       CAST(c2.c AS BIGINT) AS c2,
       CAST(pair_n * (n_tokens * 1000000 // c1.c) // c2.c AS BIGINT) AS lift_micro
FROM pairs, total,
     wc c1, wc c2
WHERE c1.w = string_split(pair, ' ')[1]
  AND c2.w = string_split(pair, ' ')[2]
ORDER BY lift_micro DESC, pair
LIMIT 50
"""


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (`operators/dedup.py::
    cdc_chunk_dedup`): Rabin-Karp rolling-hash cut points (16-char
    window, base 257 mod 2^31-1, cut at hash % 64 == 0), md5 chunk
    identity, cross-document duplicate-chunk report — the
    storage-dedup / shared-boilerplate primitive whose boundaries
    re-synchronize after local edits (LBFS, Muthitacharoen et al.
    2001).  The oracle recomputes every window hash with the SAME
    integer polynomial via a 16-way position self-join and an inlined
    257^k mod-M power table, re-derives the cut points, re-slices the
    chunks with character-based substr, and md5s them — the rolling
    recurrence, the boundary rule, and the chunk slicing are all on
    the hook, exactly."""
    from swisscourtrulingcorpus_spark.operators.dedup import cdc_chunk_dedup

    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunk_dedup(docs, "text", "doc_id")


_CDC_POWERS = ", ".join(
    f"({k}, {pow(257, k, (1 << 31) - 1)})" for k in range(16)
)

CDC_CHUNK_ORACLE = f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS d, text
  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
pw(k, p) AS (VALUES {_CDC_POWERS}),
pos AS (
  SELECT d, i.i, unicode(substr(text, CAST(i.i AS INTEGER), 1)) AS cp
  FROM docs, unnest(generate_series(1, length(text))) AS i(i)),
wh AS (
  SELECT p.d, p.i,
         CAST(sum(CAST(q.cp AS BIGINT) * CAST(pk.p AS BIGINT)) % 2147483647 AS BIGINT) AS h
  FROM pos p
  JOIN pos q ON q.d = p.d AND q.i BETWEEN p.i - 15 AND p.i
  JOIN pw pk ON pk.k = p.i - q.i
  WHERE p.i >= 16
  GROUP BY p.d, p.i),
ends AS (
  SELECT d, i FROM wh WHERE h % 64 = 0
  UNION
  SELECT d, length(text) AS i FROM docs),
chunks AS (
  SELECT d,
         coalesce(lag(i) OVER (PARTITION BY d ORDER BY i), 0) + 1 AS s,
         i AS e
  FROM ends),
ch AS (
  SELECT c.d,
         md5(substr(t.text, CAST(c.s AS INTEGER),
                    CAST(c.e - c.s + 1 AS INTEGER))) AS chunk_hash,
         c.e - c.s + 1 AS chunk_len
  FROM chunks c JOIN docs t ON t.d = c.d)
SELECT chunk_hash, CAST(chunk_len AS BIGINT) AS chunk_len,
       CAST(count(DISTINCT d) AS BIGINT) AS n_docs,
       count(*) AS n_occurrences
FROM ch
GROUP BY chunk_hash, chunk_len
HAVING count(*) > 1
"""


SPECS = [
    QuerySpec("cdc_chunk_dedup", q_cdc_chunk_dedup, CDC_CHUNK_ORACLE, "content-defined chunking dedup: rolling-hash cuts, cross-doc chunk report"),
    QuerySpec("number_mask_documents", number_mask_documents, NUMBER_MASK_ORACLE, "numeric normalization"),
    QuerySpec("lemma_counts_documents", q_lemma_counts, LEMMA_COUNTS_ORACLE, "E11 rule-based lemma counter"),
    QuerySpec("pos_proxy_counts", q_pos_proxy_counts, POS_PROXY_ORACLE, "E11 counter_pos/tag shape proxy"),
    QuerySpec("bloom_prefilter_orders", q_bloom_prefilter, BLOOM_PREFILTER_ORACLE, "Bloom-filter join pruning vs bit-set oracle"),
    QuerySpec("lexical_diversity_documents", lexical_diversity_documents, LEXICAL_DIVERSITY_ORACLE, "Gopher-style repetition score"),
    QuerySpec("exact_dedup_documents", q_exact_dedup, EXACT_DEDUP_ORACLE, "exact dedup"),
    QuerySpec("minhash_signatures_documents", q_minhash_signatures, MINHASH_ORACLE, "minhash sigs"),
    QuerySpec("minhash_lsh_pairs", q_minhash_lsh_pairs, _lsh_oracle(), "LSH candidates"),
    QuerySpec("minhash_dedup_groups", q_minhash_dedup_groups, _dedup_groups_oracle(), "LSH cluster reps"),
    QuerySpec("lsh_verified_pairs", q_lsh_verified_pairs, _lsh_verified_oracle(), "edit-distance verification of LSH candidates"),
    QuerySpec("verified_dedup_clusters", q_verified_dedup_clusters, _verified_clusters_oracle(), "LSH -> verify -> exact CC, three-stage dedup composed"),
    QuerySpec("quality_dedup_representatives", q_quality_dedup_reps, _quality_reps_oracle(), "keep-the-longest LSH representatives"),
    QuerySpec("dedup_savings_report", q_dedup_savings_report, _dedup_savings_oracle(), "per-cluster-size dedup savings decision report"),
    QuerySpec("simhash_documents", q_simhash, _simhash_oracle(), "simhash sigs"),
    QuerySpec("simhash_hamming_pairs", q_simhash_hamming_pairs, _simhash_pairs_oracle(), "block-banded Hamming pairs, pigeonhole-exact recall"),
    QuerySpec("ngram_jaccard_pairs", q_ngram_jaccard, NGRAM_JACCARD_ORACLE, "jaccard pairs"),
    QuerySpec("cosine_topk_bruteforce", q_cosine_topk, COSINE_TOPK_ORACLE, "ANN brute force"),
    QuerySpec("ivf_topk_bucketed", q_ivf_topk, IVF_TOPK_ORACLE, "ANN IVF bucketed"),
    QuerySpec("embedding_neardup_pairs", q_embedding_neardup, EMBEDDING_NEARDUP_ORACLE, "embedding near-dup"),
    QuerySpec("semantic_dedup_groups", q_semantic_dedup, SEMANTIC_DEDUP_ORACLE, "SemDeDup representative per near-dup set"),
    QuerySpec("language_id_documents", q_language_id, _lang_id_oracle(), "E1 lang id"),
    QuerySpec("quality_features_documents", q_quality_features, _quality_oracle(), "quality scoring"),
    QuerySpec("token_counts_documents", q_token_counts, TOKEN_COUNTS_ORACLE, "A3 token counts"),
    QuerySpec("rake_keywords_documents", rake_keywords_documents, _rake_oracle(), "RAKE keyword extraction: degree/freq phrase scores, integer-exact"),
    QuerySpec("cooccurrence_lift_documents", cooccurrence_lift_documents, _cooc_oracle(), "PMI-core lift over map-side offset-zipped pairs, no self-join"),
    QuerySpec("ngram_freq_documents", q_ngram_freq, NGRAM_FREQ_ORACLE, "A6 ngram mining"),
    QuerySpec("tfidf_top_terms", q_tfidf_top_terms, TFIDF_ORACLE, "A12 tf-idf"),
    QuerySpec("doc_fingerprint_rolling", q_doc_fingerprint, FINGERPRINT_ORACLE, "fingerprint"),
    QuerySpec("chunked_documents", q_chunked_documents, CHUNKED_ORACLE, "token chunking w/ overlap"),
    QuerySpec("training_shuffle_rank", q_training_shuffle, TRAINING_SHUFFLE_ORACLE, "deterministic shuffle"),
    QuerySpec("leakage_safe_split", q_leakage_safe_split, _leakage_split_oracle(), "group-aware md5 split on dedup representative"),
    QuerySpec("cms_token_estimates", q_cms_token_estimates, _cms_oracle(), "count-min sketch estimates, portable-md5 sketch oracle"),
    QuerySpec("input_length_buckets", q_input_length_buckets, INPUT_LENGTH_BUCKETS_ORACLE, "sub-dataset length-bucket partition column"),
    QuerySpec("test_set_contamination", q_contamination, CONTAMINATION_ORACLE, "train/eval overlap"),
]


def q_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup (`operators/dedup.py::
    incremental_minhash_dedup`): even doc_ids are the historic corpus
    (present only as their SIGNATURE table — history is never
    re-scanned), odd doc_ids arrive as the new batch.  A new doc
    survives iff it is its own batch-internal LSH representative AND
    shares no band bucket with any stored signature.

    Plan note (r04 verdict §wrong-6): the STATIC plan shows ~80
    exchanges because this gate recomputes store + batch signatures
    from the documents scan and the count side repeats the union
    pipeline — a gate-construction artifact; ReusedExchange collapses
    them at runtime, and a production caller feeds an already-
    materialized signature store (see `streaming/jobs.py::
    minhash_dedup_batch`, which caches the batch signatures), so the
    operator itself is three linear joins."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    store_docs = docs.where(F.col("doc_id") % 2 == 0)
    new_docs = docs.where(F.col("doc_id") % 2 == 1)
    store_sig = minhash_signatures(store_docs, "text", "doc_id", spread=True)
    survivors, updated = incremental_minhash_dedup(
        new_docs, store_sig, "text", "doc_id", spread=True
    )
    # gate both outputs in one result: surviving ids + the updated
    # store's total signature count (proves the union side too)
    total = updated.agg(F.count(F.lit(1)).alias("store_rows"))
    return survivors.crossJoin(F.broadcast(total)).select(
        "doc_id", "store_rows"
    )


def _incremental_dedup_oracle() -> str:
    band_exprs = _band_exprs()
    return (
        _minhash_sql_cte()
        + f""",
bn AS (SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sig WHERE doc_id % 2 = 1),
bs AS (SELECT DISTINCT unnest([{band_exprs}]) AS band_key FROM sig WHERE doc_id % 2 = 0),
bucket_min AS (SELECT band_key, min(doc_id) AS rep FROM bn GROUP BY band_key),
internal AS (
  SELECT b.doc_id FROM bn b JOIN bucket_min m ON b.band_key = m.band_key
  GROUP BY b.doc_id HAVING min(m.rep) = b.doc_id),
matched AS (SELECT DISTINCT doc_id FROM bn WHERE band_key IN (SELECT band_key FROM bs)),
survivors AS (
  SELECT doc_id FROM internal WHERE doc_id NOT IN (SELECT doc_id FROM matched)),
total AS (
  SELECT (SELECT count(*) FROM sig WHERE doc_id % 2 = 0)
       + (SELECT count(*) FROM survivors) AS store_rows)
SELECT s.doc_id, t.store_rows FROM survivors s, total t
"""
    )


SPECS += [
    QuerySpec(
        "incremental_minhash_dedup",
        q_incremental_minhash_dedup,
        _incremental_dedup_oracle(),
        "new-batch dedup against a signature store (history never re-scanned)",
    ),
]


def q_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter, integer-exact half
    (`operators/lm.py::doc_bigram_counts`): every document position
    joined to the corpus unigram/bigram count tables.  The double
    score (avg ln P(w2|w1)) depends on float summation order no engine
    pins, so the gate hashes the COUNT attachment; `lm_score` is
    unit-tested to tolerance."""
    from swisscourtrulingcorpus_spark.operators.lm import doc_bigram_counts

    docs = load_table(spark, sf_dir, "documents")
    return doc_bigram_counts(docs, "text", "doc_id")


NGRAM_LM_ORACLE = rf"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS w
  FROM documents WHERE text IS NOT NULL),
uni AS (
  SELECT t AS w1, count(*) AS c1
  FROM (SELECT unnest(w) AS t FROM w) GROUP BY t),
pos AS (
  SELECT doc_id, unnest(range(1, len(w))) AS pos, w FROM w),
bgflat AS (
  SELECT doc_id, CAST(pos AS INT) AS pos, w[pos] AS w1, w[pos + 1] AS w2
  FROM pos),
bi AS (SELECT w1, w2, count(*) AS c2 FROM bgflat GROUP BY w1, w2)
SELECT b.doc_id, b.pos, b.w1, b.w2, u.c1, i.c2
FROM bgflat b
JOIN bi i ON b.w1 = i.w1 AND b.w2 = i.w2
JOIN uni u ON b.w1 = u.w1
"""


SPECS += [
    QuerySpec(
        "ngram_lm_counts",
        q_ngram_lm_counts,
        NGRAM_LM_ORACLE,
        "bigram LM count attachment (CCNet-style quality filter, exact half)",
    ),
]


def q_lm_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/lm.py::lm_score` through the driver gate, integer
    half: even doc_ids form the REFERENCE corpus, odd doc_ids are
    scored against it — per doc the total and reference-seen bigram
    counts (the coverage signal).  avg_logprob is excluded from the
    hash (float summation order, see lm.py docstring)."""
    from swisscourtrulingcorpus_spark.operators.lm import lm_score

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    scored = docs.where(F.col("doc_id") % 2 == 1)
    return lm_score(scored, "text", "doc_id", reference=ref).select(
        "doc_id", "n_bigrams", "n_scored"
    )


LM_COVERAGE_ORACLE = fr"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS w
  FROM documents WHERE text IS NOT NULL),
refbg AS (
  SELECT DISTINCT w[pos] AS w1, w[pos + 1] AS w2
  FROM (SELECT doc_id, unnest(range(1, len(w))) AS pos, w FROM w WHERE doc_id % 2 = 0)),
newbg AS (
  SELECT doc_id, w[pos] AS w1, w[pos + 1] AS w2
  FROM (SELECT doc_id, unnest(range(1, len(w))) AS pos, w FROM w WHERE doc_id % 2 = 1)),
g AS (
  SELECT n.doc_id,
         count(*) AS n_bigrams,
         CAST(sum(CASE WHEN r.w1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored
  FROM newbg n
  LEFT JOIN refbg r ON n.w1 = r.w1 AND n.w2 = r.w2
  GROUP BY n.doc_id)
SELECT d.doc_id,
       CAST(coalesce(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(g.n_scored, 0) AS BIGINT) AS n_scored
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN g ON d.doc_id = g.doc_id
"""


SPECS += [
    QuerySpec(
        "lm_coverage_documents",
        q_lm_coverage,
        LM_COVERAGE_ORACLE,
        "reference-LM bigram coverage (integer half of lm_score)",
    ),
]


def q_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact-dup span report
    (`operators/dedup.py::repeated_ngram_spans`, the Lee et al. 2022
    substring dedup signal): per doc, the maximal spans whose 10-token
    windows occur >= 2 times corpus-wide."""
    from swisscourtrulingcorpus_spark.operators.dedup import repeated_ngram_spans

    docs = load_table(spark, sf_dir, "documents")
    return repeated_ngram_spans(docs, "text", "doc_id", k=10)


REPEATED_SPANS_ORACLE = fr"""
WITH words AS (
  SELECT doc_id, {_words_duck("text")} AS w
  FROM documents),
ww AS (SELECT doc_id, w FROM words WHERE len(w) >= 10),
wins AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 9 + 1),
           i -> struct_pack(pos := i,
                            d := md5('span|' || array_to_string(w[i:i+9], ' '))))) AS u
  FROM ww),
m0 AS (SELECT doc_id, u.pos AS pos,
              CAST(('0x' || substr(u.d, 1, 8))::UBIGINT AS BIGINT) AS h1,
              CAST(('0x' || substr(u.d, 9, 8))::UBIGINT AS BIGINT) AS h2
       FROM wins),
dup AS (SELECT h1, h2 FROM m0 GROUP BY h1, h2 HAVING count(*) >= 2),
matched AS (SELECT DISTINCT doc_id, pos FROM m0 JOIN dup USING (h1, h2)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
              THEN 1 ELSE 0 END AS nf
  FROM matched),
isl2 AS (
  SELECT doc_id, pos,
         sum(nf) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
  FROM isl),
spans AS (
  SELECT doc_id, island, count(*) AS n_windows,
         max(pos) + 9 - min(pos) + 1 AS span_len
  FROM isl2 GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(n_windows) AS BIGINT) AS n_dup_windows,
       count(*) AS n_spans,
       CAST(sum(span_len) AS BIGINT) AS covered_tokens,
       CAST(max(span_len) AS BIGINT) AS longest_span
FROM spans GROUP BY 1
"""


SPECS += [
    QuerySpec(
        "repeated_ngram_spans_documents",
        q_repeated_ngram_spans,
        REPEATED_SPANS_ORACLE,
        "substring-level exact-dup spans (Lee et al. shape), int-exact",
    ),
]


def q_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing
    (`operators/lm.py::lm_score_micro`): odd docs scored against the
    even-doc reference LM, per-bigram logprobs micro-snapped before the
    exact integer per-doc sum, then ntile(3) ordered by the avg
    micro-logprob (a single int/int division — engine-identical
    double) desc, doc_id tie-break.  The global ntile sorts one slim
    row per DOCUMENT (same doc-level-window scale class as
    `ntile_customer_spend`; the 100 TB form swaps in approx_percentile
    boundaries)."""
    from pyspark.sql import Window as W

    from swisscourtrulingcorpus_spark.operators.lm import lm_score_micro

    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    scored = lm_score_micro(
        docs.where(F.col("doc_id") % 2 == 1), "text", "doc_id", ref
    ).where(F.col("n_scored") > 0)
    order = W.orderBy(
        (F.col("sum_logprob_micro").cast("double") / F.col("n_scored")).desc(),
        F.col("doc_id").asc(),
    )
    return scored.select(
        "doc_id",
        "n_scored",
        "sum_logprob_micro",
        F.ntile(3).over(order).alias("bucket"),
    )


CCNET_BUCKETS_ORACLE = fr"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS w
  FROM documents WHERE text IS NOT NULL),
refuni AS (
  SELECT t AS token, count(*) AS c1
  FROM (SELECT unnest(w) AS t FROM w WHERE doc_id % 2 = 0) GROUP BY 1),
refbi AS (
  SELECT w1, w2, count(*) AS c2
  FROM (SELECT w[pos] AS w1, w[pos + 1] AS w2
        FROM (SELECT doc_id, unnest(range(1, len(w))) AS pos, w FROM w WHERE doc_id % 2 = 0))
  GROUP BY 1, 2),
newbg AS (
  SELECT doc_id, w[pos] AS w1, w[pos + 1] AS w2
  FROM (SELECT doc_id, unnest(range(1, len(w))) AS pos, w FROM w WHERE doc_id % 2 = 1)),
att AS (
  SELECT n.doc_id, b.c2, u.c1,
         CASE WHEN b.c2 IS NOT NULL THEN
           CAST(round(ln(CAST(b.c2 AS DOUBLE) / CAST(u.c1 AS DOUBLE)) * 1000000.0) AS BIGINT)
         END AS lp_micro
  FROM newbg n
  LEFT JOIN refbi b ON n.w1 = b.w1 AND n.w2 = b.w2
  LEFT JOIN refuni u ON u.token = n.w1),
g AS (
  SELECT doc_id,
         CAST(count(c2) AS BIGINT) AS n_scored,
         CAST(sum(lp_micro) AS BIGINT) AS sum_logprob_micro
  FROM att GROUP BY 1
  HAVING count(c2) > 0)
SELECT doc_id, n_scored, sum_logprob_micro,
       CAST(ntile(3) OVER (ORDER BY CAST(sum_logprob_micro AS DOUBLE) / n_scored DESC, doc_id ASC) AS INTEGER) AS bucket
FROM g
"""


SPECS += [
    QuerySpec(
        "ccnet_quality_buckets",
        q_ccnet_quality_buckets,
        CCNET_BUCKETS_ORACLE,
        "CCNet head/middle/tail LM-quality bucketing, micro-int logprobs",
    ),
]
