"""Corpus-curation gates: DSIR weights + integer PageRank.

More pieces of the LLM-training-data layer:

- ``dsir_importance_weights`` — Data Selection via Importance
  Resampling (Xie et al., 2023, public): score every document by the
  hashed-n-gram log-likelihood ratio between a target domain and the
  rest of the corpus.  The standard way to up-sample "looks like the
  target distribution" data at pretraining scale.
- ``integer_pagerank_parts`` — fixed-point PageRank
  (`operators/graph.py::integer_pagerank`): the oracle-gated
  iterative-algorithm demonstration.

Integer discipline: DSIR's per-bucket log-ratio is snapped to a micro
bigint BEFORE the per-doc sum (same trick as the BM25 micro-scores in
`operators/retrieval.py`), so document weights are exact integer sums
— engine- and order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import h32_sql, words_sql
from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.plans.text_queries import _words_duck
from swisscourtrulingcorpus_spark.sources.catalog import load_table

_B = 1024  # hash-feature buckets
_TARGET_LANG = "en"


def _bigram_features(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket, cnt): hashed word-bigram occurrences.
    Guarded sequence: F.sequence(1, 0) is DESCENDING in Spark, not
    empty, so single-word docs take the explicit empty-array branch."""
    w = F.expr(words_sql("text"))
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", "lang", F.explode(bigrams).alias("shingle"))
        .selectExpr("doc_id", "lang", f"{h32_sql('shingle', 'dsir')} % {_B} AS bucket")
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document importance weight for target ``lang == 'en'``:
    weight = sum over bigram occurrences of
    ln(p_target(bucket) / p_source(bucket)), add-one smoothed over
    _B hashed buckets, micro-scaled to an exact bigint.

    Scale shape: the feature pass is map-side (tokenize + hash) into
    one (doc, bucket) groupBy; the bucket language models are two
    _B-row tables (broadcast); the scoring join is feats ⨝ broadcast
    ratio — document text is read once, nothing document-sized
    shuffles twice.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    feats = _bigram_features(docs)
    tgt = (
        feats.where(F.col("lang") == _TARGET_LANG)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("c_t"))
    )
    src = (
        feats.where(F.col("lang") != _TARGET_LANG)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("c_s"))
    )
    totals = (
        tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("t_total"))
        .crossJoin(src.agg(F.coalesce(F.sum("c_s"), F.lit(0)).alias("s_total")))
    )
    ratio = (
        tgt.join(src, on="bucket", how="full_outer")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0))
                        / (F.col("t_total") + F.lit(float(_B)))
                    )
                    / (
                        (F.coalesce(F.col("c_s"), F.lit(0)) + F.lit(1.0))
                        / (F.col("s_total") + F.lit(float(_B)))
                    )
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("r_micro"),
        )
    )
    return (
        feats.join(F.broadcast(ratio), on="bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("r_micro")).alias("weight_micro"),
        )
    )


# _B is interpolated (not hardcoded) so retuning the bucket count can
# never silently diverge the oracle from the Spark side (r06 review)
_BIGRAM_CTE = (
    f"words AS (SELECT doc_id, lang, {_words_duck('text')} AS w FROM documents), "
    "bg AS (SELECT doc_id, lang, unnest(list_transform(range(1, greatest(len(w),1)), "
    "i -> w[i]||' '||w[i+1])) AS shingle FROM words), "
    "feats AS (SELECT doc_id, lang, "
    f"CAST(('0x' || substr(md5('dsir|'||shingle),1,8))::UBIGINT AS BIGINT) % {_B} AS bucket, "
    "count(*) AS cnt FROM bg GROUP BY 1, 2, 3)"
)

DSIR_ORACLE = f"""
WITH {_BIGRAM_CTE},
tgt AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_t FROM feats WHERE lang = '{_TARGET_LANG}' GROUP BY 1),
src AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS c_s FROM feats WHERE lang != '{_TARGET_LANG}' GROUP BY 1),
totals AS (
  SELECT (SELECT coalesce(CAST(sum(c_t) AS BIGINT), 0) FROM tgt) AS t_total,
         (SELECT coalesce(CAST(sum(c_s) AS BIGINT), 0) FROM src) AS s_total),
ratio AS (
  SELECT coalesce(tgt.bucket, src.bucket) AS bucket,
         CAST(round(ln(
           ((coalesce(c_t, 0) + 1.0) / (t_total + {_B}.0))
           / ((coalesce(c_s, 0) + 1.0) / (s_total + {_B}.0))
         ) * 1000000.0) AS BIGINT) AS r_micro
  FROM tgt FULL OUTER JOIN src ON tgt.bucket = src.bucket CROSS JOIN totals)
SELECT f.doc_id,
       CAST(sum(f.cnt) AS BIGINT) AS n_feats,
       CAST(sum(f.cnt * r.r_micro) AS BIGINT) AS weight_micro
FROM feats f JOIN ratio r ON f.bucket = r.bucket
GROUP BY 1
"""


SPECS = [
    QuerySpec(
        "dsir_importance_weights",
        dsir_importance_weights,
        DSIR_ORACLE,
        "DSIR hashed-bigram importance weights vs target domain",
    ),
]


def integer_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the bipartite customer↔part purchase
    graph (`operators/graph.py::integer_pagerank`, 5 iterations): the
    oracle-gated iterative-algorithm class — every score is a micro
    bigint, every update pure integer arithmetic, so the 5-step chain
    is hash-identical to the DuckDB recursive-CTE mirror.  Part nodes
    share the bigint id space with customers via a data-derived offset
    (max c_custkey, a 1-row bounded collect) — a fixed 10^9 constant
    would silently merge customer and part nodes once c_custkey crosses
    it (TPC-H SF ≳ 6667, well inside the 100 TB target)."""
    from swisscourtrulingcorpus_spark.operators.graph import integer_pagerank

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    max_ck = customer.agg(F.max("c_custkey")).collect()[0][0]
    offset = F.lit(int(max_ck)).cast("long")
    edges = pairs.select(
        F.col("c").alias("src"), (F.col("p") + offset).alias("dst")
    ).unionByName(
        pairs.select(
            (F.col("p") + offset).alias("src"), F.col("c").alias("dst")
        )
    )
    return integer_pagerank(edges, iters=5)


def _ipr_iteration(prev: str, out: str) -> str:
    # left join from the full node set mirrors the operator: a node with
    # no in-edges is re-seeded at the base score, never dropped
    return (
        f"{out}c AS (SELECT e.dst AS node, sum(r.s // d.deg) AS sc "
        f"FROM edges e JOIN {prev} r ON e.src = r.node "
        f"JOIN deg d ON d.src = e.src GROUP BY e.dst), "
        f"{out} AS (SELECT n.node, "
        f"150000 + (85 * coalesce(c.sc, 0)) // 100 AS s "
        f"FROM nodes n LEFT JOIN {out}c c ON c.node = n.node)"
    )


INTEGER_PAGERANK_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
off AS (SELECT MAX(c_custkey) AS o FROM customer),
edges AS (
  SELECT c AS src, p + (SELECT o FROM off) AS dst FROM pairs
  UNION ALL
  SELECT p + (SELECT o FROM off) AS src, c AS dst FROM pairs),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
nodes AS (SELECT src AS node FROM deg),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes),
{_ipr_iteration('r0', 'r1')},
{_ipr_iteration('r1', 'r2')},
{_ipr_iteration('r2', 'r3')},
{_ipr_iteration('r3', 'r4')},
{_ipr_iteration('r4', 'r5')}
SELECT node, CAST(s AS BIGINT) AS score_micro FROM r5
"""


SPECS += [
    QuerySpec(
        "integer_pagerank_parts",
        integer_pagerank_parts,
        INTEGER_PAGERANK_ORACLE,
        "fixed-point PageRank, 5 iters, integer-exact iterative gate",
    ),
]


def cc_bigstar_long_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (`operators/graph.py::connected_components_bigstar`) over a
    constructed LONG-chain graph: documents link in runs of FIFTY
    consecutive ids ((d, d+1) unless d % 50 == 49), so every component
    has diameter 49 and the converged label is provably d - d % 50.
    The point of the fixture: min-label propagation
    (`transitive_cluster_chains`, runs of five) moves labels one hop
    per round and would need 49 rounds here — past its default cap —
    while the star algorithm halves each chain per alternation,
    finishing in ~log2(50) ≈ 6 phases (phase-count asserted on a
    400-node chain in tests/test_graph.py).
    The iterative-algorithm gate class for deep graphs."""
    from swisscourtrulingcorpus_spark.operators.graph import (
        connected_components_bigstar,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    # successor must EXIST — without the semi-join, a corpus whose
    # size isn't a multiple of 50 would emit an edge to a phantom
    # doc_id the oracle lacks (r06b review); isolated run-starters
    # (never in any pair) come back via the left join, self-labelled.
    nxt = docs.select((d - 1).alias("doc_id"))
    pairs = (
        docs.where(d % 50 != 49)
        .join(nxt, on="doc_id", how="left_semi")
        .select(d.alias("id_a"), (d + 1).alias("id_b"))
    )
    labels = connected_components_bigstar(pairs)
    return docs.join(labels, docs["doc_id"] == labels["node"], "left").select(
        F.col("doc_id").alias("node"),
        F.coalesce("cluster", "doc_id").alias("cluster"),
    )


CC_BIGSTAR_ORACLE = """
SELECT doc_id AS node, doc_id - doc_id % 50 AS cluster FROM documents
"""


SPECS += [
    QuerySpec(
        "cc_bigstar_long_chains",
        cc_bigstar_long_chains,
        CC_BIGSTAR_ORACLE,
        "large-star/small-star components vs provable 50-chain structure",
    ),
]


def _clique_pendant_pairs(docs: DataFrame) -> DataFrame:
    """The provable-core citation-graph fixture shared by the k-core
    and coreness gates (the `cc_bigstar` fixture strategy): doc ids
    partition into 8-id blocks; block b carries a clique over its
    first s = (b % 5) + 2 members (sizes 2..6), plus a PENDANT node
    (r = 6) wired to the clique's first two members.  Edges require
    both endpoints present, so a truncated final block degrades to its
    ACTUAL member clique and both oracles stay closed-form."""
    d = F.col("doc_id")
    m = docs.select(
        d.alias("id"),
        F.expr("doc_id div 8").alias("b"),
        (d % 8).alias("r"),
        (F.expr("doc_id div 8") % 5 + 2).alias("s"),
    )
    members = m.where(F.col("r") < F.col("s")).select("id", "b", "r")
    left = members.select("b", F.col("id").alias("id_a"), F.col("r").alias("ra"))
    right = members.select("b", F.col("id").alias("id_b"), F.col("r").alias("rb"))
    clique = (
        left.join(right, on="b")
        .where(F.col("ra") < F.col("rb"))
        .select("id_a", "id_b")
    )
    pendant = (
        m.where(F.col("r") == 6)
        .select("b", F.col("id").alias("id_a"))
        .join(members.where(F.col("r") <= 1), on="b")
        .select("id_a", F.col("id").alias("id_b"))
    )
    return clique.unionByName(pendant)


def kcore_citation_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core decomposition (`operators/graph.py::k_core`) over the
    CONSTRUCTED clique+pendant block graph (`_clique_pendant_pairs`).
    Peeling must cascade — the pendant dies first (degree 2), which
    drops a 3-clique's entry nodes to degree 2 the NEXT round, which
    kills the block entirely — so the provable 3-core is exactly the
    cliques of actual size >= 4, each member with core degree
    s_actual - 1.  The oracle computes that closed form from block
    arithmetic."""
    from swisscourtrulingcorpus_spark.operators.graph import k_core

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return k_core(_clique_pendant_pairs(docs), k=3)


KCORE_ORACLE = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
blk AS (SELECT d, d // 8 AS b, d % 8 AS r, (d // 8) % 5 + 2 AS s FROM ids),
members AS (SELECT d, b FROM blk WHERE r < s),
sz AS (SELECT b, count(*) AS s_actual FROM members GROUP BY b)
SELECT m.d AS node, CAST(z.s_actual - 1 AS BIGINT) AS core_degree
FROM members m JOIN sz z USING (b)
WHERE z.s_actual >= 4
"""


SPECS += [
    QuerySpec(
        "kcore_citation_clusters",
        kcore_citation_clusters,
        KCORE_ORACLE,
        "fixed-k core peeling vs provable clique+pendant block structure",
    ),
]


def coreness_citation_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL coreness decomposition (`operators/graph.py::coreness`,
    h-index iteration) over the same clique+pendant block graph the
    fixed-k gate peels (`_clique_pendant_pairs`) — the per-node max-k
    value VERDICT r07 item 5 names as the missing general form (the
    curation story ranks documents by citation-cluster density, which
    needs every node's value, not membership at one fixed k).  The
    fixture's coreness has a closed form the oracle computes from
    block arithmetic alone: a size-s clique's members sit at coreness
    s - 1; the degree-2 pendant sits at 2 (it forms a triangle with
    the clique's first two members), EXCEPT the s = 2 blocks where
    clique + pendant IS a triangle and all three nodes sit at 2 — so
    a converged-too-early h-index (pendants stuck at raw degree) or a
    peel that forgets the triangle lift both hash-mismatch.  Truncated
    final block: members degrade to the actual-size clique; a pendant
    is only present when its whole block is (ids are contiguous), but
    the oracle still derives its value from the members it can reach."""
    from swisscourtrulingcorpus_spark.operators.graph import coreness

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return coreness(_clique_pendant_pairs(docs), max_rounds=8)


CORENESS_ORACLE = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
blk AS (SELECT d, d // 8 AS b, d % 8 AS r, (d // 8) % 5 + 2 AS s FROM ids),
members AS (SELECT d, b, r FROM blk WHERE r < s),
pend AS (SELECT d, b FROM blk WHERE r = 6),
sz AS (SELECT b, count(*) AS s_actual,
              sum(CASE WHEN r <= 1 THEN 1 ELSE 0 END) AS m01
       FROM members GROUP BY b),
mem_core AS (
  SELECT m.d AS node,
         CASE WHEN z.s_actual = 2 AND p.d IS NOT NULL AND z.m01 = 2 THEN 2
              WHEN z.s_actual >= 2 THEN z.s_actual - 1
              WHEN z.s_actual = 1 AND p.d IS NOT NULL AND z.m01 = 1 THEN 1
              END AS coreness
  FROM members m JOIN sz z USING (b) LEFT JOIN pend p USING (b)),
pend_core AS (
  SELECT p.d AS node,
         CASE WHEN z.m01 >= 2 THEN 2 WHEN z.m01 = 1 THEN 1 END AS coreness
  FROM pend p JOIN sz z USING (b))
SELECT node, CAST(coreness AS BIGINT) AS coreness
FROM (SELECT * FROM mem_core UNION ALL SELECT * FROM pend_core)
WHERE coreness IS NOT NULL
"""


SPECS += [
    QuerySpec(
        "coreness_citation_nodes",
        coreness_citation_nodes,
        CORENESS_ORACLE,
        "h-index coreness decomposition vs closed-form block values",
    ),
]


# ---------------------------------------------------------------------------
# temperature sampling (mT5/XLM-R alpha-sampling): derived quotas + exact
# per-language selection
# ---------------------------------------------------------------------------

_TEMP_TOTAL = 200
_TEMP_ALPHA = 0.3


def temperature_quotas_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language sampling quotas at alpha = 0.3 over the documents
    corpus (`operators/training.py::temperature_sampling_quotas`):
    count^alpha weights micro-snapped to bigints, exact
    largest-remainder apportionment of 200 slots — quotas sum to
    exactly 200 on any engine."""
    from swisscourtrulingcorpus_spark.operators.training import (
        temperature_sampling_quotas,
    )

    docs = load_table(spark, sf_dir, "documents").select("lang")
    return temperature_sampling_quotas(
        docs, "lang", total=_TEMP_TOTAL, alpha=_TEMP_ALPHA
    )


def _temp_quota_ctes(p: str = "") -> str:
    """The temperature-quota CTE chain with ``p``-prefixed CTE names —
    one definition (the empty prefix serves the standalone quota/sample
    oracles; a non-empty prefix lets the chain coexist with other CTE
    families, e.g. the NB scorer's, in one composed query)."""
    return f"""{p}c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
{p}w AS (SELECT lang, n_docs, CAST(round(pow(n_docs, {_TEMP_ALPHA}) * 1000000.0) AS BIGINT) AS w_micro FROM {p}c),
{p}t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS tw FROM {p}w),
{p}b AS (SELECT lang, n_docs, w_micro,
             ({_TEMP_TOTAL} * w_micro) // tw AS base,
             ({_TEMP_TOTAL} * w_micro) % tw AS rem
      FROM {p}w CROSS JOIN {p}t),
{p}lv AS (SELECT CAST({_TEMP_TOTAL} - sum(base) AS BIGINT) AS leftover FROM {p}b),
{p}q1 AS (
  SELECT lang, n_docs, w_micro, rem,
         least(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC)
                                <= (SELECT leftover FROM {p}lv)
                           THEN 1 ELSE 0 END,
               n_docs) AS q1
  FROM {p}b),
{p}dv AS (SELECT CAST({_TEMP_TOTAL} - sum(q1) AS BIGINT) AS deficit FROM {p}q1),
{p}quota AS (
  SELECT lang, n_docs, w_micro,
         CAST(q1 + least(n_docs - q1,
                         greatest((SELECT deficit FROM {p}dv)
                                  - coalesce(sum(n_docs - q1) OVER (
                                      ORDER BY rem DESC, lang ASC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND 1 PRECEDING), 0),
                                  0)) AS BIGINT) AS quota
  FROM {p}q1)"""


_TEMP_QUOTA_CTES = _temp_quota_ctes()

TEMPERATURE_QUOTAS_ORACLE = f"""
WITH {_TEMP_QUOTA_CTES}
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, w_micro, quota FROM quota
"""


def temperature_sample_languages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The selection stage chained onto the derived quotas
    (`operators/training.py::stratified_sample_quota`): exactly
    ``quota`` documents per language by seeded md5 order — the full
    temperature-sampling pipeline, value-checked row by row (every
    selected doc_id must match the oracle's md5 ranking)."""
    from swisscourtrulingcorpus_spark.operators.training import (
        stratified_sample_quota,
        temperature_sampling_quotas,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    quotas = temperature_sampling_quotas(
        docs, "lang", total=_TEMP_TOTAL, alpha=_TEMP_ALPHA
    )
    return stratified_sample_quota(
        docs, "lang", "doc_id", quotas, seed="temp"
    ).select("doc_id", "lang")


TEMPERATURE_SAMPLE_ORACLE = f"""
WITH {_TEMP_QUOTA_CTES},
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5('temp|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
         ) AS rk
  FROM documents)
SELECT r.doc_id, r.lang
FROM ranked r JOIN quota q USING (lang)
WHERE r.rk <= q.quota
"""


# ---------------------------------------------------------------------------
# char-entropy junk detection: micro-exact Shannon entropy per document
# ---------------------------------------------------------------------------

def char_entropy_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document, in micro-nats —
    the classic cheap junk detector (base64 blobs / key dumps score
    high, single-char runs near zero; natural language sits in a
    narrow band).  H = ln(n) - (sum c_i ln c_i) / n over char counts;
    each ln is snapped to a micro bigint BEFORE the sum so the whole
    statistic is exact integer arithmetic (registry discipline).

    Scale shape: one explode + two groupBys on (doc_id[, char]) —
    fixed-width shuffle rows, text read once.  Degenerate docs (null /
    empty text) are emitted with n_chars = 0 and NULL entropy, same
    contract as the LM scorer."""
    docs = load_table(spark, sf_dir, "documents")
    chars = (
        docs.where(F.col("text").isNotNull() & (F.length("text") > 0))
        .select("doc_id", F.explode(F.split("text", "")).alias("c"))
    )
    cnt = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("ci"))
    lnc_micro = F.round(F.log(F.col("ci").cast("double")) * F.lit(1_000_000.0)).cast(
        "long"
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("ci").alias("n_chars"),
        F.sum(F.col("ci") * lnc_micro).alias("s_micro"),
    )
    entropy = (
        F.round(F.log(F.col("n_chars").cast("double")) * F.lit(1_000_000.0)).cast(
            "long"
        )
        - F.expr("s_micro DIV n_chars")
    ).cast("long")
    scored = agg.select("doc_id", "n_chars", entropy.alias("entropy_micro"))
    every = docs.select("doc_id")
    return every.join(scored, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
        "entropy_micro",
    )


CHAR_ENTROPY_ORACLE = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c
  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
cnt AS (SELECT doc_id, c, count(*) AS ci FROM chars GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         CAST(sum(ci) AS BIGINT) AS n_chars,
         CAST(sum(ci * CAST(round(ln(ci) * 1000000.0) AS BIGINT)) AS BIGINT) AS s_micro
  FROM cnt GROUP BY 1)
SELECT d.doc_id,
       coalesce(a.n_chars, 0) AS n_chars,
       CAST(round(ln(a.n_chars) * 1000000.0) AS BIGINT) - a.s_micro // a.n_chars
         AS entropy_micro
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# token-lexicon blocklist filter (C4-style bad-list removal, neutral lexicon)
# ---------------------------------------------------------------------------

from swisscourtrulingcorpus_spark.functions.curation import (  # noqa: E402
    BLOCKLIST_TERMS as _BLOCKLIST,
)
from swisscourtrulingcorpus_spark.functions.curation import (  # noqa: E402
    blocklist_hits as _blocklist_hits,
)


def blocklist_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style lexicon filter: drop (here: flag) documents containing
    any term from a blocklist, exact WORD-level membership against the
    broadcast-with-closure literal list — not substring regex, so
    'spambot' does not flag 'spam' (the classic C4 false-positive).
    Output per doc: n_hits (total occurrences), n_terms (distinct
    blocklist terms present), keep.  Pure JVM column arithmetic, zero
    shuffles on top of the scan — same posture as the Gopher rules.
    Predicate shared with the funnel and the streaming twin
    (`functions/curation.py`)."""
    docs = load_table(spark, sf_dir, "documents")
    # one encoding of the list: n_terms derives from the filtered hits
    # (tiny) rather than a second membership pass over the full array.
    # The hits array is BOUND in its own projection — referenced inline
    # it would re-run the full split+filter per output column (the
    # word_shingles_from_words_sql re-evaluation trap, ~3x the map CPU).
    bound = docs.select("doc_id", _blocklist_hits("text").alias("__hits"))
    n_hits = F.size("__hits")
    return bound.select(
        "doc_id",
        n_hits.cast("long").alias("n_hits"),
        F.size(F.array_distinct("__hits")).cast("long").alias("n_terms"),
        (n_hits == 0).alias("keep"),
    )


_BL_SQL = ", ".join(f"'{t}'" for t in _BLOCKLIST)

BLOCKLIST_FILTER_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS words
  FROM documents)
SELECT doc_id,
       CAST(len(list_filter(words, x -> x IN ({_BL_SQL}))) AS BIGINT) AS n_hits,
       CAST(len(list_distinct(list_filter(words, x -> x IN ({_BL_SQL})))) AS BIGINT) AS n_terms,
       (len(list_filter(words, x -> x IN ({_BL_SQL}))) = 0) AS keep
FROM w
"""


SPECS += [
    QuerySpec(
        "temperature_quotas_languages",
        temperature_quotas_languages,
        TEMPERATURE_QUOTAS_ORACLE,
        "alpha-sampling quotas, exact largest-remainder apportionment",
    ),
    QuerySpec(
        "temperature_sample_languages",
        temperature_sample_languages,
        TEMPERATURE_SAMPLE_ORACLE,
        "derived-quota md5 selection, row-identical to oracle ranking",
    ),
    QuerySpec(
        "char_entropy_documents",
        char_entropy_documents,
        CHAR_ENTROPY_ORACLE,
        "micro-exact char Shannon entropy junk signal",
    ),
    QuerySpec(
        "blocklist_filter_documents",
        blocklist_filter_documents,
        BLOCKLIST_FILTER_ORACLE,
        "word-exact lexicon blocklist filter, map-side only",
    ),
]


# ---------------------------------------------------------------------------
# cross-corpus near-dup contamination (LSH between train corpus and a
# perturbed eval sample — fuzzy decontamination)
# ---------------------------------------------------------------------------

_EVAL_OFFSET = 1_000_000


def near_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`operators/dedup.py::cross_corpus_lsh_contamination` over a
    constructed leakage scenario: the "eval set" is every 37th document
    with one appended marker word (a light edit — most shingles
    survive, no exact window does at the edit point), scanned against
    the FULL corpus as training data.  Every leaked source doc must be
    flagged through the banded cross-join of the two signature tables;
    the exact-shingle `test_set_contamination` gate cannot see edits,
    this one is built for them."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        cross_corpus_lsh_contamination,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    test = docs.where(F.col("doc_id") % 37 == 0).select(
        (F.col("doc_id") + F.lit(_EVAL_OFFSET)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" evalmark")).alias("text"),
    )
    return cross_corpus_lsh_contamination(docs, test, "text", "doc_id")


def _near_contamination_oracle() -> str:
    from swisscourtrulingcorpus_spark.plans.text_queries import (
        _band_exprs,
        minhash_sig_ctes,
    )

    band_exprs = _band_exprs()
    return f"""
WITH trainset AS (SELECT doc_id, text FROM documents),
evalset AS (SELECT doc_id + {_EVAL_OFFSET} AS doc_id, text || ' evalmark' AS text
            FROM documents WHERE doc_id % 37 = 0),
{minhash_sig_ctes('trainset', '_tr')},
{minhash_sig_ctes('evalset', '_te')},
bands_tr AS (SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sig_tr),
bands_te AS (SELECT doc_id AS test_id, unnest([{band_exprs}]) AS band_key FROM sig_te),
pairs AS (SELECT DISTINCT a.doc_id, b.test_id
          FROM bands_tr a JOIN bands_te b USING (band_key))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_test_matches,
       CAST(min(test_id) AS BIGINT) AS first_test_match
FROM pairs GROUP BY 1
"""


SPECS += [
    QuerySpec(
        "near_contamination_check",
        near_contamination_check,
        _near_contamination_oracle(),
        "cross-corpus LSH near-dup decontamination vs leaked eval twin",
    ),
]


# ---------------------------------------------------------------------------
# end-to-end curation funnel: quality -> lexicon -> dedup -> mixture, with
# the per-stage retention report as the gated output
# ---------------------------------------------------------------------------

_MIX_RATES = {"fr": 0.5, "it": 0.25}


def curation_funnel_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb/RefinedWeb-shaped pipeline over the documents corpus
    (`operators/funnel.py`): Gopher quality rules → word-exact
    blocklist → exact dedup (min-id representative per identical text)
    → deterministic language-mixture downsample — gated on the
    per-stage (step, rows_out) retention table, i.e. the funnel
    numbers a curation team signs off before training.  Every stage
    predicate reuses an already-oracle-proven fragment (gopher gate,
    blocklist gate, exact-dedup md5 grouping, md5-coin mix), chained.
    """
    from pyspark.sql import Window

    from swisscourtrulingcorpus_spark.functions.curation import (
        blocklist_keep,
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.funnel import funnel
    from swisscourtrulingcorpus_spark.operators.training import domain_mix_sample

    docs = load_table(spark, sf_dir, "documents")

    def gopher(df: DataFrame) -> DataFrame:
        return df.where(gopher_rule_columns("text")["keep"])

    def blocklist(df: DataFrame) -> DataFrame:
        return df.where(blocklist_keep("text"))

    def dedup(df: DataFrame) -> DataFrame:
        wmin = Window.partitionBy(F.md5("text"))
        return (
            df.withColumn("__keep", F.min("doc_id").over(wmin) == F.col("doc_id"))
            .where("__keep")
            .drop("__keep")
        )

    def mix(df: DataFrame) -> DataFrame:
        return domain_mix_sample(df, "lang", "doc_id", _MIX_RATES, seed="mix")

    _, report = funnel(
        docs,
        [
            ("gopher", gopher),
            ("blocklist", blocklist),
            ("exact_dedup", dedup),
            ("mix_sample", mix),
        ],
    )
    return report


def _funnel_oracle() -> str:
    from swisscourtrulingcorpus_spark.operators.training import (
        oracle_domain_mix_predicate,
    )

    mix_pred = oracle_domain_mix_predicate("lang", "doc_id", _MIX_RATES, seed="mix")
    return f"""
WITH base AS (
  SELECT doc_id, lang, text,
         {_words_duck("text")} AS words
  FROM documents),
k1 AS (
  SELECT * FROM base
  WHERE len(words) >= 10 AND len(words) <= 100000
    AND length(list_aggregate(words, 'string_agg', '')) * 1.0
        / greatest(len(words), 1) BETWEEN 2.0 AND 12.0
    AND len(list_filter(words, w -> w IN ('the', 'a', 'and', 'of', 'to'))) >= 1),
k2 AS (
  SELECT * FROM k1
  WHERE len(list_filter(words, x -> x IN ({_BL_SQL}))) = 0),
k3 AS (
  SELECT * FROM k2
  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY md5(text))),
k4 AS (
  SELECT * FROM k3 WHERE {mix_pred})
SELECT 'input' AS step, CAST(count(*) AS BIGINT) AS rows_out FROM documents
UNION ALL SELECT 'gopher', CAST(count(*) AS BIGINT) FROM k1
UNION ALL SELECT 'blocklist', CAST(count(*) AS BIGINT) FROM k2
UNION ALL SELECT 'exact_dedup', CAST(count(*) AS BIGINT) FROM k3
UNION ALL SELECT 'mix_sample', CAST(count(*) AS BIGINT) FROM k4
"""


SPECS += [
    QuerySpec(
        "curation_funnel_documents",
        curation_funnel_documents,
        _funnel_oracle(),
        "end-to-end curation funnel retention table, stage-chained oracle",
    ),
]


# ---------------------------------------------------------------------------
# unicode script-mix stats (multilingual curation: script filtering)
# ---------------------------------------------------------------------------

# (name, [(lo, hi), ...]) codepoint ranges — identical literals on both
# engines; Spark ascii() and DuckDB unicode() both return the first
# character's code point (cross-checked in tests)
_SCRIPT_CLASSES = [
    ("n_latin", [(65, 90), (97, 122), (0x00C0, 0x024F)]),
    ("n_digit", [(48, 57)]),
    ("n_cyrillic", [(0x0400, 0x04FF)]),
    ("n_cjk", [(0x3040, 0x30FF), (0x4E00, 0x9FFF)]),
    ("n_space", [(9, 13), (32, 32)]),
]


def script_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script composition — the standard
    multilingual curation signal (a 'de' document that is 40% cyrillic
    codepoints is mislabeled or junk; CJK ratio routes CJK-segmented
    tokenization).  Counts per script class by codepoint range over
    the char array, entirely map-side: zero shuffles on top of the
    scan, same posture as the quality rules.  All-int output;
    n_other = chars in none of the named classes."""
    docs = load_table(spark, sf_dir, "documents")
    # the char array is BOUND in its own projection: referenced inline
    # it would re-split the full text once per output column (6x the
    # map CPU — the word_shingles_from_words_sql re-evaluation trap)
    bound = docs.select(
        "doc_id",
        F.filter(
            F.split(F.coalesce("text", F.lit("")), ""),
            lambda c: c != F.lit(""),
        ).alias("__chars"),
    )

    def _cls(ranges):
        def pred(c):
            cp = F.ascii(c)
            cond = F.lit(False)
            for lo, hi in ranges:
                cond = cond | ((cp >= lo) & (cp <= hi))
            return cond

        return F.size(F.filter("__chars", pred)).cast("long")

    cols = [_cls(r).alias(name) for name, r in _SCRIPT_CLASSES]
    named = F.lit(0)
    for name, _ in _SCRIPT_CLASSES:
        named = named + F.col(name)
    return bound.select(
        "doc_id", F.size("__chars").cast("long").alias("n_chars"), *cols
    ).withColumn("n_other", (F.col("n_chars") - named).cast("long"))


def _script_sql_class(ranges) -> str:
    cond = " OR ".join(
        f"(unicode(c) BETWEEN {lo} AND {hi})" for lo, hi in ranges
    )
    return f"CAST(len(list_filter(chars, c -> {cond})) AS BIGINT)"


def _script_mix_oracle() -> str:
    cls = ", ".join(
        f"{_script_sql_class(r)} AS {name}" for name, r in _SCRIPT_CLASSES
    )
    named = " + ".join(name for name, _ in _SCRIPT_CLASSES)
    return f"""
WITH ch AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ''), c -> c != '') AS chars
  FROM documents)
SELECT doc_id, CAST(len(chars) AS BIGINT) AS n_chars, {cls},
       CAST(len(chars) - ({named}) AS BIGINT) AS n_other
FROM ch
"""


SPECS += [
    QuerySpec(
        "script_mix_documents",
        script_mix_documents,
        _script_mix_oracle(),
        "unicode script composition per doc, map-side codepoint ranges",
    ),
]


# ---------------------------------------------------------------------------
# in-engine trained Naive Bayes quality classifier (CCNet/fastText-style
# quality model, trained on Gopher weak labels, scored in the same plan)
# ---------------------------------------------------------------------------

_NB_BUCKETS = 4096


def nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-score a multinomial NB quality classifier in one plan
    (`operators/classifier.py::nb_quality_scores`): hashed-token
    features, Gopher keep verdict as the weak label, micro-int
    log-likelihoods — the integer-exact stand-in for the fastText
    quality classifiers of CCNet / GPT-3's curation (both public).
    Training is ONE groupBy over slim (class, bucket) int rows; the
    model is a fixed 2x4096-row broadcast table; text never shuffles."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    return nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)


# ONE definition of the Gopher weak-label CTE chain shared by every NB
# oracle (the one-definition convention of text_queries' CTE builders:
# a rule tweak applied to one oracle cannot silently diverge another)
def _gopher_label_ctes() -> str:
    return f"""WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS words
  FROM documents),
lab AS (
  SELECT doc_id, words,
         ((len(words) >= 10 AND len(words) <= 100000)
          AND (length(list_aggregate(words, 'string_agg', '')) * 1.0
               / greatest(len(words), 1) BETWEEN 2.0 AND 12.0)
          AND len(list_filter(words, x -> x IN ('the', 'a', 'and', 'of', 'to'))) >= 1)
           AS label
  FROM w),"""


_NB_H32 = "CAST(('0x' || substr(md5(word), 1, 8))::UBIGINT AS BIGINT)"

def _nb_score_ctes() -> str:
    """The full NB train+score CTE chain through ``fullsc``
    (doc_id, label, cls, score) — ONE definition shared by the
    classifier gate and the quality-quota composition."""
    return f"""{_gopher_label_ctes()}
occ AS (
  SELECT doc_id, label, {_NB_H32} % {_NB_BUCKETS} AS b
  FROM (SELECT doc_id, label, unnest(words) AS word
        FROM lab WHERE label IS NOT NULL)),
cnt AS (SELECT label, b, count(*) AS cnt FROM occ GROUP BY 1, 2),
tot AS (SELECT label, count(*) AS tot FROM occ GROUP BY 1),
ndoc AS (SELECT label, count(*) AS n_c FROM lab
        WHERE label IS NOT NULL GROUP BY 1),
n_all AS (SELECT count(*) AS n FROM lab WHERE label IS NOT NULL),
grid AS (
  SELECT g.range AS b, c.cls
  FROM range({_NB_BUCKETS}) g, (SELECT unnest([true, false]) AS cls) c),
model AS (
  SELECT g.b, g.cls,
         CAST(round(ln((coalesce(c.cnt, 0) + 1) * 1.0
                       / (coalesce(t.tot, 0) + {_NB_BUCKETS})) * 1000000.0) AS BIGINT)
           AS loglik_micro
  FROM grid g
  LEFT JOIN cnt c ON c.b = g.b AND c.label = g.cls
  LEFT JOIN tot t ON t.label = g.cls),
prior AS (
  -- dense over both classes: an all-one-class corpus still yields the
  -- smoothed ln(1/(n+2)) prior for the empty class (mirrors nb_train)
  SELECT c.cls,
         CAST(round(ln((coalesce(d.n_c, 0) + 1) * 1.0 / (a.n + 2)) * 1000000.0) AS BIGINT)
           AS prior_micro
  FROM (SELECT unnest([true, false]) AS cls) c
  LEFT JOIN ndoc d ON d.label = c.cls
  CROSS JOIN n_all a),
feats AS (SELECT doc_id, label, b, count(*) AS n_b FROM occ GROUP BY 1, 2, 3),
scored AS (
  SELECT f.doc_id, f.label, m.cls,
         CAST(sum(f.n_b * m.loglik_micro) AS BIGINT) AS s
  FROM feats f JOIN model m ON m.b = f.b GROUP BY 1, 2, 3),
fullsc AS (
  SELECT s.doc_id, s.label, s.cls, s.s + p.prior_micro AS score
  FROM scored s JOIN prior p ON p.cls = s.cls)"""


NB_CLASSIFIER_ORACLE = (
    _nb_score_ctes()
    + """
SELECT a.doc_id, a.label,
       a.score AS s_pos_micro, n.score AS s_neg_micro,
       (a.score >= n.score) AS pred
FROM fullsc a JOIN fullsc n ON a.doc_id = n.doc_id AND a.cls AND NOT n.cls
"""
)


SPECS += [
    QuerySpec(
        "nb_quality_classifier",
        nb_quality_classifier,
        NB_CLASSIFIER_ORACLE,
        "in-engine trained NB quality model, micro-int exact train+score",
    ),
]


def nb_incremental_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NB training is value-identical to batch training:
    the corpus splits into a history (doc_id % 3 != 0) and a new batch,
    each contributes its own count table
    (`operators/classifier.py::nb_count_table`), and the vocab-bounded
    merge (`nb_merge_counts`) must HASH-EQUAL the oracle's one-shot
    counts over the full corpus — the never-rescan-history contract of
    the minhash signature store and the postings merge, extended to
    the trained classifier."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_count_table,
        nb_merge_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    hist = nb_count_table(
        docs.where(F.col("doc_id") % 3 != 0), "text", "doc_id", label, _NB_BUCKETS
    )
    new = nb_count_table(
        docs.where(F.col("doc_id") % 3 == 0), "text", "doc_id", label, _NB_BUCKETS
    )
    return nb_merge_counts(hist, new)


# the oracle never splits: one-shot counts over the full corpus — hash
# equality IS the merge-correctness proof
NB_INCREMENTAL_ORACLE = f"""{_gopher_label_ctes()}
occ AS (
  SELECT doc_id, label, {_NB_H32} % {_NB_BUCKETS} AS b
  FROM (SELECT doc_id, label, unnest(words) AS word
        FROM lab WHERE label IS NOT NULL))
SELECT label, b, count(*) AS cnt FROM occ GROUP BY 1, 2
"""


SPECS += [
    QuerySpec(
        "nb_incremental_counts",
        nb_incremental_counts,
        NB_INCREMENTAL_ORACLE,
        "incremental NB training merge == one-shot batch counts",
    ),
]


# ---------------------------------------------------------------------------
# quality-weighted temperature sampling: classifier margin fills the quotas
# ---------------------------------------------------------------------------

def quality_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone curation composition: per-language temperature
    quotas (`temperature_sampling_quotas`) filled by CLASSIFIER-RANKED
    selection instead of the plain seeded-md5 coin — each language
    keeps its ``quota`` highest NB-margin documents (margin = s_pos -
    s_neg micro-ints; ties → seeded md5, then doc_id).  This is what a
    production mixture actually ships: language balance from the
    temperature recipe, within-language selection by the trained
    quality model.

    Scale shape: the classifier scoring plan (broadcast model) plus one
    slim (doc_id, lang, margin) window per language and a broadcast
    quota join — the corpus text is read by the scorer only."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )
    from swisscourtrulingcorpus_spark.operators.training import (
        temperature_sampling_quotas,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    quotas = temperature_sampling_quotas(
        docs.select("lang"), "lang", total=_TEMP_TOTAL, alpha=_TEMP_ALPHA
    )
    m = scored.select(
        "doc_id", (F.col("s_pos_micro") - F.col("s_neg_micro")).alias("margin_micro")
    ).join(docs.select("doc_id", "lang"), on="doc_id")
    # the seeded tiebreak is the md5's leading 60 BITS as a bigint, not
    # the 32-char hex string: window sort keys are projected BELOW the
    # lang exchange, so a string key would ride the shuffle at ~40
    # bytes/row — the round-8 two-SF measurement flagged it (15 hex
    # digits < 2^60 fit a bigint on both engines, and fixed-width hex
    # is ordered identically as text or as a number; doc_id still
    # breaks exact 60-bit collisions)
    seed_key = F.expr(
        "cast(conv(substr(md5(concat('qq|', cast(doc_id as string))), 1, 15),"
        " 16, 10) as bigint)"
    )
    wq = Window.partitionBy("lang").orderBy(
        F.col("margin_micro").desc(),
        seed_key.asc(),
        F.col("doc_id").asc(),
    )
    return (
        m.withColumn("__rk", F.row_number().over(wq))
        .join(F.broadcast(quotas.select("lang", "quota")), on="lang")
        .where(F.col("__rk") <= F.col("quota"))
        .select("doc_id", "lang", "margin_micro")
    )


QUALITY_QUOTA_ORACLE = (
    _nb_score_ctes()
    + f""",
nbres AS (
  SELECT a.doc_id, a.score - n.score AS margin_micro
  FROM fullsc a JOIN fullsc n
    ON a.doc_id = n.doc_id AND a.cls AND NOT n.cls),
{_temp_quota_ctes("tq_")},
ranked AS (
  SELECT d.doc_id, d.lang, r.margin_micro,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY r.margin_micro DESC,
                    CAST(('0x' || substr(md5('qq|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) ASC,
                    d.doc_id ASC
         ) AS rk
  FROM documents d JOIN nbres r USING (doc_id))
SELECT r.doc_id, r.lang, r.margin_micro
FROM ranked r JOIN tq_quota q USING (lang)
WHERE r.rk <= q.quota
"""
)


SPECS += [
    QuerySpec(
        "quality_quota_sample",
        quality_quota_sample,
        QUALITY_QUOTA_ORACLE,
        "temperature quotas filled by classifier-ranked selection",
    ),
]


def preference_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair (DPO/RLHF reward-data) construction: within each
    language, rank documents by the trained NB quality margin and pair
    the i-th best with the i-th worst — (chosen, rejected) rows with a
    strictly positive margin gap, the standard recipe for turning a
    scalar quality signal into preference training data.

    Scale shape: the scorer is the gated broadcast-model plan (text
    never shuffles); the ranking windows run over slim (doc_id, lang,
    margin bigint) rows partitioned BY LANGUAGE; the best-vs-worst
    pairing is ONE in-place aggregation on the mirrored-rank key
    (r11 optimization) — rank i and rank n+1-i share the group key
    ``least(i, n+1-i)``, so ``min_by``/``max_by`` over rank pull the
    chosen/rejected sides out of each 2-row group without the former
    self-equi-join.  hashpartitioning(lang) from the ranking window
    already satisfies the (lang, pair_idx) clustering, so the pairing
    adds ZERO exchanges, and with the ranked table referenced once the
    eager ``localCheckpoint`` lineage cut (which materialized the
    whole NB chain at construction time) is gone too.  The middle
    element of an odd-sized language pairs with itself and is dropped
    (its group has 1 row ⇔ the old ``pair_idx*2 <= n`` filter).
    Margins are micro-int exact and ranks are unique per language, so
    pairing and gap stay engine-identical."""
    from pyspark.sql import Window

    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    m = scored.select(
        "doc_id",
        (F.col("s_pos_micro") - F.col("s_neg_micro")).alias("margin"),
    ).join(docs.select("doc_id", "lang"), on="doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("margin").desc(), F.col("doc_id").asc()
    )
    rk = m.select(
        "lang",
        "doc_id",
        "margin",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    return (
        rk.groupBy(
            "lang",
            F.least(F.col("i"), F.col("n") + 1 - F.col("i")).alias("pair_idx"),
        )
        .agg(
            F.min_by("doc_id", "i").alias("chosen_id"),
            F.min_by("margin", "i").alias("__mc"),
            F.max_by("doc_id", "i").alias("rejected_id"),
            F.max_by("margin", "i").alias("__mr"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .where((F.col("__cnt") == 2) & (F.col("__mc") > F.col("__mr")))
        .select(
            "lang",
            F.col("pair_idx").cast("long").alias("pair_idx"),
            "chosen_id",
            "rejected_id",
            (F.col("__mc") - F.col("__mr")).alias("margin_gap"),
        )
    )


PREFERENCE_PAIRS_ORACLE = (
    _nb_score_ctes()
    + """,
nbres AS (
  SELECT a.doc_id, a.score - n.score AS margin
  FROM fullsc a JOIN fullsc n
    ON a.doc_id = n.doc_id AND a.cls AND NOT n.cls),
rk AS (
  SELECT d.lang, r.doc_id, r.margin,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY r.margin DESC, r.doc_id ASC) AS i,
         count(*) OVER (PARTITION BY d.lang) AS n
  FROM documents d JOIN nbres r USING (doc_id))
SELECT a.lang, CAST(a.i AS BIGINT) AS pair_idx,
       a.doc_id AS chosen_id, b.doc_id AS rejected_id,
       CAST(a.margin - b.margin AS BIGINT) AS margin_gap
FROM rk a JOIN rk b ON a.lang = b.lang AND b.i = a.n + 1 - a.i
WHERE a.i * 2 <= a.n AND a.margin > b.margin
"""
)


SPECS += [
    QuerySpec(
        "preference_pairs_documents",
        preference_pairs_documents,
        PREFERENCE_PAIRS_ORACLE,
        "DPO preference pairs: best-vs-worst by NB quality margin per language",
    ),
]


# ---------------------------------------------------------------------------
# fixed-point HITS over the directed purchase graph
# ---------------------------------------------------------------------------

def integer_hits_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point HITS (`operators/graph.py::integer_hits`, 3
    iterations) over the DIRECTED customer -> part purchase graph:
    hubs = broad buyers, authorities = widely-bought parts — the
    directed-link-analysis twin of `integer_pagerank_parts` (which
    bidirectionalizes; HITS is the algorithm that exploits direction).
    Same id-space offset for part nodes."""
    from swisscourtrulingcorpus_spark.operators.graph import integer_hits

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    pairs = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    max_ck = customer.agg(F.max("c_custkey")).collect()[0][0]
    edges = pairs.select(
        F.col("c").alias("src"),
        (F.col("p") + F.lit(int(max_ck)).cast("long")).alias("dst"),
    )
    return integer_hits(edges, iters=3)


def _hits_iteration(prev_h: str, i: int) -> str:
    # every intermediate MATERIALIZED: each is referenced twice (score
    # + its own max-normalizer subquery) and the chain would otherwise
    # re-expand exponentially (the unigram-oracle lesson)
    return (
        f"a{i}r AS MATERIALIZED (\n"
        f"  SELECT e.dst AS node, CAST(sum(h.h) AS BIGINT) AS a_raw\n"
        f"  FROM edges e JOIN {prev_h} h ON e.src = h.node GROUP BY 1),\n"
        f"a{i} AS MATERIALIZED (\n"
        f"  SELECT node, a_raw * 1000000 // (SELECT max(a_raw) FROM a{i}r) AS a\n"
        f"  FROM a{i}r),\n"
        f"h{i}r AS MATERIALIZED (\n"
        f"  SELECT e.src AS node, CAST(sum(a.a) AS BIGINT) AS h_raw\n"
        f"  FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY 1),\n"
        f"h{i} AS MATERIALIZED (\n"
        f"  SELECT node, h_raw * 1000000 // (SELECT max(h_raw) FROM h{i}r) AS h\n"
        f"  FROM h{i}r)"
    )


INTEGER_HITS_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_partkey AS p
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
off AS (SELECT MAX(c_custkey) AS o FROM customer),
edges AS MATERIALIZED (
  SELECT c AS src, p + (SELECT o FROM off) AS dst FROM pairs),
h0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h FROM edges),
{_hits_iteration('h0', 1)},
{_hits_iteration('h1', 2)},
{_hits_iteration('h2', 3)}
SELECT node, 'hub' AS kind, CAST(h AS BIGINT) AS score_micro FROM h3
UNION ALL
SELECT node, 'auth' AS kind, CAST(a AS BIGINT) AS score_micro FROM a3
"""


SPECS += [
    QuerySpec(
        "integer_hits_parts",
        integer_hits_parts,
        INTEGER_HITS_ORACLE,
        "fixed-point HITS hubs/authorities, 3 iters, integer-exact",
    ),
]


def nb_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the in-engine NB quality classifier against
    its Gopher weak labels (`operators/classifier.py::exact_auc` over
    the micro-int margin s_pos − s_neg): integer rank-sum arithmetic
    on the distinct-margin table, ties credited exactly ½ — the
    model-evaluation gate that tells a curation pipeline whether its
    trained filter actually ranks the weak labels it learned from."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        exact_auc,
        nb_quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    margin = scored.select(
        (F.col("s_pos_micro") - F.col("s_neg_micro")).alias("margin"),
        "label",
    )
    return exact_auc(margin, "margin", "label")


NB_AUC_ORACLE = (
    _nb_score_ctes()
    + """,
m AS (
  SELECT a.label, a.score - n.score AS margin
  FROM fullsc a JOIN fullsc n ON a.doc_id = n.doc_id AND a.cls AND NOT n.cls),
per AS (
  SELECT margin,
         CAST(count(CASE WHEN label THEN 1 END) AS BIGINT) AS pos_at,
         CAST(count(CASE WHEN NOT label THEN 1 END) AS BIGINT) AS neg_at
  FROM m GROUP BY 1),
stepped AS (
  SELECT pos_at, neg_at,
         CAST(coalesce(sum(neg_at) OVER (ORDER BY margin
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_below
  FROM per),
agg AS (
  SELECT CAST(sum(pos_at) AS BIGINT) AS n_pos,
         CAST(sum(neg_at) AS BIGINT) AS n_neg,
         CAST(sum(pos_at * (2 * neg_below + neg_at)) AS BIGINT) AS auc_num
  FROM stepped)
SELECT n_pos, n_neg, auc_num,
       CAST(2 * n_pos * n_neg AS BIGINT) AS auc_den,
       CASE WHEN 2 * n_pos * n_neg <> 0
            THEN CAST(auc_num AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE)
       END AS auc
FROM agg
"""
)


SPECS += [
    QuerySpec(
        "nb_classifier_auc",
        nb_classifier_auc,
        NB_AUC_ORACLE,
        "exact integer rank-sum ROC-AUC of the NB quality model, ties credited 1/2",
    ),
]


def nb_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table of the NB quality classifier
    (`operators/classifier.py::calibration_table` over the micro-int
    margin): per score decile — boundaries are EXACT order statistics
    found by histogram-narrowing selection, no global sort — the
    bucket's size, positives, and empirical positive rate.  With AUC
    this completes the in-engine model-evaluation pair: ranking
    quality AND score honesty."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        calibration_table,
        nb_quality_scores,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    margin = scored.select(
        (F.col("s_pos_micro") - F.col("s_neg_micro")).alias("margin"),
        "label",
    )
    return calibration_table(margin, "margin", "label", n_buckets=10)


NB_CALIBRATION_ORACLE = (
    _nb_score_ctes()
    + """,
m AS (
  SELECT a.label, a.score - n.score AS margin
  FROM fullsc a JOIN fullsc n ON a.doc_id = n.doc_id AND a.cls AND NOT n.cls),
cntm AS (SELECT count(*) AS n FROM m),
ranked AS (
  SELECT margin, row_number() OVER (ORDER BY margin) AS rn FROM m),
thresholds AS (
  SELECT i, max(CASE WHEN 10 * rn <= i * (SELECT n FROM cntm)
                     THEN margin END) AS t
  FROM ranked CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i) g
  GROUP BY i),
bucketed AS (
  SELECT 1 + (SELECT count(*) FROM thresholds WHERE m.margin > t)
           AS bucket,
         label
  FROM m)
SELECT CAST(bucket AS INTEGER) AS bucket,
       count(*) AS n_rows,
       CAST(count(CASE WHEN label THEN 1 END) AS BIGINT) AS n_pos,
       CAST(count(CASE WHEN label THEN 1 END) AS DOUBLE)
       / CAST(count(*) AS DOUBLE) AS pos_rate
FROM bucketed
GROUP BY 1
"""
)


SPECS += [
    QuerySpec(
        "nb_calibration_deciles",
        nb_calibration_deciles,
        NB_CALIBRATION_ORACLE,
        "classifier reliability table; decile bounds are exact order statistics",
    ),
]


# --- model-guided curation diagnostics (operators/influence.py) ----------
#
# The label-noise / data-valuation layer over the trained NB quality
# model: confident-learning joint, closed-form leave-one-out influence,
# and the active-learning uncertainty batch.  All three oracles extend
# the ONE `_nb_score_ctes` chain — the shared-CTE convention that keeps
# a training-arithmetic tweak from silently diverging one gate.


def label_noise_confident_joint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Confident-learning label-noise screen
    (`operators/influence.py::confident_joint`) over the NB quality
    scores: per-class mean-margin thresholds (exact integer
    cross-multiply, no division), docs assigned to the classes they
    confidently qualify for, and the (given_label, assigned) joint
    counted — off-diagonal cells are the mislabel candidates."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )
    from swisscourtrulingcorpus_spark.operators.influence import (
        confident_joint,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    return confident_joint(scored)


def _binary_joint_ctes() -> str:
    """The margin/threshold/assignment CTE chain of the BINARY
    confident joint, through ``asg`` (doc_id, label, m, assigned) —
    ONE definition shared by the joint and the doc-level candidate
    oracles (the `_kclass_ctes` convention: the operators share their
    qualification expressions, so the oracles must too)."""
    return (
        _nb_score_ctes()
        + """,
marg AS (
  SELECT a.doc_id, a.label,
         a.score - n.score AS m,
         (a.score >= n.score) AS pred
  FROM fullsc a JOIN fullsc n ON a.doc_id = n.doc_id AND a.cls AND NOT n.cls),
th AS (
  SELECT label, CAST(sum(m) AS BIGINT) AS sm, count(*) AS n
  FROM marg GROUP BY 1),
thp AS (
  SELECT max(CASE WHEN label THEN sm END) AS smp,
         coalesce(max(CASE WHEN label THEN n END), 0) AS np,
         max(CASE WHEN NOT label THEN sm END) AS smn,
         coalesce(max(CASE WHEN NOT label THEN n END), 0) AS nn
  FROM th),
q AS (
  SELECT m.doc_id, m.label, m.m, m.pred,
         (np > 0 AND m.m * np >= smp) AS qp,
         (nn > 0 AND m.m * nn <= smn) AS qn
  FROM marg m, thp),
asg AS (
  SELECT doc_id, label, m,
         CASE WHEN qp AND qn THEN pred
              WHEN qp THEN true
              WHEN qn THEN false END AS assigned
  FROM q)"""
    )


CONFIDENT_JOINT_ORACLE = (
    _binary_joint_ctes()
    + """
SELECT label AS given_label, assigned,
       count(*) AS n_docs
FROM asg
GROUP BY 1, 2
ORDER BY 1, 2
"""
)


def mislabel_candidates_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level mislabel-candidate list
    (`operators/influence.py::mislabel_candidates`) — the rows behind
    the confident joint's off-diagonal counts: every doc whose
    confidently-assigned class differs from its given label, with the
    log-odds margin for review triage.  Same qualification arithmetic
    as `label_noise_confident_joint` by construction (shared stats +
    assignment expressions)."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )
    from swisscourtrulingcorpus_spark.operators.influence import (
        mislabel_candidates,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    return mislabel_candidates(scored).orderBy("doc_id")


MISLABEL_CANDIDATES_ORACLE = (
    _binary_joint_ctes()
    + """
SELECT doc_id, label AS given_label, assigned,
       CAST(m AS BIGINT) AS margin_micro
FROM asg
WHERE assigned IS NOT NULL AND assigned <> label
ORDER BY doc_id
"""
)


def uncertainty_margin_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning batch selection
    (`operators/influence.py::margin_uncertainty_topk`): the 50 docs
    with the smallest |s_pos − s_neg| under the NB quality model
    (ties by doc_id) — the next docs a labeling budget should buy.
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )
    from swisscourtrulingcorpus_spark.operators.influence import (
        margin_uncertainty_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    return margin_uncertainty_topk(scored, k=50)


UNCERTAINTY_MARGIN_ORACLE = (
    _nb_score_ctes()
    + """,
marg AS (
  SELECT a.doc_id, a.label, a.score - n.score AS m
  FROM fullsc a JOIN fullsc n ON a.doc_id = n.doc_id AND a.cls AND NOT n.cls)
SELECT doc_id, label,
       CAST(m AS BIGINT) AS margin_micro,
       CAST(abs(m) AS BIGINT) AS abs_margin_micro
FROM marg
ORDER BY abs(m), doc_id
LIMIT 50
"""
)


def nb_loo_self_influence_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closed-form leave-one-out self-influence
    (`operators/influence.py::nb_loo_self_influence`): for every doc,
    the NB scores of the model retrained WITHOUT it — pure count
    arithmetic on the sufficient statistics (cnt − n_b, T_c − len,
    n_c − 1), never an actual retrain.  self_flip marks docs whose
    own prediction only holds because of their own training
    contribution — the mislabel/outlier candidates of data
    valuation."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.influence import (
        nb_loo_self_influence,
    )

    docs = load_table(spark, sf_dir, "documents")
    label = gopher_rule_columns("text")["keep"]
    return nb_loo_self_influence(docs, "text", "doc_id", label, _NB_BUCKETS)


NB_LOO_ORACLE = (
    _nb_score_ctes()
    + f""",
dlen AS (
  SELECT doc_id, CAST(sum(n_b) AS BIGINT) AS len FROM feats GROUP BY 1),
loo AS (
  SELECT f.doc_id, f.label,
         CAST(sum(f.n_b * CAST(round(ln(
             (c.cnt - f.n_b + 1) * 1.0
             / (t.tot - d.len + {_NB_BUCKETS})) * 1000000.0) AS BIGINT))
           AS BIGINT) AS body
  FROM feats f
  JOIN cnt c ON c.b = f.b AND c.label = f.label
  JOIN tot t ON t.label = f.label
  JOIN dlen d ON d.doc_id = f.doc_id
  GROUP BY 1, 2),
pri_loo AS (
  SELECT d.label,
         CAST(round(ln(d.n_c * 1.0 / (a.n + 1)) * 1000000.0) AS BIGINT)
           AS p_own_loo,
         CAST(round(ln((coalesce(o.n_c, 0) + 1) * 1.0 / (a.n + 1))
                    * 1000000.0) AS BIGINT) AS p_other_loo
  FROM ndoc d
  LEFT JOIN ndoc o ON o.label = NOT d.label
  CROSS JOIN n_all a),
pof AS (SELECT NOT cls AS label, prior_micro AS p_other_full FROM prior),
sp AS (
  SELECT doc_id, label,
         max(CASE WHEN cls THEN score END) AS s_pos,
         max(CASE WHEN NOT cls THEN score END) AS s_neg
  FROM fullsc GROUP BY 1, 2),
comb AS (
  SELECT s.doc_id, s.label, s.s_pos, s.s_neg,
         l.body + pl.p_own_loo AS s_own_loo,
         (CASE WHEN s.label THEN s.s_neg ELSE s.s_pos END)
           - pf.p_other_full + pl.p_other_loo AS s_other_loo
  FROM sp s
  JOIN loo l ON l.doc_id = s.doc_id AND l.label = s.label
  JOIN pri_loo pl ON pl.label = s.label
  JOIN pof pf ON pf.label = s.label),
orient AS (
  SELECT doc_id, label, s_pos, s_neg,
         CASE WHEN label THEN s_own_loo ELSE s_other_loo END AS pos_loo,
         CASE WHEN label THEN s_other_loo ELSE s_own_loo END AS neg_loo
  FROM comb)
SELECT doc_id, label,
       CAST(s_pos AS BIGINT) AS s_pos_micro,
       CAST(s_neg AS BIGINT) AS s_neg_micro,
       (s_pos >= s_neg) AS pred,
       CAST(pos_loo AS BIGINT) AS s_pos_loo_micro,
       CAST(neg_loo AS BIGINT) AS s_neg_loo_micro,
       (pos_loo >= neg_loo) AS pred_loo,
       CAST((CASE WHEN label THEN 1 ELSE -1 END)
            * ((s_pos - s_neg) - (pos_loo - neg_loo)) AS BIGINT)
         AS self_support_micro,
       ((s_pos >= s_neg) <> (pos_loo >= neg_loo)) AS self_flip
FROM orient
"""
)


SPECS += [
    QuerySpec(
        "label_noise_confident_joint",
        label_noise_confident_joint,
        CONFIDENT_JOINT_ORACLE,
        "confident-learning joint: per-class exact mean-margin thresholds, no division",
    ),
    QuerySpec(
        "mislabel_candidates_docs",
        mislabel_candidates_docs,
        MISLABEL_CANDIDATES_ORACLE,
        "doc-level mislabel candidates: the joint's off-diagonal rows with triage margins",
    ),
    QuerySpec(
        "uncertainty_margin_sample",
        uncertainty_margin_sample,
        UNCERTAINTY_MARGIN_ORACLE,
        "active-learning batch: 50 smallest-|margin| docs, per-partition heaps",
    ),
    QuerySpec(
        "nb_loo_self_influence",
        nb_loo_self_influence_docs,
        NB_LOO_ORACLE,
        "closed-form leave-one-out NB influence; self_flip = mislabel candidates",
    ),
]
