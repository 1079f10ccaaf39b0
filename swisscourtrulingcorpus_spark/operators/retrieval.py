"""Inverted-index build + BM25 ranked retrieval (query -> top-k docs).

The serving counterpart of the reference's doc2doc IR corpus build
(`doc2doc_ir_dataset_creator.py:287-355` stops at computing relevance
scores for dataset labels); this is the production query path a
retrieval corpus feeds: a term-partitioned posting-list table, a query
set joined against it, and a per-query top-k.

Scale shape (the part that matters at 100 TB):

- ``build_postings`` is ONE map-side tokenize + ONE groupBy((term,
  doc_id)) — output is postings-sized, never wider than the token
  stream, and it is the only stage that ever reads document text.
  Materialized once, term-partitioned (``write_postings``), it is the
  index; serving never re-scans documents.
- ``bm25_search`` touches ONLY postings rows whose term appears in
  some query: the query-term table (tiny) is broadcast for the
  equi-join, and the same term list is ALSO pushed as a literal
  ``term IN`` scan predicate (``prune_terms``) — against a
  `write_postings`-materialized index (term-sorted row groups) the
  footer min/max stats skip every non-matching row group, so the
  probe reads matching slices, not the full index.  Nothing
  document-sized shuffles: candidates are (matched postings) rows,
  aggregated by (query_id, doc_id) with map-side partial sums.

Integer-exact scoring: each posting's BM25 term contribution is
snapped to a micro-score bigint (round(score * 1e6)) BEFORE the
per-(query, doc) sum, so the sum is exact integer arithmetic —
independent of partition/aggregation order and bit-identical across
engines.  Doubles never survive past a single-row expression; the
ranking and the score column are both engine-stable ints (the
registry's double discipline, plans/registry.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql

#: micro-score scale: 1e6 keeps per-term contributions (O(0.1..15))
#: integer-exact to 6 decimals; a 64-term query sums to < 1e9 —
#: nowhere near bigint range.
SCORE_SCALE = 1_000_000


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "term") -> DataFrame:
    """Whitespace tokenization after the repo's ONE shared
    normalization (`functions/hashing.py::words_sql`) — the same on
    the index side, the query side, and the DuckDB oracles, so term
    keys always agree."""
    return df.withColumn(
        out_col, F.expr(f"explode({words_sql(f'`{text_col}`')})")
    )


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict[str, DataFrame]:
    """documents -> the inverted index: postings (term, doc_id, tf),
    per-term document frequency df (vocabulary-sized), per-document
    length dl, and the 1-row corpus scalars (n_docs, avgdl).

    One pass over the token stream feeds all four; only ``postings``
    is data-sized, and text never leaves this function.
    """
    words = tokenize(docs.select(id_col, text_col), text_col).select(id_col, "term")
    tf = words.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))
    # dl derives from tf (sum of a doc's term frequencies), NOT from a
    # second aggregation over `words`: tokenize+explode — the dominant
    # map-side cost — runs exactly once, and the dl aggregation's
    # input is postings-sized, not token-stream-sized (r06 review).
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    # denormalize the doc-length norm INTO the posting (the standard
    # impact-index layout): serving then needs no doc-sized side table
    # — a build-time shuffle on doc_id buys a join-free query path.
    postings = tf.join(dl, on=id_col).select("term", id_col, "tf", "dl")
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # scalars carry the MERGEABLE pair (n_docs, total_dl); avgdl is
    # derived so two indexes can combine without touching either corpus
    scalars = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    return {"postings": postings, "df": df_, "scalars": scalars}


def merge_postings(
    base: dict[str, DataFrame], delta: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Incremental index maintenance: fold a delta index (built from
    NEW documents only) into an existing index without rescanning the
    base corpus — the retrieval analog of the incremental-dedup
    signature store (`operators/dedup.py::incremental`).

    Requires disjoint doc sets (new documents; an update is
    delete+insert like `sources/sinks.py::upsert_by_key`).  Postings
    union (disjoint docs never collide on (term, doc)); df adds
    per-term; scalars add the mergeable pair and re-derive avgdl.
    Everything touched is index-sized — base document text is never
    read, which is the whole point at 100 TB.
    """
    postings = base["postings"].unionByName(delta["postings"])
    df_ = (
        base["df"]
        .withColumnRenamed("df", "df_a")
        .join(
            delta["df"].withColumnRenamed("df", "df_b"), on="term", how="full_outer"
        )
        .select(
            "term",
            (
                F.coalesce(F.col("df_a"), F.lit(0))
                + F.coalesce(F.col("df_b"), F.lit(0))
            ).alias("df"),
        )
    )
    a = base["scalars"].select(
        F.col("n_docs").alias("n_a"), F.col("total_dl").alias("t_a")
    )
    b = delta["scalars"].select(
        F.col("n_docs").alias("n_b"), F.col("total_dl").alias("t_b")
    )
    scalars = (
        a.crossJoin(b)
        .select(
            (F.col("n_a") + F.col("n_b")).alias("n_docs"),
            (F.col("t_a") + F.col("t_b")).alias("total_dl"),
        )
        .withColumn("avgdl", F.col("total_dl").cast("double") / F.col("n_docs"))
    )
    return {"postings": postings, "df": df_, "scalars": scalars}


def write_postings(index: dict[str, DataFrame], path: str, n_buckets: int = 64) -> None:
    """Materialize the index: postings hash-distributed over
    ``n_buckets`` files and SORTED BY TERM within each file, so every
    parquet row-group carries tight term min/max footer stats.  Plain
    ``spark.read.parquet`` keeps no bucketing metadata — the pruning
    contract is `bm25_search`'s pushed ``term IN (...)`` scan filter
    (``prune_terms``), which skips non-matching row groups via those
    stats instead of scanning the whole index (r06 review: the earlier
    docstring claimed bucket pruning the reopened path cannot do)."""
    (
        index["postings"]
        .repartition(n_buckets, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    index["df"].write.mode("overwrite").parquet(f"{path}/df")
    index["scalars"].write.mode("overwrite").parquet(f"{path}/scalars")


def bm25_search(
    index: dict[str, DataFrame],
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    prune_terms: bool = True,
    query_text_col: str = "text",
) -> DataFrame:
    """Score every (query, candidate document) pair via the posting
    lists and keep the top-k docs per query.

    queries: (query_id, ``query_text_col``).  Output: (query_id, doc_id, rank,
    score_micro, n_hit_terms) — all ints/strings, rank 1-based by
    exact integer score desc then doc_id asc.

    ``prune_terms`` collects the (bounded, query-set-sized) distinct
    term list driver-side and applies it as a literal ``term IN``
    predicate on the postings side.  A broadcast join alone pushes no
    filter into a parquet scan; the IN predicate reaches the footer
    stats, so a `write_postings`-materialized index (term-sorted row
    groups) skips every non-matching row group instead of scanning
    the whole index.  Same bounded-collect pattern as the k-means
    centroid and z-order bound collects.
    """
    qterms = (
        tokenize(queries, query_text_col)
        .select("query_id", "term")
        .distinct()
    )
    postings = index["postings"]
    if prune_terms:
        term_list = [r["term"] for r in qterms.select("term").distinct().collect()]
        postings = postings.where(F.col("term").isin(term_list))
    # broadcast the query side: the equi-join on term prunes every
    # posting whose term no query mentions — the only document-sized
    # input to the search is the postings table itself.
    # df is vocabulary-sized; pre-prune it to the queried terms so the
    # broadcast ships only those rows even against a huge vocabulary
    qdf = index["df"].join(F.broadcast(qterms.select("term").distinct()), on="term")
    cand = (
        postings
        .join(F.broadcast(qterms), on="term")
        .join(F.broadcast(qdf), on="term")
        .crossJoin(F.broadcast(index["scalars"]))
    )
    per_term = cand.withColumn(
        "score_term",
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        ),
    ).withColumn(
        # snap to the integer grid BEFORE summing: bigint addition is
        # order-independent, so the aggregated score is engine-exact
        "score_micro_term",
        F.round(F.col("score_term") * SCORE_SCALE).cast("long"),
    )
    scored = per_term.groupBy("query_id", id_col).agg(
        F.sum("score_micro_term").alias("score_micro"),
        F.count(F.lit(1)).alias("n_hit_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "rank", "score_micro", "n_hit_terms")
    )


def index_from_postings(postings: DataFrame, id_col: str = "doc_id") -> dict[str, DataFrame]:
    """Reconstruct the full index dict from the postings table alone —
    df and the scalars are index-sized derivations (postings carry the
    dl norm), so a store that versions ONLY postings (the streaming
    maintenance job) never needs the corpus to serve searches."""
    df_ = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    per_doc = postings.groupBy(id_col).agg(F.first("dl").alias("dl"))
    scalars = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    return {"postings": postings, "df": df_, "scalars": scalars}


def build_positional_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted index: one (term, doc_id, pos) row per token
    occurrence, positions 0-based over the shared `words_sql`
    tokenization.  The positional twin of ``build_postings`` — ~token-
    stream-sized (larger than the tf-postings but still slim fixed-width
    rows), term-partitionable with `write_postings` the same way, and
    the ONLY structure phrase queries ever touch: document text never
    reaches the serving path."""
    return docs.select(
        id_col,
        F.expr(f"posexplode({words_sql(f'`{text_col}`')}) AS (pos, term)"),
    ).select("term", id_col, "pos")


def phrase_search(
    positional: DataFrame,
    phrases: DataFrame,
    id_col: str = "doc_id",
    phrase_id_col: str = "phrase_id",
    phrase_col: str = "phrase",
) -> DataFrame:
    """Exact phrase matching over the positional index — the classic
    alignment trick: slot k of a phrase matching at document position p
    implies a common anchor ``p - k``, so a k-term phrase match is just
    "all slots agree on one anchor".  No k-way self-join, no per-pair
    adjacency probes: ONE broadcast equi-join on term + ONE groupBy.

    Scale shape: ``phrases`` is query-sized (broadcast); the join output
    is only the postings rows whose term occurs in some phrase (the term
    list prunes a `write_postings` index via footer stats exactly like
    `prune_terms`); the (phrase, doc, anchor) aggregation is
    match-candidate-sized.  Repeated terms inside a phrase are handled
    by counting DISTINCT slots per anchor — a doc position can satisfy
    two slots only at two different anchors.

    Returns (phrase_id, doc_id, n_matches, first_pos): documents
    containing the exact phrase, how often, and the earliest anchor.
    """
    terms = phrases.select(
        phrase_id_col,
        F.expr(f"posexplode({words_sql(f'`{phrase_col}`')}) AS (slot, term)"),
    )
    n_slots = terms.groupBy(phrase_id_col).agg(
        F.countDistinct("slot").alias("__n_slots")
    )
    hits = positional.join(F.broadcast(terms), on="term").select(
        phrase_id_col,
        id_col,
        "slot",
        (F.col("pos") - F.col("slot")).alias("anchor"),
    )
    anchored = (
        hits.where(F.col("anchor") >= 0)
        .groupBy(phrase_id_col, id_col, "anchor")
        .agg(F.countDistinct("slot").alias("__slots_hit"))
    )
    return (
        anchored.join(F.broadcast(n_slots), on=phrase_id_col)
        .where(F.col("__slots_hit") == F.col("__n_slots"))
        .groupBy(phrase_id_col, id_col)
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("anchor").alias("first_pos"),
        )
    )
