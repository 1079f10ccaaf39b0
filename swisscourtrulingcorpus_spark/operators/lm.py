"""Corpus n-gram language-model scoring — the CCNet/KenLM-style
perplexity-proxy quality filter of pretraining pipelines (documents
whose text is "surprising" under a corpus LM are candidates for
removal or down-weighting).

Relational form: the "model" is two count tables derived from one
tokenized pass (unigram and bigram counts with map-side combine);
scoring joins each document position against them and averages
``ln P(w2 | w1) = ln(bigram_count / unigram_count)``.

Scale shape: the count tables are corpus-vocabulary-sized and shuffle
fixed-width (token, count) rows; the scoring join co-partitions on the
bigram key (AQE handles the inevitable stop-bigram skew the same way
the dedup inverted index does).  Nothing collects; the "LM" never
leaves the cluster.

Determinism note: the integer count attachment (``doc_bigram_counts``)
is engine-exact and is what the oracle gate verifies; the double
``avg_logprob`` depends on float summation ORDER, which no engine
pins, so it is the user-facing score (unit-tested to tolerance), not a
hash-gated output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql


def _doc_words(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.expr(words_sql(f"`{text_col}`")).alias("__w")
    )


def _doc_bigrams(words: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, w1, w2) — one row per adjacent token pair, position
    1-based; docs with < 2 tokens contribute nothing."""
    pairs = F.expr(
        "transform(slice(__w, 1, greatest(size(__w) - 1, 0)),"
        " (x, i) -> struct(x AS w1, element_at(__w, i + 2) AS w2))"
    )
    return words.select(
        id_col, F.posexplode(pairs).alias("pos0", "p")
    ).select(
        id_col,
        (F.col("pos0") + 1).alias("pos"),
        F.col("p.w1").alias("w1"),
        F.col("p.w2").alias("w2"),
    )


def ngram_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    words: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The corpus LM: (unigram_counts(token, c1), bigram_counts(w1, w2,
    c2)), counted over every document position (not distinct).  Pass
    an already-tokenized ``words`` relation (``_doc_words`` shape) to
    bind the regexp+split ONCE — callers that also need the per-doc
    positions would otherwise tokenize the corpus three times (r04
    review)."""
    if words is None:
        words = _doc_words(df, text_col, id_col)
    uni = (
        words.select(F.explode("__w").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = (
        _doc_bigrams(words, id_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    return uni, bi


def doc_bigram_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Every document position with its attached model counts:
    (id, pos, w1, w2, c1, c2) — integer-exact, the oracle-gated proof
    that the LM join is right.  ``c1`` counts occurrences of ``w1``
    (the conditioning context) corpus-wide; ``c2`` the bigram."""
    words = _doc_words(df, text_col, id_col)
    uni, bi = ngram_counts(df, text_col, id_col, words=words)
    pos = _doc_bigrams(words, id_col)
    return (
        pos.join(bi, on=["w1", "w2"])
        .join(uni.withColumnRenamed("token", "w1"), on="w1")
        .select(id_col, "pos", "w1", "w2", "c1", "c2")
    )


def lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    reference: DataFrame | None = None,
) -> DataFrame:
    """Per-document LM quality score against a REFERENCE corpus
    (CCNet scores against a wiki-trained LM, not the document's own
    corpus — self-inclusion gives every singleton token P=1 and rates
    gibberish as perfectly predictable).  Output per doc:

    - ``n_bigrams``: total adjacent pairs;
    - ``n_scored``: pairs the reference LM has seen (inner-matched);
    - ``coverage``: n_scored / n_bigrams — unseen-bigram rate is
      itself the strongest junk signal (gibberish coverage ≈ 0);
    - ``avg_logprob``: mean ln P(w2|w1) over the SEEN pairs.

    ``reference=None`` scores against the document's own corpus (the
    boilerplate-detection mode: heavily repeated text scores near 0).
    Double summation order is engine/partitioning-dependent; treat
    ``avg_logprob`` as a measurement, not a reproducible hash (see
    module docstring)."""
    attached = _attached_positions(df, text_col, id_col, reference)
    lp = F.log(F.col("c2") / F.col("c1"))
    scores = attached.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count("c2").alias("n_scored"),
        (F.count("c2") / F.count(F.lit(1))).alias("coverage"),
        F.avg(lp).alias("avg_logprob"),
    )
    return _with_degenerate_docs(df, scores, id_col, ["coverage", "avg_logprob"])


def lm_score_micro(
    df: DataFrame,
    text_col: str,
    id_col: str,
    reference: DataFrame,
) -> DataFrame:
    """`lm_score` with the registry's integer discipline applied to the
    logprob itself: each bigram's ln P(w2|w1) is snapped to a micro
    bigint BEFORE the per-doc sum, so the total is exact integer
    arithmetic — order- and engine-independent — and the full LM
    quality signal (not just the coverage half) becomes hashable.
    Output per scored doc: n_bigrams, n_scored, sum_logprob_micro
    (NULL when nothing scored)."""
    attached = _attached_positions(df, text_col, id_col, reference)
    lp_micro = F.round(
        F.log(F.col("c2").cast("double") / F.col("c1").cast("double"))
        * F.lit(1_000_000.0)
    ).cast("long")
    scores = attached.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.count("c2").alias("n_scored"),
        F.sum(lp_micro).alias("sum_logprob_micro"),
    )
    return _with_degenerate_docs(df, scores, id_col, ["sum_logprob_micro"])


def _attached_positions(
    df: DataFrame,
    text_col: str,
    id_col: str,
    reference: DataFrame | None,
) -> DataFrame:
    """Shared scoring relation for `lm_score`/`lm_score_micro`: every
    document bigram position LEFT-joined against the reference model
    counts — (id, pos, w1, w2, c1, c2) with NULL counts for unseen
    pairs.  One tokenization of each corpus (self-scoring mode binds
    the split once via ``words=``, r04 review)."""
    words = _doc_words(df, text_col, id_col)
    if reference is None:
        uni, bi = ngram_counts(df, text_col, id_col, words=words)
    else:
        uni, bi = ngram_counts(reference, text_col, id_col)
    pos = _doc_bigrams(words, id_col)
    return pos.join(bi, on=["w1", "w2"], how="left").join(
        uni.withColumnRenamed("token", "w1"), on="w1", how="left"
    )


def _with_degenerate_docs(
    df: DataFrame, scores: DataFrame, id_col: str, passthrough: list[str]
) -> DataFrame:
    """Degenerate docs (null text / fewer than two tokens) have no
    bigrams and would otherwise VANISH from the output — exactly the
    documents a quality gate must not silently pass.  Emit them
    explicitly: n_bigrams = 0, signal columns NULL (no signal, distinct
    from "all bigrams unseen")."""
    every = df.select(F.col(id_col)).distinct()
    return every.join(scores, on=id_col, how="left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("n_scored", F.lit(0)).alias("n_scored"),
        *passthrough,
    )
