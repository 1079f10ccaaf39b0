"""Unigram-LM subword segmentation (the SentencePiece family, Kudo
2018, public) — the second trained-in-engine tokenizer next to the BPE
trainer (`operators/bpe.py`).

This is the frequency-initialized unigram segmenter: the piece
vocabulary is the corpus's most frequent substrings (plus every single
character, so segmentation is always feasible), piece scores are
log-probabilities from occurrence counts, and each word is segmented by
EXACT Viterbi DP minimizing total cost.  SentencePiece's EM prune loop
is intentionally omitted (documented deviation): the initialization +
Viterbi pair is the deterministic, oracle-checkable core, and EM only
re-estimates the same score table.

Integer exactness: scores snap to micro-ints and the DP state packs
(cost_micro, n_pieces) into ONE bigint key ``cost_micro * 64 +
n_pieces`` — both components accumulate additively, so the packing is
linear and a single ``min`` drives the whole DP with a deterministic
(cheapest, then fewest-pieces) tie-break that DuckDB reproduces
bit-for-bit.

Scale shape: the vocabulary build is one explode + groupBy over
(piece, count) rows; the DP runs over the DISTINCT-WORD table (corpus
vocabulary, not the corpus) with ``max_word_len`` chained joins against
the broadcast piece table — each join moves (word, pos, key) rows only.
At 100 TB the distinct-word table is millions of short rows, the same
bounded-iteration class as the BPE merge loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql

MICRO = 1_000_000
#: packing base for (cost_micro, n_pieces): supports words up to 63
#: pieces, far beyond max_word_len
PACK = 64


def unigram_vocab(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 6,
    vocab_top: int = 500,
    max_word_len: int = 12,
) -> DataFrame:
    """(piece, cnt, score_micro): the ``vocab_top`` highest-ranked
    pieces by (cnt desc, piece asc) — the rank runs over ALL substring
    lengths 1..max_piece_len, so frequent single chars occupy rank
    slots like any other piece — PLUS every single character seen
    regardless of rank (chars guarantee every word segments).  The
    effective multi-char vocabulary is therefore vocab_top minus the
    chars that ranked inside the top — size vocab_top accordingly.
    score_micro = round(ln(cnt / total) * 1e6) where total sums over
    the RETAINED vocabulary (so scores form a proper log-distribution
    over the pieces actually usable).

    Words longer than ``max_word_len`` are excluded from counting and
    from segmentation alike (the DP's chain depth is max_word_len;
    documented contract, mirrored by the oracle)."""
    words = (
        df.select(F.expr(f"explode({words_sql(f'`{text_col}`')})").alias("w"))
        .where((F.length("w") >= 1) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pieces = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), s -> "
                    f"transform(sequence(1, least({max_piece_len}, length(w) - s + 1)), "
                    "l -> substring(w, s, l))))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    from pyspark.sql import Window

    # two-phase top-N, not one global window: an unpartitioned
    # row_number funnels the whole (piece, cnt) table — millions of
    # rows at corpus scale — through ONE task (the exact bottleneck
    # `_two_phase_stratum_topn` exists for; r06 review).  The global
    # rank numbers single-char pieces too (the oracle's semantics), so
    # survivors = ALL single-char pieces (alphabet-bounded) plus each
    # partition's local top-vocab_top multi-char pieces: every piece
    # with true rank <= vocab_top is a survivor, and every survivor's
    # rank among survivors EQUALS its true global rank (any piece
    # ranked above a kept one is itself a survivor) — so phase 2 over
    # the bounded survivor set reproduces the one-window result
    # bit-for-bit while its single task sees at most
    # alphabet + partitions x vocab_top rows.
    order = [F.col("cnt").desc(), F.col("piece").asc()]
    local_w = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    survivors = (
        pieces.withColumn("__lrk", F.row_number().over(local_w))
        .where((F.length("piece") == 1) | (F.col("__lrk") <= vocab_top))
        .drop("__lrk")
    )
    ranked = survivors.withColumn(
        "__rk", F.row_number().over(Window.orderBy(*order))
    )
    # materialized BEFORE the total collect: the substring explode +
    # rank would otherwise execute twice (once for the scalar,
    # again when the returned lineage is consumed) — r06 review
    kept = ranked.where(
        (F.length("piece") == 1) | (F.col("__rk") <= vocab_top)
    ).select("piece", "cnt").localCheckpoint(eager=True)
    total = kept.agg(F.sum("cnt")).collect()[0][0]  # 1 scalar, bounded
    if total is None:
        # zero qualifying words: mirror the oracle's graceful empty
        # relation instead of float(None) crashing (r06 review)
        return kept.select(
            "piece", "cnt", F.lit(None).cast("bigint").alias("score_micro")
        )
    return kept.select(
        "piece",
        "cnt",
        F.round(F.log(F.col("cnt") / F.lit(float(total))) * MICRO)
        .cast("bigint")
        .alias("score_micro"),
    )


def unigram_segment_words(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 6,
    vocab_top: int = 500,
    max_word_len: int = 12,
) -> DataFrame:
    """Viterbi-segment every distinct word: (word, n_pieces,
    cost_micro) where cost = -sum of piece log-prob micro-scores,
    minimized exactly; ties break to fewer pieces (the packed-key
    ordering).  The DP is ``max_word_len`` chained joins of the
    (word, pos, key) frontier against the broadcast vocabulary —
    positions advance monotonically, so iteration j finalizes every
    word position j."""
    # vocab materialized ONCE (eager checkpoint of a <= vocab_top + |chars|
    # row table): joined in every DP iteration, an un-cut lineage would
    # re-run the corpus substring count + global rank 12 times
    vocab = F.broadcast(
        unigram_vocab(df, text_col, max_piece_len, vocab_top, max_word_len)
        .select("piece", (-F.col("score_micro")).alias("pcost"))
        .localCheckpoint(eager=True)
    )
    words = (
        df.select(F.expr(f"explode({words_sql(f'`{text_col}`')})").alias("w"))
        .where((F.length("w") >= 1) & (F.length("w") <= max_word_len))
        .distinct()
    )
    # best(word, pos, key): cheapest packed key reaching pos.  pos 0 =
    # empty prefix, key 0.  Each position's slice is checkpointed ONCE
    # (eager — the iterative-DataFrame lineage rule, `pagerank`) and
    # kept in a python list: iteration j unions only the slices it can
    # extend (pos in [j-P, j-1]), and the final frontier is a lazy
    # union of checkpoint LEAVES (flat lineage).  Checkpointing a
    # cumulative union instead would rewrite every finalized position
    # each iteration — ~7x the materialization I/O (r06 review).
    slices = [
        words.select(
            "w", F.lit(0).alias("pos"), F.lit(0).cast("bigint").alias("key")
        ).localCheckpoint(eager=True)
    ]
    for j in range(1, max_word_len + 1):
        lo = max(0, j - max_piece_len)
        reachable = slices[lo]
        for s in slices[lo + 1 : j]:
            reachable = reachable.unionByName(s)
        cand = (
            reachable.where(F.length("w") >= j)
            .select(
                "w",
                "pos",
                "key",
                F.expr(f"substring(w, pos + 1, {j} - pos)").alias("piece"),
            )
            .join(vocab, on="piece")
            .groupBy("w")
            .agg(
                F.min(F.col("key") + F.col("pcost") * PACK + 1).alias("key")
            )
            .select("w", F.lit(j).alias("pos"), "key")
        )
        slices.append(cand.localCheckpoint(eager=True))
    frontier = slices[0]
    for s in slices[1:]:
        frontier = frontier.unionByName(s)
    # pos == len(w) identifies completed segmentations directly — no
    # join back to the corpus-derived word table needed (r06 review)
    return frontier.where(F.col("pos") == F.length("w")).select(
        F.col("w").alias("word"),
        (F.col("key") % PACK).cast("bigint").alias("n_pieces"),
        F.expr(f"key DIV {PACK}").alias("cost_micro"),
    )
