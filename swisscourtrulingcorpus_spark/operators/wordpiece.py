"""WordPiece segmentation: greedy longest-match-first over a two-class
piece vocabulary (word-initial vs '##' continuation) — the BERT-family
tokenizer, completing the engine's trained-in-engine tokenizer triad
(BPE merges = `operators/bpe.py`, unigram-LM Viterbi =
`operators/unigram.py`, WordPiece greedy = here).  The reference has no
tokenizer stage; this family belongs to the training-data brief.

The vocabulary is corpus-derived and deterministic: substring counts
split by POSITION CLASS (initial = substrings starting at character 1,
continuation = substrings starting later), top ``vocab_top`` per class
by (cnt desc, piece asc) plus every single character of that class, so
segmentation is always feasible on the TRAINING corpus; [UNK] fires
when a vocabulary trained on one corpus tokenizes another (tested with
an injected vocab).

Greedy maximal munch is a per-word recurrence like the unigram DP, but
with NO cost comparison — at each position take the LONGEST matching
piece of the position's class, advance, repeat.  It runs over the
DISTINCT-WORD table with at most ``max_word_len`` rounds (every round
advances >= 1 char), each round one equi-join of the exploded candidate
substrings against the broadcast vocabulary.  The scale shape is the
unigram DP's: bounded rounds, slim (word, pos, segs) frontier rows,
corpus text read once for the vocab count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql


def wordpiece_vocab(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 6,
    vocab_top: int = 300,
    max_word_len: int = 12,
) -> DataFrame:
    """(piece, is_cont): the membership vocabulary, ``vocab_top`` pieces
    per position class ranked by (cnt desc, piece asc) plus every
    single character per class.  Greedy matching needs membership only
    — no scores — so this is deliberately slimmer than
    `unigram_vocab`.  Words longer than ``max_word_len`` are excluded
    from counting and from segmentation alike (the oracle mirrors)."""
    words = (
        df.select(F.expr(f"explode({words_sql(f'`{text_col}`')})").alias("w"))
        .where((F.length("w") >= 1) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pieces = (
        words.select(
            "freq",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, length(w)), s -> "
                    f"transform(sequence(1, least({max_piece_len}, length(w) - s + 1)), "
                    "l -> substring(w, s, l)))"
                )
            ).alias("__s0", "__subs"),
        )
        .select("freq", (F.col("__s0") > 0).alias("is_cont"), F.explode("__subs").alias("piece"))
        .groupBy("piece", "is_cont")
        .agg(F.sum("freq").alias("cnt"))
    )
    # two-phase top-N per class — the unigram_vocab discipline: a bare
    # PARTITION BY is_cont window funnels each class's whole piece
    # table through one task; local rank first bounds the final window
    # to alphabet + partitions x vocab_top rows per class, reproducing
    # the one-window rank bit-for-bit (survivor set is closed under
    # "ranked above a kept piece")
    order = [F.col("cnt").desc(), F.col("piece").asc()]
    local_w = Window.partitionBy("is_cont", F.spark_partition_id()).orderBy(*order)
    survivors = (
        pieces.withColumn("__lrk", F.row_number().over(local_w))
        .where((F.length("piece") == 1) | (F.col("__lrk") <= vocab_top))
        .drop("__lrk")
    )
    ranked = survivors.withColumn(
        "__rk", F.row_number().over(Window.partitionBy("is_cont").orderBy(*order))
    )
    return ranked.where(
        (F.length("piece") == 1) | (F.col("__rk") <= vocab_top)
    ).select("piece", "is_cont")


def wordpiece_segment_words(
    df: DataFrame,
    text_col: str,
    max_piece_len: int = 6,
    vocab_top: int = 300,
    max_word_len: int = 12,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Greedy-segment every distinct word: (word, n_pieces,
    segmentation) with continuations rendered '##piece' and a word that
    hits an unmatchable position collapsing to the single piece
    '[UNK]' (n_pieces = 1) — standard WordPiece semantics.

    ``vocab`` defaults to training on ``df`` itself (vocab and corpus
    from one scan, the gate's shape); pass a `wordpiece_vocab` built on
    a TRAINING corpus to tokenize unseen text — that is where [UNK]
    actually fires (same-corpus vocabularies always contain every
    in-class character, so self-trained segmentation never UNKs).

    Round j joins the active frontier's exploded candidate substrings
    (longest-first resolved by a max over the equi-join matches)
    against the broadcast vocabulary; every round advances each active
    word by >= 1 character, so ``max_word_len`` rounds finalize
    everything.  Finalized slices are eagerly checkpointed per round
    and unioned lazily at the end (flat lineage — the iterative-
    DataFrame rule shared with `unigram_segment_words` / `pagerank`).
    """
    if vocab is None:
        vocab = wordpiece_vocab(df, text_col, max_piece_len, vocab_top, max_word_len)
    vocab = F.broadcast(vocab.localCheckpoint(eager=True))
    frontier = (
        df.select(F.expr(f"explode({words_sql(f'`{text_col}`')})").alias("w"))
        .where((F.length("w") >= 1) & (F.length("w") <= max_word_len))
        .distinct()
        .select(
            "w",
            F.lit(0).alias("pos"),
            F.lit(0).cast("bigint").alias("n"),
            F.lit("").alias("segs"),
        )
        .localCheckpoint(eager=True)
    )
    done: list[DataFrame] = []
    for _ in range(max_word_len):
        active = frontier.where(F.col("pos") < F.length("w"))
        done.append(frontier.where(F.col("pos") >= F.length("w")))
        cand = active.select(
            "w",
            "pos",
            "n",
            "segs",
            F.explode(
                F.expr(
                    f"sequence(1, least({max_piece_len}, length(w) - pos))"
                )
            ).alias("l"),
        ).withColumn("piece", F.expr("substring(w, pos + 1, l)"))
        matched = (
            cand.join(
                vocab,
                (cand.piece == vocab.piece)
                & (vocab.is_cont == (cand.pos > 0)),
            )
            .groupBy("w", "pos", "n", "segs")
            .agg(F.max("l").alias("L"))
        )
        advanced = matched.select(
            "w",
            (F.col("pos") + F.col("L")).alias("pos"),
            (F.col("n") + 1).alias("n"),
            F.concat(
                "segs",
                F.when(F.col("pos") > 0, F.lit(" ##")).otherwise(F.lit("")),
                F.expr("substring(w, pos + 1, L)"),
            ).alias("segs"),
        )
        # no piece matches at this position: the WHOLE word becomes
        # [UNK] (finalized via pos = len)
        unk = active.join(
            matched.select("w", "pos"), on=["w", "pos"], how="left_anti"
        ).select(
            "w",
            F.length("w").alias("pos"),
            F.lit(1).cast("bigint").alias("n"),
            F.lit("[UNK]").alias("segs"),
        )
        frontier = advanced.unionByName(unk).localCheckpoint(eager=True)
    done.append(frontier)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out.select(
        F.col("w").alias("word"),
        F.col("n").alias("n_pieces"),
        F.col("segs").alias("segmentation"),
    )
