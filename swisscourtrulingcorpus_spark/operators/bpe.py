"""Byte-pair-encoding tokenizer training + application.

The round-3 tokenizer layer (`plans/ann_queries.py`) builds a
frequency vocabulary; this module adds REAL BPE — the merge-table
tokenizer pretraining pipelines actually ship.

Train (`bpe_train`) is the standard two-level algorithm, Spark-first:

- ONE corpus pass builds the word-frequency table (the classic BPE
  trick: merges operate on distinct words weighted by frequency, so
  the iteration input is vocabulary-sized, ~10^5..10^7 rows even at
  100 TB — the corpus itself is never touched again);
- each merge iteration is a DataFrame program over that table:
  adjacent-pair counts (explode + weighted sum, map-side combine) →
  argmax with a deterministic tie-break (count DESC, pair ASC) →
  one-row collect (like ``kmeans_fit``'s centroid collect, k-bounded)
  → a fold expression rewrites every word's symbol array in place
  (greedy left-to-right, matching the reference BPE algorithm);
- ``localCheckpoint`` every few iterations truncates the growing
  lineage, the same discipline as PageRank/label propagation.

Encode (`bpe_encode_udf`) applies the learned merge ranks per word in
an Arrow-batched pandas UDF — the merge loop is inherently per-word
sequential (each merge depends on the previous), which is exactly the
case the repo's UDF policy sanctions; the merge table is a broadcast
closure (kilobytes).

The merge sequence depends on the whole corpus, so there is no static
SQL oracle; correctness is pinned three ways: golden tests against the
hand-computed classic example and a pure-Python reference
implementation (`tests/test_bpe.py`), plus the driver-gated frozen-
corpus fixtures (`bpe_merges_corpus` / `bpe_encode_documents` in
`plans/extra_queries.py`: an independent offline trainer's merge table
and encoded output, the `uuid5_document_ids` fixture pattern).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from swisscourtrulingcorpus_spark.functions.hashing import words_sql

END = "</w>"  # end-of-word marker: lets merges learn suffixes


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the whitespace-normalized corpus — the single
    corpus pass; everything after runs on this table."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.expr(f"explode({words_sql(f'`{text_col}`')})").alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """word -> array of single-char symbols + end-of-word marker."""
    return words.select(
        "word",
        "freq",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END))
        ).alias("syms"),
    )


def _merge_expr(a: str, b: str):
    """Greedy left-to-right merge of adjacent (a, b) -> a+b inside a
    symbol array, as ONE aggregate fold (array scanned once).

    Built with the HOF API and ``F.lit``-bound symbols — NEVER by
    interpolating the symbols into SQL text: ``repr`` escapes like
    ``\\x01`` are not SQL string escapes, so a control-char symbol
    (present in real scraped corpora) would compare against the wrong
    literal, the merge would silently never apply, and the trainer
    would relearn the same pair forever (r04 review, confirmed live)."""
    la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
    null_s = F.lit(None).cast("string")

    def step(acc, x):
        return (
            F.when(
                (acc["prev"] == la) & (x == lb),
                F.struct(
                    F.array_append(acc["res"], lm).alias("res"),
                    null_s.alias("prev"),
                ),
            )
            .when(
                acc["prev"].isNull(),
                F.struct(acc["res"].alias("res"), x.alias("prev")),
            )
            .otherwise(
                F.struct(
                    F.array_append(acc["res"], acc["prev"]).alias("res"),
                    x.alias("prev"),
                )
            )
        )

    init = F.struct(
        F.array().cast("array<string>").alias("res"), null_s.alias("prev")
    )
    return F.aggregate(
        F.col("syms"),
        init,
        step,
        lambda acc: F.when(acc["prev"].isNull(), acc["res"]).otherwise(
            F.array_append(acc["res"], acc["prev"])
        ),
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    num_merges: int = 50,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus.  Returns the
    ordered merge list [(a, b), ...] — rank = list position."""
    syms = _initial_symbols(word_counts(df, text_col)).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for i in range(num_merges):
        pairs = F.expr(
            "transform(slice(syms, 1, greatest(size(syms) - 1, 0)),"
            " (x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))"
        )
        top = (
            syms.select(F.col("freq"), F.explode(pairs).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break  # nothing left worth merging
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        syms = syms.select("word", "freq", _merge_expr(a, b).alias("syms"))
        if (i + 1) % checkpoint_every == 0:
            # truncate the stacked fold lineage (same discipline as the
            # PageRank loop); eager so failures surface at the
            # offending iteration
            syms = syms.localCheckpoint()
    return merges


def bpe_encode_py(
    text: str | None, merges: list[tuple[str, str]]
) -> list[str] | None:
    """Pure-Python encode of one text under an ordered merge list —
    greedy lowest-rank-first per word, the standard BPE apply."""
    if text is None:
        return None
    ranks = {pair: i for i, pair in enumerate(merges)}
    out: list[str] = []
    for word in " ".join(text.lower().split()).split(" "):
        if not word:
            continue
        syms = list(word) + [END]
        while len(syms) > 1:
            best = None
            for i in range(len(syms) - 1):
                r = ranks.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best[0]):
                    best = (r, i)
            if best is None:
                break
            _, i = best
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        out.extend(syms)
    return out


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-batched encoder over the broadcast merge table."""

    @pandas_udf(ArrayType(StringType()))
    def _encode(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: bpe_encode_py(t, merges))

    return _encode
