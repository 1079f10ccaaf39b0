"""Round-12 optimization invariants.

Pins the properties the r12 changes rely on:

- `parallel_rank` depends on exchange reuse to evaluate its
  nondeterministic mid-projection once (ADVICE r11): assert the
  executed plan contains a ReusedExchange and exactly one range
  Exchange subtree.
- `ngram_jaccard_pairs_sql` must keep the single-scan /
  ReusedExchange property of its count-window doc-frequency filter,
  and must drop stop shingles above max_doc_freq.
- `bm25_top_terms`' df branch must aggregate map-side (one exchange of
  (term, count) rows — no (term, doc_id) expansion exchange).
- SQL-text seed interpolation rejects quote-bearing seeds.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _final_plan(df) -> str:
    df.collect()
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parallel_rank_rerun_and_width_invariance(spark):
    """parallel_rank evaluates its nondeterministic mid-subtree twice
    (totals + join); correctness rests on deterministic re-evaluation,
    not exchange reuse (see the operator docstring).  Pin the
    consequence: identical output across repeated runs and across
    partition counts, on an input whose sort order differs from its
    source order."""
    from swisscourtrulingcorpus_spark.operators.training import parallel_rank

    df = spark.range(0, 1000).selectExpr(
        "cast(conv(substring(md5(cast(id as string)), 1, 8), 16, 10)"
        " as bigint) AS k",
        "id AS v",
    )
    expected = None
    for n in (3, 8, 17):
        got = sorted(
            (r.k, r.rank)
            for r in parallel_rank(df, [F.col("k")], "rank", num_partitions=n)
            .select("k", "rank")
            .collect()
        )
        ranks = [rk for _, rk in sorted(got)]
        assert ranks == list(range(1, 1001))
        if expected is None:
            expected = got
        assert got == expected


def test_parallel_rank_values(spark):
    from swisscourtrulingcorpus_spark.operators.training import parallel_rank

    df = spark.range(0, 257).selectExpr("(257 - id) AS k")
    got = {
        r.k: r.rank
        for r in parallel_rank(df, [F.col("k")], "rank", num_partitions=5).collect()
    }
    assert got == {k: k for k in range(1, 258)}


def test_ngram_postings_exchange_reused(spark, sf_dir):
    from swisscourtrulingcorpus_spark.operators.dedup import (
        ngram_jaccard_pairs_sql,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import catalog_sql

    spread = spark.sparkContext.defaultParallelism
    plan = _final_plan(
        catalog_sql(
            spark,
            sf_dir,
            lambda view: ngram_jaccard_pairs_sql(
                view("documents"), "text", "doc_id", spread_partitions=spread
            ),
        )
    )
    # the postings exchange must be shared by the self-join sides (one
    # scan + tokenize + shingle + md5 chain; see the operator's
    # hot-bucket note for the two bounded-buffer guards that were
    # measured and rejected in r12)
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final, final


def test_ngram_guard_drops_stop_shingles(spark):
    from swisscourtrulingcorpus_spark.operators.dedup import (
        ngram_jaccard_pairs_sql,
    )

    # 4 docs sharing one ubiquitous shingle ("aa bb cc"); pairs must be
    # empty once max_doc_freq < 4 because every shared shingle is hot
    rows = [(i, "aa bb cc x%d y%d z%d" % (i, i, i)) for i in range(4)]
    spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
        "ngram_guard_docs"
    )
    # at max_doc_freq=4 the shingle is kept and every pair shares it
    for max_doc_freq, n_pairs in ((3, 0), (4, 6)):
        out = spark.sql(
            ngram_jaccard_pairs_sql(
                "ngram_guard_docs", "text", "doc_id", k=3, threshold=0.0,
                max_doc_freq=max_doc_freq,
            )
        )
        assert out.count() == n_pairs, max_doc_freq


def test_bm25_df_branch_single_exchange(spark, sf_dir):
    from swisscourtrulingcorpus_spark.plans.retrieval_queries import (
        bm25_top_terms,
    )

    plan = _final_plan(bm25_top_terms(spark, sf_dir))
    # the countDistinct form shuffled hashpartitioning(term, doc_id)
    # then hashpartitioning(term); the map-side form has no
    # (term, doc_id) exchange anywhere
    assert "hashpartitioning(term" in plan
    for line in plan.splitlines():
        if "hashpartitioning(term" in line:
            assert "doc_id" not in line, line


def test_seed_interpolation_guard():
    from swisscourtrulingcorpus_spark.functions.hashing import h32_sql

    assert "md5" in h32_sql("x", seed="sim")
    with pytest.raises(ValueError):
        h32_sql("x", seed="bad'seed")
    with pytest.raises(ValueError):
        h32_sql("x", seed="tick`y")
