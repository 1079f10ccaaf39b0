"""In-engine trained multinomial Naive Bayes text classifier — the
fastText-style quality/domain classifier of a curation pipeline
(CCNet's wiki-vs-crawl quality model, Wenzek et al. 2020; the quality
classifier step of GPT-3 appendix A, both public), trained and applied
entirely as DataFrame operations.

Why NB and not logistic regression: NB training IS one aggregation
(per-class token counts), so the whole train step is a single groupBy
over (bucket, class) — no iterative gradient loop — and the scores are
sums of per-token log-likelihoods, which micro-int rounding
(``round(ln(x) * 1e6)``, the repo's established lm_score_micro pattern)
makes integer-exact and hash-gateable against a SQL oracle.

Scale shape (100 TB posture):
- features are HASHED token buckets (``h32_sql(word) % n_buckets``) — the
  model is a fixed ``2 * n_buckets``-row table regardless of corpus
  size, like the DSIR bucket models;
- training = one groupBy on (class, bucket) over slim int rows (the
  text never shuffles — tokens are hashed map-side);
- the dense (bucket, class) model grid is a deliberate tiny
  cross-join (n_buckets x 2 rows), broadcast to the scorer;
- scoring = per-doc (bucket, count) aggregation joined to the
  broadcast model, one sum — zero corpus-sized shuffles beyond the
  per-doc feature aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import h32_sql, words_sql

MICRO = 1_000_000


def _ln_micro(x: Column) -> Column:
    """round(ln(x) * 1e6) as BIGINT — the micro-int snap both engines
    compute identically (same libm double ln; the repo's char-entropy
    and lm_score_micro gates pin this pattern)."""
    return F.round(F.log(x) * MICRO).cast("bigint")


def _hashed_buckets(
    df: DataFrame, text_col: str, key_cols: list[str], n_buckets: int
) -> DataFrame:
    """ONE definition of the featurization (normalize → split → explode
    → h32 % n_buckets): train and score must stay byte-identical or the
    frozen-model contract silently breaks.  Output: (*key_cols, b), one
    row per token occurrence."""
    return (
        df.select(*key_cols, F.expr(words_sql(f"`{text_col}`")).alias("__w"))
        .select(*key_cols, F.explode("__w").alias("__word"))
        .select(*key_cols, F.expr(f"{h32_sql('__word')} % {int(n_buckets)}").alias("b"))
    )


def nb_count_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: Column | str,
    n_buckets: int = 4096,
) -> DataFrame:
    """The NB sufficient statistics as a table: (label, b, cnt) hashed

    ``id_col`` is accepted for call-site symmetry with the scoring
    path but unused: training touches only (label, text).

    token-occurrence counts.  This IS the trained model state — NB is
    count-based, so the statistics are mergeable (see
    :func:`nb_merge_counts`) and the classifier supports INCREMENTAL
    training: a new document batch contributes a delta table and
    the history is never re-tokenized (the same never-rescan-history
    contract as the minhash signature store and the postings merge).

    Rows whose label evaluates to NULL are EXCLUDED (not a class): a
    NULL key would silently vanish from the dense model grid join and
    break `nb_merge_counts`' key equality (full-outer join on NULL
    never matches, duplicating rows).
    """
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    labeled = df.select(
        lab.cast("boolean").alias("label"), F.col(text_col).alias("__text")
    ).where(F.col("label").isNotNull())
    return (
        _hashed_buckets(labeled, "__text", ["label"], n_buckets)
        .groupBy("label", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


_DOC_SENTINEL_B = -1  # h32 % n_buckets is always >= 0, so -1 is free


def nb_stats_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: Column | str,
    n_buckets: int = 4096,
) -> DataFrame:
    """The COMPLETE NB sufficient statistics in one mergeable table:

    ``id_col`` is accepted for call-site symmetry with the scoring
    path but unused: training touches only (label, text).

    the (label, b, cnt) token-occurrence counts of
    :func:`nb_count_table` plus one sentinel row per class
    (b = -1, cnt = document count) — everything :func:`nb_train` needs,
    so a versioned store of this table supports both incremental batch
    training and the streaming training job
    (`streaming/jobs.py::stream_nb_training_job`).  Merge with
    :func:`nb_merge_counts` (sentinels merge like any other key)."""
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    cnt = nb_count_table(df, text_col, id_col, lab, n_buckets)
    ndoc = (
        df.select(lab.cast("boolean").alias("label"))
        .where(F.col("label").isNotNull())
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("label", F.lit(_DOC_SENTINEL_B).cast("bigint").alias("b"), "cnt")
    )
    return cnt.unionByName(ndoc)


def nb_train_from_stats(
    stats: DataFrame, n_buckets: int = 4096
) -> tuple[DataFrame, DataFrame]:
    """(model, prior) from a (possibly merged) statistics table — the
    SAME arithmetic as :func:`nb_train` (which delegates here), so a
    model trained incrementally through the store is bit-identical to
    one-shot training."""
    spark = stats.sparkSession
    cnt = stats.where(F.col("b") >= 0)
    ndoc = stats.where(F.col("b") == _DOC_SENTINEL_B).select(
        "label", F.col("cnt").alias("n_c")
    )
    tot = cnt.groupBy("label").agg(F.sum("cnt").alias("tot"))
    # 1-row bounded collect: total doc count AND the highest observed
    # bucket in one pass — a stats table built with a LARGER n_buckets
    # than this call's would silently lose its high buckets to the
    # dense-grid left join while their mass still inflates tot, so the
    # mismatch is an error, not a truncation (r06 review, same class as
    # the scorer's derive-don't-assume fix)
    row = stats.agg(
        F.coalesce(
            F.sum(F.when(F.col("b") == _DOC_SENTINEL_B, F.col("cnt"))),
            F.lit(0),
        ).alias("n_all"),
        F.max("b").alias("max_b"),
    ).collect()[0]
    n_all = int(row["n_all"])
    if row["max_b"] is not None and int(row["max_b"]) >= n_buckets:
        raise ValueError(
            f"stats table has bucket {row['max_b']} >= n_buckets="
            f"{n_buckets}: it was built with a larger bucket count"
        )

    buckets = spark.range(n_buckets).select(
        F.col("id").cast("bigint").alias("b")
    )
    classes = spark.createDataFrame([(True,), (False,)], "label boolean")
    # no broadcast hint here: the grid is the BUILD-left side of a left
    # join (unsupported hint position); the model itself broadcasts at
    # the scoring join, which is the join that matters
    grid = buckets.crossJoin(classes)
    model = (
        grid.join(cnt, on=["b", "label"], how="left")
        .join(tot, on="label", how="left")
        .select(
            "b",
            "label",
            _ln_micro(
                (F.coalesce("cnt", F.lit(0)) + 1)
                / (F.coalesce("tot", F.lit(0)) + n_buckets)
            ).alias("loglik_micro"),
        )
    )
    # prior over the DENSE class table, not only observed classes: an
    # all-one-class corpus must still produce both prior rows (the
    # smoothed ln(1/(n+2)) for the empty class), or the scorer's inner
    # prior join silently drops every document (r06 review, reproduced)
    prior = (
        classes.join(ndoc, on="label", how="left")
        .select(
            "label",
            _ln_micro(
                (F.coalesce("n_c", F.lit(0)) + 1) / F.lit(float(n_all + 2))
            ).alias("prior_micro"),
        )
    )
    return model, prior


def nb_merge_counts(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two NB count tables (full outer join + sum) — vocab-bounded
    rows (<= 2 * n_buckets each side), so the merge cost is independent
    of how much text either table summarizes.  merge(counts(A),
    counts(B)) == counts(A ∪ B) exactly (gate-checked)."""
    b = base.select("label", "b", F.col("cnt").alias("__c1"))
    d = delta.select("label", "b", F.col("cnt").alias("__c2"))
    return b.join(d, on=["label", "b"], how="full").select(
        "label",
        "b",
        (
            F.coalesce("__c1", F.lit(0)) + F.coalesce("__c2", F.lit(0))
        ).alias("cnt"),
    )


def nb_quality_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: Column | str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Train a two-class multinomial NB on ``label_col`` (boolean weak
    labels, e.g. the Gopher keep verdict) and score every document,
    all in one plan.  Output per doc: (id, label, s_pos_micro,
    s_neg_micro, pred) where s_c = prior_c + sum_b n_b * loglik(b, c)
    in micro-ints and pred = (s_pos >= s_neg).

    Laplace-smoothed multinomial likelihood
    ``ln((cnt_{b,c} + 1) / (T_c + n_buckets))`` over hashed-token
    OCCURRENCES; priors smoothed ``ln((n_c + 1) / (n + 2))`` so an
    empty class never produces ln(0).
    """
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    model, prior = nb_train(df, text_col, id_col, lab, n_buckets)
    labeled = df.select(
        F.col(id_col).alias("doc_id"),
        lab.cast("boolean").alias("label"),
        F.col(text_col).alias("__text"),
    )
    return nb_score_with_model(
        labeled, "__text", "doc_id", model, prior, n_buckets, carry=("label",)
    )


def nb_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: Column | str,
    n_buckets: int = 4096,
) -> tuple[DataFrame, DataFrame]:
    """Train only: returns ``(model, prior)`` — model is the DENSE
    (b, label, loglik_micro) grid (a bucket unseen in one class still
    contributes its smoothed log-likelihood ln(1 / (T_c + B))), prior
    is (label, prior_micro).  Both are fixed-size tables fit for
    broadcast and for FREEZING: score a later batch or a stream with
    :func:`nb_score_with_model` without retraining.

    The stats table is MATERIALIZED once (eager localCheckpoint of a
    vocab-bounded table, a few KB of blocks that live as long as the
    model): without it the n_all collect, the model broadcast, and the
    prior broadcast would each re-run the full corpus tokenization —
    three passes instead of one (r06 review, plan-audit-visible)."""
    stats = nb_stats_table(
        df, text_col, id_col, label_col, n_buckets
    ).localCheckpoint(eager=True)
    return nb_train_from_stats(stats, n_buckets)


def pivot_priors(prior: DataFrame) -> DataFrame:
    """ONE definition of the prior pivot: the dense 2-row (label,
    prior_micro) table as a single broadcastable row (__pp, __pn).
    Shared by :func:`nb_score_with_model` and
    `influence.nb_loo_self_influence` — a change to prior handling
    must reach both or the scorer and the LOO diagnostic silently
    diverge (the `_hashed_buckets` one-definition convention)."""
    return prior.groupBy().agg(
        F.max(F.when(F.col("label"), F.col("prior_micro"))).alias("__pp"),
        F.max(F.when(~F.col("label"), F.col("prior_micro"))).alias("__pn"),
    )


def nb_score_with_model(
    df: DataFrame,
    text_col: str,
    id_col: str,
    model: DataFrame,
    prior: DataFrame,
    n_buckets: int | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Score documents against a FROZEN (model, prior) pair from
    :func:`nb_train` — per-doc hashed-bucket counts joined to the
    broadcast model, one sum per class.  ``carry`` columns pass through
    to the output unchanged (e.g. the training label for accuracy
    reporting).  Output: (doc_id, *carry, s_pos_micro, s_neg_micro,
    pred).

    ``n_buckets`` defaults to the model's own bucket count (one bounded
    1-row aggregate over the vocab-sized grid — cheap because nb_train
    materializes the stats behind the model; a model with un-cut
    lineage pays its plan once here) — a hard-coded value that
    disagreed with training would silently drop the out-of-range
    buckets from every score (r06 review)."""
    if n_buckets is None:
        n_buckets = int(model.agg(F.max("b")).collect()[0][0]) + 1
    cols = list(carry)
    base = df.select(
        F.col(id_col).alias("doc_id"), *cols, F.col(text_col).alias("__text")
    )
    feats = (
        _hashed_buckets(base, "__text", ["doc_id", *cols], n_buckets)
        .groupBy("doc_id", *cols, "b")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    # the broadcast model join fans each feature row out to both
    # classes; ONE conditional aggregation pivots to per-class sums
    # directly — no per-(doc, cls) exchange and no pos/neg self-join
    # of the scored subtree (r10 review: the self-join shape ran the
    # featurization chain once per side pre-AQE; same restructuring
    # as `influence.nb_loo_self_influence`).  Values are identical:
    # the same bigint products reach the same sums.
    pri = pivot_priors(prior)
    return (
        feats.join(
            F.broadcast(model.withColumnRenamed("label", "cls")), on="b"
        )
        .groupBy("doc_id", *cols)
        .agg(
            F.sum(
                F.when(F.col("cls"), F.col("n_b") * F.col("loglik_micro"))
            ).alias("__bp"),
            F.sum(
                F.when(~F.col("cls"), F.col("n_b") * F.col("loglik_micro"))
            ).alias("__bn"),
        )
        .crossJoin(F.broadcast(pri))
        .select(
            "doc_id",
            *cols,
            (F.col("__bp") + F.col("__pp")).alias("s_pos_micro"),
            (F.col("__bn") + F.col("__pn")).alias("s_neg_micro"),
        )
        .withColumn(
            "pred", F.col("s_pos_micro") >= F.col("s_neg_micro")
        )
    )


def exact_auc(df: DataFrame, score_col: str, label_col) -> DataFrame:
    """EXACT ROC-AUC as integer rank-sum arithmetic — the
    model-evaluation primitive: AUC = P(random positive scores above
    random negative, ties ½).  Computed WITHOUT per-row ranks: group
    to the DISTINCT-SCORE table (pos_at, neg_at per score), take the
    running negatives-strictly-below window in score order, and

        num = Σ_s pos_at(s) · (2·neg_below(s) + neg_at(s))
        AUC = num / (2·P·N)

    — every term an exact bigint, ties handled exactly (the ½ credit
    is the ``+ neg_at`` term over the doubled denominator), and the
    one float division has a fixed shape, so any engine reproduces
    the AUC bit-for-bit.  Returns one row: (n_pos, n_neg, auc_num,
    auc_den, auc); auc is NULL when either class is empty.

    Scale shape: one (score) groupBy with map-side combine, then ONE
    global window over the DISTINCT-SCORE table — bounded by distinct
    score values, not rows (micro-int NB margins collide heavily; a
    billion docs share thousands of margins).  num overflows int64
    only past ~2^31 documents per class — at that scale widen to
    DECIMAL(38,0).
    """
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    s = df.select(
        F.col(score_col).alias("__s"), lab.cast("boolean").alias("__y")
    ).where(F.col("__y").isNotNull() & F.col("__s").isNotNull())
    per = s.groupBy("__s").agg(
        F.count(F.when(F.col("__y"), 1)).alias("pos_at"),
        F.count(F.when(~F.col("__y"), 1)).alias("neg_at"),
    )
    w = (
        Window.orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    stepped = per.select(
        "pos_at",
        "neg_at",
        F.coalesce(F.sum("neg_at").over(w), F.lit(0)).alias("neg_below"),
    )
    agg = stepped.agg(
        F.sum("pos_at").alias("n_pos"),
        F.sum("neg_at").alias("n_neg"),
        F.sum(
            F.col("pos_at")
            * (2 * F.col("neg_below") + F.col("neg_at"))
        ).alias("auc_num"),
    )
    den = 2 * F.col("n_pos") * F.col("n_neg")
    return agg.select(
        "n_pos",
        "n_neg",
        "auc_num",
        den.alias("auc_den"),
        F.when(
            den != 0,
            F.col("auc_num").cast("double") / den.cast("double"),
        ).alias("auc"),
    )


def calibration_table(
    df: DataFrame,
    score_col: str,
    label_col,
    n_buckets: int = 10,
) -> DataFrame:
    """Reliability table (calibration curve) for a scored binary
    classifier: rows bucketed by score decile, each bucket reporting
    its size, positives, and empirical positive rate — AUC's
    companion metric (AUC measures ranking; this measures whether the
    score LEVELS mean what they claim).

    Bucket boundaries are EXACT order statistics: t_i =
    `exact_kth_value` at rank (i·n) div n_buckets (the histogram-
    narrowing selection — no global sort), and bucket(s) = 1 + #{t_i
    < s}, so with heavily tied scores several deciles can collapse
    into one bucket deterministically (both engines agree on the
    boundary values, hence on every bucket).  pos_rate is one
    fixed-shape double division of exact bigints.

    Scale shape: ONE batched selection run over the cached slim
    (score, label) projection — all n_buckets−1 ranks narrow together
    in `exact_kth_values`' shared loop (≤ 3 rounds of map-side-
    combined binning aggregates TOTAL, not per rank), then ONE
    broadcast of the ≤ 9 thresholds and one bucket groupBy — the
    scored table shuffles once, as buckets.
    """
    from swisscourtrulingcorpus_spark.operators.relational import (
        exact_kth_values,
    )

    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    slim = df.select(
        F.col(score_col).alias("__s"), lab.cast("boolean").alias("__y")
    ).where(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    slim = slim.cache()
    try:
        n = slim.count()
        if n < n_buckets:
            raise ValueError(f"need >= {n_buckets} scored rows, got {n}")
        ks = [(i * n) // n_buckets for i in range(1, n_buckets)]
        by_k = exact_kth_values(slim, "__s", ks)
        thresholds = [by_k[k] for k in ks]
        bucket = F.lit(1)
        for t in thresholds:
            bucket = bucket + F.when(F.col("__s") > F.lit(t), 1).otherwise(0)
        out = (
            slim.select(bucket.alias("bucket"), "__y")
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col("__y"), 1)).alias("n_pos"),
            )
            .select(
                "bucket",
                "n_rows",
                "n_pos",
                (
                    F.col("n_pos").cast("double")
                    / F.col("n_rows").cast("double")
                ).alias("pos_rate"),
            )
        )
        # materialize before unpersisting the input projection
        rows = out.collect()
        schema = out.schema
    finally:
        slim.unpersist()
    return df.sparkSession.createDataFrame(rows, schema)
