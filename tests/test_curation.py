"""Temperature sampling (quota derivation + quota-exact selection),
char-entropy junk scoring, and the word-exact blocklist filter
(`operators/training.py`, `plans/curation_queries.py`)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.operators.training import (
    stratified_sample_quota,
    temperature_sampling_quotas,
)


@pytest.fixture(scope="module")
def lang_df(spark):
    # 80 'de', 15 'fr', 5 'it' — skewed enough that alpha matters
    rows = (
        [(i, "de") for i in range(80)]
        + [(100 + i, "fr") for i in range(15)]
        + [(200 + i, "it") for i in range(5)]
    )
    return spark.createDataFrame(rows, "doc_id bigint, lang string")


def _quotas(spark, lang_df, total, alpha):
    got = temperature_sampling_quotas(lang_df, "lang", total=total, alpha=alpha)
    return {r.lang: r.quota for r in got.collect()}


def test_quotas_sum_exactly_to_total(spark, lang_df):
    for total, alpha in [(10, 0.3), (100, 0.3), (100, 1.0), (7, 0.5)]:
        q = _quotas(spark, lang_df, total, alpha)
        assert sum(q.values()) == total, (total, alpha)


def test_alpha_one_is_proportional(spark, lang_df):
    # alpha=1 -> natural sampling: quotas track raw counts (80/15/5)
    q = _quotas(spark, lang_df, 100, 1.0)
    assert q == {"de": 80, "fr": 15, "it": 5}


def test_low_alpha_upweights_low_resource(spark, lang_df):
    # total=20 keeps every alpha-share below its population so the
    # capacity cap stays out of the picture (total=100 WOULD cap 'it'
    # at its 5 docs — covered by the dedicated cap test below)
    nat = _quotas(spark, lang_df, 20, 1.0)
    temp = _quotas(spark, lang_df, 20, 0.3)
    assert temp["it"] > nat["it"] and temp["fr"] > nat["fr"]
    assert temp["de"] < nat["de"]
    # and matches the exact largest-remainder arithmetic
    w = {
        lang: round(n**0.3 * 1_000_000)
        for lang, n in [("de", 80), ("fr", 15), ("it", 5)]
    }
    W = sum(w.values())
    base = {k: (20 * v) // W for k, v in w.items()}
    rem = {k: (20 * v) % W for k, v in w.items()}
    leftover = 20 - sum(base.values())
    order = sorted(w, key=lambda k: (-rem[k], k))
    want = {
        k: base[k] + (1 if order.index(k) < leftover else 0) for k in w
    }
    assert temp == want


def test_quota_selection_exact_and_stratum_stable(spark, lang_df):
    quotas = temperature_sampling_quotas(lang_df, "lang", total=20, alpha=0.3)
    picked = stratified_sample_quota(lang_df, "lang", "doc_id", quotas, seed="t")
    got = {
        r.lang: r.n for r in picked.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    want = {r.lang: r.quota for r in quotas.collect()}
    assert got == want
    # per-stratum stability: growing stratum 'de' must not change which
    # 'it' docs are selected (md5 order is per-row, quota for it fixed)
    it_before = {
        r.doc_id for r in picked.where(F.col("lang") == "it").collect()
    }
    grown = lang_df.union(
        spark.createDataFrame(
            [(300 + i, "de") for i in range(20)], "doc_id bigint, lang string"
        )
    )
    fixed_quotas = quotas  # same quota table (isolate selection stage)
    picked2 = stratified_sample_quota(grown, "lang", "doc_id", fixed_quotas, seed="t")
    it_after = {
        r.doc_id for r in picked2.where(F.col("lang") == "it").collect()
    }
    assert it_before == it_after


def test_char_entropy_hand_values(spark, tmp_path):
    # write a tiny documents.parquet and run the gate end-to-end
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        char_entropy_documents,
    )

    df = spark.createDataFrame(
        [
            (0, "aaaa", "de", "s", 4),   # one symbol -> H = 0
            (1, "ab", "de", "s", 2),     # uniform 2 -> H = ln 2
            (2, None, "de", "s", 0),     # degenerate -> NULL
            (3, "", "de", "s", 0),       # degenerate -> NULL
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_chars, r.entropy_micro)
        for r in char_entropy_documents(spark, str(tmp_path)).collect()
    }
    assert got[0] == (4, round(math.log(4) * 1e6) - (4 * round(math.log(4) * 1e6)) // 4)
    assert got[0][1] == 0
    assert got[1] == (2, round(math.log(2) * 1e6))
    assert got[2] == (0, None)
    assert got[3] == (0, None)


def test_blocklist_word_exact(spark, tmp_path):
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        blocklist_filter_documents,
    )

    df = spark.createDataFrame(
        [
            (0, "clean text here", "de", "s", 15),
            (1, "Lorem ipsum lorem", "de", "s", 17),    # 3 hits, 2 terms
            (2, "spambot is one word", "de", "s", 19),  # substring must NOT flag
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_hits, r.n_terms, r.keep)
        for r in blocklist_filter_documents(spark, str(tmp_path)).collect()
    }
    assert got[0] == (0, 0, True)
    assert got[1] == (3, 2, False)
    assert got[2] == (0, 0, True)


def test_quota_capped_by_population_and_redistributed(spark):
    # B has 1 doc but its alpha-share would promise ~9 slots: the cap
    # binds and the unfillable slots pour back into A — quotas still
    # sum to exactly total (r06b review: no silent under-fill)
    rows = [(i, "a") for i in range(50)] + [(100, "b")]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    q = {r.lang: r.quota for r in
         temperature_sampling_quotas(df, "lang", total=40, alpha=0.3).collect()}
    assert q == {"a": 39, "b": 1}
    # and the selection stage fills every promised slot
    got = (
        stratified_sample_quota(
            df, "lang", "doc_id",
            temperature_sampling_quotas(df, "lang", total=40, alpha=0.3),
            seed="t",
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert {r.lang: r.n for r in got} == {"a": 39, "b": 1}


def test_quota_total_above_corpus_returns_populations(spark):
    rows = [(i, "a") for i in range(50)] + [(100, "b")]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    q = {r.lang: r.quota for r in
         temperature_sampling_quotas(df, "lang", total=100, alpha=0.3).collect()}
    assert q == {"a": 50, "b": 1}


def test_cc_gate_corpus_not_multiple_of_50(spark, tmp_path):
    # 520 contiguous ids: the last run is partial (500..519) — no edge
    # to a phantom doc 520 (r06b review), labels still d - d % 50.
    # 501 ids: doc 500 starts a run with no successor -> singleton.
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        cc_bigstar_long_chains,
    )

    for n in (520, 501):
        d = tmp_path / f"n{n}"
        d.mkdir()
        spark.range(n).withColumnRenamed("id", "doc_id").write.parquet(
            str(d / "documents.parquet")
        )
        got = {
            r.node: r.cluster
            for r in cc_bigstar_long_chains(spark, str(d)).collect()
        }
        assert got == {i: i - i % 50 for i in range(n)}, n


def test_funnel_report_counts_and_order(spark):
    """The generic runner: stage counts drop monotonically for pure
    filters, and the report carries the leading input row."""
    from swisscourtrulingcorpus_spark.operators.funnel import funnel

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "id bigint, m bigint"
    )
    final, report = funnel(
        df,
        [
            ("keep_even", lambda d: d.where(F.col("id") % 2 == 0)),
            ("keep_m0", lambda d: d.where(F.col("m") == 0)),
        ],
    )
    got = {r.step: r.rows_out for r in report.collect()}
    assert got == {"input": 30, "keep_even": 15, "keep_m0": 5}
    assert final.count() == 5


def test_script_mix_hand_values(spark, tmp_path):
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        script_mix_documents,
    )

    df = spark.createDataFrame(
        [
            (0, "abc 123", "de", "s", 7),     # 3 latin, 3 digit, 1 space
            (1, "Жизнь", "ru", "s", 5),       # 5 cyrillic
            (2, "中文テスト", "ja", "s", 5),   # 5 cjk (han + katakana)
            (3, "a€b", "de", "s", 3),         # euro sign -> other
            (4, None, "de", "s", 0),          # null -> all zero
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_chars, r.n_latin, r.n_digit, r.n_cyrillic, r.n_cjk,
                   r.n_space, r.n_other)
        for r in script_mix_documents(spark, str(tmp_path)).collect()
    }
    assert got[0] == (7, 3, 3, 0, 0, 1, 0)
    assert got[1] == (5, 0, 0, 5, 0, 0, 0)
    assert got[2] == (5, 0, 0, 0, 5, 0, 0)
    assert got[3] == (3, 2, 0, 0, 0, 0, 1)
    assert got[4] == (0, 0, 0, 0, 0, 0, 0)


def test_nb_classifier_learns_separable_classes(spark):
    """Trained-in-engine NB must actually LEARN: on a corpus whose two
    classes use disjoint vocabularies, scoring the training docs must
    recover the labels (near-)perfectly, and the scores must be exact
    micro-int sums (engine-deterministic)."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )

    rows = []
    for i in range(40):
        good = " ".join(f"good{(i + j) % 23}" for j in range(30))
        junk = " ".join(f"junk{(i + j) % 23}" for j in range(30))
        rows.append((2 * i, good, True))
        rows.append((2 * i + 1, junk, False))
    df = spark.createDataFrame(rows, "doc_id long, text string, lab boolean")
    out = nb_quality_scores(df, "text", "doc_id", F.col("lab")).collect()
    assert len(out) == 80
    acc = sum(1 for r in out if r.pred == r.label) / len(out)
    assert acc >= 0.95, acc
    # both classes predicted (not a constant classifier)
    assert {r.pred for r in out} == {True, False}
    # scores are exact micro-int bigints, reproducible across runs
    again = {
        r.doc_id: (r.s_pos_micro, r.s_neg_micro)
        for r in nb_quality_scores(df, "text", "doc_id", F.col("lab")).collect()
    }
    for r in out:
        assert isinstance(r.s_pos_micro, int)
        assert again[r.doc_id] == (r.s_pos_micro, r.s_neg_micro)


def test_nb_merge_counts_equals_batch(spark):
    """merge(counts(A), counts(B), counts(C)) == counts(A+B+C) exactly,
    including buckets present in only one part."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_count_table,
        nb_merge_counts,
    )

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 50}" for j in range(20)), i % 2 == 0)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lab boolean")
    full = nb_count_table(df, "text", "doc_id", F.col("lab"), 64)
    parts = [
        nb_count_table(
            df.where(F.col("doc_id") % 3 == k), "text", "doc_id", F.col("lab"), 64
        )
        for k in range(3)
    ]
    merged = nb_merge_counts(nb_merge_counts(parts[0], parts[1]), parts[2])
    want = {(r.label, r.b): r.cnt for r in full.collect()}
    got = {(r.label, r.b): r.cnt for r in merged.collect()}
    assert got == want and len(want) > 10


def test_nb_single_class_corpus_still_scores(spark):
    """An all-one-class corpus (every weak label True) must still score
    every document — the dense prior supplies the smoothed ln(1/(n+2))
    for the empty class instead of dropping all rows through the prior
    join (r06 review, reproduced before the fix)."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )

    rows = [
        (i, " ".join(f"w{(i + j) % 9}" for j in range(20)), True)
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lab boolean")
    out = nb_quality_scores(df, "text", "doc_id", F.col("lab")).collect()
    assert len(out) == 6
    # everything predicted positive: the only observed class dominates
    assert all(r.pred for r in out)


def test_nb_null_labels_excluded(spark):
    """NULL weak labels are not a class: their occurrences must not
    enter the count table, and merging tables stays key-unique."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_count_table,
        nb_merge_counts,
    )

    rows = [
        (1, "aa bb cc", True),
        (2, "aa bb cc", None),
        (3, "dd ee ff", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lab boolean")
    cnt = nb_count_table(df, "text", "doc_id", F.col("lab"), 64)
    labs = {r.label for r in cnt.collect()}
    assert labs == {True, False}
    merged = nb_merge_counts(cnt, cnt).collect()
    keys = [(r.label, r.b) for r in merged]
    assert len(keys) == len(set(keys))  # no duplicate (label, b) rows


def test_quality_quota_sample_selects_best_margins(spark, sf_dir):
    """Per language: exactly `quota` docs selected, and no unselected
    document has a strictly higher classifier margin than any selected
    one (ties broken by the seeded md5 are allowed either way)."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_quality_scores,
    )
    from swisscourtrulingcorpus_spark.operators.training import (
        temperature_sampling_quotas,
    )
    from swisscourtrulingcorpus_spark.plans.curation_queries import (
        _NB_BUCKETS,
        _TEMP_ALPHA,
        _TEMP_TOTAL,
        quality_quota_sample,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    sel = quality_quota_sample(spark, sf_dir).collect()
    quotas = {
        r.lang: r.quota
        for r in temperature_sampling_quotas(
            docs.select("lang"), "lang", total=_TEMP_TOTAL, alpha=_TEMP_ALPHA
        ).collect()
    }
    by_lang: dict = {}
    for r in sel:
        by_lang.setdefault(r.lang, []).append(r)
    assert {l: len(v) for l, v in by_lang.items()} == {
        l: q for l, q in quotas.items() if q > 0
    }

    label = gopher_rule_columns("text")["keep"]
    scored = nb_quality_scores(docs, "text", "doc_id", label, _NB_BUCKETS)
    margins = {
        r.doc_id: r.s_pos_micro - r.s_neg_micro
        for r in scored.collect()
    }
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    for lang, rows in by_lang.items():
        worst_selected = min(margins[r.doc_id] for r in rows)
        unselected = [
            margins[d]
            for d, l in langs.items()
            if l == lang and d not in {r.doc_id for r in rows}
        ]
        if unselected:
            assert max(unselected) <= worst_selected
