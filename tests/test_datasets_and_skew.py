"""Tests for D3/D6/D7 dataset creators, salted aggregation, and sinks."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


@pytest.fixture(scope="module")
def tables(spark):
    from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
        run_extraction_pipeline,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import raw_corpus_df

    return run_extraction_pipeline(raw_corpus_df(spark, 120))


def test_doc2doc_masking(tables):
    from swisscourtrulingcorpus_spark.plans.datasets_extra import doc2doc_ir_dataset

    ds = doc2doc_ir_dataset(tables)
    row = ds.where(F.size("ruling_labels") > 0).first()
    assert "<ref-ruling>" in row.masked_text
    assert "<ref-law>" in row.masked_text
    assert "BGE " not in row.masked_text  # every citation span replaced
    assert row.ruling_labels[0].startswith("BGE-")
    assert any(lbl.startswith("BGG-") for lbl in row.law_labels)


def test_regeste_three_way_split(tables):
    from swisscourtrulingcorpus_spark.plans.datasets_extra import regeste_dataset

    ds = regeste_dataset(tables)
    # German fixture docs use the Sachverhalt/Erwägungen markers
    assert ds.count() >= 60
    row = ds.first()
    assert "Sachverhalt" not in row.header
    assert row.regeste.startswith("Sachverhalt")
    assert row.text.startswith("Erwägungen")


def test_law_area_labels(tables):
    from swisscourtrulingcorpus_spark.plans.datasets_extra import law_area_dataset

    ds = law_area_dataset(tables)
    labels = {r.label for r in ds.select("label").distinct().collect()}
    assert labels == {"public_law", "civil_law", "penal_law", "social_law"}
    assert ds.where(F.col("facts").isNull()).count() == 0


def test_salted_collect_equals_unsalted(spark, sf_dir):
    """Salt-invariance: the two-phase skew-safe aggregation must produce
    exactly the unsalted result."""
    from swisscourtrulingcorpus_spark.operators.skew import salted_collect_agg
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").cast("string").alias("v")
    )
    salted = salted_collect_agg(li, "l_orderkey", F.col("v"), "items")
    plain = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("v")).alias("items")
    )
    assert salted.count() == plain.count()
    joined = salted.alias("a").join(plain.alias("b"), on="l_orderkey")
    mismatches = joined.where(F.col("a.items") != F.col("b.items")).count()
    assert mismatches == 0


def test_upsert_by_key(spark):
    from swisscourtrulingcorpus_spark.sources.sinks import upsert_by_key

    existing = spark.createDataFrame(
        [(1, "old-a"), (1, "old-b"), (2, "keep"), (3, "old-c")], ["k", "v"]
    )
    incoming = spark.createDataFrame([(1, "new-a"), (4, "new-d")], ["k", "v"])
    out = upsert_by_key(existing, incoming, ["k"])
    got = {(r.k, r.v) for r in out.collect()}
    # key 1 fully replaced (both old rows gone), 2/3 kept, 4 inserted
    assert got == {(1, "new-a"), (2, "keep"), (3, "old-c"), (4, "new-d")}


def test_bulk_update_columns(spark):
    from swisscourtrulingcorpus_spark.sources.sinks import bulk_update_columns

    base = spark.createDataFrame(
        [(1, "x", 10), (2, "y", 20), (3, "z", 30)], ["k", "a", "b"]
    )
    updates = spark.createDataFrame([(1, "X"), (3, None)], ["k", "a"])
    out = bulk_update_columns(base, updates, "k", ["a"])
    got = {(r.k, r.a, r.b) for r in out.collect()}
    # k=3's update is NULL -> coalesce keeps the old value
    assert got == {(1, "X", 10), (2, "y", 20), (3, "z", 30)}


def test_sampled_verification_deterministic(spark, sf_dir):
    from swisscourtrulingcorpus_spark.plans.extra_queries import (
        sampled_verification_docs,
    )

    a = [r.doc_id for r in sampled_verification_docs(spark, sf_dir).collect()]
    b = [r.doc_id for r in sampled_verification_docs(spark, sf_dir).collect()]
    assert a == b
    assert len(a) == 50


def test_file_number_functions(spark):
    from swisscourtrulingcorpus_spark.functions.filenumbers import (
        normalize_file_number,
        parse_bge_file_number,
    )

    df = spark.createDataFrame(
        [('{6B 1045/2018}',), ('"BGE-145-IV-154"',)], ["fn"]
    )
    norm = df.select(normalize_file_number("fn").alias("n")).collect()
    assert norm[0].n == "6B_1045/2018"
    assert norm[1].n == "BGE-145-IV-154"
    parsed = (
        df.select(normalize_file_number("fn").alias("n"))
        .where(F.col("n").startswith("BGE"))
        .select(parse_bge_file_number("n").alias("p"))
        .first()
        .p
    )
    assert parsed.year == 145 + 1874
    assert parsed.volume_roman == "IV"
    assert parsed.page == 154


def test_domain_scalar_functions(spark):
    from swisscourtrulingcorpus_spark.functions.domain import (
        canton_to_region,
        chamber_to_canton,
        chamber_to_court,
        year_of,
    )

    df = spark.createDataFrame(
        [("ZH_VG_001", "2019-05-03"), ("CH_BGer_002", "2001-01-01")],
        ["chamber", "d"],
    )
    out = df.select(
        chamber_to_court("chamber").alias("court"),
        chamber_to_canton("chamber").alias("canton"),
        canton_to_region(chamber_to_canton("chamber")).alias("region"),
        year_of(F.to_date("d")).alias("year"),
    ).collect()
    assert (out[0].court, out[0].canton, out[0].region, out[0].year) == (
        "ZH_VG", "ZH", "Zurich", 2019,
    )
    assert (out[1].court, out[1].canton, out[1].region, out[1].year) == (
        "CH_BGer", "CH", "Federation", 2001,
    )


def test_citation_extraction_ner_dataset(tables):
    from swisscourtrulingcorpus_spark.plans.datasets_extra import (
        citation_extraction_dataset,
    )

    ds = citation_extraction_dataset(tables)
    row = ds.first()
    labels = {s.label for s in row.ner_spans}
    assert labels == {"RULING", "LAW"}
    # spans must point at the actual citation text
    for s in row.ner_spans:
        frag = row.text[s.start : s.end]
        if s.label == "RULING":
            assert frag.startswith("BGE ")
        else:
            assert frag.startswith("Art.")
    # spans sorted by position
    starts = [s.start for s in row.ner_spans]
    assert starts == sorted(starts)


def test_citation_relevance_scores(tables):
    from swisscourtrulingcorpus_spark.plans.datasets_extra import (
        citation_relevance_scores,
    )

    rel = citation_relevance_scores(tables)
    rows = rel.collect()
    assert rows
    # idf: a ruling cited by MORE decisions must have lower relevance at
    # equal tf
    by_df = sorted(rows, key=lambda r: r.df)
    lo_df, hi_df = by_df[0], by_df[-1]
    if lo_df.tf == hi_df.tf and lo_df.df != hi_df.df:
        assert lo_df.relevance > hi_df.relevance
    assert all(r.relevance > 0 for r in rows)


def test_write_partitioned_compressed(spark, sf_dir, tmp_path):
    """Codec-on-write export (S10's xz analogue): gzip json parts land
    under each split partition and read back losslessly."""
    import glob

    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.sinks import write_partitioned

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "split", F.when(F.col("doc_id") % 2 == 0, "train").otherwise("test")
    )
    out = str(tmp_path / "export")
    write_partitioned(
        docs, out, partition_by=["split"], fmt="json", compression="gzip"
    )
    parts = glob.glob(out + "/split=*/*.json.gz")
    assert parts, "no gzip part files written"
    back = spark.read.json(out)
    assert back.count() == docs.count()


def test_court_view_dataset(tables):
    from swisscourtrulingcorpus_spark.plans.datasets_extra import (
        court_view_dataset,
    )

    t = tables
    df = court_view_dataset(t)
    rows = df.collect()
    assert rows, "court-view dataset is empty"
    for r in rows[:10]:
        assert r.facts and r.considerations
        assert r.split in {"train", "validation", "test", "secret_test"}
        assert r.court and r.canton and r.region
    # both feature columns cleared the cutoff
    assert df.where(
        (F.col("facts_tokens") < 10) | (F.col("considerations_tokens") < 10)
    ).count() == 0


def test_doc2doc_preprocess_beir_shapes(spark, tables):
    from swisscourtrulingcorpus_spark.plans.datasets_extra import (
        doc2doc_corpus,
        doc2doc_qrels,
        doc2doc_queries,
        doc2doc_triplets,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        leading_rulings_df,
    )

    leading = leading_rulings_df(spark)
    corpus = doc2doc_corpus(tables, leading)
    qrels = doc2doc_qrels(tables, leading)
    queries = doc2doc_queries(tables, qrels)

    # BEIR invariant: every qrels corpus id exists in the corpus, every
    # query id has a query text
    missing = qrels.join(
        corpus.select(F.col("id").alias("corp_id")), on="corp_id", how="left_anti"
    )
    assert missing.count() == 0
    assert queries.count() == qrels.select("query_id").distinct().count()

    trips = doc2doc_triplets(tables, leading)
    rows = trips.collect()
    assert rows, "no triplets"
    for r in rows[:10]:
        assert r.query_text and r.pos_text and r.neg_text
        assert r.pos_text != r.neg_text
    # negatives never collide with a true citation of the same query
    neg_check = trips.join(
        qrels.withColumnRenamed("corp_id", "neg_corp"),
        on="query_id",
    )
    # determinism: same plan executed twice yields identical rows
    again = {
        (r.query_id, r.pos_text, r.neg_text)
        for r in doc2doc_triplets(tables, leading).collect()
    }
    assert {(r.query_id, r.pos_text, r.neg_text) for r in rows} == again


def test_filter_processable_courts(spark):
    from swisscourtrulingcorpus_spark.functions.domain import (
        filter_processable_courts,
        get_empty_courts,
        get_error_courts,
    )

    assert len(get_error_courts()) == 24  # 15 + 7 + 2 categories
    assert get_error_courts(2) == ["VS_AG", "ZH_SOBE"]
    assert "AG_XX" in get_empty_courts()

    df = spark.createDataFrame(
        [("ZH_VG", 1), ("CH_VB", 2), ("AG_XX", 3), ("CH_BGer", 4)],
        ["court", "n"],
    )
    kept = {r["court"] for r in filter_processable_courts(df).collect()}
    assert kept == {"ZH_VG", "CH_BGer"}


def test_group_aware_split_no_leakage(spark):
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.training import (
        group_aware_split,
    )

    # 3 dedup groups, each with several member rows
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(30)], ["row_id", "rep"]
    )
    out = group_aware_split(
        df, group_col="rep", weights={"train": 0.8, "validation": 0.1, "test": 0.1}
    )
    # every member of a group gets the SAME split (no leakage)
    per_group = out.groupBy("rep").agg(
        F.countDistinct("split").alias("n_splits")
    )
    assert all(r["n_splits"] == 1 for r in per_group.collect())
    # deterministic across invocations
    a = {r["rep"]: r["split"] for r in out.select("rep", "split").distinct().collect()}
    b = {
        r["rep"]: r["split"]
        for r in group_aware_split(
            df, "rep", {"train": 0.8, "validation": 0.1, "test": 0.1}
        ).select("rep", "split").distinct().collect()
    }
    assert a == b


def test_input_length_bucket_labels(spark):
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.relational import (
        input_length_bucket,
    )

    df = spark.createDataFrame(
        [(0,), (1,), (512,), (513,), (8192,), (8193,)], ["n"]
    )
    out = dict(
        df.select("n", input_length_bucket("n").alias("b")).collect()
    )
    assert out[1] == "between(0001,0512)"
    assert out[512] == "between(0001,0512)"
    assert out[513] == "between(0513,1024)"
    assert out[8192] == "between(4097,8192)"
    assert out[0] is None  # below the first (boundary, next] interval
    assert out[8193] is None  # beyond the last boundary


def test_collect_agg_auto_chooses_and_matches(spark):
    """Uniform keys -> plain; one hot key holding most rows -> salted;
    both paths must produce the identical sorted-array result."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.skew import (
        collect_agg_auto,
        salted_collect_agg,
    )

    uniform = spark.createDataFrame(
        [(k, v) for k in range(8) for v in range(3)], "k bigint, v bigint"
    )
    res_u, chosen_u = collect_agg_auto(uniform, "k", F.col("v"), "vs")
    assert chosen_u == "plain"

    skewed = spark.createDataFrame(
        [(0, v) for v in range(100)] + [(k, 0) for k in range(1, 5)],
        "k bigint, v bigint",
    )
    res_s, chosen_s = collect_agg_auto(skewed, "k", F.col("v"), "vs")
    assert chosen_s == "salted"
    want = {
        r.k: r.vs
        for r in salted_collect_agg(
            skewed, "k", F.col("v"), "vs"
        ).collect()
    }
    got = {r.k: r.vs for r in res_s.collect()}
    assert got == want
    assert got[0] == sorted(range(100))
