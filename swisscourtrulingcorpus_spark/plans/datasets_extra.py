"""Dataset creators D3/D6/D7 (SURVEY.md §2.9) over the domain tables.

Each is a short DataFrame program — the reference's per-creator classes
(`scrc/dataset_creation/*.py`) collapse to joins + column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.operators.relational import map_join
from swisscourtrulingcorpus_spark.plans.domain_pipeline import _sections_pivot


def mask_citations(
    df: DataFrame, text_col: str, citations_col: str, out_col: str
) -> DataFrame:
    """F11 citation masking (`doc2doc_ir_dataset_creator.py:182-198`):
    replace every citation's text span with a type token (<ref-law> /
    <ref-ruling>).  A fold over the citations array with built-in
    ``aggregate`` + ``replace`` — JVM-side, no UDF."""
    masked = F.aggregate(
        F.coalesce(F.col(citations_col), F.array()),
        F.col(text_col),
        lambda acc, c: F.replace(
            acc,
            c["text"],
            F.when(c["type"] == "law", F.lit("<ref-law>")).otherwise(
                F.lit("<ref-ruling>")
            ),
        ),
    )
    return df.withColumn(out_col, masked)


def doc2doc_ir_dataset(tables: dict[str, DataFrame]) -> DataFrame:
    """D3 Doc2DocIRDatasetCreator (`doc2doc_ir_dataset_creator.py:66-355`):
    considerations text with citations masked, plus the cited ruling/law
    labels collected per decision (J2 map_join shape)."""
    sections = tables["section"]
    citations = tables["citation"]
    consid = sections.where(F.col("section") == "considerations").select(
        "decision_id", F.col("section_text").alias("considerations")
    )
    cit_structs = citations.groupBy("decision_id").agg(
        F.collect_list(
            F.struct(F.col("type"), F.col("text"))
        ).alias("citations"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("type") == "ruling",
                    F.concat_ws(
                        "-",
                        F.lit("BGE"),
                        F.col("year").cast("string"),
                        F.col("volume"),
                        F.col("page").cast("string"),
                    ),
                )
            )
        ).alias("ruling_labels"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("type") == "law",
                    F.concat_ws("-", F.col("law"), F.col("article")),
                )
            )
        ).alias("law_labels"),
    )
    df = consid.join(cit_structs, on="decision_id", how="left")
    return mask_citations(df, "considerations", "citations", "masked_text").drop(
        "citations"
    )


def regeste_dataset(tables: dict[str, DataFrame]) -> DataFrame:
    """D6 RegesteDatasetCreator (`regeste_dataset_creator.py:28-76`, F15):
    BGE full text → (header, regeste, rest) 3-way split on the first
    marker occurrences — substring arithmetic, no UDF."""
    full = tables["section"].where(F.col("section") == "full_text").select(
        "decision_id", F.col("section_text").alias("t")
    )
    # the fixture corpus uses the facts marker as the regeste boundary
    # and considerations as the text boundary (same 3-way split shape)
    header = F.substring_index(F.col("t"), "Sachverhalt", 1)
    after = F.expr("substring(t, length(substring_index(t, 'Sachverhalt', 1)) + 1)")
    regeste = F.substring_index(after, "Erwägungen", 1)
    rest = F.expr(
        "substring(t, length(substring_index(t, 'Erwägungen', 1)) + 1)"
    )
    return full.select(
        "decision_id",
        header.alias("header"),
        regeste.alias("regeste"),
        rest.alias("text"),
    ).where(F.length("regeste") > 0)


def citation_extraction_dataset(tables: dict[str, DataFrame]) -> DataFrame:
    """D4 CitationExtractionDatasetCreator
    (`citation_extraction_dataset_creator.py:67-120`): considerations
    text with character-level NER spans for each citation mention —
    token-classification training data."""
    from swisscourtrulingcorpus_spark.extraction.citations import (
        citation_spans_udf,
    )

    consid = tables["section"].where(F.col("section") == "considerations")
    return consid.select(
        "decision_id",
        F.col("section_text").alias("text"),
        citation_spans_udf("section_text").alias("ner_spans"),
    ).where(F.size("ner_spans") > 0)


def citation_relevance_scores(tables: dict[str, DataFrame]) -> DataFrame:
    """A12 TF-IDF relevance for (decision, cited ruling) pairs
    (`doc2doc_ir_dataset_creator.py:287-355`): tf = cite count within
    the decision, idf over the corpus (sklearn smooth-idf), relevance =
    tf·idf — the score D3 attaches to its labels."""
    cits = tables["citation"].where(F.col("type") == "ruling").select(
        "decision_id",
        F.concat_ws(
            "-", F.lit("BGE"), F.col("year").cast("string"), F.col("volume"),
            F.col("page").cast("string"),
        ).alias("cited"),
    )
    tf = cits.groupBy("decision_id", "cited").agg(F.count(F.lit(1)).alias("tf"))
    df_ = cits.groupBy("cited").agg(F.countDistinct("decision_id").alias("df"))
    n = cits.select(F.countDistinct("decision_id").alias("n_docs"))
    # df_ is keyed on cited BGE rulings — a BOUNDED vocabulary (the set
    # of published leading decisions, ~10-30k), unlike free-text terms;
    # broadcasting it is correct at any corpus size.
    return (
        tf.join(F.broadcast(df_), on="cited")
        .crossJoin(F.broadcast(n))
        .select(
            "decision_id",
            "cited",
            "tf",
            "df",
            (
                F.col("tf")
                * (F.log((1 + F.col("n_docs")) / (1 + F.col("df"))) + 1)
            ).alias("relevance"),
        )
    )


# F8 chamber -> law area (`sql_select_utils.py:443-465`: BGer chambers
# map to public/civil/penal/social law by chamber number)
_CHAMBER_LAW_AREA = {
    "CH_BGer_001": "public_law",
    "CH_BGer_002": "civil_law",
    "ZH_VG_001": "public_law",
    "ZH_VG_002": "public_law",
    "VD_TC_001": "civil_law",
    "VD_TC_002": "penal_law",
    "TI_TA_001": "social_law",
    "TI_TA_002": "public_law",
}


def law_area_dataset(tables: dict[str, DataFrame]) -> DataFrame:
    """D7 LawAreaDatasetCreator (`law_area_dataset_creator.py:13-65`):
    label = chamber's law area via a broadcast literal map; train starts
    1970 (here the fixture's full range)."""
    from itertools import chain

    decisions = tables["decision"]
    mapping = F.create_map(
        *list(
            chain.from_iterable(
                (F.lit(k), F.lit(v)) for k, v in _CHAMBER_LAW_AREA.items()
            )
        )
    )
    pivot = _sections_pivot(tables["section"], ["facts", "considerations"])
    return (
        decisions.select("decision_id", "chamber", "date")
        .withColumn("label", mapping[F.col("chamber")])
        .where(F.col("label").isNotNull())
        .join(pivot, on="decision_id", how="left")
    )


def court_view_dataset(
    tables: dict[str, DataFrame], min_tokens: int = 10
) -> DataFrame:
    """Court-view generation dataset (`court_view_dataset_creator.py:
    12-58`): facts as input, considerations as the generation target,
    date-stratified splits with the creator's start years (train 1970 /
    validation 2016 / test 2018 / secret_test 2023) and the
    chamber-derived metadata columns.  Both feature sections must clear
    the token cutoff (delete_row_only_if_all_feature_cols_below_cutoff
    = False ⇒ a row drops when ANY feature is short)."""
    from swisscourtrulingcorpus_spark.functions.domain import (
        canton_to_region,
        chamber_to_canton,
        chamber_to_court,
    )
    from swisscourtrulingcorpus_spark.operators.relational import (
        date_stratified_split,
    )

    sec = tables["section"]

    def _side(name: str) -> DataFrame:
        return sec.where(F.col("section") == name).select(
            "decision_id",
            F.col("section_text").alias(name),
            F.col("num_tokens").alias(f"{name}_tokens"),
        )

    df = (
        _side("facts")
        .join(_side("considerations"), on="decision_id")
        .where(
            (F.col("facts_tokens") >= min_tokens)
            & (F.col("considerations_tokens") >= min_tokens)
        )
        .join(
            tables["decision"].select("decision_id", "chamber", "date", "language"),
            on="decision_id",
        )
        .withColumn("year", F.year("date"))
        .withColumn("court", chamber_to_court("chamber"))
        .withColumn("canton", chamber_to_canton("chamber"))
    )
    df = df.withColumn("region", canton_to_region("canton"))
    return date_stratified_split(
        df, train_start=1970, val_start=2016, test_start=2018, secret_start=2023
    ).where(F.col("split").isNotNull())


# --- doc2doc IR preprocessing (`preprocess_doc2doc.py:1-302`): the
# BEIR-style corpus / queries / qrels / triplets builders -----------------

def _bge_key(year, volume, page) -> F.Column:
    return F.concat_ws(
        "-", F.lit("BGE"), year.cast("string"), volume, page.cast("string")
    )


def doc2doc_corpus(
    tables: dict[str, DataFrame], leading: DataFrame
) -> DataFrame:
    """Corpus side (`preprocess_doc2doc.py:102-146`): decisions (title =
    file name, text = facts + considerations) unioned with the cited
    universe of leading rulings.  The reference pulls leading-ruling
    text from a hub dataset (offline here — S13 seam); the BGE key
    stands in as the text so ids and join shapes stay real."""
    pivot = _sections_pivot(tables["section"], ["facts", "considerations"])
    rulings = (
        tables["decision"]
        .select("decision_id", "file_name", "language")
        .join(pivot, on="decision_id")
        .select(
            F.col("decision_id").alias("id"),
            F.col("file_name").alias("title"),
            F.concat_ws(" ", "facts", "considerations").alias("text"),
            "language",
        )
    )
    key = _bge_key(F.col("year"), F.col("volume"), F.col("start_page"))
    leads = leading.select(
        key.alias("id"),
        key.alias("title"),
        key.alias("text"),
        F.lit("de").alias("language"),
    )
    return rulings.unionByName(leads)


def doc2doc_qrels(
    tables: dict[str, DataFrame], leading: DataFrame
) -> DataFrame:
    """qrels (`preprocess_doc2doc.py:149-208`): one (query decision,
    cited corpus doc, 1) row per resolvable citation.  Citation →
    corpus-id resolution is the J6 as-of page snap onto leading-ruling
    start pages (citations cite interior pages)."""
    from swisscourtrulingcorpus_spark.operators.relational import asof_join

    cits = tables["citation"].where(F.col("type") == "ruling")
    snapped = asof_join(
        cits.select(
            "decision_id", "year", "volume", F.col("page").alias("cited_page")
        ),
        leading.select("year", "volume", "start_page"),
        partition_keys=["year", "volume"],
        left_on="cited_page",
        right_on="start_page",
        tolerance=F.lit(20),
    ).where(F.col("asof_start_page").isNotNull())
    return snapped.select(
        F.col("decision_id").alias("query_id"),
        _bge_key(
            F.col("year"), F.col("volume"), F.col("asof_start_page")
        ).alias("corp_id"),
        F.lit(1).alias("relevance"),
    ).distinct()


def doc2doc_queries(
    tables: dict[str, DataFrame], qrels: DataFrame
) -> DataFrame:
    """queries (`preprocess_doc2doc.py:149-208`): facts text for every
    decision that has at least one qrel (semi join — never materializes
    the join product)."""
    facts = tables["section"].where(F.col("section") == "facts").select(
        F.col("decision_id").alias("id"),
        F.col("section_text").alias("text"),
    )
    return facts.join(
        qrels.select(F.col("query_id").alias("id")).distinct(),
        on="id",
        how="left_semi",
    )


def doc2doc_triplets(
    tables: dict[str, DataFrame], leading: DataFrame
) -> DataFrame:
    """Training triplets (`preprocess_doc2doc.py:213-260`): (query
    facts, cited text, non-cited text).  The reference draws the
    negative with random.choice + rejection; the distributed version
    derives a deterministic pseudo-random corpus index from
    xxhash64(query, positive) and drops the rare draw that collides
    with a true citation — no RNG state, reproducible across cluster
    sizes, and the only window runs over the corpus-id table (the
    bounded label universe, not the document corpus)."""
    from pyspark.sql import Window

    corpus = doc2doc_corpus(tables, leading)
    qrels = doc2doc_qrels(tables, leading)
    queries = doc2doc_queries(tables, qrels)

    n_corpus = corpus.count()
    idx = Window.orderBy("id")
    indexed = corpus.select(
        "id", "text", F.row_number().over(idx).alias("corp_idx")
    )

    pos = (
        qrels.join(queries.withColumnRenamed("text", "query_text"),
                   qrels.query_id == queries.id)
        .drop("id")
        .join(
            indexed.select(
                F.col("id").alias("corp_id"), F.col("text").alias("pos_text")
            ),
            on="corp_id",
        )
    )
    neg_idx = F.pmod(F.xxhash64("query_id", "corp_id"), F.lit(n_corpus)) + 1
    with_neg = pos.withColumn("neg_idx", neg_idx).join(
        indexed.select(
            F.col("corp_idx").alias("neg_idx"),
            F.col("id").alias("neg_id"),
            F.col("text").alias("neg_text"),
        ),
        on="neg_idx",
    )
    # reject draws that hit a true citation of the same query
    collisions = qrels.select(
        F.col("query_id"), F.col("corp_id").alias("neg_id")
    )
    return (
        with_neg.join(collisions, on=["query_id", "neg_id"], how="left_anti")
        .select("query_id", "query_text", "pos_text", "neg_text")
    )
