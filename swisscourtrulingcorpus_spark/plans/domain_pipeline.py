"""The corpus-construction pipeline + dataset creators (SURVEY.md §2.9, §3).

The reference's `scrc.main` runs scraper → text-to-db → language-ID →
cleaner → section splitter → citation/judgment/lower-court/composition
extractors → dataset creators, with Postgres as the inter-stage IR
(`scrc/main.py:96-136`).  Here the pipeline is ONE linear DataFrame
DAG — each stage a transformation, tables materialized (or cached)
between stages — and each dataset creator is a ~30-line DataFrame
program ending in a date-stratified split column.

Scale shape: the per-document extraction work is two Arrow-batched
pandas UDFs (map-side only, no shuffle): clean_text on the decision
table, and one document pass — splitter plus the section extractors —
whose cached output every derived table selects from; the relational
assembly is the J2 map_join pattern (aggregate-before-join); the only
shuffles are the groupBys on decision_id and the final split write.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from swisscourtrulingcorpus_spark.extraction import clean_text_udf, uuid5_col
from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf
from swisscourtrulingcorpus_spark.extraction.citations import (
    CITATION_SCHEMA,
    extract_citations_py,
)
from swisscourtrulingcorpus_spark.extraction.composition import (
    COMPOSITION_SCHEMA,
    extract_composition_py,
)
from swisscourtrulingcorpus_spark.extraction.judgments import (
    extract_judgments_py,
)
from swisscourtrulingcorpus_spark.extraction.lower_court import (
    LOWER_COURT_SCHEMA,
    extract_lower_court_py,
)
from swisscourtrulingcorpus_spark.extraction.participation import (
    PARTICIPATION_SCHEMA,
    extract_participation_py,
)
from swisscourtrulingcorpus_spark.extraction.sections import (
    SECTION_SCHEMA,
    split_sections_py,
)
from swisscourtrulingcorpus_spark.functions.domain import (
    normalize_binary_judgment,
)
from swisscourtrulingcorpus_spark.functions.hashing import sql_str
from swisscourtrulingcorpus_spark.functions.text import (
    language_id_score,
    token_count_ws,
)
from swisscourtrulingcorpus_spark.operators.relational import (
    asof_join,
    date_stratified_split,
    map_join,
)


class LazyTables(Mapping):
    """Pipeline-table mapping whose values CONSTRUCT on first access
    (r12, session 2), so a consumer that reads one table (the bench's
    ``judgment_dataset`` path reads only ``section_arrays``) pays no
    driver-side construction for the others.  Plans are unchanged.

    A read-only ``Mapping`` over zero-arg thunks plus one memo dict, so
    every mapping idiom (``[]``, ``.get``, ``in``, iteration,
    ``dict(tables)``, ``{**tables}``) yields built DataFrames, never a
    placeholder.  Two reads of one key return the SAME DataFrame object
    (cache() marks, exactly-one-cache-entry behavior)."""

    def __init__(self, thunks: dict):
        self._thunks = thunks
        self._memo: dict = {}

    def __getitem__(self, key):
        if key not in self._memo:
            self._memo[key] = self._thunks[key]()
        return self._memo[key]

    def __contains__(self, key):
        return key in self._thunks

    def __iter__(self):
        return iter(self._thunks)

    def __len__(self):
        return len(self._thunks)


DOCUMENT_SCHEMA = StructType(
    [
        StructField("sections", SECTION_SCHEMA),
        StructField("citations", CITATION_SCHEMA),
        StructField("judgments", ArrayType(StringType())),
        StructField("composition", COMPOSITION_SCHEMA),
        StructField("lower_court", LOWER_COURT_SCHEMA),
        StructField("participation", PARTICIPATION_SCHEMA),
    ]
)


def _has_section(section: str) -> F.Column:
    """The cached document has a ``section`` entry."""
    return F.expr(f"exists(__doc.sections, x -> x.section = {sql_str(section)})")


def run_extraction_pipeline(raw: DataFrame) -> LazyTables:
    """raw(file_name, raw_text, spider, chamber, date, ...) → the core
    domain tables: decision, section, citation, judgment, composition,
    lower_court, participation.

    Mirrors §3.1's stage order; decision_id is the reference's UUIDv5
    of file_name (`sql_select_utils.py:168`) so ids are stable.

    Returns a :class:`LazyTables` mapping: the shared ``base`` /
    ``section_arrays`` frames build eagerly (every consumer needs
    them), each derived table on first access.  The build crosses into
    Python twice: clean_text on the decision write, and one document
    pass cached as ``section_arrays``.
    """
    base = raw.select(
        uuid5_col("file_name").alias("decision_id"),
        "file_name",
        "spider",
        "chamber",
        "date",
        F.col("raw_text"),
    )
    # E1 language ID: heuristic first pass (JVM-side); the reference
    # fills only unknown rows (language_id = -1) — here all rows.
    base = base.withColumn("language", language_id_score("raw_text"))
    # the heuristic 'und' rows fall back to the spider's dominant
    # language (broadcast dim join in real data; literal map here)
    base = base.withColumn(
        "language",
        F.when(F.col("language") != "und", F.col("language")).otherwise(
            F.when(F.col("spider") == "VD_TC", "fr")
            .when(F.col("spider") == "TI_TA", "it")
            .otherwise("de")
        ),
    ).cache()
    # clean_text stays OUT of the cached base and out of the document
    # pass (r11 optimization, guide §4/§5): a cache materializes EVERY
    # column on population, so keeping clean_text inside one ran the
    # regex-heavy cleaning for every pipeline consumer — including the
    # judgment/criticality/coverage paths that never read it.  Derived
    # lazily here, the column is computed only by consumers that
    # actually select it (the decision-table write), exactly once,
    # with the decision schema unchanged.
    def _decisions() -> DataFrame:
        return base.select(
            "decision_id",
            "file_name",
            "spider",
            "chamber",
            "date",
            clean_text_udf("raw_text").alias("clean_text"),
            "raw_text",
            "language",
        )

    # E3–E8 in ONE Python pass per document (the reference's extractor
    # chain over one decision, `abstract_extractor.py:147-165`): the
    # splitter runs once, and each extractor reads its section of that
    # split — citations the considerations, judgments the rulings,
    # composition / lower court / participation the header.  The pass
    # returns the section array plus the five outputs, cached as one
    # struct per doc WITH the slim meta columns, so every derived table
    # is a JVM select/explode of the cache and the judgment creator's
    # pivot is a map-side array lookup: zero shuffles, zero joins, no
    # further Python stage.  (A filter on a Python UDF's output would
    # evaluate the UDF twice: once under the filter, once above it.)
    # Defined here, not at module level, so it pickles by value and the
    # Python workers import only the extraction modules.
    def document_pass(text, language):
        sections = split_sections_py(text, language)
        first: dict = {}
        for s in sections:
            first.setdefault(s["section"], s["text"])
        header = first.get("header")
        return {
            "sections": sections,
            "citations": extract_citations_py(first.get("considerations")),
            "judgments": extract_judgments_py(first.get("rulings"), language),
            "composition": extract_composition_py(header),
            "lower_court": extract_lower_court_py(header),
            "participation": extract_participation_py(header),
        }

    section_arrays = base.select(
        "decision_id",
        "spider",
        "chamber",
        "date",
        "language",
        row_udf("document_pass", document_pass, DOCUMENT_SCHEMA)(
            "raw_text", "language"
        ).alias("__doc"),
    ).cache()

    def _sections() -> DataFrame:
        return (
            section_arrays.select(
                "decision_id",
                "language",
                F.explode("__doc.sections").alias("s"),
            )
            .select(
                "decision_id",
                "language",
                F.col("s.section").alias("section"),
                F.col("s.text").alias("section_text"),
            )
            .withColumn("num_tokens", token_count_ws("section_text"))
        )

    def _citations() -> DataFrame:
        return section_arrays.select(
            "decision_id", F.explode("__doc.citations").alias("c")
        ).select("decision_id", "c.*")

    def _judgments() -> DataFrame:
        return section_arrays.where(_has_section("rulings")).select(
            "decision_id", F.col("__doc.judgments").alias("judgments")
        )

    def _composition() -> DataFrame:
        return section_arrays.where(_has_section("header")).select(
            "decision_id", "__doc.composition.*"
        )

    def _lower_court() -> DataFrame:
        return section_arrays.select(
            "decision_id", "__doc.lower_court.*"
        ).where(F.col("court").isNotNull())

    def _participation() -> DataFrame:
        return section_arrays.select(
            "decision_id", "__doc.participation.*"
        ).where(F.col("plaintiffs").isNotNull())

    return LazyTables({
        "decision": _decisions,
        "section": _sections,
        "section_arrays": lambda: section_arrays,
        "citation": _citations,
        "judgment": _judgments,
        "composition": _composition,
        "lower_court": _lower_court,
        "participation": _participation,
    })


def resolve_lower_court_ids(
    lower_court: DataFrame, court_dim: DataFrame
) -> DataFrame:
    """J8 replacement: the reference resolves extracted court/canton
    names to dim ids with per-row SELECTs during save
    (`sql_select_utils.py:155-171`, lower_court save path); here it is
    ONE broadcast join on (display name, canton) — same result, zero
    round trips, any scale."""
    dim = court_dim.select(
        F.col("display_name").alias("court"),
        F.col("canton"),
        "court_id",
        "court_string",
    )
    return lower_court.join(
        F.broadcast(dim), on=["court", "canton"], how="left"
    )


def _sections_pivot(sections: DataFrame, names: list[str]) -> DataFrame:
    """Flatten section rows to one column per section type in ``names``
    (the reference's expand_df, `dataset_creator.py:779-817`) — a pivot,
    replacing its O(n²) row patching with one shuffle of only the
    wanted types.  ``first`` is exact: the splitter emits at most one
    row per section type and decision."""
    return (
        sections.where(F.col("section").isin(names))
        .groupBy("decision_id")
        .pivot("section", names)
        .agg(F.first("section_text"))
    )


def judgment_dataset(tables: dict[str, DataFrame]) -> DataFrame:
    """D1 JudgmentDatasetCreator (`judgment_dataset_creator.py:13-56`):
    facts+considerations features, binary label via F9, date splits.

    When the pipeline provides the cached per-doc document pass
    (``section_arrays``), the creator is a pure map chain over that
    cache: the pivot is a map-side array lookup on the section array,
    which already carries the decision meta columns, and the judgments
    are the pass's own.  ``get(filter(...), 0)`` ≡ the pivot's
    ``first()`` because the splitter emits at most one entry per
    section type, and a doc with no sections gets NULLs exactly like
    the former left-join miss.

    Tables read back from disk have no ``section_arrays``: then the
    pivot is a groupBy on the section table joined to the decisions,
    and judgments are extracted from the PIVOTED rulings column rather
    than joined from the judgment table (one row per decision already,
    so no second join).  Same values either way — null rulings → null
    label → filtered, exactly like a join miss."""
    sa = tables.get("section_arrays")
    if sa is not None:
        def pick(sec: str) -> F.Column:
            return F.get(
                F.expr(f"filter(__doc.sections, x -> x.section = {sql_str(sec)})"),
                0,
            )["text"]

        df = sa.select(
            "decision_id",
            "spider",
            "chamber",
            "date",
            "language",
            pick("facts").alias("facts"),
            pick("considerations").alias("considerations"),
            pick("rulings").alias("rulings"),
            pick("header").alias("header"),
            F.col("__doc.judgments").alias("judgments"),
        )
    else:
        from swisscourtrulingcorpus_spark.extraction import (
            extract_judgments_udf,
        )

        decisions = tables["decision"]
        pivot = _sections_pivot(
            tables["section"], ["facts", "considerations", "rulings", "header"]
        )
        df = decisions.select(
            "decision_id", "spider", "chamber", "date", "language"
        ).join(pivot, on="decision_id", how="left").withColumn(
            "judgments", extract_judgments_udf("rulings", "language")
        )
    df = (
        df.withColumn("label", normalize_binary_judgment("judgments"))
        .where(F.col("label").isNotNull())          # P8 dropna(judgments)
        .where(F.col("facts").isNotNull())          # D1 filter FACTS
        .withColumn("year", F.year("date"))
    )
    return date_stratified_split(
        df, train_start=1900, val_start=2016, test_start=2018, secret_start=2023
    )


def criticality_dataset(
    tables: dict[str, DataFrame], leading: DataFrame
) -> DataFrame:
    """D2 CriticalityDatasetCreator (`criticality_dataset_creator.py:
    57-385`): citation-count labels via weighted counts and quartile
    boundaries (A7–A9), with the J6 as-of page snap onto the
    leading-rulings start pages."""
    cits = tables["citation"].where(F.col("type") == "ruling")
    snapped = asof_join(
        cits.select("decision_id", "year", "volume", F.col("page").alias("cited_page")),
        leading.select("year", "volume", F.col("start_page")),
        partition_keys=["year", "volume"],
        left_on="cited_page",
        right_on="start_page",
        tolerance=F.lit(20),
    ).where(F.col("asof_start_page").isNotNull())
    cited_counts = (
        snapped.groupBy("year", "volume", "asof_start_page")
        .agg(F.countDistinct("decision_id").alias("citation_count"))
    )
    # quartile boundaries (A9 — exact percentile like pandas describe())
    q = cited_counts.agg(
        F.expr("percentile(citation_count, 0.75)").alias("q75"),
        F.expr("percentile(citation_count, 0.5)").alias("q50"),
        F.expr("percentile(citation_count, 0.25)").alias("q25"),
    )
    return cited_counts.crossJoin(F.broadcast(q)).withColumn(
        "citation_label",
        F.when(F.col("citation_count") >= F.col("q75"), "critical-1")
        .when(F.col("citation_count") >= F.col("q50"), "critical-2")
        .when(F.col("citation_count") >= F.col("q25"), "critical-3")
        .otherwise("critical-4"),
    )


def pretraining_dataset(tables: dict[str, DataFrame]) -> DataFrame:
    """D5 PretrainingDatasetCreator (`pretraining_dataset_creator.py:
    12-40`): full_text only, everything in one 'train' split."""
    sections = tables["section"]
    return (
        sections.where(F.col("section") == "full_text")
        .select("decision_id", F.col("section_text").alias("text"), "num_tokens")
        .where(F.col("num_tokens") >= 10)
        .withColumn("split", F.lit("train"))
    )


def coverage_report(tables: dict[str, DataFrame]) -> DataFrame:
    """The reference's coverage metric (§5.2: found/total % per stage,
    `abstract_extractor.py:185-219`, section coverage `section_splitter.py:
    101-116`) — one row per spider with per-extractor coverage %."""
    decisions = tables["decision"].select("decision_id", "spider")
    judged = tables["judgment"].withColumn(
        "has_judgment", F.size(F.col("judgments")) > 0
    ).select("decision_id", "has_judgment")
    with_rulings = (
        tables["section"].where(F.col("section") == "rulings")
        .select("decision_id", F.lit(True).alias("has_rulings"))
    )
    with_cits = (
        tables["citation"].select("decision_id").distinct()
        .withColumn("has_citations", F.lit(True))
    )
    with_comp = (
        tables["composition"].where(F.col("president").isNotNull())
        .select("decision_id", F.lit(True).alias("has_president"))
    )

    def pct(flag: str) -> F.Column:
        return (
            F.sum(F.when(F.col(flag), 1).otherwise(0)) * 100.0
            / F.count(F.lit(1))
        ).alias(f"{flag[4:]}_pct")

    return (
        decisions.join(judged, on="decision_id", how="left")
        .join(with_rulings, on="decision_id", how="left")
        .join(with_cits, on="decision_id", how="left")
        .join(with_comp, on="decision_id", how="left")
        .groupBy("spider")
        .agg(
            F.count(F.lit(1)).alias("n_decisions"),
            pct("has_judgment"),
            pct("has_rulings"),
            pct("has_citations"),
            pct("has_president"),
        )
        .withColumn("coverage_pct", F.col("judgment_pct"))
    )
