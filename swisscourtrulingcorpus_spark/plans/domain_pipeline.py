"""The corpus-construction pipeline + dataset creators (SURVEY.md §2.9, §3).

The reference's `scrc.main` runs scraper → text-to-db → language-ID →
cleaner → section splitter → citation/judgment/lower-court/composition
extractors → dataset creators, with Postgres as the inter-stage IR
(`scrc/main.py:96-136`).  Here the pipeline is ONE linear DataFrame
DAG — each stage a transformation, tables materialized (or cached)
between stages — and each dataset creator is a ~30-line DataFrame
program ending in a date-stratified split column.

Scale shape: the per-document extraction work is Arrow-batched
pandas_udfs (map-side only, no shuffle); the relational assembly is
the J2 map_join pattern (aggregate-before-join); the only shuffles are
the groupBys on decision_id and the final split write.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.extraction import (
    clean_text_udf,
    extract_citations_udf,
    extract_composition_udf,
    extract_judgments_udf,
    split_sections_udf,
    uuid5_col,
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

    def memoized(self, key: str, build):
        """``build()`` once per ``key``; also holds shared intermediates
        that are not tables themselves."""
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def __getitem__(self, key):
        return self.memoized(key, self._thunks[key])

    def __contains__(self, key):
        return key in self._thunks

    def __iter__(self):
        return iter(self._thunks)

    def __len__(self):
        return len(self._thunks)


def run_extraction_pipeline(raw: DataFrame) -> LazyTables:
    """raw(file_name, raw_text, spider, chamber, date, ...) → the core
    domain tables: decision, section, citation, judgment, composition.

    Mirrors §3.1's stage order; decision_id is the reference's UUIDv5
    of file_name (`sql_select_utils.py:168`) so ids are stable.

    r12 (session 2): returns a :class:`LazyTables` mapping — the shared
    ``base`` / ``section_arrays`` frames build eagerly (every consumer
    needs them), each derived table on first access.  Construction code
    and plans are byte-identical to the eager form
    (tools/pipeline_fingerprint.py before/after).
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
    # clean_text stays OUT of the cached base (r11 optimization, guide
    # §4/§5): the cache materializes EVERY column on population, so
    # keeping clean_text inside it ran the regex-heavy cleaning
    # pandas_udf for every pipeline consumer — including the
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

    # E3 section splitting: ONE UDF pass caching the per-doc section
    # ARRAY (r11 optimization, guide §2.3/§8): the former cache held
    # the EXPLODED rows, so regrouping them per decision (the dataset
    # creators' pivot) cost a full shuffle of section text plus a
    # decisions⋈pivot join — moving payload bytes to reassemble a
    # grouping the splitter emitted in the first place.  Cached as one
    # array row per doc WITH the slim meta columns, the section table
    # is a lazy map-side explode and the judgment creator's pivot is a
    # map-side array lookup: zero shuffles, zero joins, same values
    # (the splitter emits at most one entry per section type, so
    # first() per (doc, section) ≡ the array lookup).
    section_arrays = base.select(
        "decision_id",
        "spider",
        "chamber",
        "date",
        "language",
        split_sections_udf("raw_text", "language").alias("__secs"),
    ).cache()
    def _sections() -> DataFrame:
        return (
            section_arrays.select(
                "decision_id",
                "language",
                F.explode("__secs").alias("s"),
            )
            .select(
                "decision_id",
                "language",
                F.col("s.section").alias("section"),
                F.col("s.text").alias("section_text"),
            )
            .withColumn("num_tokens", token_count_ws("section_text"))
        )

    # E4 citations from considerations + full text
    def _citations() -> DataFrame:
        return (
            tables["section"].where(F.col("section") == "considerations")
            .select(
                "decision_id",
                F.explode(extract_citations_udf("section_text")).alias("c"),
            )
            .select("decision_id", "c.*")
        )

    # E5 judgments from the rulings section
    def _judgments() -> DataFrame:
        return (
            tables["section"].where(F.col("section") == "rulings")
            .select(
                "decision_id",
                extract_judgments_udf("section_text", "language").alias(
                    "judgments"
                ),
            )
        )

    # E7 court composition from the header; E6 lower court + E8
    # procedural participation share the cached header frame, built on
    # first access (one cache entry, like the former eager form)
    def _headers() -> DataFrame:
        return tables.memoized(
            "__headers",
            lambda: tables["section"].where(F.col("section") == "header").cache(),
        )

    def _composition() -> DataFrame:
        return _headers().select(
            "decision_id",
            extract_composition_udf("section_text").alias("comp"),
        ).select("decision_id", "comp.*")

    def _lower_court() -> DataFrame:
        from swisscourtrulingcorpus_spark.extraction import (
            extract_lower_court_udf,
        )

        return (
            _headers().select(
                "decision_id",
                extract_lower_court_udf("section_text").alias("lc"),
            )
            .select("decision_id", "lc.*")
            .where(F.col("court").isNotNull())
        )

    def _participation() -> DataFrame:
        from swisscourtrulingcorpus_spark.extraction import (
            extract_participation_udf,
        )

        return (
            _headers().select(
                "decision_id",
                extract_participation_udf("section_text").alias("pp"),
            )
            .select("decision_id", "pp.*")
            .where(F.col("plaintiffs").isNotNull())
        )

    tables = LazyTables({
        "decision": _decisions,
        "section": _sections,
        "section_arrays": lambda: section_arrays,
        "citation": _citations,
        "judgment": _judgments,
        "composition": _composition,
        "lower_court": _lower_court,
        "participation": _participation,
    })
    return tables


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


def _sections_pivot(sections: DataFrame) -> DataFrame:
    """Flatten section rows to one column per feature section (the
    reference's expand_df, `dataset_creator.py:779-817`) — a pivot,
    replacing its O(n²) row patching with one shuffle."""
    return (
        sections.groupBy("decision_id")
        .pivot("section", ["facts", "considerations", "rulings", "header"])
        .agg(F.first("section_text"))
    )


def judgment_dataset(tables: dict[str, DataFrame]) -> DataFrame:
    """D1 JudgmentDatasetCreator (`judgment_dataset_creator.py:13-56`):
    facts+considerations features, binary label via F9, date splits.

    Judgments are extracted from the PIVOTED rulings column rather than
    joined from the judgment table: the pivot already carries the
    rulings text one-row-per-decision, so running the UDF post-pivot
    removes a whole shuffled join on decision_id (and a second UDF pass
    over the section rows).  Same values — null rulings → null label →
    filtered, exactly like a join miss.

    r11 optimization: when the pipeline provides the cached per-doc
    section arrays (``section_arrays``), the pivot is a map-side array
    lookup on that frame — which already carries the decision meta
    columns — so the groupBy-pivot shuffle AND the decisions⋈pivot
    join disappear; the creator is a pure map chain over the cache.
    ``get(filter(...), 0)`` ≡ the pivot's ``first()`` because the
    splitter emits at most one entry per section type, and a doc with
    no sections gets NULLs exactly like the former left-join miss."""
    from swisscourtrulingcorpus_spark.extraction import extract_judgments_udf

    sa = tables.get("section_arrays")
    if sa is not None:
        def pick(sec: str) -> F.Column:
            return F.get(
                F.expr(f"filter(__secs, x -> x.section = {sql_str(sec)})"), 0
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
        )
    else:
        decisions = tables["decision"]
        pivot = _sections_pivot(tables["section"])
        df = decisions.select(
            "decision_id", "spider", "chamber", "date", "language"
        ).join(pivot, on="decision_id", how="left")
    df = (
        df.withColumn(
            "judgments", extract_judgments_udf("rulings", "language")
        )
        .withColumn("label", normalize_binary_judgment("judgments"))
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
