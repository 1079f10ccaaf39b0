"""Analyses over the extracted corpus (reference `scrc/analyses/`).

Fundamental-importance analysis (`analyses/fundamental_importance.py:
30-263`): find decisions discussing a "legal question of fundamental
importance", split the matching text into sentences, flag sentences
whose tokens carry a negation word, and summarize negated /
not-negated counts per year, legal area and language.

Spark-first shape: the whole chain is column expressions — sentence
split (lookbehind regex), phrase membership (``exists`` over a literal
phrase array), token-level negation check (``arrays_overlap`` against
a broadcast-literal negation vocabulary) — no UDF, no collect; the
reference's nltk sentence/word tokenizers collapse to regex splits
(its own comment concedes sentence splitting in legal text is
approximate either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import WS_CHARS

# language -> phrases announcing a fundamental-importance question
# (condensed from `fundamental_importance.py:37-42`)
FUNDAMENTAL_PHRASES: dict[str, list[str]] = {
    "de": [
        "Rechtsfrage von grundsätzlicher Bedeutung",
        "Frage von grundsätzlicher Bedeutung",
    ],
    "fr": ["question juridique de principe"],
    "it": [
        "questione di diritto di importanza fondamentale",
        "questione giuridica d'importanza fondamentale",
    ],
}

# language -> negation vocabulary (condensed from the reference's
# `legal_info/negations.json` word lists)
NEGATION_WORDS: dict[str, list[str]] = {
    "de": [
        "kein", "keine", "keiner", "nicht", "nichts", "nie", "niemals",
        "keinesfalls", "keineswegs", "mangels", "weder", "verneint",
    ],
    "fr": ["pas", "plus", "jamais", "aucun", "aucune", "ni", "sans", "nie"],
    "it": ["non", "nessun", "nessuna", "mai", "senza", "né", "nega"],
}

_SENTENCE_SPLIT = rf"(?<=[.!?])[{WS_CHARS}]+"
_WORD_SPLIT = r"[^\wäöüéèàçì']+"


def fundamental_importance_sentences(
    tables: dict[str, DataFrame], section: str = "considerations"
) -> DataFrame:
    """One row per sentence that mentions a fundamental-importance
    phrase, with its negation flag — the reference's
    sentencize → filter → contains_negation chain (`:223-232,202-210`)."""
    sec = tables["section"].where(F.col("section") == section).select(
        "decision_id", "language", F.col("section_text").alias("text")
    )
    phrases = F.element_at(
        F.create_map(
            *[
                x
                for lang, ps in FUNDAMENTAL_PHRASES.items()
                for x in (F.lit(lang), F.array(*[F.lit(p) for p in ps]))
            ]
        ),
        F.col("language"),
    )
    negations = F.element_at(
        F.create_map(
            *[
                x
                for lang, ws in NEGATION_WORDS.items()
                for x in (F.lit(lang), F.array(*[F.lit(w) for w in ws]))
            ]
        ),
        F.col("language"),
    )
    sentences = sec.select(
        "decision_id",
        "language",
        phrases.alias("phrases"),
        negations.alias("negations"),
        F.explode(F.split("text", _SENTENCE_SPLIT)).alias("sentence"),
    ).where(
        F.exists("phrases", lambda p: F.col("sentence").contains(p))
    )
    tokens = F.filter(
        F.split(F.lower("sentence"), _WORD_SPLIT), lambda t: t != ""
    )
    return sentences.select(
        "decision_id",
        "language",
        "sentence",
        F.arrays_overlap(tokens, "negations").alias("negated"),
    )


def fundamental_importance_summary(
    tables: dict[str, DataFrame],
    group_by: str = "year",
    section: str = "considerations",
) -> DataFrame:
    """The per-group summary table (`create_summary_df`, `:180-199`):
    negated / not-negated / total decision counts and the not-negated
    percentage, grouped by year, legal area or language.  A decision
    counts as negated when ANY of its matching sentences is (the
    reference's row-level flag aggregated the same way)."""
    from swisscourtrulingcorpus_spark.plans.datasets_extra import (
        _CHAMBER_LAW_AREA,
    )

    sent = fundamental_importance_sentences(tables, section=section)
    per_decision = sent.groupBy("decision_id", "language").agg(
        F.max(F.col("negated").cast("int")).cast("boolean").alias("negated")
    )
    meta = tables["decision"].select(
        "decision_id",
        F.year("date").alias("year"),
        F.col("chamber"),
    )
    law_area = F.element_at(
        F.create_map(
            *[
                x
                for k, v in _CHAMBER_LAW_AREA.items()
                for x in (F.lit(k), F.lit(v))
            ]
        ),
        F.col("chamber"),
    )
    joined = per_decision.join(meta, on="decision_id").withColumn(
        "legal_area", law_area
    )
    return (
        joined.groupBy(group_by)
        .agg(
            F.sum(F.col("negated").cast("long")).alias("negated"),
            F.sum((~F.col("negated")).cast("long")).alias("not_negated"),
            F.count(F.lit(1)).alias("total"),
        )
        .withColumn(
            "not_negated_percentage",
            F.round(F.lit(100.0) * F.col("not_negated") / F.col("total"), 2),
        )
    )


# ---------------------------------------------------------------------------
# Building-violations analysis (`analyses/building_violations.py:12-102`)
# ---------------------------------------------------------------------------

# language -> federal office of spatial development party name
# (`building_violations.py:23-27`)
ARE_NAMES: dict[str, str] = {
    "de": "Bundesamt für Raumentwicklung",
    "fr": "Office fédéral du développement territorial",
    "it": "Ufficio federale dello sviluppo territoriale",
}

# language -> spatial-planning law abbreviation (`building_violations.py:28`)
BUILDING_LAW_ABBRS: dict[str, str] = {"de": "RPG", "fr": "LAT", "it": "LPT"}


def _lang_case(mapping: dict[str, str], lang_col: str) -> F.Column:
    expr = F.lit(None).cast("string")
    for lang, v in sorted(mapping.items()):
        expr = F.when(F.col(lang_col) == lang, F.lit(v)).otherwise(expr)
    return expr


def building_violations_cases(
    df: DataFrame, lang_col: str, considerations_col: str
) -> DataFrame:
    """The retrieval predicate (`building_violations.py:43`): decisions
    whose considerations cite Art. 24b-e of the spatial-planning law,
    with the law abbreviation in the ruling's own language.  The
    language-dependent regex is a column-built pattern fed to rlike —
    still a scan-side JVM predicate, one pass."""
    pattern = F.concat(
        F.lit(r"[Aa]rt\. 24[bcde].{1,20}"),
        _lang_case(BUILDING_LAW_ABBRS, lang_col),
    )
    return df.where(F.regexp_like(F.col(considerations_col), pattern))


def building_violations_summary(
    cases: DataFrame,
    lang_col: str,
    plaintiff_col: str,
    defendant_col: str,
    judgments_col: str,
) -> DataFrame:
    """The five-cohort approval summary (`building_violations.py:60-83`):
    all cases / ARE-is-plaintiff / non-ARE-is-plaintiff /
    ARE-is-defendant / non-ARE-is-defendant, each with approval count,
    total and approval percentage.  Outcomes reduce through the REAL
    F9 binary-judgment conversion (`functions/domain.py::
    normalize_binary_judgment`); NULL (irreducible/procedural) rows
    stay in the totals, as in the reference.

    Spark-first: each case emits its three cohort memberships through
    one literal-array explode (no 5× self-scan as the pandas original
    does), then a single groupBy — one pass, one small shuffle.
    Percentage is unrounded exact-int division (the reference rounds
    to 2 decimals for display; rounding doubles is engine-dependent
    and belongs in the presentation layer)."""
    from swisscourtrulingcorpus_spark.functions.domain import (
        normalize_binary_judgment,
    )

    are_name = _lang_case(ARE_NAMES, lang_col)
    is_are_p = F.col(plaintiff_col) == are_name
    is_are_d = F.col(defendant_col) == are_name
    binary = normalize_binary_judgment(judgments_col)
    cohorts = F.array(
        F.lit("all cases"),
        F.when(is_are_p, F.lit("ARE is plaintiff")).otherwise(
            F.lit("non-ARE is plaintiff")
        ),
        F.when(is_are_d, F.lit("ARE is defendant")).otherwise(
            F.lit("non-ARE is defendant")
        ),
    )
    return (
        cases.select(
            F.explode(cohorts).alias("cohort"),
            F.when(binary == "approval", 1).otherwise(0).alias("__app"),
        )
        .groupBy("cohort")
        .agg(
            F.sum("__app").alias("approvals"),
            F.count(F.lit(1)).alias("total"),
        )
        .select(
            "cohort",
            "approvals",
            "total",
            (F.col("approvals") * 100.0 / F.col("total")).alias(
                "approval_percentage"
            ),
        )
    )
