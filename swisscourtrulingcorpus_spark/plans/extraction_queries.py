"""Round-3 gate queries exercising the extraction chain end-to-end.

The extraction operators (section split → judgment outcome, citation
extraction, doc2doc TF-IDF relevance) are pandas_udf-backed and were
previously pytest-only; these gates give the driver a hard CORRECTNESS
row for the UDF layer (VERDICT r02, next-round items #4 and #6).

The synthetic ``documents`` table is word-soup, so each gate CONSTRUCTS
deterministic court-ruling-shaped text from ``doc_id`` arithmetic,
drives the real pandas_udf chain over it, and lets DuckDB compute the
expected result independently from the same arithmetic — the oracle
verifies the chain maps known inputs to exactly the expected structured
outputs (UDF plumbing, paragraph fold, marker matching, explode, agg),
not a re-implementation of the regexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.plans.text_queries import _words_duck
from swisscourtrulingcorpus_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# extraction_outcome_counts: clean → split → judgment, per-language
# ---------------------------------------------------------------------------

_LANGS = ["de", "fr", "it"]

# outcome index (doc_id % 7) x language -> the dispositive clause placed
# in the numbered ruling; chosen so the judgment markers yield exactly
# the expected outcome set (incl. the de partial-dismissal clause whose
# inadmissibility reservation legitimately yields BOTH outcomes, as in
# the reference's marker semantics)
_RULING_CLAUSES: list[list[str]] = [
    # approval
    ["Die Beschwerde wird gutgeheissen.",
     "Le recours est admis.",
     "Il ricorso è accolto."],
    # partial_approval
    ["Die Beschwerde wird teilweise gutgeheissen.",
     "Le recours est partiellement admis.",
     "Il ricorso è parzialmente accolto."],
    # dismissal
    ["Die Beschwerde wird abgewiesen.",
     "Le recours est rejeté.",
     "Il ricorso è respinto."],
    # partial_dismissal
    ["Die Beschwerde wird abgewiesen, soweit darauf einzutreten ist.",
     "Le recours est rejeté dans la mesure où il est recevable.",
     "Nella misura in cui è ammissibile, il ricorso è respinto."],
    # inadmissible
    ["Auf die Beschwerde wird nicht eingetreten.",
     "Le recours est irrecevable.",
     "Il ricorso è inammissibile."],
    # write_off
    ["Die Beschwerde wird abgeschrieben.",
     "Le recours est sans objet.",
     "La causa è stralciata dai ruoli."],
    # unification
    ["Die Verfahren werden vereinigt.",
     "Les causes sont jointes.",
     "Le cause sono congiunte."],
]

# the (o_idx, lang) -> expected outcomes mapping the oracle joins on
_EXPECTED: list[tuple[int, str, str]] = []
for _o, _names in enumerate(
    ["approval", "partial_approval", "dismissal", "partial_dismissal",
     "inadmissible", "write_off", "unification"]
):
    for _lang in _LANGS:
        _EXPECTED.append((_o, _lang, _names))
# the de partial-dismissal clause also carries the standalone
# inadmissibility reservation marker
_EXPECTED.append((3, "de", "inadmissible"))

_DOC_TMPL = {
    "de": (
        "Besetzung: Richter Muster\n"
        "Sachverhalt:\n"
        "Die Partei reichte ein Gesuch ein.\n"
        "Erwägungen:\n"
        "Die Rügen sind zu prüfen.\n"
        "Demnach erkennt das Gericht:\n"
        "1. {clause}\n"
        "2. Die Gerichtskosten trägt die unterliegende Partei.\n"
        "Rechtsmittelbelehrung"
    ),
    "fr": (
        "Composition: juge Martin\n"
        "En fait\n"
        "La partie a déposé le recours.\n"
        "En droit\n"
        "Le grief doit être examiné.\n"
        "Par ces motifs\n"
        "1. {clause}\n"
        "2. Les frais judiciaires sont mis à la charge de la partie.\n"
        "Voie de recours"
    ),
    "it": (
        "Composizione: giudice Rossi\n"
        "In fatto\n"
        "La parte ha presentato ricorso.\n"
        "In diritto\n"
        "Il gravame va esaminato.\n"
        "Per questi motivi\n"
        "1. {clause}\n"
        "2. Le spese giudiziarie sono poste a carico della parte.\n"
        "In nome del Tribunale"
    ),
}


def q_extraction_outcome_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3/E5 end-to-end: build a ruling-shaped document per row (lang
    = doc_id % 3, dispositive clause = doc_id % 7), run the REAL section
    splitter and judgment extractor UDFs, and count (lang, outcome)
    documents.  The whole chain is map-side (two Arrow-batched
    pandas_udfs, no shuffle until the final tiny agg) — the same shape
    it has at 100 TB."""
    from swisscourtrulingcorpus_spark.extraction.judgments import (
        extract_judgments_udf,
    )
    from swisscourtrulingcorpus_spark.extraction.sections import (
        split_sections_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    l_idx = (F.col("doc_id") % 3).cast("int")
    o_idx = (F.col("doc_id") % 7).cast("int")
    lang = F.element_at(F.array(*[F.lit(x) for x in _LANGS]), l_idx + 1)
    # 21-slot clause lookup, indexed o_idx*3 + l_idx
    clauses = F.array(
        *[F.lit(c) for row in _RULING_CLAUSES for c in row]
    )
    clause = F.element_at(clauses, o_idx * 3 + l_idx + 1)
    text = F.lit(None).cast("string")
    for lg, tmpl in _DOC_TMPL.items():
        head, tail = tmpl.split("{clause}")
        text = F.when(
            lang == lg, F.concat(F.lit(head), clause, F.lit(tail))
        ).otherwise(text)

    built = docs.select("doc_id", lang.alias("lang"), text.alias("text"))
    rulings = (
        built.select(
            "doc_id",
            "lang",
            F.explode(split_sections_udf("text", "lang")).alias("s"),
        )
        .where(F.col("s.section") == "rulings")
        .select("doc_id", "lang", F.col("s.text").alias("ruling_text"))
    )
    return (
        rulings.select(
            "lang",
            F.explode(
                extract_judgments_udf("ruling_text", "lang")
            ).alias("outcome"),
        )
        .groupBy("lang", "outcome")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_EXPECTED_VALUES = ",\n  ".join(
    f"({o}, '{lang}', '{name}')" for o, lang, name in _EXPECTED
)

EXTRACTION_OUTCOME_ORACLE = f"""
WITH m(o_idx, lang, outcome) AS (VALUES
  {_EXPECTED_VALUES}),
d AS (
  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'de' WHEN 1 THEN 'fr' ELSE 'it' END AS lang,
         CAST(doc_id % 7 AS INT) AS o_idx
  FROM documents)
SELECT d.lang, m.outcome, count(*) AS n_docs
FROM d JOIN m ON m.o_idx = d.o_idx AND m.lang = d.lang
GROUP BY d.lang, m.outcome
"""


# ---------------------------------------------------------------------------
# citation_type_counts: the citation UDF over constructed citation text
# ---------------------------------------------------------------------------

def q_citation_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 end-to-end: every document cites one published ruling (BGE
    with considerand tail), one docket-number ruling and one law
    article, all derived from doc_id; the citation UDF must parse every
    field back out — the per-type sums verify year/page/article/
    paragraph extraction, not just span counts."""
    from swisscourtrulingcorpus_spark.extraction.citations import (
        extract_citations_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    text = F.concat(
        F.lit("Vgl. BGE "), (d % 60 + 100).cast("string"),
        F.lit(" II "), (d % 400 + 1).cast("string"),
        F.lit(" E. 4.2 und Art. "), (d % 250 + 1).cast("string"),
        F.lit(" Abs. "), (d % 4 + 1).cast("string"),
        F.lit(" BGG sowie Urteil 8C_"), (d % 999 + 1).cast("string"),
        F.lit("/"), (d % 15 + 2010).cast("string"),
        F.lit(" E. 1.1."),
    )
    cits = docs.select(
        "doc_id", F.explode(extract_citations_udf(text)).alias("c")
    )
    return cits.groupBy(F.col("c.type").alias("cit_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("c.year"), F.lit(0))).alias("year_sum"),
        F.sum(F.coalesce(F.col("c.page"), F.lit(0))).alias("page_sum"),
        F.sum(
            F.coalesce(F.col("c.article").cast("long"), F.lit(0))
        ).alias("article_sum"),
        F.sum(F.coalesce(F.col("c.paragraph"), F.lit(0))).alias("para_sum"),
    )


CITATION_TYPE_ORACLE = """
SELECT 'ruling' AS cit_type, count(*) AS n,
       CAST(sum(doc_id % 60 + 100) AS BIGINT) AS year_sum,
       CAST(sum(doc_id % 400 + 1) AS BIGINT) AS page_sum,
       CAST(0 AS BIGINT) AS article_sum, CAST(0 AS BIGINT) AS para_sum
FROM documents
UNION ALL
SELECT 'bger', count(*), CAST(sum(doc_id % 15 + 2010) AS BIGINT),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM documents
UNION ALL
SELECT 'law', count(*), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(sum(doc_id % 250 + 1) AS BIGINT), CAST(sum(doc_id % 4 + 1) AS BIGINT)
FROM documents
"""


# ---------------------------------------------------------------------------
# citation_relevance_scores: doc2doc TF-IDF relevance (A12 fidelity gate)
# ---------------------------------------------------------------------------

def q_citation_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 doc2doc relevance (`doc2doc_ir_dataset_creator.py:287-355`):
    tf = cite count within the decision, smooth idf over the corpus,
    relevance = tf·idf.  Each doc cites three rulings derived from
    doc_id (plus a repeat cite every fifth doc, so tf isn't constant);
    output is the top-3 cited rulings per query doc.  The double score
    is used only for ORDERING (ties break identically by cited key);
    output columns are ints — the tf/df/rank triple pins the formula.
    Scale shape mirrors the tfidf gate: tf is restricted to the query
    docs and broadcast; the corpus-wide df table streams."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    cite_keys = F.array(
        (d * 3) % 40,
        (d * 3 + 11) % 40,
        (d * 3 + 22) % 40,
        F.when(d % 5 == 0, (d * 3) % 40),  # repeat cite -> tf=2
    )
    cits = (
        docs.select("doc_id", F.explode(cite_keys).alias("k"))
        .where(F.col("k").isNotNull())
        .select(
            "doc_id",
            F.concat(
                F.lit("BGE-"), (F.col("k") + 100).cast("string"),
                F.lit("-II-"), (F.col("k") * 7 + 1).cast("string"),
            ).alias("cited"),
        )
    )
    tf = (
        cits.where(F.col("doc_id") < 20)
        .groupBy("doc_id", "cited")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = cits.groupBy("cited").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = cits.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        df_.join(F.broadcast(tf), on="cited")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (F.log((F.lit(1) + F.col("n_docs")) / (F.lit(1) + F.col("df"))) + 1),
        )
    )
    # round(score, 9) before ranking: cross-engine ln can differ by an
    # ULP, and distinct near-equal scores could order differently at an
    # untested SF (same latent risk + fix as bm25/tfidf, ADVICE r05)
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 9).desc(), F.col("cited").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "cited", "tf", "df", "rank")
    )


CITATION_RELEVANCE_ORACLE = """
WITH cit AS (
  SELECT doc_id,
         'BGE-' || CAST(k + 100 AS VARCHAR) || '-II-' || CAST(k * 7 + 1 AS VARCHAR) AS cited
  FROM (
    SELECT doc_id,
           CASE j
             WHEN 0 THEN (doc_id * 3) % 40
             WHEN 1 THEN (doc_id * 3 + 11) % 40
             WHEN 2 THEN (doc_id * 3 + 22) % 40
             ELSE CASE WHEN doc_id % 5 = 0 THEN (doc_id * 3) % 40 END
           END AS k
    FROM (SELECT doc_id, unnest(range(4)) AS j FROM documents))
  WHERE k IS NOT NULL),
tf AS (SELECT doc_id, cited, count(*) AS tf FROM cit WHERE doc_id < 20 GROUP BY 1, 2),
df AS (SELECT cited, count(DISTINCT doc_id) AS df FROM cit GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM cit),
scored AS (
  SELECT tf.doc_id, tf.cited, tf.tf, df.df,
         tf.tf * (ln((1 + n.n_docs) / (1 + df.df)) + 1) AS score
  FROM tf JOIN df USING (cited) CROSS JOIN n)
SELECT doc_id, cited, tf, df, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY round(score, 9) DESC, cited ASC) AS rank
      FROM scored)
WHERE rank <= 3
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "extraction_outcome_counts",
        q_extraction_outcome_counts,
        EXTRACTION_OUTCOME_ORACLE,
        "section-split + judgment UDF chain, oracle via construction arithmetic",
    ),
    QuerySpec(
        "citation_type_counts",
        q_citation_type_counts,
        CITATION_TYPE_ORACLE,
        "citation UDF field extraction, oracle via construction arithmetic",
    ),
    QuerySpec(
        "citation_relevance_scores",
        q_citation_relevance,
        CITATION_RELEVANCE_ORACLE,
        "doc2doc TF-IDF relevance, int-projected for bit-exact parity",
    ),
]


# ---------------------------------------------------------------------------
# round-3b: driver gates for the remaining test-only extractors
# (E6 lower court, E7 composition, E8 participation, E9 BGE reference,
# S4 PDF text) — same construction-arithmetic oracle pattern
# ---------------------------------------------------------------------------

_DE_MONTHS = [
    "Januar", "Februar", "März", "April", "Mai", "Juni", "Juli",
    "August", "September", "Oktober", "November", "Dezember",
]
_LC_COURTS = ["Verwaltungsgerichts", "Obergerichts", "Kantonsgerichts"]
_LC_CANTONS = [("Zürich", "ZH"), ("Bern", "BE"), ("Luzern", "LU")]
_NAMES = ["Muster", "Beispiel", "Keller", "Huber", "Weber", "Meier", "Schmid", "Favre"]


def q_lower_court_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 end-to-end: build the appeal-header sentence per row from
    doc_id arithmetic, run the REAL lower-court UDF, verify every
    parsed field (court, canton code, ISO date, docket number)."""
    from swisscourtrulingcorpus_spark.extraction.lower_court import (
        extract_lower_court_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    month_idx = (d % 12).cast("int")
    court = F.element_at(F.array(*[F.lit(c) for c in _LC_COURTS]), (d % 3).cast("int") + 1)
    canton = F.element_at(
        F.array(*[F.lit(c) for c, _ in _LC_CANTONS]), (d % 3).cast("int") + 1
    )
    day = (d % 28 + 1).cast("int")
    year = (d % 20 + 2000).cast("int")
    header = F.concat(
        F.lit("gegen das Urteil des "), court,
        F.lit(" des Kantons "), canton,
        F.lit(" vom "), day.cast("string"), F.lit(". "),
        F.element_at(F.array(*[F.lit(m) for m in _DE_MONTHS]), month_idx + 1),
        F.lit(" "), year.cast("string"),
        F.lit(" (VB."), year.cast("string"), F.lit("."), d.cast("string"), F.lit(")"),
    )
    out = docs.select(
        "doc_id", extract_lower_court_udf(header).alias("lc")
    )
    return out.select(
        "doc_id",
        F.col("lc.court").alias("court"),
        F.col("lc.canton").alias("canton"),
        F.col("lc.date").alias("lc_date"),
        F.col("lc.file_number").alias("file_number"),
    )


LOWER_COURT_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'Verwaltungsgerichts'
            WHEN 1 THEN 'Obergerichts' ELSE 'Kantonsgerichts' END AS court,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'ZH'
            WHEN 1 THEN 'BE' ELSE 'LU' END AS canton,
       CAST(doc_id % 20 + 2000 AS VARCHAR) || '-' ||
         lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') || '-' ||
         lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lc_date,
       'VB.' || CAST(doc_id % 20 + 2000 AS VARCHAR) || '.' || CAST(doc_id AS VARCHAR) AS file_number
FROM documents
"""


def q_composition_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 end-to-end: constructed bench headers (president + second
    judge + clerk drawn from a name table by doc_id), REAL composition
    UDF, verify the president pick, bench sizes and gender tagging."""
    from swisscourtrulingcorpus_spark.extraction.composition import (
        extract_composition_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    names = F.array(*[F.lit(n) for n in _NAMES])
    pres = F.element_at(names, (d % 8).cast("int") + 1)
    judge2 = F.element_at(names, ((d + 3) % 8).cast("int") + 1)
    clerk = F.element_at(names, ((d + 5) % 8).cast("int") + 1)
    header = F.concat(
        F.lit("Besetzung Bundesrichter "), pres, F.lit(", Präsident, "),
        F.lit("Bundesrichterin "), judge2, F.lit(", Gerichtsschreiber "),
        clerk, F.lit(". Parteien A. gegen B."),
    )
    out = docs.select("doc_id", extract_composition_udf(header).alias("c"))
    return out.select(
        "doc_id",
        F.col("c.president").alias("president"),
        F.size("c.judges").alias("n_judges"),
        F.element_at(F.col("c.judges"), 1)["gender"].alias("judge1_gender"),
        F.element_at(F.col("c.judges"), 2)["gender"].alias("judge2_gender"),
        F.element_at(F.col("c.clerks"), 1)["name"].alias("clerk"),
    )


_NAME_CASE = "CASE CAST({expr} % 8 AS INT) " + " ".join(
    f"WHEN {i} THEN '{n}'" for i, n in enumerate(_NAMES)
) + " END"

COMPOSITION_ORACLE = f"""
SELECT doc_id,
       {_NAME_CASE.format(expr="doc_id")} AS president,
       2 AS n_judges,
       'm' AS judge1_gender,
       'f' AS judge2_gender,
       {_NAME_CASE.format(expr="(doc_id + 5)")} AS clerk
FROM documents
"""


def q_participation_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8 end-to-end: constructed party header (anonymized corporate
    plaintiff with counsel, anonymized defendant), REAL participation
    UDF, verify the pivot split, placeholder names and counsel
    attachment."""
    from swisscourtrulingcorpus_spark.extraction.participation import (
        extract_participation_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    lawyer = F.element_at(
        F.array(*[F.lit(n) for n in _NAMES]), (d % 8).cast("int") + 1
    )
    header = F.concat(
        F.lit("A._ AG, vertreten durch Rechtsanwalt Hans "), lawyer,
        F.lit(", Beschwerdeführerin, gegen B._, Beschwerdegegner."),
    )
    out = docs.select("doc_id", extract_participation_udf(header).alias("p"))
    return out.select(
        "doc_id",
        F.element_at(F.col("p.plaintiffs"), 1)["name"].alias("plaintiff"),
        F.element_at(
            F.element_at(F.col("p.plaintiffs"), 1)["legal_counsel"], 1
        ).alias("counsel"),
        F.element_at(F.col("p.defendants"), 1)["name"].alias("defendant"),
    )


PARTICIPATION_ORACLE = f"""
SELECT doc_id,
       'A._ AG' AS plaintiff,
       'Hans ' || {_NAME_CASE.format(expr="doc_id")} AS counsel,
       'B._' AS defendant
FROM documents
"""


def q_bge_reference_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 end-to-end: constructed BGE headers citing one federal docket
    (dotted historic form — the normalizer must rewrite it) plus a
    second docket on every third row; REAL reference UDF."""
    from swisscourtrulingcorpus_spark.extraction.bge_reference import (
        extract_bge_reference_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    n1 = (d % 999 + 1).cast("string")
    y1 = (d % 15 + 2005).cast("string")
    base = F.concat(F.lit("Urteil 8C."), n1, F.lit("/"), y1)
    second = F.concat(F.lit(" und 9C_"), n1, F.lit("/"), y1)
    header = F.when(d % 3 == 0, F.concat(base, second)).otherwise(base)
    return docs.select(
        "doc_id", extract_bge_reference_udf(header).alias("reference")
    )


BGE_REFERENCE_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0
            THEN '8C_' || n1 || '/' || y1 || '-9C_' || n1 || '/' || y1
            ELSE '8C_' || n1 || '/' || y1 END AS reference
FROM (SELECT doc_id,
             CAST(doc_id % 999 + 1 AS VARCHAR) AS n1,
             CAST(doc_id % 15 + 2005 AS VARCHAR) AS y1
      FROM documents)
"""


def q_pdf_text_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 end-to-end: a minimal uncompressed PDF is assembled per row as
    BINARY (string concat → encode), the REAL pure-python PDF extractor
    runs as a pandas_udf over the payload, and the recovered two-line
    text must match the construction."""
    from swisscourtrulingcorpus_spark.extraction.pdf import (
        extract_pdf_text_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id").cast("string")
    content = F.concat(
        F.lit("BT (Dokument "), d, F.lit(") Tj 0 -14 Td (Zeile zwei) Tj ET"),
    )
    payload = F.encode(
        F.concat(
            F.lit("%PDF-1.4\n1 0 obj\n<< /Length 0 >>\nstream\n"),
            content,
            F.lit("\nendstream\nendobj\n"),
        ),
        "UTF-8",
    )
    return docs.select(
        "doc_id", extract_pdf_text_udf(payload).alias("pdf_text")
    )


PDF_TEXT_ORACLE = """
SELECT doc_id,
       'Dokument ' || CAST(doc_id AS VARCHAR) || chr(10) || 'Zeile zwei' AS pdf_text
FROM documents
"""


SPECS += [
    QuerySpec(
        "lower_court_extracted",
        q_lower_court_extracted,
        LOWER_COURT_ORACLE,
        "E6 lower-court UDF field parsing vs construction arithmetic",
    ),
    QuerySpec(
        "composition_extracted",
        q_composition_extracted,
        COMPOSITION_ORACLE,
        "E7 composition UDF president/bench/gender vs construction",
    ),
    QuerySpec(
        "participation_extracted",
        q_participation_extracted,
        PARTICIPATION_ORACLE,
        "E8 participation UDF pivot/counsel vs construction",
    ),
    QuerySpec(
        "bge_reference_extracted",
        q_bge_reference_extracted,
        BGE_REFERENCE_ORACLE,
        "E9 docket-reference normalization vs construction",
    ),
    QuerySpec(
        "pdf_text_extracted",
        q_pdf_text_extracted,
        PDF_TEXT_ORACLE,
        "S4 pure-python PDF text extraction vs construction",
    ),
]


# ---------------------------------------------------------------------------
# fundamental_importance gate: the analysis chain over constructed text
# ---------------------------------------------------------------------------

def q_fundamental_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fundamental-importance analysis end-to-end (`analyses.py`):
    every third doc affirms the phrase, every third negates it, every
    third never mentions it (lang = doc_id % 3 fixed per language
    template); the sentence split → phrase filter → negation detection
    → per-language summary must reproduce the construction exactly."""
    from swisscourtrulingcorpus_spark.plans.analyses import (
        fundamental_importance_summary,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    l_idx = (d % 3).cast("int")
    lang = F.element_at(F.array(F.lit("de"), F.lit("fr"), F.lit("it")), l_idx + 1)
    # per language: the phrase is affirmed on even doc_ids, negated on
    # odd ones (year correlates with parity, so each year group is
    # all-affirmed or all-negated — the summary is exactly integral)
    affirm = F.element_at(
        F.array(
            F.lit("Es liegt eine Rechtsfrage von grundsätzlicher Bedeutung vor."),
            F.lit("Le recours soulève une question juridique de principe."),
            F.lit("Il ricorso pone una questione di diritto di importanza fondamentale."),
        ),
        l_idx + 1,
    )
    negate = F.element_at(
        F.array(
            F.lit("Es liegt keine Rechtsfrage von grundsätzlicher Bedeutung vor."),
            F.lit("Le recours ne soulève pas de question juridique de principe."),
            F.lit("Il ricorso non pone una questione di diritto di importanza fondamentale."),
        ),
        l_idx + 1,
    )
    filler = F.lit("Die Kosten trägt die Partei. Les frais. Le spese.")
    text = (
        F.when(d % 2 == 0, F.concat(affirm, F.lit(" "), filler))
        .otherwise(F.concat(negate, F.lit(" "), filler))
    )
    sections = docs.select(
        F.col("doc_id").cast("string").alias("decision_id"),
        lang.alias("language"),
        F.lit("considerations").alias("section"),
        text.alias("section_text"),
    )
    decisions = docs.select(
        F.col("doc_id").cast("string").alias("decision_id"),
        F.make_date((d % 20 + 2000).cast("int"), F.lit(1), F.lit(1)).alias("date"),
        F.lit("CH_BGer_001").alias("chamber"),
    )
    out = fundamental_importance_summary(
        {"section": sections, "decision": decisions}, group_by="year"
    )
    return out.select(
        "year", "negated", "not_negated", "total", "not_negated_percentage"
    )


FUNDAMENTAL_IMPORTANCE_ORACLE = """
SELECT CAST(doc_id % 20 + 2000 AS INT) AS year,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS negated,
       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS not_negated,
       count(*) AS total,
       CAST(round(100.0 * sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) / count(*), 2) AS DOUBLE) AS not_negated_percentage
FROM documents
GROUP BY 1
"""


SPECS += [
    QuerySpec(
        "fundamental_importance_by_year",
        q_fundamental_importance,
        FUNDAMENTAL_IMPORTANCE_ORACLE,
        "phrase search + negation detection + summary vs construction",
    ),
]


# ---------------------------------------------------------------------------
# LLM-corpus operators: paragraph-level boilerplate dedup + quality filter
# ---------------------------------------------------------------------------

def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document paragraph dedup over constructed documents: every
    doc carries (a) the corpus-wide identical boilerplate block, (b) a
    unique paragraph, (c) a block shared by its doc_id % 10 template
    group.  Only the globally first occurrence of each paragraph
    survives — so doc 0 keeps 3, docs 1-9 keep 2 (they are each their
    template group's minimum), all later docs keep only their unique
    paragraph."""
    from swisscourtrulingcorpus_spark.operators.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    paras = F.array(
        F.lit("Rechtsmittelbelehrung: Gegen diesen Entscheid kann Beschwerde erhoben werden."),
        F.concat(F.lit("Einzigartiger Inhalt des Dokuments "), d.cast("string"), F.lit(".")),
        F.concat(F.lit("Vorlagenbaustein der Gruppe "), (d % 10).cast("string"), F.lit(".")),
    )
    marked = paragraph_dedup(docs.select("doc_id", paras.alias("paras")), "doc_id", "paras")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.sort_array(
                F.collect_list(F.when(F.col("kept"), F.col("paragraph")))
            ).alias("kept_paras"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.concat_ws(" | ", "kept_paras").alias("kept_text"),
        )
    )


PARAGRAPH_DEDUP_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id = 0 THEN 3 WHEN doc_id BETWEEN 1 AND 9 THEN 2 ELSE 1 END AS n_kept,
       CASE WHEN doc_id = 0 THEN
              'Einzigartiger Inhalt des Dokuments 0.' ||
              ' | Rechtsmittelbelehrung: Gegen diesen Entscheid kann Beschwerde erhoben werden.' ||
              ' | Vorlagenbaustein der Gruppe 0.'
            WHEN doc_id BETWEEN 1 AND 9 THEN
              'Einzigartiger Inhalt des Dokuments ' || CAST(doc_id AS VARCHAR) || '.' ||
              ' | Vorlagenbaustein der Gruppe ' || CAST(doc_id AS VARCHAR) || '.'
            ELSE
              'Einzigartiger Inhalt des Dokuments ' || CAST(doc_id AS VARCHAR) || '.'
       END AS kept_text
FROM documents
"""


def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules over the real corpus text:
    word-count bounds, mean-word-length bounds, and a minimum stopword
    hit count; a document is kept only if every rule passes.  All pure
    JVM column arithmetic — the filter adds zero shuffles on top of the
    scan, which is exactly what a 100 TB quality pass must look like.
    Rule expressions shared with the funnel and streaming twin
    (`functions/curation.py::gopher_rule_columns`)."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )

    docs = load_table(spark, sf_dir, "documents")
    r = gopher_rule_columns("text")
    return docs.select(
        "doc_id",
        *[r[name].alias(name) for name in
          ("n_words", "stop_hits", "wc_ok", "wl_ok", "stop_ok", "keep")],
    )


GOPHER_FILTER_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         {_words_duck("text")} AS words
  FROM documents),
f AS (
  SELECT doc_id,
         len(words) AS n_words,
         length(list_aggregate(words, 'string_agg', '')) * 1.0 / greatest(len(words), 1) AS mean_wl,
         len(list_filter(words, w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS stop_hits
  FROM w)
SELECT doc_id, n_words, stop_hits,
       (n_words >= 10 AND n_words <= 100000) AS wc_ok,
       (mean_wl >= 2.0 AND mean_wl <= 12.0) AS wl_ok,
       (stop_hits >= 1) AS stop_ok,
       ((n_words >= 10 AND n_words <= 100000) AND (mean_wl >= 2.0 AND mean_wl <= 12.0)
        AND stop_hits >= 1) AS keep
FROM f
"""


SPECS += [
    QuerySpec(
        "paragraph_dedup_documents",
        q_paragraph_dedup,
        PARAGRAPH_DEDUP_ORACLE,
        "cross-document first-occurrence paragraph dedup vs construction",
    ),
    QuerySpec(
        "gopher_quality_filter",
        q_gopher_quality_filter,
        GOPHER_FILTER_ORACLE,
        "Gopher-style quality rules, pure JVM, zero extra shuffles",
    ),
]


# ---------------------------------------------------------------------------
# transitive clustering gate: iterative label propagation, oracled via
# constructed chain structure
# ---------------------------------------------------------------------------

def q_transitive_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a constructed pair graph: documents
    link in runs of five consecutive ids ((d, d+1) unless d % 5 == 4),
    so every cluster is exactly one run and the converged label is
    provably d - d % 5 — an ORACLE for an iterative algorithm, which
    plain single-pass SQL can't normally check.  Chain diameter 4 ⇒
    propagation converges in a handful of id-only-shuffle rounds."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        transitive_dedup_clusters,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    pairs = docs.where(d % 5 != 4).select(
        d.alias("id_a"), (d + 1).alias("id_b")
    )
    return transitive_dedup_clusters(pairs).select("node", "cluster")


TRANSITIVE_CLUSTERS_ORACLE = """
SELECT doc_id AS node, doc_id - doc_id % 5 AS cluster FROM documents
"""


SPECS += [
    QuerySpec(
        "transitive_cluster_chains",
        q_transitive_clusters,
        TRANSITIVE_CLUSTERS_ORACLE,
        "iterative min-label propagation vs provable chain structure",
    ),
]


# ---------------------------------------------------------------------------
# building_violations_summary: the third reference analysis, end-to-end
# ---------------------------------------------------------------------------

def q_building_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Building-violations analysis (`analyses/building_violations.py:
    12-102`) end-to-end through the REAL engine path: the per-language
    Art. 24b-e citation regex filter, ARE party-name matching, the F9
    binary-judgment array reduction, and the five-cohort explode-agg.
    Inputs are constructed from doc_id arithmetic (even docs cite the
    law; every 4th plaintiff / 5th defendant is the ARE office; the
    judgment array cycles six reference shapes incl. two that reduce
    to NULL) — the oracle recomputes the expected summary from the
    same arithmetic, independent of the regex/array machinery."""
    from swisscourtrulingcorpus_spark.plans.analyses import (
        building_violations_cases,
        building_violations_summary,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    l_idx = (d % 3).cast("int")
    lang = F.element_at(F.array(F.lit("de"), F.lit("fr"), F.lit("it")), l_idx + 1)
    abbr = F.element_at(F.array(F.lit("RPG"), F.lit("LAT"), F.lit("LPT")), l_idx + 1)
    are = F.element_at(
        F.array(
            F.lit("Bundesamt für Raumentwicklung"),
            F.lit("Office fédéral du développement territorial"),
            F.lit("Ufficio federale dello sviluppo territoriale"),
        ),
        l_idx + 1,
    )
    considerations = F.when(
        d % 2 == 0,
        F.concat(F.lit("Gemäss Art. 24c Abs. 2 "), abbr, F.lit(" ist massgebend.")),
    ).otherwise(F.lit("Gemäss Art. 699 ZGB ist massgebend."))
    judgments = F.element_at(
        F.array(
            F.array(F.lit("approval")),
            F.array(F.lit("partial_approval"), F.lit("write_off")),
            F.array(F.lit("dismissal")),
            F.array(F.lit("partial_dismissal"), F.lit("inadmissible")),
            F.array(F.lit("approval"), F.lit("dismissal")),
            F.array(F.lit("inadmissible")),
        ),
        (d % 6).cast("int") + 1,
    )
    constructed = docs.select(
        "doc_id",
        lang.alias("language"),
        considerations.alias("considerations"),
        F.when(d % 4 == 0, are).otherwise(F.lit("A. Muster")).alias("plaintiff"),
        F.when(d % 5 == 0, are).otherwise(F.lit("B. Beispiel")).alias("defendant"),
        judgments.alias("judgments"),
    )
    cases = building_violations_cases(constructed, "language", "considerations")
    return building_violations_summary(
        cases, "language", "plaintiff", "defendant", "judgments"
    )


BUILDING_VIOLATIONS_ORACLE = """
WITH base AS (
  SELECT doc_id,
         doc_id % 4 = 0 AS is_are_p,
         doc_id % 5 = 0 AS is_are_d,
         CASE WHEN doc_id % 6 IN (0, 1) THEN 1 ELSE 0 END AS app
  FROM documents WHERE doc_id % 2 = 0),
coh AS (
  SELECT 'all cases' AS cohort, app FROM base
  UNION ALL
  SELECT CASE WHEN is_are_p THEN 'ARE is plaintiff'
              ELSE 'non-ARE is plaintiff' END, app FROM base
  UNION ALL
  SELECT CASE WHEN is_are_d THEN 'ARE is defendant'
              ELSE 'non-ARE is defendant' END, app FROM base)
SELECT cohort,
       CAST(sum(app) AS BIGINT) AS approvals,
       count(*) AS total,
       CAST(sum(app) AS BIGINT) * CAST(100.0 AS DOUBLE) / count(*) AS approval_percentage
FROM coh GROUP BY cohort
"""


SPECS += [
    QuerySpec(
        "building_violations_summary",
        q_building_violations,
        BUILDING_VIOLATIONS_ORACLE,
        "building-violations cohort analysis (regex filter + F9 reduction)",
    ),
]


# ---------------------------------------------------------------------------
# tei_corpus_extracted: external-corpus TEI ingest plumbing
# ---------------------------------------------------------------------------

def q_tei_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-corpus TEI ingest (`sources/tei.py`,
    `external_corpus_processor.py:13-101`): TEI XML constructed from
    doc_id arithmetic (every 7th file deliberately malformed, every
    5th carries the reference's 'NoDate' sentinel) parses through the
    real mapInPandas chain; the oracle reconstructs every parsed field
    from the same arithmetic."""
    from swisscourtrulingcorpus_spark.sources.tei import tei_corpus_df

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    date = F.when(d % 5 == 0, F.lit("NoDate")).otherwise(
        F.concat(F.lit("200"), (d % 10).cast("string"), F.lit("-01-15"))
    )
    xml = F.concat(
        F.lit('<TEI><teiHeader><fileDesc><titleStmt><title>Urteil '),
        d.cast("string"),
        F.lit("</title></titleStmt><sourceDesc>"
              '<biblStruct type="decision"><analytic><idno>AZ-'),
        d.cast("string"),
        F.lit("</idno><date>"),
        date,
        F.lit("</date></analytic></biblStruct></sourceDesc></fileDesc>"
              "</teiHeader><text><body><p>Erwägung "),
        d.cast("string"),
        F.lit(" gilt.</p></body></text></TEI>"),
    )
    raw = docs.select(
        F.concat(F.lit("jureko/"), d.cast("string"), F.lit(".xml")).alias("f"),
        F.when(d % 7 == 0, F.lit("<TEI><broken")).otherwise(xml).alias("x"),
    )
    return tei_corpus_df(raw, "x", "f")


TEI_ORACLE = """
SELECT 'jureko/' || CAST(doc_id AS VARCHAR) || '.xml' AS source_file,
       CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'decision' END AS doc_type,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE 'Urteil ' || CAST(doc_id AS VARCHAR) END AS title,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE 'AZ-' || CAST(doc_id AS VARCHAR) END AS file_number,
       CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
            ELSE '200' || CAST(doc_id % 10 AS VARCHAR) || '-01-15' END AS date,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE 'Erwägung ' || CAST(doc_id AS VARCHAR) || ' gilt.' END AS text
FROM documents
"""


SPECS += [
    QuerySpec(
        "tei_corpus_extracted",
        q_tei_corpus,
        TEI_ORACLE,
        "external-corpus TEI ingest (mapInPandas parse, malformed → null row)",
    ),
]


# ---------------------------------------------------------------------------
# term_definitions_extracted: TERMDAT XML ingest
# (`term_definitions_converter.py:11-65`) — validated/reliability
# filters + per-language definition flatten, oracle via construction
# arithmetic
# ---------------------------------------------------------------------------

def q_term_definitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One TERMDAT ``<Eintrag>`` per doc: every 11th shard malformed
    (drops silently), every 7th not-Validiert (status filter), a
    cycling reliability code (< 3 filtered), two language zones each
    with one definition (de Haupteintrag / fr Phraseologie)."""
    from swisscourtrulingcorpus_spark.sources.termdat import term_definitions_df

    d = F.col("doc_id")
    ds = d.cast("string")
    status = F.when(d % 7 == 0, F.lit("Entwurf")).otherwise(F.lit("Validiert"))
    xml = F.concat(
        F.lit('<xml><Eintraege><Eintrag Id="'), ds, F.lit('"><Kopf>'),
        F.lit("<BearbeitungsStatus>"), status, F.lit("</BearbeitungsStatus>"),
        F.lit("<ZuverlaessigkeitsCode>"), (d % 5 + 1).cast("string"),
        F.lit("</ZuverlaessigkeitsCode><Sammlung>SR-"), (d % 9).cast("string"),
        F.lit("</Sammlung><Sachgebiete>Recht</Sachgebiete></Kopf><Sprachzonen>"
              '<Sprachzone Sprache="DE"><Synonym><Definition>'
              "<Typ>Haupteintrag</Typ><Text>Begriff "), ds,
        F.lit("</Text></Definition></Synonym></Sprachzone>"
              '<Sprachzone Sprache="FR"><Synonym><Definition>'
              "<Typ>Phraseologie</Typ><Text>Terme "), ds,
        F.lit("</Text></Definition></Synonym></Sprachzone>"
              "</Sprachzonen></Eintrag></Eintraege></xml>"),
    )
    raw = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .select(
            F.when(d % 11 == 0, F.lit("<xml><broken")).otherwise(xml).alias("x")
        )
    )
    return term_definitions_df(raw, "x")


TERMDAT_ORACLE = """
WITH ok AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 11 != 0          -- malformed shard: parses to no rows
    AND doc_id % 7 != 0           -- BearbeitungsStatus != 'Validiert'
    AND doc_id % 5 + 1 >= 3       -- ZuverlaessigkeitsCode < 3 dropped
)
SELECT doc_id AS term_id,
       'SR-' || CAST(doc_id % 9 AS VARCHAR) AS collection,
       'Recht' AS areas,
       CAST(doc_id % 5 + 1 AS INTEGER) AS reliability,
       l.lang AS lang,
       CASE l.lang WHEN 'de' THEN 'Haupteintrag' ELSE 'Phraseologie' END AS def_type,
       CASE l.lang WHEN 'de' THEN 'Begriff ' ELSE 'Terme ' END
         || CAST(doc_id AS VARCHAR) AS def_text
FROM ok, (SELECT UNNEST(['de', 'fr']) AS lang) l
"""


SPECS += [
    QuerySpec(
        "term_definitions_extracted",
        q_term_definitions,
        TERMDAT_ORACLE,
        "TERMDAT XML ingest: status/reliability filters, per-language flatten",
    ),
]


# ---------------------------------------------------------------------------
# court_chambers_flattened: the Facetten_alle.json dynamic-key nesting
# (`create_court_and_chamber_tables.py:13-90`) through from_json
# map-typed parse + double explode
# ---------------------------------------------------------------------------

def q_court_chambers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One canton→court→2-chambers JSON per doc, keys derived from
    doc_id; the map-typed from_json + explode chain must reproduce
    every field."""
    from swisscourtrulingcorpus_spark.sources.court_chambers import (
        flatten_court_chambers,
    )

    d = F.col("doc_id")
    canton = F.concat(F.lit("K"), (d % 26).cast("string"))
    court = F.concat(canton, F.lit("_G"), (d % 4).cast("string"))
    spider = F.concat(F.lit("SP"), (d % 7).cast("string"))
    j = F.concat(
        F.lit('{"'), canton, F.lit('":{"de":"Kanton '), (d % 26).cast("string"),
        F.lit('","gerichte":{"'), court, F.lit('":{"de":"Gericht '),
        (d % 4).cast("string"), F.lit('","kammern":{"'),
        court, F.lit('_001":{"spider":"'), spider,
        F.lit('","de":"Kammer 1"},"'),
        court, F.lit('_002":{"spider":"'), spider,
        F.lit('","de":"Kammer 2"}}}}}}'),
    )
    raw = load_table(spark, sf_dir, "documents").select(j.alias("j"))
    return flatten_court_chambers(raw, "j").select(
        "canton",
        "court_string",
        "court_name_de",
        "chamber_string",
        "spider",
        "chamber_name_de",
    )


COURT_CHAMBERS_ORACLE = """
SELECT 'K' || CAST(doc_id % 26 AS VARCHAR) AS canton,
       'K' || CAST(doc_id % 26 AS VARCHAR) || '_G' || CAST(doc_id % 4 AS VARCHAR)
         AS court_string,
       'Gericht ' || CAST(doc_id % 4 AS VARCHAR) AS court_name_de,
       'K' || CAST(doc_id % 26 AS VARCHAR) || '_G' || CAST(doc_id % 4 AS VARCHAR)
         || '_00' || CAST(c.i AS VARCHAR) AS chamber_string,
       'SP' || CAST(doc_id % 7 AS VARCHAR) AS spider,
       'Kammer ' || CAST(c.i AS VARCHAR) AS chamber_name_de
FROM documents, (SELECT UNNEST([1, 2]) AS i) c
"""


# ---------------------------------------------------------------------------
# citation-graph analytics: co-citation + bibliographic coupling
# ---------------------------------------------------------------------------

def _citation_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tkey) rows through the REAL citation extractor over the
    constructed corpus of `q_citation_type_counts` — coarse target keys
    (BGE volume / law article / BGer filing year) so the synthetic
    corpus exhibits actual sharing structure: every doc emits exactly
    three targets, and volumes repeat across ~n/60 documents."""
    from swisscourtrulingcorpus_spark.extraction.citations import (
        extract_citations_udf,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    text = F.concat(
        F.lit("Vgl. BGE "), (d % 60 + 100).cast("string"),
        F.lit(" II "), (d % 400 + 1).cast("string"),
        F.lit(" E. 4.2 und Art. "), (d % 250 + 1).cast("string"),
        F.lit(" Abs. "), (d % 4 + 1).cast("string"),
        F.lit(" BGG sowie Urteil 8C_"), (d % 999 + 1).cast("string"),
        F.lit("/"), (d % 15 + 2010).cast("string"),
        F.lit(" E. 1.1."),
    )
    cits = docs.select(
        "doc_id", F.explode(extract_citations_udf(text)).alias("c")
    )
    return cits.select(
        "doc_id",
        F.when(
            F.col("c.type") == "ruling",
            F.concat(F.lit("VOL:"), F.col("c.year").cast("string")),
        )
        .when(
            F.col("c.type") == "law",
            F.concat(F.lit("ART:"), F.col("c.article").cast("string")),
        )
        .otherwise(
            F.concat(F.lit("YR:"), F.col("c.year").cast("string"))
        )
        .alias("tkey"),
    )


_TARGETS_SQL = """
  SELECT doc_id, 'VOL:' || CAST(doc_id % 60 + 100 AS VARCHAR) AS tkey FROM documents
  UNION ALL
  SELECT doc_id, 'ART:' || CAST(doc_id % 250 + 1 AS VARCHAR) FROM documents
  UNION ALL
  SELECT doc_id, 'YR:' || CAST(doc_id % 15 + 2010 AS VARCHAR) FROM documents
"""


def q_cocitation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation analysis (Small 1973, the legal-IR relatedness
    signal `doc2doc_ir_dataset_creator.py` approximates with TF-IDF):
    two targets are related when the same decisions cite them both.
    Within-doc target pairs (t1 < t2) aggregate corpus-wide; pairs
    co-cited by >= 5 documents are the report.  One explode + one
    per-doc self-join (3 targets per doc -> 3 pairs, linear) + one
    count shuffle on the pair key."""
    t = _citation_targets(spark, sf_dir)
    t2 = t.select("doc_id", F.col("tkey").alias("tkey2"))
    return (
        t.join(t2, "doc_id")
        .where(F.col("tkey") < F.col("tkey2"))
        .groupBy("tkey", "tkey2")
        .agg(F.count(F.lit(1)).alias("n_cociting_docs"))
        .where(F.col("n_cociting_docs") >= 5)
    )


COCITATION_ORACLE = f"""
WITH t AS ({_TARGETS_SQL})
SELECT a.tkey, b.tkey AS tkey2, count(*) AS n_cociting_docs
FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tkey < b.tkey
GROUP BY 1, 2
HAVING count(*) >= 5
"""


_COUPLING_CAP = 20


def q_bibliographic_coupling_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic coupling (Kessler 1963): two decisions are related
    when they cite the same targets.  Doc pairs form per shared target
    — the same hub-capped similarity-join shape as the co-purchase
    graph (targets cited by more than {cap} docs are excluded: a
    landmark everyone cites relates nothing, exactly like a stopword) —
    then the report is the histogram of pairs by shared-target count.
    Shuffles carry (doc, tkey) and (doc, doc) slim rows only."""
    t = _citation_targets(spark, sf_dir)
    ok = t.groupBy("tkey").agg(F.count(F.lit(1)).alias("cnt")).where(
        F.col("cnt") <= _COUPLING_CAP
    )
    capped = t.join(ok.select("tkey"), "tkey")
    b = capped.select("tkey", F.col("doc_id").alias("doc2"))
    pairs = (
        capped.join(b, "tkey")
        .where(F.col("doc_id") < F.col("doc2"))
        .groupBy("doc_id", "doc2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return pairs.groupBy("n_shared").agg(F.count(F.lit(1)).alias("n_pairs"))


COUPLING_ORACLE = f"""
WITH t AS ({_TARGETS_SQL}),
ok AS (SELECT tkey FROM t GROUP BY tkey HAVING count(*) <= {_COUPLING_CAP}),
c AS (SELECT doc_id, tkey FROM t WHERE tkey IN (SELECT tkey FROM ok)),
pairs AS (
  SELECT a.doc_id, b.doc_id AS doc2, count(*) AS n_shared
  FROM c a JOIN c b ON a.tkey = b.tkey AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT n_shared, count(*) AS n_pairs FROM pairs GROUP BY 1
"""


SPECS += [
    QuerySpec(
        "court_chambers_flattened",
        q_court_chambers,
        COURT_CHAMBERS_ORACLE,
        "dynamic-key nested JSON dim ingest via map-typed from_json + explode",
    ),
]

SPECS += [
    QuerySpec(
        "cocitation_pairs",
        q_cocitation_pairs,
        COCITATION_ORACLE,
        "co-citation relatedness pairs through the real citation extractor",
    ),
    QuerySpec(
        "bibliographic_coupling_hist",
        q_bibliographic_coupling_hist,
        COUPLING_ORACLE,
        "hub-capped bibliographic coupling, shared-target histogram",
    ),
]
