"""Deterministic SCRC-shaped fixture corpus (FIXTURES.md §1–2).

Generates the reference's domain star schema (SURVEY.md §1.2) as Spark
DataFrames — dims (language/canton/spider/court/chamber) plus a raw
document corpus whose texts are built from the extraction-layer marker
templates, so the FULL pipeline (clean → language-ID → section split →
citation/judgment/composition extraction → dataset creation) can run
end-to-end and be asserted on.

Seeded (42) and pure-Python-deterministic: same fixture every run, so
golden assertions hold across rounds.  Sizes are test-scale; the
pipeline code paths are the same ones that run at corpus scale.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

SPIDERS = ["CH_BGer", "ZH_VG", "VD_TC", "TI_TA"]
SPIDER_LANG = {"CH_BGer": "de", "ZH_VG": "de", "VD_TC": "fr", "TI_TA": "it"}
CHAMBERS = {s: [f"{s}_00{i}" for i in (1, 2)] for s in SPIDERS}

_HEADER_TMPL = {
    "de": (
        "Urteil vom {day}. Mai {year}\n"
        "Besetzung: Bundesrichter {president}, Präsident, "
        "Bundesrichterin {judge2}, Gerichtsschreiberin {clerk}."
    ),
    "fr": (
        "Arrêt du {day} mai {year}\n"
        "Composition: juge {president}, président, "
        "juge {judge2}, greffière {clerk}."
    ),
    "it": (
        "Sentenza del {day} maggio {year}\n"
        "Composizione: giudice {president}, presidente, "
        "giudice {judge2}, cancelliera {clerk}."
    ),
}
_FACTS_MARKER = {"de": "Sachverhalt", "fr": "En fait", "it": "In fatto"}
_CONSID_MARKER = {"de": "Erwägungen", "fr": "En droit", "it": "In diritto"}
# body sentences carry each language's stopwords so the language-ID
# heuristic resolves correctly (as real corpus text would)
_FACTS_BODY = {
    "de": (
        "A. Die Partei {i} reichte das Gesuch ein und die Vorinstanz wies es ab.",
        "B. Es folgte ein Schriftenwechsel mit der Gegenpartei.",
    ),
    "fr": (
        "A. La partie {i} a déposé le recours et il ne semble pas fondé.",
        "B. La procédure est menée avec les parties.",
    ),
    "it": (
        "A. La parte {i} ha presentato il ricorso che non è fondato per una ragione.",
        "B. La procedura è condotta con le parti e non sono emerse obiezioni.",
    ),
}
_CONSID_BODY = {
    "de": "2. Die Würdigung ergibt das Folgende und wird nicht weiter vertieft.",
    "fr": "2. La cour ne voit pas une raison avec le grief et il est écarté.",
    "it": "2. La corte non vede una ragione che sia fondata per il gravame.",
}
_FOOTER = {
    "de": (
        "Rechtsmittelbelehrung",
        "Gegen diesen Entscheid kann innert 30 Tagen Beschwerde erhoben werden.",
    ),
    "fr": (
        "Voie de recours",
        "Le présent arrêt peut faire l'objet d'un recours dans les 30 jours.",
    ),
    "it": (
        "Contro la presente decisione",
        "è ammissibile il ricorso entro 30 giorni.",
    ),
}
_RULING_MARKER = {
    "de": "Demnach erkennt das Bundesgericht:",
    "fr": "Par ces motifs",
    "it": "Per questi motivi",
}
_OUTCOME_TEXT = {
    ("de", "approval"): "Die Beschwerde wird gutgeheissen.",
    ("de", "partial_approval"): "Die Beschwerde wird teilweise gutgeheissen.",
    ("de", "dismissal"): "Die Beschwerde wird abgewiesen.",
    ("de", "inadmissible"): "Auf die Beschwerde wird nicht eingetreten.",
    ("de", "write_off"): "Das Verfahren wird abgeschrieben.",
    ("fr", "approval"): "Le recours est admis.",
    ("fr", "dismissal"): "Le recours est rejeté.",
    ("fr", "inadmissible"): "Le recours est irrecevable.",
    ("it", "approval"): "Il ricorso è accolto.",
    ("it", "dismissal"): "Il ricorso è respinto.",
}
_NAMES = ["Huber", "Meier", "Keller", "Schmid", "Favre", "Rossi", "Bernasconi", "Weber"]

OUTCOMES_BY_LANG = {
    "de": ["approval", "partial_approval", "dismissal", "inadmissible", "write_off"],
    "fr": ["approval", "dismissal", "inadmissible"],
    "it": ["approval", "dismissal"],
}


def build_raw_corpus(n_decisions: int = 120, seed: int = 42) -> list[dict]:
    """Raw ingested documents: one dict per decision with file_name,
    spider, chamber, raw text (marker-structured), date, and the known
    ground-truth outcome (for pipeline assertions)."""
    rng = random.Random(seed)
    return [_decision_row(i, rng) for i in range(n_decisions)]


def _decision_row(i: int, rng: random.Random) -> dict:
    """One synthetic decision — exactly three rng draws (president,
    judge2, clerk) so the sequential `build_raw_corpus` keeps its
    historical byte-identical output and the distributed generator can
    substitute a per-row seeded rng."""
    spider = SPIDERS[i % len(SPIDERS)]
    lang = SPIDER_LANG[spider]
    # decorrelated from the spider cycle so both chambers per spider
    # actually occur
    chamber = CHAMBERS[spider][(i // len(SPIDERS)) % 2]
    year = 1995 + (i % 30)  # spans split boundaries
    outcome = OUTCOMES_BY_LANG[lang][i % len(OUTCOMES_BY_LANG[lang])]
    president = _NAMES[rng.randrange(len(_NAMES))]
    judge2 = _NAMES[rng.randrange(len(_NAMES))]
    clerk = _NAMES[rng.randrange(len(_NAMES))]
    # few distinct (year, page) targets with skewed reuse, so the
    # criticality quartiles actually discriminate (Zipf-ish counts)
    cited_year = 120 + (i % 5)
    cited_page = 100 + (i % 7 if i % 3 == 0 else i % 2) * 40
    header = _HEADER_TMPL[lang].format(
        day=1 + i % 28, year=year, president=president, judge2=judge2, clerk=clerk
    )
    facts_a, facts_b = _FACTS_BODY[lang]
    # CH_BGer appeals carry parties + the originating lower court
    # (exercises E6/E8); cantonal decisions don't
    party_line = (
        f"Partei_{i}._ AG, vertreten durch Rechtsanwalt Dr. "
        f"{_NAMES[(i + 3) % len(_NAMES)]} Vogt, Beschwerdeführerin, "
        f"gegen Gegner_{i}._, Beschwerdegegner,"
        if spider == "CH_BGer"
        else ""
    )
    lower_court_line = (
        f"gegen das Urteil des Verwaltungsgerichts des Kantons Zürich "
        f"vom {1 + i % 28}. März {year - 1} (VB.{year - 1}.{i:05d})"
        if spider == "CH_BGer"
        else ""
    )
    text = "\n".join(
        [
            header,
            party_line,
            lower_court_line,
            "",
            _FACTS_MARKER[lang],
            facts_a.format(i=i),
            facts_b,
            "",
            _CONSID_MARKER[lang],
            f"1. BGE {cited_year} II {cited_page}; Art. 95 Abs. 2 BGG.",
            _CONSID_BODY[lang],
            "",
            _RULING_MARKER[lang],
            f"1. {_OUTCOME_TEXT[(lang, outcome)]}",
            "2. Die Kosten von 2000 Franken werden auferlegt."
            if lang == "de"
            else ("2. Les frais sont mis à la charge de la partie." if lang == "fr"
                  else "2. Le spese seguono la soccombenza."),
            "",
            *_FOOTER[lang],
        ]
    )
    return {
        "file_name": f"{spider}_{i:05d}.html",
        "spider": spider,
        "chamber": chamber,
        "lang": lang,
        "date": f"{year}-05-{1 + i % 28:02d}",
        "raw_text": text,
        "true_outcome": outcome,
        "true_president": president,
        "cited_year": cited_year,
        "cited_page": cited_page,
    }


#: Schema of one raw-corpus row (``_decision_row``) as both generators
#: emit it, before ``date`` becomes a DATE.  Fields are sorted by name,
#: the order ``createDataFrame(list-of-dicts)`` used to infer; the ints
#: stay ``bigint`` (with nulls) where pandas alone would turn a
#: None-able int column into ``double``.
RAW_CORPUS_SCHEMA = StructType(
    sorted(
        [
            StructField("file_name", StringType()),
            StructField("spider", StringType()),
            StructField("chamber", StringType()),
            StructField("lang", StringType()),
            StructField("date", StringType()),
            StructField("raw_text", StringType()),
            StructField("true_outcome", StringType()),
            StructField("true_president", StringType()),
            StructField("cited_year", LongType()),
            StructField("cited_page", LongType()),
        ],
        key=lambda f: f.name,
    )
)


def raw_corpus_df(spark: SparkSession, n_decisions: int = 120) -> DataFrame:
    """Raw-corpus fixture as a DataFrame.

    r12 (session 2): rows go through pandas + Arrow instead of
    ``createDataFrame(list-of-dicts)`` — the dict path pickles every
    row (measured ~0.7 s of the bench's timed 5k-doc pipeline
    iteration on the profiling box; the Arrow path is ~0.1 s).  Column
    order and types are pinned by ``RAW_CORPUS_SCHEMA`` (what the dict
    path inferred, with the same to_date conversion), and
    the resulting LocalRelation is plan-fingerprint-identical
    (tools/pipeline_fingerprint.py before/after), so every consumer —
    including the oracle-gated extraction family — sees bit-identical
    input."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(build_raw_corpus(n_decisions), columns=RAW_CORPUS_SCHEMA.names)
    df = spark.createDataFrame(pdf, RAW_CORPUS_SCHEMA)
    return df.withColumn("date", F.to_date("date"))


def raw_corpus_df_distributed(
    spark: SparkSession, n_decisions: int, seed: int = 42, parts: int = 64
) -> DataFrame:
    """Executor-side fixture generation for rehearsals beyond driver
    scale (the 100× pipeline run, VERDICT r08 item 6): `spark.range` →
    `mapInPandas` building each decision with `_decision_row` and a
    PER-ROW seeded rng (`Random(seed << 32 | i)`), so generation is
    embarrassingly parallel and deterministic per id.  The judge/clerk
    name SEQUENCE therefore differs from the sequential
    `build_raw_corpus` (which threads one rng through all rows), but
    every distributional property the pipeline sees — spider cycle,
    chamber split, language mix, marker structure, outcome cycle,
    Zipf-ish citation reuse — is identical arithmetic on ``i``."""
    import pandas as pd
    from pyspark.sql import functions as F

    def gen(batches):
        for pdf in batches:
            rows = [
                _decision_row(int(i), random.Random((seed << 32) | int(i)))
                for i in pdf["id"]
            ]
            if rows:
                yield pd.DataFrame(rows)

    df = spark.range(n_decisions, numPartitions=parts).mapInPandas(gen, RAW_CORPUS_SCHEMA)
    return df.withColumn("date", F.to_date("date"))


def court_dim_df(spark: SparkSession) -> DataFrame:
    """Court dim (FIXTURES.md `court` table shape): court_id,
    canton short code, the court_string, and the German display name the
    lower-court extractor sees in headers."""
    rows = [
        {"court_id": 1, "canton": "ZH", "court_string": "ZH_VG",
         "display_name": "Verwaltungsgerichts"},
        {"court_id": 2, "canton": "ZH", "court_string": "ZH_OG",
         "display_name": "Obergerichts"},
        {"court_id": 3, "canton": "VD", "court_string": "VD_TC",
         "display_name": "Kantonsgerichts"},
        {"court_id": 4, "canton": "CH", "court_string": "CH_BGer",
         "display_name": "Bundesgerichts"},
    ]
    return spark.createDataFrame(rows)


def leading_rulings_df(spark: SparkSession) -> DataFrame:
    """Stand-in for the BGE leading-decisions corpus (FIXTURES.md:
    `leading_rulings`): start pages every 20 from 80 — cited pages snap
    to the greatest start page <= cited page (as-of target set)."""
    rows = [
        {
            "ruling_id": f"BGE_{year}_II_{page}",
            "year": year,
            "volume": "II",
            "start_page": page,
        }
        for year in range(120, 150)
        for page in range(80, 520, 20)
    ]
    return spark.createDataFrame(rows)
