"""Golden tests for the extraction UDF layer (SURVEY.md §2.8).

Fixture texts are fresh, synthetic Swiss-decision-shaped documents
(de/fr/it) exercising the behaviors SURVEY.md documents: the section
state machine (in-order, missing-marker), numbered/unnumbered judgment
rulings with partial suppression and the 3000-char guard, citation
validity filtering, composition role markers, and UUIDv5 determinism.
"""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from swisscourtrulingcorpus_spark.extraction.cleaning import clean_text_py
from swisscourtrulingcorpus_spark.extraction.citations import extract_citations_py
from swisscourtrulingcorpus_spark.extraction.composition import extract_composition_py
from swisscourtrulingcorpus_spark.extraction.ids import uuid5_py
from swisscourtrulingcorpus_spark.extraction.judgments import extract_judgments_py
from swisscourtrulingcorpus_spark.extraction.sections import split_sections_py


# ------------------------------------------------------------- clean_text

def test_clean_text_nbsp_nul_controls():
    dirty = "Ein Text\x00 mit  \tvielem ___ Unsinn"
    assert clean_text_py(dirty) == "Ein Text mit vielem _ Unsinn"


def test_clean_text_dehyphenation():
    assert clean_text_py("Bundes-\ngericht") == "Bundesgericht"


def test_clean_text_none_passthrough():
    assert clean_text_py(None) is None


# --------------------------------------------------------------- sections

DE_DOC = """Urteil vom 3. Mai 2019
Besetzung: Bundesrichter Muster, Präsident

Sachverhalt
A. Die Beschwerdeführerin reichte Klage ein.
B. Das Verfahren wurde eröffnet.

Erwägungen
1. Die Eintretensvoraussetzungen sind erfüllt.
2. Die Rüge ist unbegründet.

Demnach erkennt das Bundesgericht:
1. Die Beschwerde wird abgewiesen.

Rechtsmittelbelehrung
Gegen diesen Entscheid kann Beschwerde geführt werden."""


def _by_section(parts):
    return {p["section"]: p["text"] for p in parts}


def test_sections_state_machine_de():
    got = _by_section(split_sections_py(DE_DOC, "de"))
    assert "Besetzung" in got["header"]
    assert "Klage ein" in got["facts"]
    assert "unbegründet" in got["considerations"]
    assert "abgewiesen" in got["rulings"]
    assert "Rechtsmittelbelehrung" in got["footer"]
    assert got["full_text"].count("\n") >= 10


def test_sections_no_markers_stays_header():
    got = _by_section(split_sections_py("Nur ein Absatz.\nNoch einer.", "de"))
    assert set(got) == {"header", "full_text"}


def test_sections_never_backtracks():
    # a facts marker AFTER rulings must not move the state backwards
    doc = "Demnach erkennt:\nDie Beschwerde wird abgewiesen.\nSachverhalt\nSpäter."
    got = _by_section(split_sections_py(doc, "de"))
    assert "facts" not in got
    assert "Später" in got["rulings"]


# -------------------------------------------------------------- judgments

def test_judgment_numbered_arabic_de():
    text = "1. Die Beschwerde wird abgewiesen. 2. Die Kosten werden auferlegt."
    assert extract_judgments_py(text, "de") == ["dismissal"]


def test_judgment_numbered_roman_multi():
    text = "I. Die Beschwerde wird gutgeheissen. II. Die Sache wird abgeschrieben."
    assert extract_judgments_py(text, "de") == ["approval", "write_off"]


def test_judgment_unnumbered_first_match_fr():
    text = "Par ces motifs, le recours est rejeté et le reste est admis."
    assert extract_judgments_py(text, "fr") == ["dismissal"]


def test_judgment_partial_suppresses_full():
    text = "1. Die Beschwerde wird teilweise gutgeheissen."
    assert extract_judgments_py(text, "de") == ["partial_approval"]


def test_judgment_too_long_skipped():
    assert extract_judgments_py("wird abgewiesen " * 300, "de") == []


def test_judgment_italian():
    assert extract_judgments_py("Il ricorso è respinto.", "it") == ["dismissal"]


# -------------------------------------------------------------- citations

def test_citations_ruling_and_law():
    text = "Gemäss BGE 133 II 249 und Art. 95 Abs. 2 BGG ist die Rüge zulässig."
    got = extract_citations_py(text)
    rulings = [c for c in got if c["type"] == "ruling"]
    laws = [c for c in got if c["type"] == "law"]
    assert rulings[0]["year"] == 133
    assert rulings[0]["volume"] == "II"
    assert rulings[0]["page"] == 249
    assert laws[0]["article"] == "95"
    assert laws[0]["paragraph"] == 2
    assert laws[0]["law"] == "BGG"


def test_citations_dedup_and_validity():
    text = "BGE 133 II 249, nochmals BGE 133 II 249, und BGE 999 II 1."
    got = extract_citations_py(text)
    assert len(got) == 1  # duplicate span deduped, year 999 dropped


# ------------------------------------------------------------ composition

def test_composition_de_header():
    header = (
        "Besetzung: Bundesrichter Huber, Präsident, "
        "Bundesrichterin Meier, Bundesrichter Keller, "
        "Gerichtsschreiberin Schmid."
    )
    got = extract_composition_py(header)
    assert got["president"] == "Huber"
    names = {j["name"]: j["gender"] for j in got["judges"]}
    assert names["Meier"] == "f"
    assert names["Keller"] == "m"
    assert got["clerks"] == [{"name": "Schmid", "gender": "f"}]


def test_composition_empty():
    assert extract_composition_py("Kein Inhalt.") is None


# -------------------------------------------------------------------- ids

def test_uuid5_matches_reference_semantics():
    assert uuid5_py("dec_001.html") == str(
        uuid.uuid5(uuid.UUID(int=0), "dec_001.html")
    )


# ------------------------------------------------- distributed end-to-end

def test_extraction_udfs_distributed(spark):
    from swisscourtrulingcorpus_spark.extraction import (
        extract_citations_udf,
        extract_judgments_udf,
        split_sections_udf,
        uuid5_col,
    )

    df = spark.createDataFrame(
        [("f1.html", DE_DOC, "de"), ("f2.html", None, "de")],
        ["file_name", "text", "lang"],
    )
    out = df.select(
        uuid5_col("file_name").alias("decision_id"),
        split_sections_udf("text", "lang").alias("sections"),
        extract_citations_udf("text").alias("citations"),
    )
    rows = {r.decision_id: r for r in out.collect()}
    id1 = uuid5_py("f1.html")
    assert set(rows) == {id1, uuid5_py("f2.html")}
    secs = {s.section for s in rows[id1].sections}
    assert {"facts", "considerations", "rulings", "full_text"} <= secs

    # explode to section rows, run the judgment extractor on rulings only
    sections = out.select(
        "decision_id", F.explode("sections").alias("s")
    ).select("decision_id", "s.section", "s.text")
    rulings = sections.where(F.col("section") == "rulings")
    judged = rulings.select(
        "decision_id",
        extract_judgments_udf("text", F.lit("de")).alias("judgments"),
    ).collect()
    assert judged[0].judgments == ["dismissal"]


def test_sections_spider_override_out_of_order():
    """OW-style court putting rulings BEFORE considerations: the
    override order must bucket them correctly where the default order
    (no backtracking) would swallow considerations into rulings."""
    doc = (
        "Kopfzeile\n"
        "Sachverhalt\nA. Etwas geschah.\n"
        "Demnach erkennt:\nDie Beschwerde wird abgewiesen.\n"
        "Erwägungen\n1. Nachträgliche Begründung.\n"
    )
    default = {p["section"]: p["text"] for p in split_sections_py(doc, "de")}
    override = {
        p["section"]: p["text"]
        for p in split_sections_py(doc, "de", "OW_Custom")
    }
    # default order: once in 'rulings', 'considerations' (earlier) is
    # unreachable -> begründung stays in rulings
    assert "Begründung" in default["rulings"]
    assert "considerations" not in default
    # override order: considerations comes AFTER rulings -> reachable
    assert "Begründung" in override["considerations"]
    assert "abgewiesen" in override["rulings"]


def test_roman_numerals_roundtrip():
    from swisscourtrulingcorpus_spark.functions.roman import (
        int_to_roman,
        roman_to_int,
    )

    for n in [1, 4, 9, 14, 40, 90, 400, 1999, 3999]:
        assert roman_to_int(int_to_roman(n)) == n
    assert int_to_roman(7) == "VII"
    assert roman_to_int("xiv") == 14
    import pytest as _pytest

    with _pytest.raises(ValueError):
        int_to_roman(0)
    with _pytest.raises(ValueError):
        roman_to_int("ABC")


def test_judgment_spider_override():
    from swisscourtrulingcorpus_spark.extraction.judgments import (
        extract_judgments_py,
    )

    # extend mode: cantonal nominal phrasing outside the generic set
    text = "In Abweisung der Beschwerde wird das Verfahren beendet."
    assert extract_judgments_py(text, "de") == []
    assert extract_judgments_py(
        text, "de", "ZH_Sozialversicherungsgericht"
    ) == ["dismissal"]

    # replace mode (UR_Gerichte): keyword-summary rulings, and the
    # global markers are fully swapped out — "wird abgewiesen" no
    # longer matches under the replacement
    text = "Abweisung der Verwaltungsgerichtsbeschwerde."
    assert extract_judgments_py(text, "de") == []
    assert extract_judgments_py(text, "de", "UR_Gerichte") == ["dismissal"]
    assert extract_judgments_py(
        "Die Beschwerde wird abgewiesen.", "de", "UR_Gerichte"
    ) == []
