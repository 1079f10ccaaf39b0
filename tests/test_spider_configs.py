"""Golden tests for the per-spider extraction configs (VERDICT r02 #2).

One fixture document per top-volume court (the reference's own skew
list, `dataset_creator.py:424-439`), exercising the spider-dispatched
section splitter and the enriched judgment markers end-to-end in plain
Python (the pandas_udf twins share these code paths and are covered by
the pipeline tests).
"""

import pyspark.sql.functions as F

from swisscourtrulingcorpus_spark.extraction.judgments import extract_judgments_py
from swisscourtrulingcorpus_spark.extraction.sections import split_sections_py


def _by_section(parts):
    return {p["section"]: p["text"] for p in parts}


# ---------------------------------------------------------------- CH_BGer

CH_BGER_DE = """Bundesgericht 1C_123/2020
Besetzung Bundesrichter Muster, Präsident, Bundesrichterin Beispiel, Gerichtsschreiber Schreiber.
Gegenstand Baubewilligung
Sachverhalt:
A.- Die Gemeinde erteilte am 1. Januar 2019 die Baubewilligung.
B. Dagegen erhob X. Beschwerde.
Erwägungen:
1. Die Beschwerde richtet sich gegen einen kantonalen Endentscheid.
2. Die Rügen erweisen sich als unbegründet.
Demnach erkennt das Bundesgericht:
1. Die Beschwerde wird abgewiesen, soweit darauf einzutreten ist.
2. Die Gerichtskosten werden dem Beschwerdeführer auferlegt.
Rechtsmittelbelehrung
Gegen diesen Entscheid ist keine Beschwerde gegeben."""


def test_ch_bger_de_sections_and_judgment():
    got = _by_section(split_sections_py(CH_BGER_DE, "de", "CH_BGer"))
    assert "Besetzung" in got["header"]
    assert "Baubewilligung" in got["topic"]
    assert "Gemeinde" in got["facts"]
    assert "unbegründet" in got["considerations"]
    assert "abgewiesen" in got["rulings"]
    assert "Rechtsmittelbelehrung" in got["footer"]

    outcomes = extract_judgments_py(got["rulings"], "de", "CH_BGer")
    # partial dismissal + the standalone inadmissibility reservation
    assert "partial_dismissal" in outcomes
    assert "dismissal" not in outcomes


CH_BGER_FR = """Tribunal fédéral 2C_456/2021
Composition MM. les Juges Martin, Président, et Dupont.
Objet Impôt cantonal
Faits :
A.- Le contribuable a déposé sa déclaration en 2019.
Considérant en droit :
1. Le recours est dirigé contre une décision finale.
Par ces motifs, le Tribunal fédéral prononce :
1. Le recours est admis et l'arrêt attaqué est annulé.
2. Les frais judiciaires sont mis à la charge de l'intimé."""


def test_ch_bger_fr_sections_and_judgment():
    got = _by_section(split_sections_py(CH_BGER_FR, "fr", "CH_BGer"))
    assert "Impôt" in got["topic"]
    assert "contribuable" in got["facts"]
    assert "décision finale" in got["considerations"]
    assert "admis" in got["rulings"]

    outcomes = extract_judgments_py(got["rulings"], "fr", "CH_BGer")
    assert outcomes == ["approval"]


CH_BGER_IT = """Tribunale federale 4A_789/2021
Composizione Giudici federali Rossi, Presidente, Bianchi.
Oggetto contratto di lavoro
Fatti:
A. Il lavoratore ha chiesto il pagamento del salario.
Diritto:
1. Il ricorso è tempestivo.
Per questi motivi, il Tribunale federale pronuncia:
1. Nella misura in cui è ammissibile, il ricorso è respinto.
Losanna, 3 marzo 2021"""


def test_ch_bger_it_sections_and_judgment():
    got = _by_section(split_sections_py(CH_BGER_IT, "it", "CH_BGer"))
    assert "contratto" in got["topic"]
    assert "lavoratore" in got["facts"]
    assert "tempestivo" in got["considerations"]
    assert "respinto" in got["rulings"]
    # the trailing "<place>, <date>" line is footer under CH_BGer's it config
    assert "marzo" in got.get("footer", "")

    outcomes = extract_judgments_py(got["rulings"], "it", "CH_BGer")
    assert "partial_dismissal" in outcomes


# --------------------------------------------------------------- CH_BVGer

CH_BVGER_DE = """Bundesverwaltungsgericht A-1234/2020
Besetzung Richter Muster (Vorsitz), Richterin Beispiel.
Sachverhalt
A. Die Vorinstanz verfügte am 5. Mai 2019 die Rückerstattung.
Das Bundesverwaltungsgericht zieht in Erwägung
1. Auf die Beschwerde ist einzutreten.
2. Die Beschwerde erweist sich als begründet.
Demnach erkennt das Bundesverwaltungsgericht
1. Die Beschwerde wird gutgeheissen und die Verfügung aufgehoben.
Dieses Urteil geht an:
- die Beschwerdeführerin"""


def test_ch_bvger_de_sections_and_judgment():
    got = _by_section(split_sections_py(CH_BVGER_DE, "de", "CH_BVGer"))
    assert "Vorinstanz" in got["facts"]
    assert "begründet" in got["considerations"]
    assert "gutgeheissen" in got["rulings"]
    assert "geht an" in got["footer"]

    outcomes = extract_judgments_py(got["rulings"], "de", "CH_BVGer")
    assert outcomes == ["approval"]


# ------------------------------------------------------------- GE_Gerichte

GE_FR = """République et canton de Genève A/567/2020
Madame X, recourante, contre Office cantonal, intimé.
EN FAIT
1. Par décision du 2 février 2020, l'office a refusé la demande.
EN DROIT
1. Le recours a été interjeté en temps utile.
PAR CES MOTIFS
LA CHAMBRE ADMINISTRATIVE
rejette le recours.
Voie de recours
Un recours peut être formé dans les 30 jours."""


def test_ge_gerichte_fr_sections_and_judgment():
    got = _by_section(split_sections_py(GE_FR, "fr", "GE_Gerichte"))
    assert "refusé" in got["facts"]
    assert "temps utile" in got["considerations"]
    assert "rejette" in got["rulings"]
    assert "30 jours" in got["footer"]

    outcomes = extract_judgments_py(got["rulings"], "fr", "GE_Gerichte")
    assert outcomes == ["dismissal"]


# ---------------------------------------- ZH_Sozialversicherungsgericht

ZH_SVG_DE = """Sozialversicherungsgericht des Kantons Zürich IV.2020.00123
Mitwirkende: Ersatzrichterin Muster, Gerichtsschreiber Beispiel.
Sachverhalt:
1. Die IV-Stelle lehnte das Leistungsbegehren ab.
in Erwägung:
1. Streitig ist der Rentenanspruch.
Das Gericht erkennt:
1. Die Beschwerde wird in dem Sinne teilweise gutgeheissen, dass die Sache an die IV-Stelle zurückgewiesen wird.
Gegen diesen Entscheid kann innert 30 Tagen Beschwerde erhoben werden."""


def test_zh_svg_de_sections_and_judgment():
    got = _by_section(split_sections_py(ZH_SVG_DE, "de", "ZH_Sozialversicherungsgericht"))
    assert "IV-Stelle" in got["facts"]
    assert "Rentenanspruch" in got["considerations"]
    assert "teilweise gutgeheissen" in got["rulings"]
    assert "30 Tagen" in got["footer"]

    outcomes = extract_judgments_py(got["rulings"], "de", "ZH_Sozialversicherungsgericht")
    assert "partial_approval" in outcomes
    assert "approval" not in outcomes


# -------------------------------------------------------------- VD courts

VD_FR = """Tribunal cantonal du canton de Vaud CR.2020.0042
Composition: M. le Juge Martin, président.
En fait :
A. La recourante a requis l'assistance judiciaire.
En droit :
1. La requête est fondée.
Par ces motifs,
le Tribunal cantonal admet le recours et annule la décision attaquée.
Le président : La greffière :"""


def test_vd_omni_fr_sections_and_judgment():
    got = _by_section(split_sections_py(VD_FR, "fr", "VD_Omni"))
    assert "assistance" in got["facts"]
    assert "fondée" in got["considerations"]
    assert "admet" in got["rulings"]

    outcomes = extract_judgments_py(got["rulings"], "fr", "VD_Omni")
    assert outcomes == ["approval"]


# ------------------------------------------- order-overriding spiders

LU_DE = """Kantonsgericht Luzern 7H 20 123
Entscheid:
Die Verwaltungsgerichtsbeschwerde wird abgewiesen.
Aus den Erwägungen
1. Gemäss § 107 VRG ist die Beschwerde zulässig."""


def test_lu_gerichte_rulings_before_considerations():
    got = _by_section(split_sections_py(LU_DE, "de", "LU_Gerichte"))
    # LU publishes the dispositive BEFORE the considerations
    assert "abgewiesen" in got["rulings"]
    assert "§ 107" in got["considerations"]


# ----------------------------------------- enriched generic judgment recall

def test_enriched_de_judgment_recall():
    assert extract_judgments_py(
        "Das angefochtene Urteil wird aufgehoben.", "de"
    ) == ["approval"]
    assert extract_judgments_py(
        "Der Beschuldigte wird freigesprochen.", "de"
    ) == ["dismissal"]
    got = extract_judgments_py(
        "Die Beschwerde wird abgewiesen, soweit darauf einzutreten ist.", "de"
    )
    assert "partial_dismissal" in got and "dismissal" not in got


def test_enriched_fr_judgment_recall():
    assert extract_judgments_py("Admet le recours.", "fr") == ["approval"]
    assert extract_judgments_py(
        "La décision attaquée est annulée.", "fr"
    ) == ["approval"]
    got = extract_judgments_py(
        "Le recours est rejeté dans la mesure où il est recevable.", "fr"
    )
    assert "partial_dismissal" in got and "dismissal" not in got


def test_enriched_it_judgment_recall():
    # stemmed forms: accolto/accolta, respinto/respinti, annullata
    assert extract_judgments_py("Il ricorso è accolto.", "it") == ["approval"]
    assert extract_judgments_py("La domanda è accolta.", "it") == ["approval"]
    assert extract_judgments_py("I ricorsi sono respinti.", "it") == ["dismissal"]
    assert extract_judgments_py(
        "Il ricorso è inammissibile.", "it"
    ) == ["inadmissible"]
    assert extract_judgments_py(
        "La causa è stralciata dai ruoli.", "it"
    ) == ["write_off"]


# ------------------------------- composition / participation / lower court

def test_composition_gendered_fr_roles_and_block_bounds():
    from swisscourtrulingcorpus_spark.extraction.composition import (
        extract_composition_py,
    )

    header = (
        "Composition MM. les Juges fédéraux Martin, Président, Dupont, "
        "Mme la Juge fédérale Lefèvre, Greffière Mme Rossi. "
        "Parties X. contre Office cantonal."
    )
    got = extract_composition_py(header)
    names = [j["name"] for j in got["judges"]]
    assert "Martin" in " ".join(names) and "Lefèvre" in " ".join(names)
    genders = {j["name"]: j["gender"] for j in got["judges"]}
    assert any(g == "f" for g in genders.values())
    assert got["president"] and "Martin" in got["president"]
    # parties block excluded: "Office cantonal" is not on the bench
    assert all("Office" not in j["name"] for j in got["judges"])


def test_composition_runaway_guard():
    from swisscourtrulingcorpus_spark.extraction.composition import (
        extract_composition_py,
    )

    header = "Besetzung " + " ".join(
        f"Richter Name{i}," for i in range(8)
    )
    assert extract_composition_py(header) is None


def test_participation_counsel_titles():
    from swisscourtrulingcorpus_spark.extraction.participation import (
        extract_participation_py,
    )

    header = (
        "A._ AG, vertreten durch Fürsprecherin Dr. Anna Muster, "
        "Beschwerdeführerin, gegen B._, vertreten durch Rechtsanwalt "
        "Hans Beispiel, Beschwerdegegner."
    )
    got = extract_participation_py(header)
    assert got["plaintiffs"][0]["name"].startswith("A._")
    assert any("Anna" in c for c in got["plaintiffs"][0]["legal_counsel"])
    assert any("Hans" in c for c in got["defendants"][0]["legal_counsel"])


def test_participation_contro_lookahead():
    from swisscourtrulingcorpus_spark.extraction.participation import (
        extract_participation_py,
    )

    # "contro la decisione" is the appealed ruling, not a party pivot
    header = "A._ ricorrente contro la decisione del 5 maggio 2020"
    assert extract_participation_py(header) is None
    header = "A._, ricorrente, contro B._, opponente"
    got = extract_participation_py(header)
    assert got["plaintiffs"][0]["name"] == "A._"
    assert got["defendants"][0]["name"] == "B._"


def test_lower_court_labeled_and_it_forms():
    from swisscourtrulingcorpus_spark.extraction.lower_court import (
        extract_lower_court_py,
    )

    got = extract_lower_court_py(
        "Vorinstanz: Verwaltungsgericht des Kantons Zürich, "
        "Urteil vom 12. März 2018 (VB.2018.00123)"
    )
    assert got["court"] == "Verwaltungsgericht"
    assert got["canton"] == "ZH"
    assert got["date"] == "2018-03-12"

    got = extract_lower_court_py(
        "ricorso contro la sentenza emanata dal Tribunale d'appello "
        "del Cantone Ticino"
    )
    assert got is not None and "Tribunale" in got["court"]
    assert got["canton"] == "TI"


# --------------------------------------------------- citation regex breadth

def test_citation_bge_with_considerand_and_page():
    from swisscourtrulingcorpus_spark.extraction.citations import (
        extract_citations_py,
    )

    got = extract_citations_py(
        "Vgl. BGE 126 I 81 E. 5aa und b sowie BGE 123 I 342 S. 345 f. "
        "und ATF 145 II 32 consid. 4.2.3."
    )
    rulings = [c for c in got if c["type"] == "ruling"]
    assert len(rulings) == 3
    # the considerand/page tail is part of the cited span
    assert any("E. 5aa und b" in c["text"] for c in rulings)
    assert any("S. 345 f." in c["text"] for c in rulings)
    assert any("consid. 4.2.3" in c["text"] for c in rulings)
    # (year, volume, page) still parse from the head
    assert {(c["year"], c["volume"], c["page"]) for c in rulings} == {
        (126, "I", 81), (123, "I", 342), (145, "II", 32)
    }


def test_citation_bger_docket_numbers():
    from swisscourtrulingcorpus_spark.extraction.citations import (
        extract_citations_py,
    )

    got = extract_citations_py(
        "Im Urteil 8C_123/2019 vom 12. März 2019 E. 4.2 wurde dies bejaht; "
        "siehe auch 2C_45/2021."
    )
    bger = [c for c in got if c["type"] == "bger"]
    assert len(bger) == 2
    assert bger[0]["text"].startswith("8C_123/2019 vom")
    assert bger[0]["year"] == 2019
    assert bger[1]["text"] == "2C_45/2021"


def test_citation_multilingual_law_forms():
    from swisscourtrulingcorpus_spark.extraction.citations import (
        extract_citations_py,
    )

    got = extract_citations_py(
        "Gestützt auf Art. 45 Abs. 3 lit. a BGG und art. 4 al. 3 let. a LTF "
        "sowie art. 6 cpv. 2 lett. b LEF."
    )
    laws = [c for c in got if c["type"] == "law"]
    assert {c["law"] for c in laws} == {"BGG", "LTF", "LEF"}
    assert {c["article"] for c in laws} == {"45", "4", "6"}
    assert {c["paragraph"] for c in laws} == {3, 3, 2}


def test_citation_ivm_chain_and_double_law_fix():
    from swisscourtrulingcorpus_spark.extraction.citations import (
        extract_citations_py, _clean_law_text,
    )

    got = extract_citations_py("Nach Art. 100 Abs. 1 i.V.m. Art. 117 BGG gilt.")
    laws = [c for c in got if c["type"] == "law"]
    assert len(laws) == 1
    assert "i.V.m." in laws[0]["text"] and laws[0]["law"] == "BGG"

    assert _clean_law_text("Art. 147  Abs. 1 StGB StGB") == "Art. 147 Abs. 1 StGB"


# --------------------------------------- E1 language-id accuracy (decision)

def test_language_id_multilingual_accuracy(spark):
    """E1 is a stopword heuristic BY DECISION (fastText and its model
    file are unavailable here); this pins its accuracy on realistic
    register sentences in all three court languages plus English, and
    the undetermined fallback on stopword-free text."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.functions.text import language_id_score

    fixtures = [
        ("Die Beschwerde wird abgewiesen und die Kosten werden nicht erhoben.", "de"),
        ("Der Entscheid der Vorinstanz wird mit der Begründung bestätigt.", "de"),
        ("Le recours est rejeté et les frais ne sont pas mis à la charge.", "fr"),
        ("La cour cantonale est compétente et le grief est examiné.", "fr"),
        ("Il ricorso è respinto e le spese non sono poste a carico.", "it"),
        ("La parte ha presentato il ricorso che non è fondato per una ragione.", "it"),
        ("The appeal is dismissed and this decision is final with costs.", "en"),
        ("Zxqv pqrs wxyz.", "und"),
    ]
    df = spark.createDataFrame(fixtures, "text string, expected string")
    got = df.select("expected", language_id_score("text").alias("lang")).collect()
    for r in got:
        assert r.lang == r.expected, f"{r.expected}: got {r.lang}"


def test_gender_collect_bound(spark):
    """The driver-side name collect is bounded: overflow names keep
    their null gender instead of growing the collect."""
    from swisscourtrulingcorpus_spark.extraction.gender import enrich_gender

    rows = [(f"Name{i} Person", None) for i in range(6)]
    df = spark.createDataFrame(rows, "name string, gender string")

    seen = []

    def resolver(names):
        seen.extend(names)
        return {n: "m" for n in names}

    out = enrich_gender(df, resolver=resolver, max_names=3)
    assert len(seen) == 3
    assert out.where(F.col("gender").isNotNull()).count() == 3
    assert out.where(F.col("gender").isNull()).count() == 3


# ------------------------------------------ S4 pure-python PDF extraction

def _make_pdf(content: bytes, compress: bool) -> bytes:
    import zlib

    body = zlib.compress(content) if compress else content
    filt = b"/Filter /FlateDecode " if compress else b""
    return (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(body)).encode()
        + b" " + filt + b">>\nstream\n"
        + body
        + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )


def test_pdf_text_extraction_flate_and_plain(spark):
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.extraction.pdf import (
        extract_pdf_text_py,
        extract_pdf_text_udf,
    )

    content = (
        b"BT /F1 12 Tf 50 720 Td (Sachverhalt:) Tj "
        b"0 -14 Td (Die Partei reichte ein \\(neues\\) Gesuch ein.) Tj ET"
    )
    for compress in (True, False):
        text = extract_pdf_text_py(_make_pdf(content, compress))
        assert text == "Sachverhalt:\nDie Partei reichte ein (neues) Gesuch ein."

    # TJ arrays and octal escapes
    content2 = b"BT [(Erw\\344gungen) (:)] TJ ET"
    assert extract_pdf_text_py(_make_pdf(content2, True)) == "Erwägungen:"

    # non-PDF payloads and image-only PDFs degrade to null
    assert extract_pdf_text_py(b"not a pdf") is None
    assert extract_pdf_text_py(None) is None

    # through the Spark surface: binary column -> text column
    rows = [(1, _make_pdf(content, True)), (2, b"garbage")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.doc_id: r.text
        for r in df.select(
            "doc_id", extract_pdf_text_udf("payload").alias("text")
        ).collect()
    }
    assert got[1].startswith("Sachverhalt:")
    assert got[2] is None


# ----------------------------------- fundamental-importance analysis

def test_fundamental_importance_analysis(spark):
    from swisscourtrulingcorpus_spark.plans.analyses import (
        fundamental_importance_sentences,
        fundamental_importance_summary,
    )

    sections = spark.createDataFrame(
        [
            # affirmed (de)
            ("d1", "de", "considerations",
             "Es liegt eine Rechtsfrage von grundsätzlicher Bedeutung vor. "
             "Die Beschwerde ist daher zulässig."),
            # negated (de)
            ("d2", "de", "considerations",
             "Es liegt keine Rechtsfrage von grundsätzlicher Bedeutung vor."),
            # affirmed (fr)
            ("d3", "fr", "considerations",
             "Le recours soulève une question juridique de principe."),
            # negated (fr)
            ("d4", "fr", "considerations",
             "Le recours ne soulève pas de question juridique de principe."),
            # no mention at all
            ("d5", "de", "considerations", "Die Kosten trägt die Partei."),
        ],
        "decision_id string, language string, section string, section_text string",
    )
    decisions = spark.createDataFrame(
        [
            ("d1", "2019-01-01", "CH_BGer_001"),
            ("d2", "2019-06-01", "CH_BGer_001"),
            ("d3", "2020-01-01", "CH_BGer_002"),
            ("d4", "2020-06-01", "CH_BGer_002"),
            ("d5", "2020-07-01", "CH_BGer_001"),
        ],
        "decision_id string, date string, chamber string",
    ).withColumn("date", F.to_date("date"))
    tables = {"section": sections, "decision": decisions}

    sent = {r.decision_id: r.negated
            for r in fundamental_importance_sentences(tables).collect()}
    assert sent == {"d1": False, "d2": True, "d3": False, "d4": True}

    by_year = {r.year: (r.negated, r.not_negated, r.total)
               for r in fundamental_importance_summary(tables, "year").collect()}
    assert by_year == {2019: (1, 1, 2), 2020: (1, 1, 2)}

    by_area = {r.legal_area: r.not_negated_percentage
               for r in fundamental_importance_summary(tables, "legal_area").collect()}
    assert by_area == {"public_law": 50.0, "civil_law": 50.0}


# ----------------------------------------- batch-2 spider configs (sample)

def test_ti_gerichte_it():
    doc = """Tribunale d'appello TI 12.2020.42
ritenuto, in fatto
A. Il ricorrente ha impugnato la decisione.
Considerato, in diritto
1. Il gravame è ricevibile.
Per questi motivi,
dichiara e pronuncia:
1. Il ricorso è respinto.
Per il Tribunale cantonale amministrativo"""
    got = _by_section(split_sections_py(doc, "it", "TI_Gerichte"))
    assert "impugnato" in got["facts"]
    assert "ricevibile" in got["considerations"]
    assert "respinto" in got["rulings"]
    assert "amministrativo" in got["footer"]


def test_bs_omni_de():
    doc = """Appellationsgericht des Kantons Basel-Stadt BES.2020.77
Sachverhalt:
Die Staatsanwaltschaft stellte das Verfahren ein.
Begründung:
Die Einstellung erweist sich als rechtmässig.
Demgemäss erkennt das Appellationsgericht:
Die Beschwerde wird abgewiesen.
Rechtsmittelbelehrung"""
    got = _by_section(split_sections_py(doc, "de", "BS_Omni"))
    assert "Staatsanwaltschaft" in got["facts"]
    assert "rechtmässig" in got["considerations"]
    assert "abgewiesen" in got["rulings"]
    assert "Rechtsmittelbelehrung" in got["footer"]


def test_vs_gerichte_fr():
    doc = """Tribunal cantonal du Valais C1 20 55
Faits et procédure
A. Le recourant a saisi le tribunal.
Considérant en droit:
1. Le moyen est fondé.
Par ces motifs,
prononce:
Le recours est admis."""
    got = _by_section(split_sections_py(doc, "fr", "VS_Gerichte"))
    assert "saisi" in got["facts"]
    assert "fondé" in got["considerations"]
    assert "admis" in got["rulings"]


def test_sg_gerichte_de():
    doc = """Verwaltungsgericht des Kantons St. Gallen B 2020/112
Das Verwaltungsgericht stellt fest:
A. Die Vorinstanz wies das Gesuch ab.
Darüber zieht das Verwaltungsgericht in Erwägung:
1. Die Beschwerde ist zulässig.
Demnach erkennt das Verwaltungsgericht zu Recht:
1. Die Beschwerde wird gutgeheissen.
Rechtsmittelbelehrung"""
    got = _by_section(split_sections_py(doc, "de", "SG_Gerichte"))
    assert "Vorinstanz" in got["facts"]
    assert "zulässig" in got["considerations"]
    assert "gutgeheissen" in got["rulings"]


def test_zh_obergericht_de():
    doc = """Obergericht des Kantons Zürich LB200042
betreffend Forderung
Sachverhalt:
Die Klägerin verlangte die Zahlung.
Das Gericht zieht in Erwägung:
1. Die Berufung ist form- und fristgerecht.
Es wird erkannt:
1. Die Berufung wird abgewiesen.
OBERGERICHT DES KANTONS ZÜRICH"""
    got = _by_section(split_sections_py(doc, "de", "ZH_Obergericht"))
    assert "Zahlung" in got["facts"]
    assert "fristgerecht" in got["considerations"]
    assert "abgewiesen" in got["rulings"]
    assert "OBERGERICHT" in got["footer"]


def test_ow_gerichte_rulings_first_order():
    # OW publishes the dispositive excerpt FIRST; the document opens in
    # rulings, facts and reasoning follow
    doc = """Die Beschwerde wird abgewiesen und die Kosten auferlegt.
Sachverhalt
Der Gesuchsteller verlangte Einsicht.
Aus den Erwägungen
1. Massgebend ist Art. 12 der Verordnung."""
    got = _by_section(split_sections_py(doc, "de", "OW_Gerichte"))
    assert "abgewiesen" in got["rulings"]
    assert "Einsicht" in got["facts"]
    assert "Verordnung" in got["considerations"]


def test_ne_omni_spaced_letters():
    doc = """Tribunal administratif NE
Résumé
Le recourant conteste la taxe.
C O N S I D E R A N T
1. La taxe est conforme.
Par ces motifs,
le tribunal rejette le recours.
AU NOM DU TRIBUNAL ADMINISTRATIF"""
    got = _by_section(split_sections_py(doc, "fr", "NE_Omni"))
    assert "conteste" in got["facts"]
    assert "conforme" in got["considerations"]
    assert "rejette" in got["rulings"]


# ----------------------------------------------- E9 BGE docket references

def test_bge_reference_extraction():
    from swisscourtrulingcorpus_spark.extraction.bge_reference import (
        NO_REFERENCE,
        extract_bge_reference_py,
    )

    # modern underscore form
    assert extract_bge_reference_py("Urteil 8C_123/2019 vom 1. Mai") == "8C_123/2019"
    # dotted and spaced historic forms normalize to underscores
    assert extract_bge_reference_py("Urteil 8C.123/2019") == "8C_123/2019"
    assert extract_bge_reference_py("Urteil 8C 123/2019") == "8C_123/2019"
    # pre-2000 reporter form with trailing terminator
    assert extract_bge_reference_py("Verfahren B 12/99 betreffend") == "B_12/99"
    # multiple references join with '-'
    assert (
        extract_bge_reference_py("Urteile 8C_123/2019 und 8C_124/2019")
        == "8C_123/2019-8C_124/2019"
    )
    assert extract_bge_reference_py("Kein Aktenzeichen hier") == NO_REFERENCE


def test_composition_cantonal_judge_titles():
    from swisscourtrulingcorpus_spark.extraction.composition import (
        extract_composition_py,
    )

    got = extract_composition_py(
        "Mitwirkende: Sozialversicherungsrichterin Muster, Vorsitzende, "
        "Baurichter Beispiel, Gerichtssekretärin Schreiber. In Sachen"
    )
    roles = {j["name"]: j["gender"] for j in got["judges"]}
    assert roles.get("Muster") == "f"
    assert roles.get("Beispiel") == "m"
    assert got["clerks"] and got["clerks"][0]["name"] == "Schreiber"


# --------------------------------------------- E2 per-spider cleaning rules

def test_spider_cleaning_rules(spark):
    from swisscourtrulingcorpus_spark.extraction.cleaning import (
        clean_text_py,
        clean_text_udf,
    )

    # SG platform boilerplate + ISO artifact
    raw = (
        "Publikationsplattform Kanton St.Gallen\n"
        "Die Beschwerde ist begründet.\n"
        "© Kanton St.Gallen 2020 Seite 3/7\n"
        "2020-05-01T10:30:00+02:00"
    )
    got = clean_text_py(raw, "SG_Gerichte")
    assert "Publikationsplattform" not in got
    assert "Seite 3/7" not in got
    assert "T10:30" not in got
    assert "begründet" in got

    # CH_BVGer: page numbers + own docket scrubbed via file_number
    raw = "A-1234/2020 Seite 2 Die Verfügung wird aufgehoben. A-1234/2020"
    got = clean_text_py(raw, "CH_BVGer", "A-1234/2020")
    assert "A-1234/2020" not in got
    assert "Seite 2" not in got
    assert "aufgehoben" in got

    # generic path unchanged when no spider rules exist
    assert clean_text_py("a  b", "NoSuchSpider") == "a b"

    # through the Spark surface
    df = spark.createDataFrame(
        [(raw, "CH_BVGer", "A-1234/2020")],
        "text string, spider string, file_number string",
    )
    out = df.select(
        clean_text_udf("text", "spider", "file_number").alias("t")
    ).collect()[0].t
    assert "A-1234/2020" not in out and "aufgehoben" in out


def test_bger_citation_list_and_pdf_paragraphs():
    from swisscourtrulingcorpus_spark.extraction.bge_reference import (
        find_bger_citations_py,
    )
    from swisscourtrulingcorpus_spark.extraction.pdf import pdf_paragraphs_py

    cits = find_bger_citations_py(
        "Siehe 8C_123/2019 und 8C.124/2019; vgl. B 12/99 ferner."
    )
    assert cits == ["8C_123/2019", "8C_124/2019", "B_12/99"]
    assert find_bger_citations_py("nichts") == []

    paras = pdf_paragraphs_py("Erster Absatz\nFortsetzung.\n   \nZweiter  Absatz.\n\n\n")
    assert paras == ["Erster Absatz Fortsetzung.", "Zweiter Absatz."]


def test_participation_cantonal_roles():
    from swisscourtrulingcorpus_spark.extraction.participation import (
        extract_participation_py,
    )

    header = (
        "Muster Bau AG, Rekurrentin, vertreten durch RA Hans Beispiel, "
        "gegen Stadt Zürich, Rekursgegnerin."
    )
    got = extract_participation_py(header)
    assert got["plaintiffs"][0]["name"].startswith("Muster Bau AG")
    assert any("Hans" in c for c in got["plaintiffs"][0]["legal_counsel"])
    assert got["defendants"][0]["name"].startswith("Stadt Zürich")


def test_be_bvd_roman_labels():
    doc = """Bau-, Verkehrs- und Energiedirektion des Kantons Bern
I. Sachverhalt
Der Gesuchsteller beantragte die Bewilligung.
II. Erwägungen
1. Die Zuständigkeit ist gegeben.
III. Entscheid
Das Gesuch wird abgewiesen.
IV. Eröffnung
Dem Gesuchsteller."""
    got = _by_section(split_sections_py(doc, "de", "BE_BVD"))
    assert "Bewilligung" in got["facts"]
    assert "Zuständigkeit" in got["considerations"]
    assert "abgewiesen" in got["rulings"]
    assert "Gesuchsteller" in got["footer"]


def test_ch_bpatg_no_facts():
    doc = """Bundespatentgericht O2020_001
Das Bundespatentgericht zieht in Erwägung:
1. Die Klage betrifft das Streitpatent.
Das Bundespatentgericht erkennt:
1. Die Klage wird abgewiesen.
Rechtsmittelbelehrung:
Gegen diesen Entscheid."""
    got = _by_section(split_sections_py(doc, "de", "CH_BPatG"))
    assert "Streitpatent" in got["considerations"]
    assert "abgewiesen" in got["rulings"]
    assert "facts" not in got


def test_ch_bge_published_volume():
    doc = """121 II 39
Sachverhalt
A. Die Vorinstanz entschied gegen die Beschwerdeführerin.
Erwägungen:
1. Die Frage ist von grundsätzlicher Bedeutung.
Dispositiv
Demnach erkennt das Bundesgericht."""
    got = _by_section(split_sections_py(doc, "de", "CH_BGE"))
    assert "Vorinstanz" in got["facts"]
    assert "grundsätzlicher" in got["considerations"]
    assert "erkennt" in got["rulings"]


def test_composition_zh_steuerrekurs_titles():
    """ZH_Steuerrekurs bench: Steuerrichter + lay (Ersatz)Mitglied with
    unknown gender (`court_composition_extracting_functions.py:435-478`)."""
    from swisscourtrulingcorpus_spark.extraction.composition import (
        extract_composition_py,
    )

    got = extract_composition_py(
        "Mitwirkend: Abteilungsvizepräsident Huber, Steuerrichterin Meier, "
        "Ersatzmitglied Keller, Gerichtsschreiber Frei. In Sachen"
    )
    roles = {j["name"]: j["gender"] for j in got["judges"]}
    assert roles.get("Huber") == "m"
    assert roles.get("Meier") == "f"
    assert "Keller" in roles and roles["Keller"] is None
    assert got["clerks"][0]["name"] == "Frei"


def test_cleaning_batch3_spiders():
    """Batch-3 cleaning rules (`cleaning_regexes.json`: AR/SZ/ZG/FR/
    SH/CH_BGer) — page numbers, export artifacts, spaced-letter PDF
    emphasis."""
    from swisscourtrulingcorpus_spark.extraction.cleaning import clean_text_py

    assert "Seite 3" not in clean_text_py("Der Entscheid. Seite 3", "AR_Gerichte")
    assert "Schwyz 7" not in clean_text_py(
        "Begründung. Kantonsgericht Schwyz 7", "SZ_Gerichte"
    )
    got = clean_text_py("Normal.dotx Urteil folgt.\n4\nWeiter.", "ZG_Verwaltungsgericht")
    assert "Normal.dot" not in got and "\n4\n" not in got
    got = clean_text_py("Tribunal cantonal TC arrêt Page 2 de 9 suite", "FR_Gerichte")
    assert "Tribunal cantonal TC" not in got and "Page 2 de 9" not in got
    got = clean_text_py("Microsoft Word - urteil.docx\nEntscheid\n2019\nGrund.", "SH_OG")
    assert "Microsoft Word" not in got and "2019" not in got
    # spaced-letter emphasis collapses back into the word
    assert "Urteil" in clean_text_py("U r t e i l vom 3. Mai", "CH_BGer")
