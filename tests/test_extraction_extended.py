"""Golden tests for E6 lower court, E8 participation, E10 gender."""

from __future__ import annotations

import pyspark.sql.functions as F

from swisscourtrulingcorpus_spark.extraction.lower_court import (
    extract_lower_court_py,
)
from swisscourtrulingcorpus_spark.extraction.participation import (
    extract_participation_py,
)


def test_lower_court_de_full():
    h = (
        "Beschwerde gegen das Urteil des Verwaltungsgerichts des Kantons "
        "Zürich vom 12. März 2018 (VB.2018.00123)"
    )
    got = extract_lower_court_py(h)
    assert got["court"] == "Verwaltungsgerichts"
    assert got["canton"] == "ZH"
    assert got["date"] == "2018-03-12"
    assert got["file_number"] == "VB.2018.00123"


def test_lower_court_partial_info():
    got = extract_lower_court_py("gegen den Entscheid des Obergerichts vom 1. Mai 2020")
    assert got["court"] == "Obergerichts"
    assert got["canton"] is None
    assert got["date"] == "2020-05-01"
    assert got["file_number"] is None


def test_lower_court_none():
    assert extract_lower_court_py("Kein Hinweis auf eine Vorinstanz.") is None
    assert extract_lower_court_py(None) is None


def test_participation_with_counsel():
    h = (
        "A._ AG, vertreten durch Rechtsanwalt Dr. Hans Muster, "
        "Beschwerdeführerin, gegen B._, Beschwerdegegner"
    )
    got = extract_participation_py(h)
    assert got["plaintiffs"][0]["name"] == "A._ AG"
    assert got["plaintiffs"][0]["legal_counsel"] == ["Hans Muster"]
    assert got["defendants"][0]["name"] == "B._"
    assert got["defendants"][0]["legal_counsel"] == []


def test_participation_anonymized_kept():
    got = extract_participation_py("C._ gegen D._ AG")
    assert got["plaintiffs"][0]["name"] == "C._"
    assert got["defendants"][0]["name"] == "D._ AG"


def test_participation_no_pivot():
    assert extract_participation_py("Nur eine Partei genannt.") is None


def test_gender_enrichment(spark):
    from swisscourtrulingcorpus_spark.extraction.gender import enrich_gender

    persons = spark.createDataFrame(
        [
            ("Huber", None, True),
            ("Meier", None, True),
            ("A._", None, True),       # anonymized: must stay null
            ("Keller", "m", True),     # already known: untouched
            ("Unbekannt", None, True), # resolver misses: stays null
        ],
        ["name", "gender", "is_natural_person"],
    )
    out = {r.name: r.gender for r in enrich_gender(persons).collect()}
    assert out == {
        "Huber": "m",
        "Meier": "f",
        "A._": None,
        "Keller": "m",
        "Unbekannt": None,
    }


def test_lower_court_udf_distributed(spark):
    from swisscourtrulingcorpus_spark.extraction.lower_court import (
        extract_lower_court_udf,
    )

    df = spark.createDataFrame(
        [
            ("gegen das Urteil des Kantonsgerichts des Kantons Waadt vom 3. Juni 2019 (ABC-123)",),
            ("nichts",),
        ],
        ["header"],
    )
    rows = df.select(extract_lower_court_udf("header").alias("lc")).collect()
    assert rows[0].lc.canton == "VD"
    assert rows[0].lc.file_number == "ABC-123"
    assert rows[1].lc.court is None


def test_frame_sample_fanout_count(spark, sf_dir):
    """1→N frame fan-out: total frames == sum over docs of len%5+1."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        attach_binary_payload,
        sample_frames_stub,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100)
    media = attach_binary_payload(docs, "text", "doc_id")
    got = sample_frames_stub(media).count()
    want = media.select(
        F.sum(F.length("payload") % 5 + 1).alias("n")
    ).collect()[0].n
    assert got == want


# ------------------------------------------------ external-corpus TEI ingest

def test_tei_parse_reference_shapes():
    """TEI parse: namespaced and plain headers, NoDate sentinel,
    malformed XML quarantined to a null row."""
    from swisscourtrulingcorpus_spark.sources.tei import parse_tei_string

    plain = (
        "<TEI><teiHeader><fileDesc>"
        "<titleStmt><title> Urteil X </title></titleStmt>"
        '<sourceDesc><biblStruct type="decision"><analytic>'
        "<idno>AZ 42</idno><idno>secondary</idno><date>2001-02-03</date>"
        "</analytic></biblStruct></sourceDesc></fileDesc></teiHeader>"
        "<text><body><p>Erster  Satz.</p><p>Zweiter Satz.</p></body></text></TEI>"
    )
    got = parse_tei_string(plain, "a.xml")
    assert got == {
        "source_file": "a.xml", "doc_type": "decision", "title": "Urteil X",
        "file_number": "AZ 42",  # FIRST idno, as the reference comments
        "date": "2001-02-03", "text": "Erster Satz. Zweiter Satz.",
    }

    namespaced = plain.replace(
        "<TEI>", '<TEI xmlns="http://www.tei-c.org/ns/1.0">'
    ).replace("<date>2001-02-03</date>", "<date>NoDate</date>")
    got = parse_tei_string(namespaced, "b.xml")
    assert got["title"] == "Urteil X" and got["doc_type"] == "decision"
    assert got["date"] is None  # NoDate sentinel -> null (jureko_processor.py:63-66)

    broken = parse_tei_string("<TEI><broken", "c.xml")
    assert broken["source_file"] == "c.xml"
    assert all(broken[k] is None for k in ("doc_type", "title", "file_number", "date", "text"))


def test_wiki_and_slc_parse():
    """WikiExtractor multi-doc fan-out (unescaped bodies tolerated) and
    SLC token-XML parse with skip-on-malformed."""
    from swisscourtrulingcorpus_spark.sources.tei import (
        parse_slc_string,
        parse_wiki_file,
    )

    wiki = (
        '<doc id="12" url="https://de.wikipedia.org/wiki?curid=12" title="Recht &amp; Staat">\n'
        "Recht & Staat ist ein Begriff. 1 < 2 gilt.\n</doc>\n"
        '<doc id="34" url="u2" title="Gericht">\nEin Gericht urteilt.\n</doc>'
    )
    rows = parse_wiki_file(wiki, "AA/wiki_00")
    assert [r["wiki_id"] for r in rows] == ["12", "34"]
    assert rows[0]["title"] == "Recht & Staat"
    assert rows[0]["text"] == "Recht & Staat ist ein Begriff. 1 < 2 gilt."
    assert rows[1]["text"] == "Ein Gericht urteilt."

    slc = (
        "<text><meta><sr>101</sr><name>OR</name><lang>de</lang></meta>"
        '<doc><p><t word="Der"/><t word="Vertrag"/></p><p><t word="gilt"/></p></doc></text>'
    )
    got = parse_slc_string(slc, "DE/or.xml")
    assert got == {
        "source_file": "DE/or.xml", "sr": "101", "title": "OR",
        "lang": "de", "tokens": ["Der", "Vertrag", "gilt"],
    }
    assert parse_slc_string("<text><meta/></text>") is None
    assert parse_slc_string("not xml") is None


def test_person_registry_enrichment(spark):
    """Registry matching semantics (`court_composition_extracting_
    functions.py:592-625`): token-subset match, initial prefix match,
    exactly-one rule, role gating."""
    from swisscourtrulingcorpus_spark.extraction.person_registry import (
        enrich_from_registry,
    )

    registry = spark.createDataFrame(
        [
            ("Vogel Markus", "judge", "male", "lib"),
            ("Vogel Martina", "judge", "female", "soc"),
            ("Keller Anna Sophie", "judge", "female", "green"),
            ("Keller Anna", "clerk", "female", None),
        ],
        "name: string, role: string, gender: string, party: string",
    )
    extracted = spark.createDataFrame(
        [
            (1, "Keller Anna Sophie", "judge"),   # exact subset -> unique
            (2, "Keller", "judge"),               # subset of one judge -> unique
            (3, "Vogel", "judge"),                # two candidates -> ambiguous
            (4, "Vogel M.", "judge"),             # initial M. matches BOTH -> ambiguous
            (5, "Vogel Martina", "judge"),        # full tokens disambiguate
            (6, "Keller Anna", "clerk"),          # role gates to the clerk entry
            (7, "Unbekannt", "judge"),            # no match
        ],
        "person_id: long, name: string, role: string",
    )
    got = {
        r.person_id: (r.matched, r.matched_name, r.gender, r.party)
        for r in enrich_from_registry(extracted, registry).collect()
    }
    assert got[1] == (True, "Keller Anna Sophie", "female", "green")
    assert got[2] == (True, "Keller Anna Sophie", "female", "green")
    assert got[3][0] is False
    assert got[4][0] is False
    assert got[5] == (True, "Vogel Martina", "female", "soc")
    assert got[6] == (True, "Keller Anna", "female", None)
    assert got[7][0] is False


def test_law_codes_to_area(spark):
    """codes_to_area consensus (`chamber_areas_from_law_codes.py:29-42`):
    unanimous first digit -> area, mixed/empty/unknown -> null."""
    from swisscourtrulingcorpus_spark.functions.domain import law_codes_to_area

    df = spark.createDataFrame(
        [
            (1, ["1.4.", "1.2."]), (2, ["2.1."]), (3, ["1.4.", "3.1."]),
            (4, []), (5, [""]), (6, ["9.9."]), (7, ["4.1.", "4.2.", "4.3."]),
        ],
        "id: long, codes: array<string>",
    )
    got = {r.id: r.area for r in df.select("id", law_codes_to_area("codes").alias("area")).collect()}
    assert got == {
        1: "civil_law", 2: "public_law", 3: None, 4: None,
        5: None, 6: None, 7: "social_law",
    }


def test_resize_image_real_roundtrip_and_bad_rows(spark):
    """Real resize: a 4x2 BMP box-averages to 2x1 with floor means,
    the re-encoded BMP parses back to those exact pixels, and the bad
    rows (null payload, undecodable bytes, sub-2x2 image) pass through
    as null-stat rows instead of killing the task."""
    from swisscourtrulingcorpus_spark.extraction.imagecodec import (
        decode_image,
        encode_bmp24,
    )
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        _resize_box2,
        resize_image_features,
    )

    w, h = 4, 2
    px = bytes((7 * i) % 256 for i in range(w * h * 3))
    ow, oh, out = _resize_box2(w, h, 3, px)
    assert (ow, oh) == (2, 1)
    for X in range(ow):
        for c in range(3):
            s = (
                px[(2 * X) * 3 + c]
                + px[(2 * X + 1) * 3 + c]
                + px[(w + 2 * X) * 3 + c]
                + px[(w + 2 * X + 1) * 3 + c]
            )
            assert out[X * 3 + c] == s // 4

    media = spark.createDataFrame(
        [
            (1, encode_bmp24(w, h, px)),
            (2, None),
            (3, b"not an image at all"),
            (4, encode_bmp24(1, 1, bytes(3))),
        ],
        "doc_id: long, payload: binary",
    )
    rows = {r.doc_id: r for r in resize_image_features(media).collect()}
    ok = rows[1]
    assert (ok.out_w, ok.out_h, ok.out_pixel_sum) == (2, 1, sum(out))
    # parse the re-encoded BMP size contract
    rw, rh, rn, rpx = decode_image(encode_bmp24(ow, oh, bytes(out)))
    assert (rw, rh, bytes(rpx)) == (ow, oh, bytes(out))
    assert rows[2].fmt == "missing" and rows[2].out_pixel_sum is None
    assert rows[3].fmt == "other" and rows[3].out_w is None
    assert rows[4].fmt == "bmp_tiny" and rows[4].out_pixel_sum is None


def test_resize_gray_alpha_replicates_gray_not_alpha(spark):
    """2-channel (gray+alpha) PNGs: the BMP re-encode must replicate
    channel 0 (gray) — the old i//3 stride walked into alpha bytes
    (r06 review, reproduced)."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import _resize_box2

    w, h, nch = 4, 2, 2
    # gray distinct from alpha so a stride bug is visible
    px = bytes(
        (35 if c == 0 else 200) for _ in range(w * h) for c in range(nch)
    )
    ow, oh, out = _resize_box2(w, h, nch, px)
    rgb = bytes(out[(i // 3) * nch] for i in range(ow * oh * 3))
    assert set(rgb) == {35}, rgb
