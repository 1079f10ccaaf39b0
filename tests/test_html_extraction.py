"""Golden tests for the stdlib-HTMLParser S3/E4 html path."""

from __future__ import annotations

from swisscourtrulingcorpus_spark.extraction.html import (
    html_citations_py,
    html_paragraphs_py,
    html_to_text_py,
)

HTML_DOC = """<html><head><title>x</title><style>p {color: red}</style></head>
<body>
<h1>Urteil vom 3. Mai 2019</h1>
<p>Besetzung: Bundesrichter Huber, Pr&auml;sident</p>
<div>Sachverhalt</div>
<p>A. Die Beschwerdef&uuml;hrerin reichte Klage ein.</p>
<p>Nach <a class="bgeref_id" href="https://example/133-II-249">BGE 133 II 249</a>
und <span class="artref">Art. 95 Abs. 2 BGG</span> gilt:</p>
<script>alert("nope")</script>
<p>Demnach erkennt das Bundesgericht:</p>
<p>1. Die Beschwerde wird abgewiesen.</p>
</body></html>"""


def test_html_to_text_strips_script_style_and_entities():
    text = html_to_text_py(HTML_DOC)
    assert "Präsident" in text            # entity decoded
    assert "alert" not in text            # script skipped
    assert "color: red" not in text       # style skipped
    assert "abgewiesen" in text


def test_html_paragraphs():
    paras = html_paragraphs_py(HTML_DOC)
    assert paras[0].startswith("Urteil vom")
    assert any(p == "Sachverhalt" for p in paras)
    assert all(p.strip() for p in paras)


def test_html_citations_classes():
    cits = html_citations_py(HTML_DOC)
    by_type = {c["type"]: c for c in cits}
    assert by_type["ruling"]["text"] == "BGE 133 II 249"
    assert by_type["ruling"]["url"] == "https://example/133-II-249"
    assert by_type["law"]["text"] == "Art. 95 Abs. 2 BGG"


def test_html_none_and_malformed():
    assert html_to_text_py(None) is None
    # malformed html must not raise — parser is forgiving
    assert "text" in html_to_text_py("<p>text<div</p>")


def test_html_pipeline_distributed(spark):
    """html_raw -> text -> sections -> judgment, end to end (the S3 ->
    E2 -> E3 -> E5 chain on an HTML source)."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.extraction import (
        extract_judgments_udf,
        split_sections_udf,
    )
    from swisscourtrulingcorpus_spark.extraction.html import (
        html_to_text_spider_udf,
    )

    df = spark.createDataFrame([(HTML_DOC,)], ["html_raw"])
    sections = df.select(
        split_sections_udf(
            html_to_text_spider_udf("html_raw"), F.lit("de")
        ).alias("secs")
    ).select(F.explode("secs").alias("s"))
    rulings = sections.where(F.col("s.section") == "rulings").select("s.text")
    out = rulings.select(
        extract_judgments_udf("text", F.lit("de")).alias("j")
    ).first()
    assert out.j == ["dismissal"]


def test_spider_html_node_rules():
    """Per-spider HTML node rules (`cleaning_functions.py` cleanups):
    content-subtree selection (first/last) and node drops."""
    from swisscourtrulingcorpus_spark.extraction.html import html_to_text_py

    doc = (
        "<html><body><div class='nav'>Menu</div>"
        "<div class='content'><p>Urteil vom 3. Mai.</p></div>"
        "<div class='footer'>Impressum</div></body></html>"
    )
    got = html_to_text_py(doc, "CH_BGer")
    assert "Urteil" in got and "Menu" not in got and "Impressum" not in got

    doc2 = (
        "<body><p>Kopf</p><div class='center pagebreak'>Seite 3</div>"
        "<p>Erwägungen</p></body>"
    )
    got2 = html_to_text_py(doc2, "CH_BGE")
    assert "Seite 3" not in got2 and "Erwägungen" in got2 and "Kopf" in got2

    doc3 = (
        "<body><table><tr><td>Logo Gericht</td></tr></table>"
        "<p>Considérants</p></body>"
    )
    got3 = html_to_text_py(doc3, "VD_FindInfo")
    assert "Logo" not in got3 and "Considérants" in got3

    doc4 = (
        "<body><table><tr><td>Kopfzeile</td></tr></table>"
        "<table><tr><td>Entscheidtext</td></tr></table></body>"
    )
    got4 = html_to_text_py(doc4, "ZH_Verwaltungsgericht")
    assert "Entscheidtext" in got4 and "Kopfzeile" not in got4

    # class-subset matching: extra classes on the element still match
    doc5 = "<div class='cell small-12 extra'><p>Inhalt</p></div><p>aussen</p>"
    got5 = html_to_text_py(doc5, "ZH_Sozialversicherungsgericht")
    assert "Inhalt" in got5 and "aussen" not in got5

    # no rules: unchanged default behavior
    assert "Menu" in html_to_text_py(doc)


def test_unclosed_block_tags_do_not_leak_footer():
    """Scraped court HTML routinely leaves <p>/<li> unclosed; the
    end-tag pop must close implied-open frames up to the matching tag
    or the content-root frame never pops and footer text leaks
    (ADVICE r03, medium)."""
    from swisscourtrulingcorpus_spark.extraction.html import html_to_text_py

    t = html_to_text_py(
        '<div class="content"><p>a<p>b</div>'
        '<div class="footer">Impressum</div>',
        "CH_BGer",
    )
    assert "a" in t and "b" in t
    assert "Impressum" not in t

    # stray end tag is ignored, not popped against an unrelated frame
    t2 = html_to_text_py('</p><div class="content">z</div>tail', "CH_BGer")
    assert "z" in t2 and "tail" not in t2
