"""External-corpus TEI ingest (reference `scrc/preprocessors/
external_corpora/`: `external_corpus_processor.py:13-101`,
`jureko_processor.py` — the Jureko legal corpus arrives as TEI XML
files whose header carries type/title/file-number/date and whose body
is the document text).

The reference walks files driver-side with glob + a TeiReader and
appends rows to Postgres in chunks.  Spark-first, the corpus lands as
a DataFrame of raw XML strings (however ingested: binaryFile scan,
wholetext, a manifest join) and the TEI parse runs as an Arrow-batched
``mapInPandas`` over executors — the same distribution shape as the
HTML/PDF extractors, so a million TEI files parse with cluster
parallelism instead of a driver loop.  Downstream, the existing
counter/roll-up operators (A3/A4) apply unchanged — which is the whole
point of the reference's external-corpus pipeline.

Parsing is stdlib ElementTree, namespace-agnostic (TEI files come both
namespaced and not), with the reference's field selection:
``biblStruct/@type`` (grouping table), ``titleStmt/title``, the first
``analytic/idno`` (Aktenzeichen / file number), ``analytic/date``
(``NoDate`` → null, as `jureko_processor.py:63-66`), and the
whitespace-joined text of ``<text>``.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

TEI_SCHEMA = StructType(
    [
        StructField("source_file", StringType()),
        StructField("doc_type", StringType()),
        StructField("title", StringType()),
        StructField("file_number", StringType()),
        StructField("date", StringType()),
        StructField("text", StringType()),
    ]
)


def _local(tag: str) -> str:
    """Tag name with any XML namespace stripped."""
    return tag.rsplit("}", 1)[-1]


def _find_first(root: ET.Element, path: list[str]) -> ET.Element | None:
    """Namespace-agnostic descent: at each step, the first child whose
    local name matches."""
    node: ET.Element | None = root
    for want in path:
        if node is None:
            return None
        node = next((c for c in node if _local(c.tag) == want), None)
    return node


def parse_tei_string(xml: str, source_file: str = "") -> dict:
    """One TEI document → the reference's row shape.  Malformed XML
    yields a row with null fields (quarantine-by-null, the repo-wide
    extractor convention) rather than failing the batch."""
    out = {
        "source_file": source_file,
        "doc_type": None,
        "title": None,
        "file_number": None,
        "date": None,
        "text": None,
    }
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return out
    header = _find_first(root, ["teiHeader", "fileDesc"])
    if header is not None:
        title = _find_first(header, ["titleStmt", "title"])
        if title is not None:
            out["title"] = (title.text or "").strip() or None
        bibl = _find_first(header, ["sourceDesc", "biblStruct"])
        if bibl is not None:
            out["doc_type"] = bibl.get("type")
            analytic = _find_first(bibl, ["analytic"])
            if analytic is not None:
                idno = next(
                    (c for c in analytic if _local(c.tag) == "idno"), None
                )
                if idno is not None:
                    out["file_number"] = (idno.text or "").strip() or None
                date = next(
                    (c for c in analytic if _local(c.tag) == "date"), None
                )
                if date is not None:
                    d = (date.text or "").strip()
                    out["date"] = None if d in ("", "NoDate") else d
    body = next((c for c in root if _local(c.tag) == "text"), None)
    if body is not None:
        # join text NODES with a space (adjacent <p> elements carry no
        # whitespace between them in the serialization), then collapse
        out["text"] = " ".join(" ".join(body.itertext()).split()) or None
    return out


def tei_corpus_df(df: DataFrame, xml_col: str, file_col: str) -> DataFrame:
    """Distributed TEI parse: raw-XML DataFrame → structured corpus
    table.  Arrow-batched ``mapInPandas``; the wide XML column never
    survives past the map (only parsed fields flow downstream), so any
    later shuffle moves structured rows, not documents."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [
                    parse_tei_string(x, source_file=f)
                    for x, f in zip(pdf[xml_col], pdf[file_col])
                ],
                columns=[f.name for f in TEI_SCHEMA.fields],
            )

    return df.mapInPandas(batches, TEI_SCHEMA)


# ---------------------------------------------------------------------------
# WikiExtractor multi-doc files (`wikipedia_processor.py:14-46`)
# ---------------------------------------------------------------------------

_WIKI_DOC = None  # compiled lazily (regex import kept local to executors)


def parse_wiki_file(content: str, source_file: str = "") -> list[dict]:
    """WikiExtractor output: many ``<doc id=.. url=.. title=..>`` blocks
    per file, with UNESCAPED body text — not well-formed XML (the
    reference leans on bs4's leniency; here a tolerant regex walk).
    One file → N article rows."""
    import html as _html
    import re

    global _WIKI_DOC
    if _WIKI_DOC is None:
        _WIKI_DOC = re.compile(
            r'<doc\s+id="([^"]*)"\s+url="([^"]*)"\s+title="([^"]*)"\s*>'
            r"(.*?)</doc>",
            re.DOTALL,
        )
    rows = []
    for m in _WIKI_DOC.finditer(content):
        wiki_id, url, title, body = m.groups()
        rows.append(
            {
                "source_file": source_file,
                "wiki_id": wiki_id,
                "title": _html.unescape(title),
                "url": url,
                "text": " ".join(_html.unescape(body).split()) or None,
            }
        )
    return rows


# ---------------------------------------------------------------------------
# SLC POS-tagged token XML (`slc_processor.py:30-55`)
# ---------------------------------------------------------------------------


def parse_slc_string(xml: str, source_file: str = "") -> dict | None:
    """One SLC file → (sr, title, lang, tokens): legislation number,
    name and language from ``<meta>``, the token stream from the
    ``word`` attribute of every ``<t>`` under ``<doc>/<p>``.  The
    reference keeps the token LIST (the POS corpus is pre-tokenized);
    so do we — a typed array<string>, not a joined blob.  Missing
    structure → None (file skipped), as `slc_processor.py:35-49`."""
    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return None
    text = root if _local(root.tag) == "text" else next(
        (c for c in root.iter() if _local(c.tag) == "text"), None
    )
    if text is None:
        return None
    meta = next((c for c in text if _local(c.tag) == "meta"), None)
    doc = next((c for c in text if _local(c.tag) == "doc"), None)
    if meta is None or doc is None:
        return None

    def _meta(tag: str) -> str | None:
        el = next((c for c in meta if _local(c.tag) == tag), None)
        return (el.text or "").strip() if el is not None else None

    tokens = [
        t.get("word")
        for p in doc
        if _local(p.tag) == "p"
        for t in p
        if _local(t.tag) == "t" and t.get("word") is not None
    ]
    if not tokens:
        return None
    return {
        "source_file": source_file,
        "sr": _meta("sr"),
        "title": _meta("name"),
        "lang": _meta("lang"),
        "tokens": tokens,
    }
