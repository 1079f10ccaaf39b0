"""E4 CitationExtractor — text → typed ruling/law citations.

Reference behavior (`scrc/preprocessors/extractors/citation_extractor.py`
+ `citation_extraction/__init__.py:7-77`): combined regexes find
citation spans; candidates are parsed into value objects
(RulingCitation year/volume/page, `scrc/data_classes/ruling_citation.py:
5-60`; LawCitation article/paragraph/abbreviation, `law_citation.py:
9-80`) and candidates that fail to parse are DROPPED (validity filter,
`check_if_convertible`).

Output: ``array<struct<...>>`` rows ready for explode — the UDTF shape
(SURVEY.md §2.11).  Ruling citations keep (year, volume, page) ints so
the as-of page-snap join (J6) can consume them relationally.
"""

from __future__ import annotations

import re

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

# BGE/ATF/DTF = the same reporter in de/fr/it (`ruling_citation.py:12-20`).
# The optional tail covers the reference's fuller span families
# (`citation_regexes.json` ruling/BGE): considerand refs
# ("E. 4.2.3" / "consid. 5aa" / "E. 5aa und b"), page refs
# ("S. 345" / "p. 345"), and the "ff."/"f." continuation suffix.
_RULING_RX = re.compile(
    r"\b(?:BGE|ATF|DTF)\s+(\d{1,3})\s+(I{1,3}|IV|V|Ia|Ib)\s+(\d{1,4})"
    r"(?:\s+(?:E\.|consid\.)\s*\d{1,2}[a-z]{0,2}(?:\.\d{1,2}){0,3}"
    r"(?:\s+(?:und|et|e)\s+[\da-z]{1,4})?"
    r"|\s+(?:S\.|p\.)\s*\d{1,4})?"
    r"(?:\s+f{1,2}\.)?"
)
# unpublished federal rulings cited by docket number, optionally with
# decision date and considerand ("8C_123/2019 vom 12. März 2019 E. 4.2",
# `citation_regexes.json` ruling/Bger)
_BGER_RX = re.compile(
    r"\b(\d[A-Z]_\d{1,4}/(\d{4}))"
    r"(?:\s+(?:vom|du|del)\s+\d{1,2}\.?\s*\w+\s+\d{4})?"
    r"(?:\s+(?:E\.|consid\.)\s*\d{1,2}[a-z]{0,2}(?:\.\d{1,2}){0,3})?"
)
# Art./art. citations across the three languages (`citation_regexes.json`
# law/*): numbered subdivisions (Abs./Ziff. de, al./n. fr, cpv./n. it),
# letter subdivisions (lit./Bst./let./lett.), chained articles joined by
# i.V.m., then the law abbreviation.
_SUBDIV = r"(?:Abs\.|Ziff\.|al\.|n\.|cpv\.)"
_LETTER = r"(?:lit\.|Bst\.|let\.|lett\.)"
_LAW_RX = re.compile(
    r"\b[Aa]rt\.\s*(\d{1,4}[a-z]?)"
    r"((?:\s+" + _SUBDIV + r"\s*\d{1,2}"
    r"|\s+" + _LETTER + r"\s*[a-z]\b"
    r"|,?\s+und\s+\d{1,4}"
    r"|\s+i\.V\.m\.\s+[Aa]rt\.\s*\d{1,4}[a-z]?)*)"
    r"\s+([A-ZÄÖÜ][A-Za-zÄÖÜäöü]{1,14})\b"
)
_PARA_RX = re.compile(_SUBDIV + r"\s*(\d{1,2})")


def _clean_law_text(span: str) -> str:
    """Whitespace-normalize and drop a duplicated trailing law name —
    the reference's double-law fix (`citation_extraction/__init__.py:
    35-45`: "Art. 147 Abs. 1 StGB StGB" → "... StGB")."""
    parts = re.sub(r"\s+", " ", span.strip()).split(" ")
    if len(parts) >= 2 and parts[-1] == parts[-2]:
        parts = parts[:-1]
    return " ".join(parts)

CITATION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("type", StringType()),
            StructField("text", StringType()),
            StructField("year", IntegerType()),
            StructField("volume", StringType()),
            StructField("page", IntegerType()),
            StructField("article", StringType()),
            StructField("paragraph", IntegerType()),
            StructField("law", StringType()),
        ]
    )
)


def extract_citations_py(text: str | None) -> list[dict] | None:
    if text is None:
        return None
    out: list[dict] = []
    seen: set[str] = set()
    for m in _RULING_RX.finditer(text):
        span = m.group(0)
        if span in seen:
            continue  # dedup, like the reference's found-spans set
        seen.add(span)
        year, volume, page = int(m.group(1)), m.group(2), int(m.group(3))
        if not (1 <= year <= 160):  # validity filter: parseable as BGE year
            continue
        out.append(
            {
                "type": "ruling",
                "text": span,
                "year": year,
                "volume": volume,
                "page": page,
                "article": None,
                "paragraph": None,
                "law": None,
            }
        )
    for m in _BGER_RX.finditer(text):
        span = m.group(0).strip()
        if span in seen:
            continue
        seen.add(span)
        year = int(m.group(2))
        if not (1954 <= year <= 2100):  # docket years are calendar years
            continue
        out.append(
            {
                "type": "bger",
                "text": span,
                "year": year,
                "volume": None,
                "page": None,
                "article": None,
                "paragraph": None,
                "law": None,
            }
        )
    for m in _LAW_RX.finditer(text):
        span = _clean_law_text(m.group(0))
        if span in seen:
            continue
        seen.add(span)
        para = _PARA_RX.search(m.group(2) or "")
        out.append(
            {
                "type": "law",
                "text": span,
                "year": None,
                "volume": None,
                "page": None,
                "article": m.group(1),
                "paragraph": int(para.group(1)) if para else None,
                "law": m.group(3),
            }
        )
    return out


extract_citations_udf = row_udf(
    "extract_citations_udf", extract_citations_py, CITATION_SCHEMA
)


# --- D4 NER-span variant (`citation_extraction_dataset_creator.py`):
# character-level spans for token-classification training data ---------

NER_SPAN_SCHEMA = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("label", StringType()),
        ]
    )
)


def citation_spans_py(text: str | None) -> list[dict] | None:
    """All citation character spans with BIO-style labels (every
    occurrence, not deduped — NER training needs each mention)."""
    if text is None:
        return None
    spans = [
        {"start": m.start(), "end": m.end(), "label": "RULING"}
        for m in _RULING_RX.finditer(text)
    ] + [
        {"start": m.start(), "end": m.end(), "label": "RULING"}
        for m in _BGER_RX.finditer(text)
    ] + [
        {"start": m.start(), "end": m.end(), "label": "LAW"}
        for m in _LAW_RX.finditer(text)
    ]
    return sorted(spans, key=lambda s: (s["start"], s["end"]))


citation_spans_udf = row_udf("citation_spans_udf", citation_spans_py, NER_SPAN_SCHEMA)
