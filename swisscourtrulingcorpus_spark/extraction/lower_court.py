"""E6 LowerCourtExtractor — header → the court below.

Reference behavior (`scrc/preprocessors/extractors/lower_court_extractor.py:
18-88` + `spider_specific/lower_court_extracting_functions.py`): the
appeal header names the originating decision — court, canton, date and
docket number — in shapes like

    "gegen das Urteil des Verwaltungsgerichts des Kantons Zürich
     vom 12. März 2018 (VB.2018.00123)"

Output struct: {court, canton, date, file_number}.  The reference then
resolves names to dim ids row-by-row (J8); the Spark pipeline replaces
that with one broadcast dim join downstream.
"""

from __future__ import annotations

import re

from pyspark.sql.types import StringType, StructField, StructType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

LOWER_COURT_SCHEMA = StructType(
    [
        StructField("court", StringType()),
        StructField("canton", StringType()),
        StructField("date", StringType()),
        StructField("file_number", StringType()),
    ]
)

_MONTHS = {
    "januar": 1, "februar": 2, "märz": 3, "april": 4, "mai": 5, "juni": 6,
    "juli": 7, "august": 8, "september": 9, "oktober": 10, "november": 11,
    "dezember": 12,
    "janvier": 1, "février": 2, "mars": 3, "avril": 4, "juin": 6,
    "juillet": 7, "août": 8, "septembre": 9, "octobre": 10, "novembre": 11,
    "décembre": 12,
    "gennaio": 1, "febbraio": 2, "marzo": 3, "aprile": 4, "maggio": 5,
    "giugno": 6, "luglio": 7, "agosto": 8, "settembre": 9, "ottobre": 10,
    "novembre": 11, "dicembre": 12,
}

_DE_RX = re.compile(
    r"gegen\s+(?:das Urteil|den Entscheid|den Beschluss|die Verfügung)\s+des\s+"
    r"(?P<court>[A-ZÄÖÜ][\wäöü]+(?:gericht|gerichts)[\wäöü]*)"
    r"(?:\s+des Kantons\s+(?P<canton>[A-ZÄÖÜ][\wäöü-]+))?"
    r"(?:\s+vom\s+(?P<day>\d{1,2})\.\s*(?P<month>[A-Za-zäöü]+)\s+(?P<year>\d{4}))?"
    r"(?:\s*\((?P<fn>[\w./-]+)\))?",
    re.UNICODE,
)
# the labeled form on newer rulings: "Vorinstanz: Verwaltungsgericht
# des Kantons Zürich" (`lower_court_extracting_functions.py:28` start
# markers include 'Vorinstanz')
_DE_LABELED_RX = re.compile(
    r"Vorinstanz:?\s+"
    r"(?P<court>[A-ZÄÖÜ][\wäöü]+(?:gericht|gerichts)[\wäöü]*)"
    r"(?:\s+des Kantons\s+(?P<canton>[A-ZÄÖÜ][\wäöü-]+))?"
    r"(?:\s*,?\s+(?:Urteil|Entscheid)?\s*vom\s+(?P<day>\d{1,2})\.\s*(?P<month>[A-Za-zäöü]+)\s+(?P<year>\d{4}))?"
    r"(?:\s*\((?P<fn>[\w./-]+)\))?",
    re.UNICODE,
)
_FR_RX = re.compile(
    r"contre\s+(?:l'arrêt|la décision|le jugement)\s+(?:du|de la)\s+"
    r"(?P<court>[A-Z][\w'éè]+(?:\s+[a-zéè'\w]+){0,3}?)"
    r"(?:\s+du canton d[eu]\s+(?P<canton>[A-Z][\wéè-]+))?"
    r"(?:\s+du\s+(?P<day>\d{1,2}(?:er)?)\s+(?P<month>[a-zéèû]+)\s+(?P<year>\d{4}))?"
    r"(?:\s*\((?P<fn>[\w./-]+)\))?",
    re.UNICODE,
)
_IT_RX = re.compile(
    r"contro\s+(?:la sentenza|la decisione|il giudizio)\s+"
    r"(?:emanata?\s+(?:il\s+[\d\s\w]+?\s+)?)?(?:dal(?:la)?\s+)"
    r"(?P<court>[A-Z][\w'àè]+(?:\s+[a-zàèd'\w]+){0,3}?)"
    r"(?:\s+del Cantone(?:\s+di)?\s+(?P<canton>[A-Z][\wàè-]+))?"
    r"(?:\s+del(?:l')?\s*(?P<day>\d{1,2}|1°)\s+(?P<month>[a-z]+)\s+(?P<year>\d{4}))?"
    r"(?:\s*\((?P<fn>[\w./-]+)\))?",
    re.UNICODE,
)

# canton is searched independently of the court match (the reference
# keeps separate regex families per field, `lower_court_extracting_
# functions.py:30-77` — a lazy court group with an optional tail would
# otherwise never engage the canton capture)
_CANTON_RXS = [
    re.compile(r"des\s+Kantons\s+([A-ZÄÖÜ][\wäöü-]+)"),
    re.compile(r"du\s+canton\s+d[eu]\s+([A-Z][\wéè-]+)"),
    re.compile(r"del\s+Cantone(?:\s+d(?:i|ei|el))?\s+([A-Z][\wàè-]+)"),
]

# canton name -> short code (subset; full map is a dim table join)
_CANTON_CODES = {
    "Zürich": "ZH", "Bern": "BE", "Waadt": "VD", "Vaud": "VD",
    "Tessin": "TI", "Ticino": "TI", "Genf": "GE", "Genève": "GE",
    "Luzern": "LU", "Aargau": "AG", "St.-Gallen": "SG", "Zug": "ZG",
}


def extract_lower_court_py(header: str | None) -> dict | None:
    if header is None:
        return None
    m = (
        _DE_RX.search(header)
        or _DE_LABELED_RX.search(header)
        or _FR_RX.search(header)
        or _IT_RX.search(header)
    )
    if not m:
        return None
    g = m.groupdict()
    date = None
    if g.get("year") and g.get("month"):
        month = _MONTHS.get(g["month"].lower())
        day = re.sub(r"\D", "", g["day"] or "") or "1"
        if month:
            date = f"{int(g['year']):04d}-{month:02d}-{int(day):02d}"
    canton = g.get("canton")
    if not canton:
        for rx in _CANTON_RXS:
            cm = rx.search(header)
            if cm:
                canton = cm.group(1)
                break
    return {
        "court": g.get("court"),
        "canton": _CANTON_CODES.get(canton, canton) if canton else None,
        "date": date,
        "file_number": g.get("fn"),
    }


extract_lower_court_udf = row_udf(
    "extract_lower_court_udf", extract_lower_court_py, LOWER_COURT_SCHEMA
)
