"""E8 ProceduralParticipationExtractor — header → parties + counsel.

Reference behavior (`scrc/preprocessors/extractors/
procedural_participation_extractor.py:20-153`): the header names the
parties around a "gegen"/"contre" pivot, each side optionally with
legal counsel ("vertreten durch Rechtsanwalt Dr. X" / "représenté par
Me Y"); output is {plaintiffs[], defendants[]} each with
legal_counsel[] (ProceduralParticipation,
`scrc/data_classes/procedural_participation.py:8-41`).

Anonymized parties keep their placeholder form ("A._", "B._ AG") —
the reference's gender lookup explicitly skips them
(`name_to_gender.py`: ``NOT name LIKE '%._'``).
"""

from __future__ import annotations

import re

from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

_PARTY = StructType(
    [
        StructField("name", StringType()),
        StructField("legal_counsel", ArrayType(StringType())),
    ]
)
PARTICIPATION_SCHEMA = StructType(
    [
        StructField("plaintiffs", ArrayType(_PARTY)),
        StructField("defendants", ArrayType(_PARTY)),
    ]
)

# the plaintiff/defendant pivot; "contro" keeps the reference's
# lookahead so "contro la decisione ..." (the appealed ruling, not a
# party) never splits the header
# (`procedural_participation_extracting_functions.py:44-50`)
_PIVOT_RX = re.compile(
    r"\bgegen\b|\bcontre\b"
    r"|\bcontro\b(?! l[ao] (?:decisione|sentenza|risoluzione|scritto))"
)
# counsel introduction + the title vocabulary of all three languages
# (`:52-75`): Rechtsanwalt/-anwältin, Fürsprecher(in), Advokat(in),
# avocat(e), Me/Mes/Maître, (dall')avv.
_COUNSEL_RX = re.compile(
    r"(?:vertreten durch|représentée?s? par|patrocinat[oa] da(?:ll')?|"
    r"rappresentat[oa] da(?:ll')?|p\.a\.)\s+"
    r"(?:Rechtsanwalt\s+|Rechtsanwältin\s+|Fürsprecher(?:in)?\s+|"
    r"Advokat(?:in)?\s+|RA\s+|avocats?\s+|avocates?\s+|Mes?\s+|Maître\s+|avv\.\s+)?"
    r"(?:Dr\.\s+|Prof\.\s+|lic\.\s+iur\.\s+)?"
    r"(?P<name>[A-ZÄÖÜÉ][\wäöüéèàç'-]+(?:\s+[A-ZÄÖÜÉ][\wäöüéèàç'-]+)*)"
)
# anonymized placeholder parties: "A._", "Partei_3._", optional corp suffix
_PLACEHOLDER_RX = re.compile(r"(?P<name>[A-Z][\w]*\.?_(?:\s*(?:AG|SA|GmbH))?)")
_ROLE_WORD_RX = (
    r"Beschwerdeführer(?:in)?|Beschwerdegegner(?:in)?|Kläger(?:in)?|"
    r"Beklagte[rn]?|Gesuchsteller(?:in)?|Berufungskläger(?:in)?|"
    # cantonal role vocabulary (shared get_regex,
    # `procedural_participation_extracting_functions.py:334-336` — the
    # per-court ZG/ZH functions all delegate to this same set)
    r"Antragsteller(?:in)?|Antragsgegner(?:in)?|"
    r"Rekurrent(?:in)?|Rekursgegner(?:in)?|"
    r"recourantes?|intimée?s?|requérante?s?|ricorrente|opponente|istante"
)
# a real (non-anonymized) party name is only trusted immediately before
# a role designation: "Hans Muster AG, Beschwerdeführerin"
_NAMED_BEFORE_ROLE_RX = re.compile(
    r"(?P<name>[A-ZÄÖÜÉ][\wäöüéèàç'-]+(?:\s+[A-ZÄÖÜÉ][\wäöüéèàç'-]+)*"
    r"(?:\s+(?:AG|SA|GmbH))?)\s*,\s*(?:" + _ROLE_WORD_RX + r")"
)


def _parties_in(segment: str) -> list[dict]:
    parties: list[dict] = []
    counsel = [m.group("name") for m in _COUNSEL_RX.finditer(segment)]
    # strip counsel spans so lawyers aren't re-matched as parties
    cleaned = _COUNSEL_RX.sub(" ", segment)
    seen: set[str] = set()
    for m in _PLACEHOLDER_RX.finditer(cleaned):
        name = m.group("name").strip()
        if name not in seen:
            seen.add(name)
            parties.append({"name": name, "legal_counsel": counsel})
    if not parties:
        for m in _NAMED_BEFORE_ROLE_RX.finditer(cleaned):
            name = m.group("name").strip()
            if name not in seen:
                seen.add(name)
                parties.append({"name": name, "legal_counsel": counsel})
    return parties


def extract_participation_py(header: str | None) -> dict | None:
    if header is None:
        return None
    pivot = _PIVOT_RX.search(header)
    if not pivot:
        return None
    left, right = header[: pivot.start()], header[pivot.end():]
    plaintiffs = _parties_in(left)
    defendants = _parties_in(right)
    if not plaintiffs and not defendants:
        return None
    return {"plaintiffs": plaintiffs, "defendants": defendants}


extract_participation_udf = row_udf(
    "extract_participation_udf", extract_participation_py, PARTICIPATION_SCHEMA
)
