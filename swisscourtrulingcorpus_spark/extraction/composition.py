"""E7 CourtCompositionExtractor — header → president/judges/clerks.

Reference behavior (`scrc/preprocessors/extractors/
court_composition_extractor.py:20-117` + spider functions): role
markers in the header ("Bundesrichter", "Gerichtsschreiberin", ...)
introduce runs of person names; the president is flagged by
"Präsident/in" context; gender is inferred from the feminine role
suffix ("-in").

This is a compact re-implementation covering the marker shapes the
reference's golden tests exercise (`scrc/utils/test_utils.py` fixture
SHAPES — the code here is fresh).  Output: one struct per header.
"""

from __future__ import annotations

import re

from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

# role markers: (regex, role, gender) — feminine suffix "-in(nen)" / "-a"
# => f; the masculine forms carry a (?!in)/(?!a) lookahead so a feminine
# title never double-matches (reference shape,
# `court_composition_extracting_functions.py:37-67,118-130`).  Covers
# the federal (Bundesrichter), substitute (Ersatzrichter) and
# single-judge (Einzelrichter) prefixes plus the gendered fr/it titles.
_JUDGE_PREFIX = (
    r"(?:Bundes|Ober|Verwaltungs|Ersatzober|Ersatz|Einzel|Schieds|"
    r"Sozialversicherungs|Bau|Kassations|Handels|Bezirks|Steuer)?"
)
_ROLE_MARKERS = [
    (_JUDGE_PREFIX + r"[Rr]ichterin(?:nen)?", "judge", "f"),
    (_JUDGE_PREFIX + r"[Rr]ichter(?!in)", "judge", "m"),
    # chair titles used as judge markers by the ZG/ZH courts
    (r"Abteilungs(?:vize)?präsidentin(?:nen)?|Vizepräsidentin(?:nen)?", "judge", "f"),
    (r"Abteilungs(?:vize)?präsident(?!in)|Vizepräsident(?!in)", "judge", "m"),
    # lay members of the ZH_Steuerrekurs bench count as judges with
    # unknown gender (`court_composition_extracting_functions.py:458-460`)
    (r"Ersatzmitglied(?:er)?|Mitglied(?:er)?", "judge", None),
    (r"Gerichtsschreiberin(?:nen)?", "clerk", "f"),
    (r"Gerichtsschreiber(?!in)", "clerk", "m"),
    (r"(?:Gerichts)?[Ss]ekretärin(?:nen)?", "clerk", "f"),
    (r"(?:Gerichts)?[Ss]ekretär(?!in)", "clerk", "m"),
    (r"Mmes?\s+l(?:a|es)\s+Juges?(?:\s+fédérales?)?", "judge", "f"),
    (r"MM?\.(?:(?:\s+et|,)\s+Mmes?)?\s+les?\s+Juges?(?:\s+fédéra(?:l|ux))?", "judge", "m"),
    (r"[Jj]uges?", "judge", None),
    (r"[Gg]reffière?s?", "clerk", "f"),
    (r"[Gg]reffiers?", "clerk", "m"),
    (r"[Gg]iudice(?:\s+federale)?|[Gg]iudici(?:\s+federali)?", "judge", None),
    (r"[Cc]ancelliera", "clerk", "f"),
    (r"[Cc]ancelliere(?!a)", "clerk", "m"),
]

# composition block boundaries (`court_composition_extracting_functions.py:
# 76-96`): names live between the "Besetzung/Composition/Composizione"
# marker and the parties/topic block — restricting the scan keeps
# party or lawyer names out of the bench.
_BLOCK_START_RX = re.compile(
    r"Besetzung|Bundesrichter|Composition(?: de la Cour:)?|Composizione|"
    r"[Gg]iudic[ie] federal|composta|Mitwirkende"
)
_BLOCK_END_RX = re.compile(
    r"Parteien|Verfahrensbeteiligte|[Ii]n Sachen|Gegenstand|"
    r"Parties|Participants|Objet|Parti\b|Partecipanti|Oggetto"
)
# a bench larger than this means the scan ran into full text
# (reference raises at >5, :100-102; the UDF degrades to null)
_MAX_PER_ROLE = 5
_PRESIDENT_RX = re.compile(
    r"Pr[äe]sident(in)?|[Pp]r[ée]sident(e)?|[Pp]residente"
)
# a name: capitalized token(s), allowing hyphens/apostrophes
_NAME_RX = re.compile(
    r"\b([A-ZÄÖÜÉÈ][\wäöüéèàç'-]+(?:\s+[A-ZÄÖÜÉÈ][\wäöüéèàç'-]+)*)"
)

_PERSON = StructType(
    [StructField("name", StringType()), StructField("gender", StringType())]
)
COMPOSITION_SCHEMA = StructType(
    [
        StructField("president", StringType()),
        StructField("judges", ArrayType(_PERSON)),
        StructField("clerks", ArrayType(_PERSON)),
    ]
)

_STOPWORDS = {
    "Der", "Die", "Das", "Und", "Mit", "Als", "In", "Im", "Am",
    "Besetzung", "Parteien", "Gegenstand", "Le", "La", "Les", "Et",
    # role titles are markers, never names
    "Präsident", "Präsidentin", "Président", "Présidente", "Presidente",
    "Einzelrichter", "Einzelrichterin",
}


def _names_after(segment: str) -> list[str]:
    names = []
    for m in _NAME_RX.finditer(segment):
        token = m.group(1)
        if token.split()[0] in _STOPWORDS:
            continue
        names.append(token)
    return names


def extract_composition_py(header: str | None) -> dict | None:
    if header is None:
        return None
    # restrict to the composition block when its boundaries are present
    start = _BLOCK_START_RX.search(header)
    if start:
        header = header[start.start():]
    end = _BLOCK_END_RX.search(header, 1)
    if end:
        header = header[: end.start()]
    judges: list[dict] = []
    clerks: list[dict] = []
    president = None
    # split the header into role-introduced segments
    matches = []
    for pat, role, gender in _ROLE_MARKERS:
        for m in re.finditer(pat, header):
            matches.append((m.start(), m.end(), role, gender))
    # longest match at each position wins; drop matches nested inside an
    # earlier one (the bare "Juge" inside "Mme la Juge fédérale" must
    # not shadow the gendered span)
    matches.sort(key=lambda t: (t[0], -t[1]))
    kept: list[tuple] = []
    for cand in matches:
        if kept and cand[0] < kept[-1][1]:
            continue
        kept.append(cand)
    matches = kept
    for i, (start, end, role, gender) in enumerate(matches):
        seg_end = matches[i + 1][0] if i + 1 < len(matches) else len(header)
        segment = header[end:seg_end]
        # cut the segment at a sentence/paragraph boundary
        segment = re.split(r"[.\n;]", segment, maxsplit=1)[0]
        for name in _names_after(segment):
            person = {"name": name, "gender": gender}
            if role == "judge":
                # president flag: marker context right around this name
                ctx = header[max(0, start - 40): min(len(header), end + 40 + len(segment))]
                if president is None and _PRESIDENT_RX.search(ctx):
                    president = name
                if person not in judges:
                    judges.append(person)
            elif role == "clerk" and person not in clerks:
                clerks.append(person)
    if not judges and not clerks:
        return None
    if len(judges) > _MAX_PER_ROLE or len(clerks) > _MAX_PER_ROLE:
        return None
    return {"president": president, "judges": judges, "clerks": clerks}


extract_composition_udf = row_udf(
    "extract_composition_udf", extract_composition_py, COMPOSITION_SCHEMA
)
