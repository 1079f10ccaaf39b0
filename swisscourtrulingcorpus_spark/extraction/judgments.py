"""E5 JudgmentExtractor — rulings text → set of outcomes.

Reference behavior (`scrc/preprocessors/extractors/judgment_extractor.py`
+ `spider_specific/judgment_extracting_functions.py`):

- skip rulings longer than 3000 chars (false-positive guard, `:10-12`);
- if the ruling is NUMBERED (arabic ``1.`` / roman ``I.``), walk the
  numbered sub-rulings in order and collect outcomes from each until
  markers stop matching (`:218-272, 308-335`);
- otherwise the EARLIEST-position marker match decides (`getFirstInstance`,
  `:292-305`);
- a ``partial_*`` outcome suppresses the corresponding full outcome when
  both match the same text (`:240-252`);
- language-specific marker dictionary (`:66-121`).

Marker data below is fresh (condensed, same shape).  Output is
``array<string>`` of outcome names; empty array = nothing found (the
coverage metric counts these); null input → null.
"""

from __future__ import annotations

import functools
import re

from pyspark.sql.types import ArrayType, StringType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

MAX_CHAR_COUNT = 3000

# outcome -> language -> markers (substring regexes; fresh condensed
# rewrites covering the recall surface of the reference dicts at
# `judgment_extracting_functions.py:66-121` — incl. the forms the r02
# audit flagged as missing: aufgehoben/freigesprochen, the
# "abgewiesen, soweit darauf einzutreten ist" partial-dismissal family,
# Admet/est annulé, and stemmed Italian accolt/respint/annullat).
JUDGMENT_MARKERS: dict[str, dict[str, list[str]]] = {
    "approval": {
        "de": [
            r"gut(geheissen|zuheissen)",
            r"In Gutheissung",
            r"auf(gehoben|zuheben)",
        ],
        "fr": [r"admis\b", r"\bAdmet\b", r"est annulée?\b"],
        # stems cover accolto/i/a/e, annullato/i/a/e
        "it": [r"\baccolt", r"\bannullat"],
    },
    "partial_approval": {
        "de": [r"teilweise gut(geheissen|zuheissen)", r"In teilweiser Gutheissung"],
        "fr": [
            r"partiellement admis",
            r"admet partiellement",
            r"admis partiellement",
            r"admis dans la mesure où il(s)? (est|sont) recevables?",
        ],
        "it": [r"parzialmente accolt", r"In parziale accoglimento"],
    },
    "dismissal": {
        "de": [
            r"ab(gewiesen|zuweisen)",
            r"freigesprochen",
            r"Urteil wird bestätigt",
        ],
        "fr": [r"rejetée?s?\b", r"\bRejette\b", r"écartée?s?\b"],
        "it": [r"\brespint"],
    },
    "partial_dismissal": {
        "de": [r"ab(gewiesen|zuweisen), soweit (darauf|auf sie) einzutreten ist"],
        "fr": [
            r"rejetée?s?,? dans la mesure (où il(s)? (est|sont) recevables?|de sa recevabilité)",
        ],
        "it": [r"Nella misura in cui è ammissibile.{0,80}respint"],
    },
    "inadmissible": {
        "de": [
            r"Nichteintreten",
            r"nicht ein(getreten|zutreten)",
            r"wird keine Folge geleistet",
            r"wird nicht eingegangen",
            r"soweit (darauf|auf sie) einzutreten ist",
        ],
        "fr": [
            r"irrecevable",
            r"n'entre pas en matière",
            r"n'est pas entré",
            r"pas pris en considération",
        ],
        "it": [r"inammissibil", r"irricevibil"],
    },
    "write_off": {
        "de": [r"ab(geschrieben|zuschreiben)", r"gegenstandslos"],
        "fr": [
            r"sans objet",
            r"rayée?\b",
            r"\bRaye\b",
            r"radiée\b",
            r"retrait\b",
        ],
        "it": [
            r"priv[oa] d(i |')oggetto",
            r"stralciata dai ruoli",
            r"radiata dai ruoli",
        ],
    },
    "unification": {
        "de": [r"werden vereinigt", r"werden gemeinsam beurteilt"],
        "fr": [r"sont jointes"],
        "it": [r"sono congiunte"],
    },
}

_ARABIC_NUMBERED = re.compile(r"(?:^|\n)\s*(\d{1,2})\.\s")
_ROMAN_NUMBERED = re.compile(r"(?:^|\n)\s*([IVX]{1,4})\.\s")

# Per-spider marker overrides (the reference's spider-named functions,
# `judgment_extracting_functions.py` — one function per spider).  Two
# modes, matching the two shapes the reference uses:
#   "extend":  outcome -> extra patterns prepended to the language set
#              (most spiders reuse the global dict);
#   "replace": lang -> outcome -> patterns used INSTEAD of the global
#              set for that language (the UR_Gerichte shape, :151-175,
#              where cantonal keyword-summary rulings share nothing
#              with federal dispositive phrasing).
SPIDER_JUDGMENT_OVERRIDES: dict[str, dict] = {
    "ZH_Sozialversicherungsgericht": {
        "extend": {
            "approval": [r"in Gutheissung der Beschwerde"],
            "dismissal": [r"In Abweisung der Beschwerde"],
        },
    },
    "UR_Gerichte": {
        "replace": {
            "de": {
                "approval": [
                    r"Gutheissung der (Beschwerde|Berufung|Klage)",
                    r"Bejahung der Beschwerdelegitimation",
                ],
                "partial_approval": [r"Teilweise Gutheissung der Beschwerde"],
                "dismissal": [
                    r"Abweisung (der|des) \w*(beschwerde|Beschwerde|Klage|Berufung|Gesuche?s)",
                    r"Der Anzeige wird keine Folge gegeben",
                    r"Verneinung der Beschwerdelegitimation",
                ],
                "write_off": [r"Abschreibung der Beschwerde vom Geschäftsprotokoll"],
            },
        },
    },
}


@functools.lru_cache(maxsize=256)
def _compiled(lang: str, spider: str | None = None) -> dict[str, list[re.Pattern]]:
    # memoized: static config, so compile once per (lang, spider) per
    # executor instead of once per document
    override = SPIDER_JUDGMENT_OVERRIDES.get(spider or "", {})
    replaced = override.get("replace", {}).get(lang)
    extra = override.get("extend", {})
    out = {}
    for outcome, by_lang in JUDGMENT_MARKERS.items():
        if replaced is not None:
            pats = replaced.get(outcome, [])
        else:
            pats = list(extra.get(outcome, [])) + by_lang.get(lang, [])
        out[outcome] = [re.compile(p, re.IGNORECASE) for p in pats]
    return out


def _outcomes_in(text: str, markers: dict[str, list[re.Pattern]]) -> set[str]:
    found = set()
    for outcome, pats in markers.items():
        if any(rx.search(text) for rx in pats):
            found.add(outcome)
    # partial_* suppresses the plain outcome matched by the same span
    for partial, full in (
        ("partial_approval", "approval"),
        ("partial_dismissal", "dismissal"),
    ):
        if partial in found:
            found.discard(full)
    return found


def _first_outcome(text: str, markers: dict[str, list[re.Pattern]]) -> set[str]:
    """Unnumbered ruling: earliest marker position wins (getFirstInstance)."""
    best_pos, best = None, None
    for outcome, pats in markers.items():
        for rx in pats:
            m = rx.search(text)
            if m and (best_pos is None or m.start() < best_pos):
                best_pos, best = m.start(), outcome
    if best is None:
        return set()
    found = {best}
    # check the partial variant at the same location
    for partial, full in (
        ("partial_approval", "approval"),
        ("partial_dismissal", "dismissal"),
    ):
        if best == full and any(rx.search(text) for rx in markers[partial]):
            found = {partial}
    return found


def extract_judgments_py(
    text: str | None, lang: str | None, spider: str | None = None
) -> list[str] | None:
    if text is None:
        return None
    if len(text) > MAX_CHAR_COUNT:
        return []
    markers = _compiled(lang or "de", spider)
    # numbered sub-rulings: split and walk in order, union outcomes
    segments = None
    if _ARABIC_NUMBERED.search(text):
        segments = _ARABIC_NUMBERED.split(text)[2::2]  # texts after each number
    elif _ROMAN_NUMBERED.search(text):
        segments = _ROMAN_NUMBERED.split(text)[2::2]
    if segments:
        found: set[str] = set()
        for seg in segments:
            seg_found = _outcomes_in(seg, markers)
            if not seg_found and found:
                break  # markers stopped matching — later items are costs etc.
            found |= seg_found
        return sorted(found)
    return sorted(_first_outcome(text, markers))


extract_judgments_udf = row_udf(
    "extract_judgments_udf", extract_judgments_py, ArrayType(StringType())
)
