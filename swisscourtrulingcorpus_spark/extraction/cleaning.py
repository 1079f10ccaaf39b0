"""E2 Cleaner — full-fidelity text cleaning (SURVEY.md §2.7 F1).

The reference's ``clean_text`` (`scrc/utils/main_utils.py:113-139`)
NFKC-normalizes, strips control characters by unicode category,
de-hyphenates line breaks, replaces NBSP, collapses whitespace and
repeated underscores.  This pandas_udf is the full-fidelity path,
including the ``unicodedata`` steps Spark has no built-in for.

Vectorized per Arrow batch; the per-string work is pure-Python but
bounded by batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``)
so executor memory stays flat at any corpus size.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql.types import StringType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

_DEHYPHEN = re.compile(r"(\w)[-­]\n(\w)")
_UNDERSCORES = re.compile(r"_+")
_WS = re.compile(r"\s+")

# Per-spider boilerplate removal rules (condensed from the reference's
# `spider_specific/cleaning_regexes.json`): page numbers, platform
# headers/footers, export artifacts.  Applied BEFORE the generic clean
# so whitespace collapse erases the holes they leave.  The
# ``{file_number}`` placeholder substitutes the decision's own docket
# number when the caller provides one (the reference's namespace
# interpolation).
SPIDER_CLEANING_RULES: dict[str, list[tuple[str, str]]] = {
    "CH_BVGer": [(r"Seite\s+\d+", ""), (r"{file_number}", "")],
    "CH_BSTG": [(r"-\s+\d+\s+-", "")],
    "ZH_Obergericht": [(r"-\s+\d+\s+-", "")],
    "VS_Gerichte": [
        (r"-\s+\d+\s+-", ""),
        (r"^Microsoft Word.+\n", ""),
    ],
    "SG_Gerichte": [
        (r"\d{4}-[01]\d-[0-3]\dT[0-2]\d:[0-5]\d(:[0-5]\d(\.\d+)?)?[+\-][0-1]?\d:?[03]0", ""),
        (r"Publikationsplattform(\s+Kanton\s+St\.Gallen)?", ""),
        (r"St\.Galler\s+Gerichte", ""),
        (r"©\s+Kanton\s+St\.Gallen\s+\d{4}\s+Seite\s+\d+/\d+", ""),
    ],
    "GR_Gerichte": [(r"(Seite *\d+ *— *\d+)|(\n *\d+ *\n)", "\n")],
    "BE_Verwaltungsgericht": [
        (r"Urteil des Verwaltungsgerichts des Kantons Bern vom.+Seite\s+\d+", ""),
    ],
    "BL_Gerichte": [
        (r"^\s*Title", ""),
        (r"Seite\s+\d+\s+http://www\.bl\.ch/kantonsgericht", ""),
    ],
    "BE_ZivilStraf": [(r"^\s*Briefkopf", "")],
    # batch 3 — the remaining cleaning_regexes.json spiders
    "AR_Gerichte": [(r"Seite\s+\d+", "")],
    "SZ_Gerichte": [(r"Kantonsgericht Schwyz\s+\d+", "")],
    "ZG_Verwaltungsgericht": [
        (r"\n\d+\n", ""),
        (r"^\s*Normal\.dotx?\s*", ""),
    ],
    "FR_Gerichte": [
        (r"Kantonsgericht KG|Tribunal cantonal TC", ""),
        (r"Page\s+\d+\s+de\s+\d+", ""),
    ],
    "SH_OG": [
        (r"\n\d+\n", ""),
        # the reference interpolates the decision's own year
        # ("\n{date.year}\n"); a standalone 4-digit-year line is the
        # same artifact without needing the date threaded through
        (r"\n(19|20)\d{2}\n", ""),
        (r"^Microsoft Word.+\.docx?\n", ""),
    ],
    # PDF extraction spaces out emphasized words ("U r t e i l") —
    # collapse single spaces inside such runs
    "CH_BGer": [(r"((?<=\w)\s)(?=[a-z]\s)", "")],
}
_COMPILED_RULES: dict[str, list[tuple[re.Pattern, str]]] = {
    spider: [
        (re.compile(p, re.MULTILINE), r)
        for p, r in rules
        if "{file_number}" not in p
    ]
    for spider, rules in SPIDER_CLEANING_RULES.items()
}


def clean_text_py(
    text: str | None,
    spider: str | None = None,
    file_number: str | None = None,
) -> str | None:
    """One document; None passes through (extractors coalesce later)."""
    if text is None:
        return None
    t = text
    for rx, repl in _COMPILED_RULES.get(spider or "", []):
        t = rx.sub(repl, t)
    if spider and file_number and any(
        "{file_number}" in p for p, _ in SPIDER_CLEANING_RULES.get(spider, [])
    ):
        t = t.replace(file_number, "")
    t = unicodedata.normalize("NFKC", t)  # also folds NBSP -> space
    t = t.replace("\x00", "")
    t = _DEHYPHEN.sub(r"\1\2", t)
    # drop Cc/Cf control chars except the whitespace we collapse next
    t = "".join(
        ch
        for ch in t
        if ch in "\n\t " or not unicodedata.category(ch).startswith("C")
    )
    t = _UNDERSCORES.sub("_", t)
    t = _WS.sub(" ", t)
    return t.strip()


# (text[, spider[, file_number]]): with a spider, its boilerplate rules
# plus the decision's own docket number scrubbed from the text
clean_text_udf = row_udf("clean_text_udf", clean_text_py, StringType())
