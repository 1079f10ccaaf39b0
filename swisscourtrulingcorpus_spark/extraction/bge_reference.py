"""E9 BGE → BGer reference extraction.

Reference behavior (`spider_specific/bge_reference_extracting_functions
.py:13-70`, CH_BGE): a published leading decision's header cites the
underlying federal docket number(s) in several historic shapes —
``8C_123/2019``, dotted ``8C.123/2019``, spaced ``8C 123/2019`` and the
pre-2000 reporter forms ``B 12/99`` / ``I 130/99`` — possibly several
joined by "und" / "et" / "/".  Each is normalized (spaces and dots →
underscores, commas dropped) and multiple references join with "-";
no match yields the sentinel the reference uses downstream.
"""

from __future__ import annotations

import re

from pyspark.sql.types import StringType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

NO_REFERENCE = "no reference found"

_REF_PATTERN = re.compile(
    r"(\d\D?_\d{1,4}/\d{4}|\d\D?\.\d{1,4}/\d{4}|\d\D?\s\d{1,4}/\d{4}"
    r"|[BIPK]\s\d{1,3}/\d{2}\D)"
)
_OLD_FORM = re.compile(r"[BIPK]\s\d{1,3}/\d{2}\D")


def _normalize(ref: str) -> str:
    if _OLD_FORM.match(ref):
        ref = ref[:-1]  # strip the non-digit terminator the regex grabbed
    ref = ref.strip().replace(" ", "_").replace(".", "_").replace(",", "")
    return ref


def extract_bge_reference_py(header: str | None) -> str | None:
    if header is None:
        return None
    found = _REF_PATTERN.findall(header)
    if not found:
        return NO_REFERENCE
    return "-".join(_normalize(r) for r in found)


extract_bge_reference_udf = row_udf(
    "extract_bge_reference_udf", extract_bge_reference_py, StringType()
)


# --- corpus-wide docket citation mining (`bger_citations_extracting_
# functions.py:25-47`, CH_BGE): same pattern family, but EVERY mention
# as a list (the reference's find_citations), not the joined header
# reference ---------------------------------------------------------------


def find_bger_citations_py(text: str | None) -> list[str] | None:
    if text is None:
        return None
    found = _REF_PATTERN.findall(text)
    return [_normalize(r) for r in found]
