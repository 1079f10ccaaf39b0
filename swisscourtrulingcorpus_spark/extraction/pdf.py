"""S4 PDF text extraction — pure-python, no external codecs.

Reference behavior (`scrc/preprocessors/text_to_database.py:256-282`):
court PDFs go through Tika to plain text.  Tika (and every PDF library)
is absent in this container, so this module implements the common case
directly: uncompressed and FlateDecode content streams (stdlib
``zlib``), text assembled from BT..ET blocks' literal-string show
operators (Tj / ' / " / TJ arrays) with Td/TD/T* treated as line
breaks.  That covers digitally-produced court PDFs; CID-keyed fonts,
encryption and image-only scans are out of scope and yield None
(the caller's null-coverage metric surfaces them, mirroring the
reference's Tika-failure handling).

Spark surface: an Arrow-batched pandas_udf over the binary payload
column — the same mapInPandas-adjacent shape as the multimodal decode
stage, so bytes never leave the executor.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql.types import StringType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

_STREAM_RX = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.DOTALL)
# direct-integer /Length only — `/Length 5 0 R` (indirect object
# reference) must NOT match, its value lives elsewhere in the file.
# The (?!\d) digit boundary keeps backtracking from splitting the
# number: without it, `/Length 123 0 R` backtracks (\d+) to `12`
# (char `3` fails the lookahead's \s+) and matches n=12.
_LENGTH_RX = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")
_TEXT_BLOCK_RX = re.compile(rb"BT(.*?)ET", re.DOTALL)
# a literal string, or a line-advancing operator
_TOKEN_RX = re.compile(rb"\((?P<lit>(?:[^()\\]|\\.)*)\)|(?P<nl>T\*|Td|TD)")
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape(lit: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(lit)
    while i < n:
        c = lit[i:i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = lit[i + 1:i + 2]
            if nxt.isdigit():  # octal \ddd (1-3 digits)
                j = i + 1
                while j < min(i + 4, n) and lit[j:j + 1].isdigit():
                    j += 1
                out.append(int(lit[i + 1:j], 8) & 0xFF)
                i = j
                continue
            out += _ESCAPES.get(nxt, nxt)
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def _block_text(block: bytes) -> str:
    parts: list[bytes] = []
    for m in _TOKEN_RX.finditer(block):
        if m.group("lit") is not None:
            parts.append(_unescape(m.group("lit")))
        elif parts:  # line advance after at least one string
            parts.append(b"\n")
    raw = b"".join(parts)
    return raw.decode("latin-1")


def extract_pdf_text_py(data: bytes | None) -> str | None:
    """Extract text from a PDF's content streams; None when the payload
    is not a parseable PDF or uses unsupported filters everywhere."""
    if data is None or not data.startswith(b"%PDF"):
        return None
    texts: list[str] = []
    for m in _STREAM_RX.finditer(data):
        dict_bytes, stream = m.group(1), m.group(2)
        # Prefer the dict's direct /Length for an EXACT slice — the
        # only unambiguous boundary.  Fallback: stream bytes run to
        # 'endstream' preceded by ONE optional EOL (PDF 32000-1
        # §7.3.8); strip at most that marker — rstrip(b"\r\n") would
        # eat 0x0A/0x0D bytes that are legitimate trailing DATA of a
        # Flate stream, and even single-marker stripping guesses wrong
        # when the data itself ends in 0x0D before a bare-\n EOL.
        lm = _LENGTH_RX.search(dict_bytes)
        n = int(lm.group(1)) if lm else -1
        if 0 <= n <= len(stream) and stream[n:] in (b"", b"\n", b"\r", b"\r\n"):
            # /Length is trusted only when CONSISTENT with the
            # endstream boundary (remainder is exactly the optional
            # EOL marker) — scanned court PDFs carry wrong or
            # placeholder Lengths, and slicing by a lying value would
            # truncate real data
            stream = stream[:n]
        elif stream.endswith(b"\r\n"):
            stream = stream[:-2]
        elif stream.endswith((b"\n", b"\r")):
            stream = stream[:-1]
        if b"FlateDecode" in dict_bytes:
            try:
                stream = zlib.decompress(stream)
            except zlib.error:
                continue
        elif b"/Filter" in dict_bytes:
            continue  # unsupported filter (DCT, CCITT, ...)
        for block in _TEXT_BLOCK_RX.finditer(stream):
            t = _block_text(block.group(1))
            if t.strip():
                texts.append(t)
    if not texts:
        return None
    return "\n".join(texts)


extract_pdf_text_udf = row_udf(
    "extract_pdf_text_udf", extract_pdf_text_py, StringType()
)


# --- paragraph tokenization for PDF-extracted text (`paragraph_
# extractions.py:26-50`): blank-line split + per-paragraph clean ----------

def pdf_paragraphs_py(text: str | None) -> list[str] | None:
    from swisscourtrulingcorpus_spark.extraction.cleaning import clean_text_py

    if text is None:
        return None
    # collapse whitespace-only lines so they split like true blank lines
    t = re.sub(r"\n +\n", "\n\n", text)
    out = []
    for block in t.split("\n\n"):
        cleaned = clean_text_py(block.replace("  ", " "))
        if cleaned:
            out.append(cleaned)
    return out

