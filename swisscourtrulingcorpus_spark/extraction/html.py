"""S3 HTML text extraction + the CH_BGer html-citation path (E4).

The reference uses BeautifulSoup (`text_to_database.py:238-254` for
text; `citation_extracting_functions.py:55-76` for the CH_BGer
citation spans: ``<span class="artref">`` = law cites, ``<a
class="bgeref_id">`` = ruling cites).  bs4 isn't in this container —
the stdlib ``html.parser`` covers both uses, so this path is REAL, not
stubbed: script/style-aware text collection, paragraph segmentation on
block elements, and class-attribute citation harvesting.

All functions are pure per-document Python wrapped in Arrow-batched
pandas_udfs (map-side only).
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql.types import StringType

from swisscourtrulingcorpus_spark.extraction._row_udf import row_udf

_BLOCK_TAGS = {
    "p", "div", "br", "li", "tr", "h1", "h2", "h3", "h4", "table", "section",
}
_SKIP_TAGS = {"script", "style", "head"}
_VOID_TAGS = {"br", "img", "hr", "input", "meta", "link", "col", "area"}

# Per-spider HTML node rules (the reference's `spider_specific/
# cleaning_functions.py` BeautifulSoup cleanups, re-expressed for the
# streaming stdlib parser):
#   content: (tag, class-or-None, which) — keep ONLY text inside the
#     first/last matching subtree (CH_BGer div.content :10,
#     ZH_Sozialversicherungsgericht div.cell :19,
#     ZH_Verwaltungsgericht last table :15)
#   drop: [(tag, class-or-None)] — decompose matching subtrees
#     (CH_BGE pagebreak divs :23, VD_FindInfo logo tables :29,
#     AG_Gerichte header divs :35)
SPIDER_HTML_RULES: dict[str, dict] = {
    "CH_BGer": {"content": ("div", "content", "first")},
    "ZH_Sozialversicherungsgericht": {"content": ("div", "cell small-12", "first")},
    "ZH_Verwaltungsgericht": {"content": ("table", None, "last")},
    "CH_BGE": {"drop": [("div", "center pagebreak")]},
    "VD_FindInfo": {"drop": [("table", None)]},
    "AG_Gerichte": {"drop": [("div", "header")]},
}


def _cls_match(rule_cls: str | None, attrs) -> bool:
    if rule_cls is None:
        return True
    got = dict(attrs).get("class") or ""
    return set(rule_cls.split()) <= set(got.split())


class _TextCollector(HTMLParser):
    def __init__(self, rules: dict | None = None) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip_depth = 0
        self._rules = rules or {}
        self._drop_depth = 0
        self._content_depth = 0
        # (tag, drop_root, content_root) — the tag name makes end-tag
        # pairing robust to unclosed elements (<p>, <li>, ... are
        # routinely left open in scraped court HTML; BeautifulSoup
        # auto-closes them in the reference)
        self._stack: list[tuple[str, bool, bool]] = []
        self.segments: list[list[str]] = []  # one per content match

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        drop_root = content_root = False
        if self._drop_depth == 0:
            for dtag, dcls in self._rules.get("drop", []):
                if tag == dtag and _cls_match(dcls, attrs):
                    drop_root = True
                    break
        content = self._rules.get("content")
        if content and self._content_depth == 0 and not drop_root:
            ctag, ccls, _ = content
            if tag == ctag and _cls_match(ccls, attrs):
                content_root = True
                self.parts = []
                self.segments.append(self.parts)
        if tag not in _VOID_TAGS:
            self._stack.append((tag, drop_root, content_root))
            if drop_root:
                self._drop_depth += 1
            if content_root:
                self._content_depth += 1
        if tag in _BLOCK_TAGS and not self._drop_depth:
            self.parts.append("\n")

    def _pop_frame(self) -> None:
        _, drop_root, content_root = self._stack.pop()
        if drop_root:
            self._drop_depth -= 1
        if content_root:
            self._content_depth -= 1
            self.parts = []  # outside-content text is discarded

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
            return
        if tag in _BLOCK_TAGS and not self._drop_depth:
            self.parts.append("\n")
        if tag in _VOID_TAGS:
            return
        # Pop to the NEAREST frame with a matching tag name, implicitly
        # closing any unclosed elements stacked above it (e.g.
        # "<div class=content><p>a<p>b</div>" must close BOTH implied
        # <p> frames AND the content div — an unconditional single pop
        # would leave the content root open and leak all following
        # text, footers included, into the extracted body).  A stray
        # end tag with no matching open frame is ignored.
        for idx in range(len(self._stack) - 1, -1, -1):
            if self._stack[idx][0] == tag:
                while len(self._stack) > idx:
                    self._pop_frame()
                return

    def handle_data(self, data):
        if self._skip_depth or self._drop_depth:
            return
        if self._rules.get("content") and self._content_depth == 0:
            return
        self.parts.append(data)

    def text_parts(self) -> list[str]:
        content = self._rules.get("content")
        if not content:
            return self.parts
        if not self.segments:
            return []
        return self.segments[0] if content[2] == "first" else self.segments[-1]


class _CitationCollector(HTMLParser):
    """CH_BGer markup: law cites in <span class="artref">, ruling cites
    in <a class="bgeref_id" href=...>."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.citations: list[dict] = []
        self._active: dict | None = None

    def handle_starttag(self, tag, attrs):
        attr = dict(attrs)
        cls = attr.get("class", "")
        if tag == "span" and "artref" in cls:
            self._active = {"type": "law", "url": attr.get("href"), "text": ""}
        elif tag == "a" and "bgeref_id" in cls:
            self._active = {"type": "ruling", "url": attr.get("href"), "text": ""}

    def handle_endtag(self, tag):
        if self._active is not None and tag in ("span", "a"):
            self._active["text"] = self._active["text"].strip()
            if self._active["text"]:
                self.citations.append(self._active)
            self._active = None

    def handle_data(self, data):
        if self._active is not None:
            self._active["text"] += data


def html_to_text_py(html: str | None, spider: str | None = None) -> str | None:
    if html is None:
        return None
    collector = _TextCollector(SPIDER_HTML_RULES.get(spider or ""))
    collector.feed(html)
    text = "".join(collector.text_parts())
    lines = [ln.strip() for ln in text.split("\n")]
    return "\n".join(ln for ln in lines if ln)


def html_paragraphs_py(html: str | None) -> list[str] | None:
    """F3 html→paragraph list (`main_utils.py:52-61`)."""
    text = html_to_text_py(html)
    if text is None:
        return None
    return [p for p in text.split("\n") if p]


def html_citations_py(html: str | None) -> list[dict] | None:
    if html is None:
        return None
    collector = _CitationCollector()
    collector.feed(html)
    # dedup by (type, text) preserving first occurrence, like the
    # reference's span harvesting
    seen: set[tuple] = set()
    out = []
    for c in collector.citations:
        key = (c["type"], c["text"])
        if key not in seen:
            seen.add(key)
            out.append(c)
    return out


# (html[, spider]): with a spider, applies SPIDER_HTML_RULES (content
# selection / node drops) before text assembly
html_to_text_spider_udf = row_udf(
    "html_to_text_spider_udf", html_to_text_py, StringType()
)
