"""Shared curation predicates — ONE definition of the Gopher-style
quality rules and the word-exact blocklist membership, consumed by the
batch gates (`plans/extraction_queries.py::q_gopher_quality_filter`,
`plans/curation_queries.py::blocklist_filter_documents`), the funnel
(`curation_funnel_documents`), and the streaming curation twin
(`streaming/jobs.py::stream_curation_job`) — so the batch and
streaming paths cannot drift (reference parallel: the quality gates of
`dataset_creator.py`; thresholds are Gopher's, Rae et al. 2021,
public).

All expressions are pure JVM column arithmetic: applying them to a
scan (batch or micro-batch) adds zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import words_sql

GOPHER_STOPWORDS = ("the", "a", "and", "of", "to")
BLOCKLIST_TERMS = ["lorem", "ipsum", "unsubscribe", "clickbait", "spam"]


def gopher_rule_columns(text_col: str = "text") -> dict[str, Column]:
    """The named intermediate and verdict columns of the Gopher rules:
    n_words, stop_hits, wc_ok, wl_ok, stop_ok, keep."""
    # the SAME words_sql as blocklist_hits below — this module's
    # whole contract is one definition of the curation predicates, and
    # an inline re-spelling of the normalization was the one place the
    # two could still drift (r06 review)
    words = F.expr(words_sql(f"`{text_col}`"))
    n_words = F.size(words)
    mean_wl = F.length(F.concat_ws("", words)) / F.greatest(n_words, F.lit(1))
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*GOPHER_STOPWORDS))
    )
    wc_ok = (n_words >= 10) & (n_words <= 100000)
    wl_ok = (mean_wl >= 2.0) & (mean_wl <= 12.0)
    stop_ok = stop_hits >= 1
    return {
        "n_words": n_words,
        "stop_hits": stop_hits,
        "wc_ok": wc_ok,
        "wl_ok": wl_ok,
        "stop_ok": stop_ok,
        "keep": wc_ok & wl_ok & stop_ok,
    }


def blocklist_hits(text_col: str = "text") -> Column:
    """array<string> of blocklist-term occurrences by exact WORD
    membership (not substring regex — 'spambot' must not flag
    'spam')."""
    words = F.expr(words_sql(f"`{text_col}`"))
    return F.filter(words, lambda w: w.isin(*BLOCKLIST_TERMS))


def blocklist_keep(text_col: str = "text") -> Column:
    return F.size(blocklist_hits(text_col)) == 0
