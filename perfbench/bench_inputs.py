"""Seeded benchmark inputs: a scraper-layout landing zone of court decisions.

The landing zone is the program's own fixture layout
(``sources.ingest.write_rich_fixture_tree``: per doc a ``.json`` metadata
file plus an ``.html`` or FlateDecode ``.pdf`` payload, and media
attachments), filled with rows of ``domain_fixtures.build_raw_corpus``.
The writer draws its rows from ``build_raw_corpus`` with seed 42, so the
benchmark's rows are swapped in for the duration of the call.  A row's file
name depends only on its index, and its text on the seed.
"""

from __future__ import annotations

import os

from swisscourtrulingcorpus_spark.sources import domain_fixtures, ingest


def append_rows(n_docs: int, base_seed: int, new_docs: int, seed: int) -> list[dict]:
    """``n_docs`` base decisions drawn with ``base_seed``, followed by the
    ``new_docs`` decisions after them drawn with ``seed``."""
    build = domain_fixtures.build_raw_corpus
    return build(n_docs, base_seed) + build(n_docs + new_docs, seed)[n_docs:]


def write_landing_zone(root: str, rows: list[dict]) -> list[str]:
    """Write ``rows`` under ``root``; returns the document names."""
    unseeded = domain_fixtures.build_raw_corpus

    def given(n: int, seed: int = 0) -> list[dict]:
        return rows[:n]

    domain_fixtures.build_raw_corpus = given
    try:
        return ingest.write_rich_fixture_tree(root, len(rows))
    finally:
        domain_fixtures.build_raw_corpus = unseeded


def payloads(root: str, names: list[str]) -> list[tuple[str, str, bytes]]:
    """(spider, ext, bytes) of each named document's html or pdf payload."""
    wanted = set(names)
    out = []
    for spider in sorted(os.listdir(root)):
        d = os.path.join(root, spider)
        for fname in sorted(os.listdir(d)):
            stem, ext = os.path.splitext(fname)
            if ext in (".html", ".pdf") and stem in wanted:
                with open(os.path.join(d, fname), "rb") as fh:
                    out.append((spider, ext[1:], fh.read()))
    return out
