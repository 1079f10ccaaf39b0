"""The one whitespace tokenizer (``functions/hashing.py::words_sql``)
against its DuckDB twin (``plans/text_queries.py::_words_cte``), row for
row, on the characters where the two engines' whitespace rules can
differ: Java's ``\\s`` also matches a vertical tab, RE2's does not; and
DuckDB's ``trim`` strips every Unicode space separator (NBSP included)
where Spark's plain ``trim`` strips only ``' '``."""

from __future__ import annotations

import duckdb

from swisscourtrulingcorpus_spark.functions.hashing import words_sql
from swisscourtrulingcorpus_spark.plans.text_queries import _words_cte

TEXTS = [
    "a\x0bb",  # vertical tab: how Word stores a manual line break
    "\x0ba b\x0b",
    "A\tB\t",
    "a\x0cb",
    "a\r\nb",
    "a\xa0b",  # NBSP inside a word
    "\xa0a b\xa0",  # NBSP at both ends
    "\u3000a\u2003 ",  # ideographic and em space
    "  a   b  ",
    " ",
    "",
    None,
]


def test_words_sql_matches_duckdb(spark):
    rows = list(enumerate(TEXTS))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dict(df.selectExpr("doc_id", f"{words_sql('text')} AS w").collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    oracle = f"WITH {_words_cte('t')} SELECT doc_id, w FROM words"
    want = dict(con.execute(oracle).fetchall())
    con.close()
    assert [(t, got[i]) for i, t in rows] == [(t, want[i]) for i, t in rows]
