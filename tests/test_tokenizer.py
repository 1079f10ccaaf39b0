"""The one whitespace tokenizer (``functions/hashing.py::words_sql``)
against its DuckDB twin (``plans/text_queries.py::_words_duck``), row
for row, on the characters where the two engines' whitespace rules can
differ: Java's ``\\s`` also matches a vertical tab, RE2's does not; and
DuckDB's ``trim`` strips every Unicode space separator (NBSP included)
where Spark's plain ``trim`` strips only ``' '``.  Then every gate that
tokenizes through ``functions/text.py`` against its own oracle on such
edge strings."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from swisscourtrulingcorpus_spark.functions.hashing import words_sql
from swisscourtrulingcorpus_spark.plans.parity import normalize
from swisscourtrulingcorpus_spark.plans.registry import QUERY_SPECS
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


#: Strings on which a second whitespace rule shows: an interior vertical
#: tab (one word to RE2, two to Java), an edge NBSP, a leading tab, a
#: vertical tab inside a stopword run, the empty string and NULL.
EDGE_TEXTS = ["a\x0bb", "\xa0 a", "\ta b", "x\x0by.", "und\x0bder la le", "", None]

#: The gates built on ``token_count_ws_sql`` / ``token_count_bpe``,
#: ``language_id_score_sql``, ``quality_features_sql``, the POS split
#: and the rake phrase collapse.
EDGE_GATES = [
    "token_counts_documents",
    "language_id_documents",
    "quality_features_documents",
    "pos_proxy_counts",
    "rake_keywords_documents",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_texts")
    pd.DataFrame(
        {
            "doc_id": pd.Series(range(len(EDGE_TEXTS)), dtype="int64"),
            "text": pd.Series(EDGE_TEXTS, dtype="object"),
            "lang": pd.Series(["de"] * len(EDGE_TEXTS), dtype="object"),
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def _rows(df: pd.DataFrame) -> list[tuple]:
    """The cells' reprs, as the driver's value hash compares them (NaN
    equals NaN, int 1 is not float 1.0), rows sorted."""
    return sorted(
        tuple(map(repr, r)) for r in normalize(df).itertuples(index=False, name=None)
    )


@pytest.mark.parametrize("gate", EDGE_GATES)
def test_edge_strings_match_oracle(spark, edge_dir, gate):
    spec = next(s for s in QUERY_SPECS if s.name == gate)
    got = spec.spark(spark, edge_dir).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS FROM '{edge_dir}/documents.parquet'")
    want = con.execute(spec.oracle).fetchdf()
    con.close()
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)
