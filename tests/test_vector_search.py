"""The contract every top-k vector search shares (one pair-scoring and
ranking body in `operators/similarity.py`), checked on a tiny in-memory
corpus: output columns, at most k rows per query, no self pair, no row
for a null, zero-norm or wrong-length vector (the integer dot keeps a
zero vector, as its oracle does), and ties broken by ``neighbor_id``
ascending.  The bitext gates score their pairs outside that body and
are checked for the wrong-length pair too."""

from __future__ import annotations

import pytest

from swisscourtrulingcorpus_spark.operators import clustering as C
from swisscourtrulingcorpus_spark.operators import similarity as S
from swisscourtrulingcorpus_spark.plans.ann_queries import ivf_mutual_nn_bitext
from swisscourtrulingcorpus_spark.plans.layout_queries import (
    INT8_DOT_TOPK_ORACLE,
    int8_dot_topk_embeddings,
    mutual_nn_bitext,
)

K = 3

# 2 and 5 are the same vector (a tie for query 1); 3 and 4 have the
# wrong length, 4 and 7 a zero norm, 8 no vector at all.  Without the
# length check, zip_with null-pads 3 against a 2-dim query and its
# NULL score is ranked.
ROWS = [
    (1, [1.0, 0.0]),
    (2, [0.9, 0.1]),
    (3, [1.0, 0.0, 5.0]),
    (4, [0.0]),
    (5, [0.9, 0.1]),
    (6, [0.5, 0.5]),
    (7, [0.0, 0.0]),
    (8, None),
    (9, [-1.0, 0.2]),
]
ZERO = 7
EXCLUDED = {3, 4, 8}

OPERATORS = {
    "cosine_topk_bruteforce": lambda c, q: S.cosine_topk_bruteforce(c, q, k=K),
    "lsh_bucketed_topk": lambda c, q: S.lsh_bucketed_topk(c, q, k=K),
    "hyperplane_lsh_topk": lambda c, q: S.hyperplane_lsh_topk(c, q, dim=2, k=K),
    "ivf_topk": lambda c, q: C.ivf_topk(
        c, q, [[1.0, 0.0], [0.0, 1.0]], "embedding", "vec_id", k=K, nprobe=2
    ),
    "int8_dot_topk": lambda c, q: S.int8_dot_topk(c, q, 1.0, k=K),
}


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(i, v, 0) for i, v in ROWS],
        "vec_id long, embedding array<float>, label int",
    )


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_topk_contract(corpus, name):
    out = OPERATORS[name](corpus, corpus.where("vec_id IN (1, 3, 4, 6, 7, 8)"))
    integer = name == "int8_dot_topk"
    score = "dot_q" if integer else "cosine"
    excluded = EXCLUDED if integer else EXCLUDED | {ZERO}
    assert out.columns == ["query_id", "neighbor_id", score, "rank"]

    by_query: dict[int, list] = {}
    for r in out.collect():
        assert r.query_id != r.neighbor_id
        assert not {r.query_id, r.neighbor_id} & excluded, r
        assert r[score] is not None
        by_query.setdefault(r.query_id, []).append(r)
    assert set(by_query) == ({1, 6, ZERO} if integer else {1, 6})
    for rows in by_query.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= K
        assert rows == sorted(rows, key=lambda r: (-r[score], r.neighbor_id))

    # the tie: 2 and 5 score the same against 1, and 2 ranks first
    top = by_query[1]
    assert [r.neighbor_id for r in top] == [2, 5, 6]
    assert top[0][score] == top[1][score]

    if integer:  # the zero vector scores 0 against every neighbor
        assert [(r.neighbor_id, r.dot_q) for r in by_query[ZERO]] == [
            (1, 0),
            (2, 0),
            (5, 0),
        ]


@pytest.mark.parametrize(
    "gate", [mutual_nn_bitext, ivf_mutual_nn_bitext], ids=lambda g: g.__name__
)
def test_bitext_skips_wrong_length_pairs(spark, tmp_path, gate):
    """A (even label) holds one 3-dim vector, B (odd label) two 2-dim
    ones: without the length check the NULL dots of the 3-dim vector
    rank first and (3, 1) comes out as a mutual pair."""
    spark.createDataFrame(
        [(1, [1.0, 0.0], 1), (2, [0.9, 0.1], 1), (3, [1.0, 0.0, 5.0], 0)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    assert gate(spark, str(tmp_path)).collect() == []


def test_int8_zero_vector_matches_oracle(spark, tmp_path):
    """A zero vector has all-zero codes; the reference ranks it with
    ``dot_q`` 0, both as a query and as a neighbor."""
    import duckdb

    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        [(i, v, 0) for i, v in ROWS if i not in (3, 4)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(path)
    got = sorted(map(tuple, int8_dot_topk_embeddings(spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
    want = sorted(con.execute(INT8_DOT_TOPK_ORACLE).fetchall())
    con.close()
    assert got == want
    assert (ZERO, 1, 0, 1) in got  # as a query
    assert (6, ZERO, 0, 4) in got  # as a neighbor


@pytest.mark.parametrize("assign", [C.assign_clusters, C.ivf_index])
def test_wrong_length_vector_gets_no_cluster(spark, assign):
    """A vector of another length than the centroids' has no nearest
    centroid: without the length check its NULL scores leave it in
    cluster -1, the bucket no probe ever reaches."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0, 5.0])],
        "vec_id long, embedding array<double>",
    )
    got = assign(df, [[1.0, 0.0], [0.0, 1.0]], "embedding", "vec_id")
    assert sorted((r.vec_id, r.cluster) for r in got.collect()) == [(1, 0), (2, 1)]
