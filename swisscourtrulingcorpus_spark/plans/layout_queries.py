"""Physical-layout and embedding-compression gates.

`sources/layout.py::zorder_value` and
`operators/similarity.py::int8_quantize` are scale infrastructure (file
clustering, embedding storage); these gates pin their ARITHMETIC to
DuckDB oracles so the layout key and the quantized codes are
value-checked, not just exercised.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import load_table

_BITS = 16
_MASK = (1 << _BITS) - 1  # 65535


def zorder_locality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key locality report over orders clustered on
    (o_custkey, floor(o_totalprice)): per top-byte z-bucket, the row
    count and the min/max of both dimensions.

    This is the measurement a layout decision needs: compact per-bucket
    dim ranges mean parquet footer min/max prunes on BOTH columns at
    once (`sources/layout.py::write_zordered`).  The domain bounds come
    from one 1-row aggregate (the `zorder_cluster` collect pattern —
    bounded, driver-side, same as centroid collects); everything else
    is one codegen'd projection + one groupBy on a 256-value key.
    """
    from swisscourtrulingcorpus_spark.sources.layout import zorder_value

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("x"),
        F.floor("o_totalprice").cast("long").alias("y"),
    )
    r = o.agg(
        F.min("x").alias("lox"),
        F.max("x").alias("hix"),
        F.min("y").alias("loy"),
        F.max("y").alias("hiy"),
    ).collect()[0]
    z = zorder_value(
        ["x", "y"], [int(r["lox"]), int(r["loy"])], [int(r["hix"]), int(r["hiy"])], _BITS
    )
    return (
        o.withColumn("bucket", F.shiftright(z, 2 * _BITS - 8).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_price"),
            F.max("y").alias("max_price"),
        )
    )


# --- Hilbert-curve locality (the Z-order comparison point) ---------------

_HBITS = 8  # 256x256 cell grid; 16-bit Hilbert key


def hilbert_locality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-key locality report over the SAME (o_custkey,
    floor(o_totalprice)) dims as `zorder_locality_orders` — per top-byte
    Hilbert bucket, row count and min/max of both dims.  Hilbert's
    connected-rectangle property gives tighter per-bucket bounding
    boxes than Morton's Z-jumps (asserted in tests/test_layout.py), so
    a file owning a key range prunes better on both columns at once.
    Same plan shape as the z-order gate: one 1-row bounds aggregate,
    one codegen'd projection, one groupBy on a 256-value key."""
    from swisscourtrulingcorpus_spark.sources.layout import hilbert_value

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("x"),
        F.floor("o_totalprice").cast("long").alias("y"),
    )
    r = o.agg(
        F.min("x").alias("lox"),
        F.max("x").alias("hix"),
        F.min("y").alias("loy"),
        F.max("y").alias("hiy"),
    ).collect()[0]
    h = hilbert_value(
        ["x", "y"],
        [int(r["lox"]), int(r["loy"])],
        [int(r["hix"]), int(r["hiy"])],
        _HBITS,
    )
    return (
        o.withColumn("bucket", F.shiftright(h, _HBITS).cast("int"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_price"),
            F.max("y").alias("max_price"),
        )
    )


def _hilbert_oracle() -> str:
    """Unrolled DFA levels as chained CTEs, same tables as
    `sources/layout.py` (DuckDB's `>>` takes computed shift counts, so
    the oracle shifts where Spark divides by 2^idx — identical
    integers)."""
    from swisscourtrulingcorpus_spark.sources.layout import (
        _HILBERT_OUT,
        _HILBERT_ST,
    )

    mask = (1 << _HBITS) - 1
    sql = f"""
WITH o AS (
  SELECT o_custkey AS x, CAST(floor(o_totalprice) AS BIGINT) AS y FROM orders),
r AS (SELECT min(x) AS lox, max(x) AS hix, min(y) AS loy, max(y) AS hiy FROM o),
h0 AS (
  SELECT x, y,
    greatest(CAST(0 AS BIGINT), least(CAST({mask} AS BIGINT),
      CAST(trunc((CAST(x AS DOUBLE) - CAST(lox AS DOUBLE))
                 / CAST(greatest(1, hix - lox) AS DOUBLE) * {mask}.0) AS BIGINT))) AS sx,
    greatest(CAST(0 AS BIGINT), least(CAST({mask} AS BIGINT),
      CAST(trunc((CAST(y AS DOUBLE) - CAST(loy AS DOUBLE))
                 / CAST(greatest(1, hiy - loy) AS DOUBLE) * {mask}.0) AS BIGINT))) AS sy,
    CAST(0 AS BIGINT) AS st0, CAST(0 AS BIGINT) AS d0
  FROM o, r)"""
    for i, lvl in enumerate(range(_HBITS - 1, -1, -1)):
        idx = f"((st{i}*4 + ((sx >> {lvl}) & 1)*2 + ((sy >> {lvl}) & 1)) * 2)"
        sql += f""",
h{i + 1} AS (
  SELECT x, y, sx, sy,
         (({_HILBERT_ST} :: BIGINT) >> {idx}) & 3 AS st{i + 1},
         d{i}*4 + ((({_HILBERT_OUT} :: BIGINT) >> {idx}) & 3) AS d{i + 1}
  FROM h{i})"""
    sql += f"""
SELECT CAST(d{_HBITS} >> {_HBITS} AS INTEGER) AS bucket,
       count(*) AS n_rows,
       min(x) AS min_cust, max(x) AS max_cust,
       min(y) AS min_price, max(y) AS max_price
FROM h{_HBITS}
GROUP BY 1
"""
    return sql


# trunc-then-cast mirrors Spark's double->long cast (truncation toward
# zero); DuckDB's bare CAST(double AS BIGINT) ROUNDS and would disagree
# on every non-integral ratio.
ZORDER_ORACLE = f"""
WITH o AS (
  SELECT o_custkey AS x, CAST(floor(o_totalprice) AS BIGINT) AS y FROM orders),
r AS (SELECT min(x) AS lox, max(x) AS hix, min(y) AS loy, max(y) AS hiy FROM o),
s AS (
  SELECT x, y,
    greatest(CAST(0 AS BIGINT), least(CAST({_MASK} AS BIGINT),
      CAST(trunc((CAST(x AS DOUBLE) - CAST(lox AS DOUBLE))
                 / CAST(greatest(1, hix - lox) AS DOUBLE) * {_MASK}.0) AS BIGINT))) AS sx,
    greatest(CAST(0 AS BIGINT), least(CAST({_MASK} AS BIGINT),
      CAST(trunc((CAST(y AS DOUBLE) - CAST(loy AS DOUBLE))
                 / CAST(greatest(1, hiy - loy) AS DOUBLE) * {_MASK}.0) AS BIGINT))) AS sy
  FROM o, r),
z AS (
  SELECT x, y,
         CAST(list_sum(list_transform(generate_series(0, {_BITS - 1}),
           i -> (((sx >> i) & 1) << (2 * i)) + (((sy >> i) & 1) << (2 * i + 1))))
           AS BIGINT) AS zkey
  FROM s)
SELECT CAST(zkey >> {2 * _BITS - 8} AS INTEGER) AS bucket,
       count(*) AS n_rows,
       min(x) AS min_cust, max(x) AS max_cust,
       min(y) AS min_price, max(y) AS max_price
FROM z
GROUP BY 1
"""


def int8_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 codes for every embedding vector
    (`operators/similarity.py::int8_quantize`), plus the saturation
    count (codes pinned at 255 — exactly the argmax components)."""
    from swisscourtrulingcorpus_spark.operators.similarity import int8_quantize

    emb = load_table(spark, sf_dir, "embeddings")
    q = int8_quantize(emb, "embedding", "q_codes")
    # The driver's value-hash canonicalizer cannot hash array cells, so
    # the codes are emitted as one comma-joined string per vector (the
    # same contract as minhash_signatures(spread=True) and the other
    # array-producing gates).
    return q.select(
        "vec_id",
        F.array_join("q_codes", ",").alias("q_codes_csv"),
        F.size(F.filter("q_codes", lambda v: v == 255)).alias("n_sat"),
    )


INT8_QUANTIZE_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding,
         embedding IS NOT NULL AND len(list_filter(embedding,
           x -> x IS NULL OR isnan(x) OR NOT isfinite(x))) = 0 AS ok,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings),
q AS (
  SELECT vec_id,
         CASE WHEN ok THEN list_transform(embedding,
           x -> CASE WHEN mx = mn THEN 0
                     ELSE CAST(least(255.0, floor((CAST(x AS DOUBLE) - mn) * 255.0 / (mx - mn))) AS INTEGER)
                END)
         END AS q_codes
  FROM e)
SELECT vec_id,
       CASE WHEN q_codes IS NULL THEN NULL
            ELSE array_to_string(q_codes, ',')
       END AS q_codes_csv,
       CASE WHEN q_codes IS NULL THEN NULL
            ELSE CAST(len(list_filter(q_codes, v -> v = 255)) AS INTEGER)
       END AS n_sat
FROM q
"""


def int8_dot_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN search, integer-exact end to end
    (`operators/similarity.py::int8_dot_topk`): symmetric global-
    calibration int8 codes on both sides, exact bigint code dot
    product (monotone proxy for the float inner product — recall@5 =
    0.98 vs the float ranker, pinned in tests/test_clustering.py),
    top-5 per query — the gate class with zero floating-point ranking
    surface."""
    from swisscourtrulingcorpus_spark.operators.similarity import (
        int8_dot_topk,
        max_abs_bound,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    s = max_abs_bound(emb)
    return int8_dot_topk(emb, emb.where(F.col("vec_id") < 8), s, k=5)


INT8_DOT_TOPK_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding,
         embedding IS NOT NULL AND len(list_filter(embedding,
           x -> x IS NULL OR isnan(x) OR NOT isfinite(x))) = 0 AS ok
  FROM embeddings),
bounds AS (
  SELECT CASE WHEN s > 0 THEN s ELSE 1.0 END AS s
  FROM (SELECT max(greatest(abs(list_min(embedding::DOUBLE[])),
                            abs(list_max(embedding::DOUBLE[])))) AS s
        FROM e WHERE ok)),
q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
           round(CAST(x AS DOUBLE) * 127.0 / s))) AS INTEGER)) AS qq
  FROM e, bounds WHERE ok AND vec_id < 8),
c AS (
  SELECT vec_id AS neighbor_id,
         list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
           round(CAST(x AS DOUBLE) * 127.0 / s))) AS INTEGER)) AS cq
  FROM e, bounds WHERE ok),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(list_dot_product(qq::DOUBLE[], cq::DOUBLE[]) AS BIGINT) AS dot_q
  FROM c, q WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, dot_q, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, neighbor_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def mutual_nn_bitext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-free mutual-nearest-neighbor bitext/pair mining (the
    alignment step of CCMatrix/LASER-style parallel-corpus building,
    Schwenk et al. 2021, public): split the embedding corpus into two
    groups (even/odd label — the stand-in for two languages), find each
    A-vector's top-1 neighbor in B and vice versa by the EXACT bigint
    int8-code dot product, and keep only MUTUAL pairs — the standard
    high-precision alignment rule.  Integer-exact end to end (the
    int8_dot_topk gate class: zero float ranking surface).

    Scale shape: the dot is SYMMETRIC, so ONE broadcast-cross scored
    table serves both directions — two row_number windows (per A-id,
    per B-id) over the same slim (id_a, id_b, dot) rows instead of two
    full quadratic passes (the deliberate broadcast-cross of
    `cosine_topk_bruteforce`, halved); at real bitext scale the
    candidate generation would go through the IVF buckets
    (`ivf_topk_bucketed`), which composes with the same mutual
    filter."""
    ranked = _bitext_ranked(spark, sf_dir)
    return ranked.where(
        (F.col("__ra") == 1) & (F.col("__rb") == 1)
    ).select("id_a", "id_b", "dot_q")


def _bitext_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE definition of the bitext scored-pair table shared by the
    mutual-NN and margin gates: int8-quantize both label groups with the
    global bound, one exact bigint dot per (A, B) pair of a broadcast
    join, plus both direction ranks (__ra per A-id, __rb per B-id; ties
    by the other id ascending).  Only pairs of equal length are scored,
    as in `operators/similarity.py`'s pair body: ``zip_with`` would
    null-pad the shorter array into a NULL dot that ranks as mutual."""
    from swisscourtrulingcorpus_spark.operators.similarity import (
        int8_pair_dot,
        int8_quantize_symmetric,
        max_abs_bound,
        mutual_rank_columns,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    s = max_abs_bound(emb)
    qa = (
        int8_quantize_symmetric(
            emb.where(F.col("label") % 2 == 0), s, "embedding", "qa"
        )
        .where(F.col("qa").isNotNull())
        .select(F.col("vec_id").alias("id_a"), "qa")
    )
    qb = (
        int8_quantize_symmetric(
            emb.where(F.col("label") % 2 == 1), s, "embedding", "qb"
        )
        .where(F.col("qb").isNotNull())
        .select(F.col("vec_id").alias("id_b"), "qb")
    )
    scored = (
        qb.join(F.broadcast(qa), F.expr("size(qa) = size(qb)"))
        .selectExpr("id_a", "id_b", f"{int8_pair_dot('qa', 'qb')} AS dot_q")
    )
    return mutual_rank_columns(scored)


_MARGIN_K = 4


def margin_bitext_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-SCORED bitext mining — the actual CCMatrix ranking rule
    (Artetxe & Schwenk 2019 margin criterion, public): a mutual-NN pair
    is accepted only when its similarity stands OUT of each side's
    neighborhood, margin = dot / avg(top-k dots of both sides) — raw
    mutual-NN keeps hubs whose best match is barely better than their
    k-th.  Integer-exact: margin_micro = ((na+nb) * dot * 1e6) DIV
    (sa+sb) over the bigint code dots (truncating division, both
    operands non-negative by the guards), accept ⇔ margin > 1.

    One quadratic pass: the shared ranked table adds per-side top-k
    window sums (4 slim window shuffles total, the scored cross-join
    evaluated once); rows with non-positive denominator or negative
    dot are excluded on BOTH engines (division semantics diverge below
    zero: Spark DIV truncates, DuckDB // floors)."""
    from pyspark.sql import Window

    k = _MARGIN_K
    ranked = _bitext_ranked(spark, sf_dir)
    pa = Window.partitionBy("id_a")
    pb = Window.partitionBy("id_b")
    topk_a = F.when(F.col("__ra") <= k, F.col("dot_q"))
    topk_b = F.when(F.col("__rb") <= k, F.col("dot_q"))
    sums = (
        ranked.withColumn("__sa", F.sum(topk_a).over(pa))
        .withColumn("__na", F.sum(F.when(F.col("__ra") <= k, 1)).over(pa))
        .withColumn("__sb", F.sum(topk_b).over(pb))
        .withColumn("__nb", F.sum(F.when(F.col("__rb") <= k, 1)).over(pb))
    )
    margin = F.expr(
        "((__na + __nb) * dot_q * 1000000) DIV (__sa + __sb)"
    )
    return (
        sums.where(
            (F.col("__ra") == 1)
            & (F.col("__rb") == 1)
            & (F.col("dot_q") >= 0)
            & (F.col("__sa") + F.col("__sb") > 0)
        )
        .select(
            "id_a",
            "id_b",
            "dot_q",
            margin.alias("margin_micro"),
            (margin > 1_000_000).alias("accept"),
        )
    )


# dot is symmetric, so ONE scored table serves both directions: the
# A-side top-1 partitions by qid (ties: min B id), the B-side top-1
# partitions by nid (ties: min A id) — identical to the two
# int8_dot_topk calls' (dot desc, neighbor asc) ranking.
MUTUAL_NN_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding,
         embedding IS NOT NULL AND len(list_filter(embedding,
           x -> x IS NULL OR isnan(x) OR NOT isfinite(x))) = 0 AS ok
  FROM embeddings),
bounds AS (
  SELECT CASE WHEN s > 0 THEN s ELSE 1.0 END AS s
  FROM (SELECT max(greatest(abs(list_min(embedding::DOUBLE[])),
                            abs(list_max(embedding::DOUBLE[])))) AS s
        FROM e WHERE ok)),
qa AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
           round(CAST(x AS DOUBLE) * 127.0 / s))) AS INTEGER)) AS q
  FROM e, bounds WHERE ok AND label % 2 = 0),
qb AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(greatest(-127.0, least(127.0,
           round(CAST(x AS DOUBLE) * 127.0 / s))) AS INTEGER)) AS q
  FROM e, bounds WHERE ok AND label % 2 = 1),
scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         CAST(list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) AS BIGINT) AS dot_q
  FROM qa a, qb b),
top_ab AS (
  SELECT qid, nid, dot_q
  FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid ASC) AS rn
        FROM scored)
  WHERE rn = 1),
top_ba AS (
  SELECT qid, nid
  FROM (SELECT *, row_number() OVER (PARTITION BY nid ORDER BY dot_q DESC, qid ASC) AS rn
        FROM scored)
  WHERE rn = 1)
SELECT x.qid AS id_a, x.nid AS id_b, x.dot_q
FROM top_ab x JOIN top_ba y ON x.qid = y.qid AND x.nid = y.nid
"""


# shares the scored CTE chain of MUTUAL_NN_ORACLE; sums mirror the
# Spark window aggregates exactly (top-k by the same tie-broken ranks)
MARGIN_BITEXT_ORACLE = (
    MUTUAL_NN_ORACLE.split("top_ab AS")[0]
    + f"""ranked AS (
  SELECT qid, nid, dot_q,
         row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, nid ASC) AS ra,
         row_number() OVER (PARTITION BY nid ORDER BY dot_q DESC, qid ASC) AS rb
  FROM scored),
sums AS (
  SELECT *,
         sum(CASE WHEN ra <= {_MARGIN_K} THEN dot_q END) OVER (PARTITION BY qid) AS sa,
         sum(CASE WHEN ra <= {_MARGIN_K} THEN 1 END) OVER (PARTITION BY qid) AS na,
         sum(CASE WHEN rb <= {_MARGIN_K} THEN dot_q END) OVER (PARTITION BY nid) AS sb,
         sum(CASE WHEN rb <= {_MARGIN_K} THEN 1 END) OVER (PARTITION BY nid) AS nb
  FROM ranked)
SELECT qid AS id_a, nid AS id_b, dot_q,
       CAST(((na + nb) * dot_q * 1000000) // (sa + sb) AS BIGINT) AS margin_micro,
       (CAST(((na + nb) * dot_q * 1000000) // (sa + sb) AS BIGINT) > 1000000) AS accept
FROM sums
WHERE ra = 1 AND rb = 1 AND dot_q >= 0 AND sa + sb > 0
"""
)


_JL_IN, _JL_OUT = 64, 16
# generated once at import from the fixed seed — the SAME literals embed
# in the Spark plan and the oracle SQL (data-independent, like the LSH
# hyperplanes), so there is nothing to train or store
from swisscourtrulingcorpus_spark.operators.similarity import (  # noqa: E402
    jl_projection_matrix,
)

_JL_MATRIX = jl_projection_matrix(_JL_IN, _JL_OUT, seed=7)


def jl_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims
    (`operators/similarity.py::jl_project`): the cheap map-side shrink
    applied before an ANN index — 4x smaller vectors, approximately
    preserved distances (the JL distortion band is measured and pinned
    in tests/test_clustering.py).  Doubles hash-gate bit-exactly (same
    sequential fold as list_dot_product)."""
    from swisscourtrulingcorpus_spark.operators.similarity import jl_project

    emb = load_table(spark, sf_dir, "embeddings")
    return jl_project(emb, _JL_MATRIX)


def _jl_oracle() -> str:
    # literals in SCIENTIFIC notation: DuckDB parses a bare decimal
    # literal as DECIMAL (precision-limited — silently lossy at 17
    # significant digits) but an exponent literal as DOUBLE, which
    # round-trips the float32-snapped entries exactly
    dims = ",\n       ".join(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), [{', '.join(f'{x:.17e}' for x in row)}]) AS p{i}"
        for i, row in enumerate(_JL_MATRIX)
    )
    return f"""
SELECT vec_id,
       {dims}
FROM embeddings
WHERE embedding IS NOT NULL AND len(embedding) = {_JL_IN}
"""


def jl_rerank_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN through the JL shrink
    (`operators/similarity.py::jl_rerank_topk`): shortlist-20 by cosine
    in the 16-dim projected space (4x fewer multiply-adds per scan),
    exact 64-dim cosine re-rank on the shortlist only — the classic
    compressed-domain filter + exact rerank.  Recall vs the exact
    brute force is pinned in tests/test_clustering.py."""
    from swisscourtrulingcorpus_spark.operators.similarity import jl_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return jl_rerank_topk(
        emb, emb.where(F.col("vec_id") < 8), _JL_MATRIX, k=5, shortlist=20
    )


def _jl_rerank_oracle(k: int = 5, shortlist: int = 20) -> str:
    # stage-1 arithmetic is double x double (projected values), where
    # DuckDB's list_dot_product fused multiply-add diverges from
    # Spark's materialize-products-then-fold — the explicit
    # list_transform + list_reduce form forbids fusion and matches
    # Spark's zip_with/aggregate exactly.  Stage-2 operates on float32
    # vectors (exact products), so plain list_dot_product is safe.
    dims = ",\n         ".join(
        f"list_dot_product(CAST(embedding AS DOUBLE[]), [{', '.join(f'{x:.17e}' for x in row)}])"
        for row in _JL_MATRIX
    )
    seq_sum = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {products}), "
        "(acc, x) -> acc + x)"
    )
    pnorm = seq_sum.format(products="list_transform(p, x -> x * x)")
    s1dot = seq_sum.format(
        products=f"list_transform(generate_series(1, {_JL_OUT}), i -> qp[i] * cp[i])"
    )
    return f"""
WITH pr AS (
  SELECT vec_id,
         [{dims}] AS p
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {_JL_IN}),
n1 AS (SELECT vec_id, p, sqrt({pnorm}) AS pn FROM pr),
q1 AS (SELECT vec_id AS query_id, p AS qp, pn AS qn FROM n1 WHERE vec_id < 8 AND pn > 0),
c1 AS (SELECT vec_id AS neighbor_id, p AS cp, pn AS cn FROM n1 WHERE pn > 0),
s1 AS (
  SELECT query_id, neighbor_id, {s1dot} / (qn * cn) AS c1cos
  FROM c1, q1 WHERE neighbor_id != query_id),
short AS (
  SELECT query_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c1cos DESC, neighbor_id ASC) AS r1
        FROM s1)
  WHERE r1 <= {shortlist}),
qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q2,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS qn2
  FROM embeddings
  WHERE vec_id < 8 AND embedding IS NOT NULL
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
cv AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS c2,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn2
  FROM embeddings
  WHERE embedding IS NOT NULL
    AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         list_dot_product(q.q2, c.c2) / (q.qn2 * c.cn2) AS cosine
  FROM short s JOIN qv q USING (query_id) JOIN cv c USING (neighbor_id))
SELECT query_id, neighbor_id, cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM exact)
WHERE rank <= {k}
"""


SPECS = [
    QuerySpec(
        "jl_rerank_topk_embeddings",
        jl_rerank_topk_embeddings,
        _jl_rerank_oracle(),
        "two-stage ANN: JL shortlist + exact full-dim rerank",
    ),
    QuerySpec(
        "jl_projection_embeddings",
        jl_projection_embeddings,
        _jl_oracle(),
        "seeded JL random projection 64->16, bit-exact double folds",
    ),
    QuerySpec(
        "zorder_locality_orders",
        zorder_locality_orders,
        ZORDER_ORACLE,
        "Morton-key bucket locality report (layout.py::zorder_value)",
    ),
    QuerySpec(
        "hilbert_locality_orders",
        hilbert_locality_orders,
        _hilbert_oracle(),
        "Hilbert-key bucket locality report (layout.py::hilbert_value, DFA form)",
    ),
    QuerySpec(
        "mutual_nn_bitext",
        mutual_nn_bitext,
        MUTUAL_NN_ORACLE,
        "mutual top-1 int8-dot alignment across label groups (bitext mining)",
    ),
    QuerySpec(
        "margin_bitext_pairs",
        margin_bitext_pairs,
        MARGIN_BITEXT_ORACLE,
        "CCMatrix margin criterion over mutual pairs, integer-exact",
    ),
    QuerySpec(
        "int8_dot_topk_embeddings",
        int8_dot_topk_embeddings,
        INT8_DOT_TOPK_ORACLE,
        "quantized ANN: exact bigint code dot product, zero float ranking",
    ),
    QuerySpec(
        "int8_quantize_embeddings",
        int8_quantize_embeddings,
        INT8_QUANTIZE_ORACLE,
        "per-vector scalar int8 quantization (similarity.py::int8_quantize)",
    ),
]
