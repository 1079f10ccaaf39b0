"""Similarity search over embedding columns (``array<float>``).

Two paths, as a 100 TB design requires:

- ``cosine_topk_bruteforce``: exact top-k for a bounded query set.
  The query side broadcasts; the corpus streams once; the dot product
  is a JVM-side ``aggregate(zip_with(...))`` fold — no Python, no
  per-row UDF.  Cost: O(|queries| × |corpus|) multiply-adds, purely
  map-side + one top-k shuffle of (query, k) rows.
- ``lsh_bucketed_topk``: the scale path — restrict candidate pairs to a
  coarse bucket (here: a precomputed partition id such as an IVF/KMeans
  assignment; the fixture's ``label`` column stands in for the centroid
  assignment).  Same plan shape as a production IVF index: bucket join
  instead of cross join, so cost drops by the bucket fan-out factor.

Floats are cast to double BEFORE any arithmetic (exact widening); the
sequential fold matches DuckDB's list_dot_product evaluation order, so
raw cosine doubles are bit-identical to the oracle (verified
empirically) — no rounding, which would itself diverge between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.operators.relational import top_k_per_group_sql


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product over zipped arrays (matches the
    oracle's list_dot_product evaluation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


# SQL-text forms of _dot/_norm (r12, as functions/hashing.py): one parsed
# string instead of several py4j round trips.  `0.0D` is the SQL DOUBLE
# literal, matching F.lit(0.0), so the expression trees are identical.


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * "
        f"cast(x as double)), 0.0D, (acc, v) -> acc + v))"
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """:func:`cosine_topk_bruteforce_sql` over two DataFrames."""
    sql = cosine_topk_bruteforce_sql("{c}", "{q}", id_col, vec_col, k)
    return corpus.sparkSession.sql(sql, c=corpus, q=queries)


def cosine_topk_bruteforce_sql(
    corpus_table: str,
    queries_table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> str:
    """Exact cosine top-k over FROM-able table expressions: for every
    query vector, the k nearest corpus vectors (self-matches excluded).
    Output: query_id, neighbor_id, cosine, rank.  The gate's plan is
    pinned in tests/fixtures/plan_fingerprints.json.

    The ``BROADCAST(q)`` hint makes the cross join a broadcast nested
    loop — the corpus never shuffles; only (|queries| × k) rows do,
    inside the row_number window.

    Norms are projected per ROW before the join (``__qn``/``__cn``), not
    inside the pair expression: per-pair work drops from three array
    folds to one (the dot product).  The division uses the same doubles
    in the same order, so oracle values are bit-identical.  Zero-norm
    vectors have no defined cosine and are filtered out before the pair
    projection (ANSI division would raise otherwise).  One parsed
    statement: the Column form cost ~340 py4j round trips per
    construction.
    """
    norm = _norm_sql(f"`{vec_col}`")
    over = (
        "OVER (PARTITION BY query_id"
        " ORDER BY cosine DESC, neighbor_id ASC)"
    )
    return f"""
WITH q AS (
  SELECT * FROM (
    SELECT `{id_col}` AS query_id, `{vec_col}` AS __qv, {norm} AS __qn
    FROM {queries_table}
  ) WHERE __qn > 0
),
c AS (
  SELECT * FROM (
    SELECT `{id_col}` AS neighbor_id, `{vec_col}` AS __cv, {norm} AS __cn
    FROM {corpus_table}
  ) WHERE __cn > 0
),
scored AS (
  SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
         ({_dot_sql('__qv', '__cv')} / (__qn * __cn)) AS cosine
  FROM c CROSS JOIN q
  WHERE NOT (neighbor_id = query_id)
)
SELECT *, row_number() {over} AS rank
FROM (
  SELECT query_id, neighbor_id, cosine
  FROM (SELECT *, row_number() {over} AS __rn FROM scored)
  WHERE __rn <= {int(k)}
)
"""


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42):
    """Deterministic Gaussian hyperplanes, one set per table.  Generated
    driver-side (tiny: n_tables × n_planes × dim floats) and inlined as
    literal arrays — they ship inside the plan, nothing broadcasts."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 16,
    k: int = 5,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) ANN: bucket = the packed
    sign bits of ``n_planes`` hyperplane projections; ``n_tables``
    independent tables multiply recall (a near neighbor differing in
    one bit of one table still collides in another).  Candidates =
    union over tables of same-bucket pairs, deduped, then exact cosine
    + top-k on the candidate set only.

    This is the third similarity path (after exact brute force and
    IVF): unlike IVF it needs NO trained centroids — the index is
    data-independent, so ingest never rescans the corpus to rebuild
    it.  All JVM-side: projections are ``aggregate(zip_with(...))``
    folds over literal hyperplane arrays; the per-table bucket ids
    posexplode to (table, bucket) rows and the candidate join is an
    equi-join on that compound key — same shuffle shape as the minhash
    LSH band join, cost ∝ bucket occupancy, never |corpus|².

    ``n_planes`` is THE recall/cost knob: each plane halves expected
    bucket occupancy but loses neighbors whose angle crosses it.
    Near-uniform embeddings (angles concentrated near 90°) need few
    planes + many tables (defaults: measured recall@5 ≈ 0.9 on the
    fixture); well-clustered spaces tolerate more planes, shrinking
    candidate sets proportionally.
    """
    planes = _hyperplanes(dim, n_planes, n_tables)

    def _bucket(vec: Column, table: int) -> Column:
        bits = None
        for j in range(n_planes):
            h = F.array(*[F.lit(float(x)) for x in planes[table, j]])
            bit = F.when(_dot(vec, h) > 0, F.lit(1 << j)).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        return bits

    def _tabled(df: DataFrame, role: str) -> DataFrame:
        buckets = F.array(
            *[_bucket(F.col(vec_col), t) for t in range(n_tables)]
        )
        return df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"__{role}v"),
            _norm(F.col(vec_col)).alias(f"__{role}n"),
            F.posexplode(buckets).alias("__table", "__bucket"),
        ).where(F.col(f"__{role}n") > 0)

    c = _tabled(corpus, "neighbor")
    q = F.broadcast(_tabled(queries, "query"))
    candidates = (
        c.join(q, on=["__table", "__bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "__queryv", "__queryn", "neighbor_id", "__neighborv", "__neighborn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.select(
        "query_id",
        "neighbor_id",
        (
            _dot(F.col("__queryv"), F.col("__neighborv"))
            / (F.col("__queryn") * F.col("__neighborn"))
        ).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVF-style approximate top-k: candidates limited to the query's
    coarse bucket (centroid assignment / LSH bucket).  Equi-join on the
    bucket replaces the cross join — this is the 100 TB plan: shuffle
    on bucket id, compare within buckets only.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"),
        F.col(bucket_col).alias("__bucket"),
    ).where(F.col("__qn") > 0)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
        F.col(bucket_col).alias("__bucket"),
    ).where(F.col("__cn") > 0)
    scored = (
        c.join(F.broadcast(q), on="__bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def semantic_dedup_groups(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each coarse bucket
    (IVF/KMeans assignment), docs whose embedding cosine >= ``threshold``
    are near-duplicates; keep one representative per near-dup set.

    Same scale shape as ``minhash_dedup_groups`` (`operators/dedup.py`):
    the representative is the MINIMUM id among a doc's over-threshold
    neighbors (itself included) — a single bucket self-join + one
    groupBy, linear in the number of over-threshold pairs within
    buckets, never a corpus-wide transitive closure.  Chains longer
    than one hop (a~b~c with cos(a,c) < t) keep multiple
    representatives; feed the pair list into
    ``operators.dedup.transitive_dedup_clusters`` when full
    connected-component semantics are required — at 100 TB the
    single-pass form is the default because near-dup sets produced by
    embedding similarity are overwhelmingly cliques, not long chains.

    Returns (id, representative, keep): ``keep`` marks the one row per
    group that survives dedup.
    """
    # Zero-norm vectors (empty/failed embeddings) have no defined
    # cosine: exclude them from the neighbor join BEFORE the division
    # (ANSI mode raises DIVIDE_BY_ZERO otherwise) — they fall through
    # the left join below and survive as their own representatives.
    a = emb.select(
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        _norm(F.col(vec_col)).alias("__na"),
        F.col(bucket_col).alias("__bucket"),
    ).where(F.col("__na") > 0)
    b = emb.select(
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        _norm(F.col(vec_col)).alias("__nb"),
        F.col(bucket_col).alias("__bucket"),
    ).where(F.col("__nb") > 0)
    neighbors = (
        a.join(b, on="__bucket")
        .where(F.col("__ida") != F.col("__idb"))
        .where(
            _dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
            >= threshold
        )
        .select("__ida", "__idb")
    )
    min_nb = neighbors.groupBy("__ida").agg(F.min("__idb").alias("__min_nb"))
    return (
        emb.select(F.col(id_col).alias("__ida"))
        .join(min_nb, on="__ida", how="left")
        .select(
            F.col("__ida").alias(id_col),
            F.least(
                F.col("__ida"), F.coalesce(F.col("__min_nb"), F.col("__ida"))
            ).alias("representative"),
        )
        .withColumn("keep", F.col("representative") == F.col(id_col))
    )


def int8_quantize(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q_codes"
) -> DataFrame:
    """Per-vector scalar int8 quantization: each component maps to
    floor((x - min) * 255 / (max - min)) in [0, 255] against the
    VECTOR'S OWN min/max (the per-row scale a 100 TB embedding store
    keeps next to the codes for dequantization).

    4x storage reduction with zero shuffles: one codegen'd projection
    per row — array_min/array_max and the transform all evaluate
    JVM-side.  Degenerate constant vectors (max == min) quantize to
    all-zero codes rather than dividing by zero.  Floats widen to
    DOUBLE before any arithmetic (exact) and the expression shape is
    ratio-last — (x-mn)*255.0/(mx-mn) — mirrored verbatim by the
    DuckDB oracle so the integral doubles agree bit-for-bit.  Rows
    with NaN/±Inf/null components pass through with NULL codes (the
    clustering family's `_valid_vec` contract: surface bad embeddings
    via data-quality checks, don't invent codes for them).
    """
    from swisscourtrulingcorpus_spark.operators.clustering import _valid_vec

    c = F.col(vec_col)
    mn = F.array_min(c).cast("double")
    mx = F.array_max(c).cast("double")
    codes = F.transform(
        c,
        lambda x: F.when(mx == mn, F.lit(0))
        .otherwise(
            F.least(
                F.lit(255.0),
                F.floor((x.cast("double") - mn) * F.lit(255.0) / (mx - mn)),
            )
        )
        .cast("int"),
    )
    return df.withColumn(
        out_col, F.when(_valid_vec(vec_col), codes).otherwise(F.lit(None))
    )


def int8_quantize_symmetric(
    df: DataFrame,
    max_abs: float,
    vec_col: str = "embedding",
    out_col: str = "q_codes",
) -> DataFrame:
    """Symmetric signed int8 quantization (the FAISS-SQ8 / GEMM-int8
    shape): code = clamp(round(x * 127 / max_abs), -127, 127) against
    the CORPUS-WIDE absolute bound.  Symmetric (zero-point 0) is the
    load-bearing choice: dot(codes_a, codes_b) = (127/max_abs)^2 *
    dot(a, b) + quantization noise — a monotone proxy for the float
    inner product.  (A shifted/unsigned scheme adds a +b*sum(x) term
    that RANKS BY COMPONENT SUMS, not similarity: measured recall@5
    0.03 vs 0.98 for symmetric on the fixture corpus.)  Bound comes
    from one 1-row aggregate; same validity contract as
    `int8_quantize`."""
    from swisscourtrulingcorpus_spark.operators.clustering import _valid_vec

    sc = max_abs if max_abs > 0 else 1.0
    codes = F.transform(
        F.col(vec_col),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(
                F.lit(127.0),
                F.round(x.cast("double") * F.lit(127.0) / F.lit(float(sc))),
            ),
        ).cast("int"),
    )
    return df.withColumn(
        out_col, F.when(_valid_vec(vec_col), codes).otherwise(F.lit(None))
    )


def max_abs_bound(df: DataFrame, vec_col: str = "embedding") -> float:
    """Global max |component| over all valid vectors — the calibration
    pass for `int8_quantize_symmetric` (one 1-row aggregate)."""
    from swisscourtrulingcorpus_spark.operators.clustering import _valid_vec

    row = (
        df.where(_valid_vec(vec_col))
        .agg(
            F.max(
                F.greatest(
                    F.abs(F.array_min(vec_col).cast("double")),
                    F.abs(F.array_max(vec_col).cast("double")),
                )
            ).alias("s")
        )
        .collect()[0]
    )
    if row["s"] is None:
        # every vector was NULL/NaN/Inf/empty (exactly the rows
        # _valid_vec excludes — int8_quantize passes them through as
        # NULL codes); there is no meaningful scale, so fail loudly
        # instead of float(None)'s opaque TypeError.
        raise ValueError(
            f"max_abs_bound: no valid vectors in column {vec_col!r}"
        )
    return float(row["s"])


def int8_dot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    max_abs: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Quantized similarity search with NO floating point past the
    one-time quantization: both sides encode symmetrically with the
    same global bound, the score is the exact bigint dot product of
    the int8 code arrays (monotone proxy for the float inner product;
    recall@5 pinned in tests), and ranking is (score desc, neighbor
    asc) — every output column and every comparison is an integer, so
    this gate class has zero cross-engine ULP surface (unlike the
    float-cosine rankers).

    Scale shape mirrors `cosine_topk_bruteforce`: the (tiny) quantized
    query set broadcasts across the corpus scan; at 100 TB the scan
    reads 4x fewer bytes than the float baseline — that is the point
    of quantized search."""
    from pyspark.sql import Window

    qc = int8_quantize_symmetric(queries, max_abs, vec_col, "qq").where(
        F.col("qq").isNotNull()
    ).select(F.col(id_col).alias("query_id"), "qq")
    cc = int8_quantize_symmetric(corpus, max_abs, vec_col, "cq").where(
        F.col("cq").isNotNull()
    ).select(F.col(id_col).alias("neighbor_id"), "cq")
    scored = (
        cc.crossJoin(F.broadcast(qc))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with("qq", "cq", lambda a, b: (a * b).cast("bigint")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ).alias("dot_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dot_q", "rank")
    )


def int8_pair_dot(code_a: str, code_b: str):
    """Exact BIGINT dot product of two int8 code array columns — ONE
    definition of the bitext pair score shared by the brute-force and
    IVF-bucketed alignment gates (a quantization or fold tweak applied
    to one would silently break their dots-identical invariant)."""
    return F.aggregate(
        F.zip_with(code_a, code_b, lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def mutual_rank_columns(
    scored: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    dot: str = "dot_q",
) -> DataFrame:
    """Add both direction ranks to a scored pair table: ``__ra`` per
    A-id and ``__rb`` per B-id, ordered (dot desc, other id asc) — the
    shared tie-broken mutual-NN ranking of the bitext gates; mutual
    pairs are ``__ra == 1 AND __rb == 1``."""
    from pyspark.sql import Window

    wa = Window.partitionBy(id_a).orderBy(F.col(dot).desc(), F.col(id_b).asc())
    wb = Window.partitionBy(id_b).orderBy(F.col(dot).desc(), F.col(id_a).asc())
    return scored.withColumn("__ra", F.row_number().over(wa)).withColumn(
        "__rb", F.row_number().over(wb)
    )


def jl_projection_matrix(
    in_dim: int, out_dim: int, seed: int = 7
) -> "list[list[float]]":
    """Deterministic seeded Gaussian random-projection matrix
    (Johnson-Lindenstrauss): DATA-INDEPENDENT like the LSH hyperplanes,
    so the same literals embed in both the Spark expressions and the
    SQL oracle, and ingest never rescans the corpus to rebuild the
    projector.  Scaled by 1/sqrt(out_dim) so expected squared distances
    are preserved."""
    import numpy as np

    rng = np.random.default_rng(seed)
    m = rng.standard_normal((out_dim, in_dim)) / float(np.sqrt(out_dim))
    # snap to float32: a float32 embedding x float32 matrix entry is a
    # 24x24-bit product, EXACT in double — without this, DuckDB's
    # fused-multiply-add in list_dot_product rounds inexact products
    # once where Spark's mul-then-add rounds twice (one-ULP divergence
    # on ~half the rows, observed).  Float32 projectors are standard
    # storage practice anyway.
    return [[float(np.float32(x)) for x in row] for row in m]


def jl_project(
    df: DataFrame,
    matrix: "list[list[float]]",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    prefix: str = "p",
) -> DataFrame:
    """Random-projection dimensionality reduction: out_dim sequential
    dot-product folds per row against the literal matrix — pure
    map-side column math (the matrix ships inside the plan like the
    IVF centroids), no shuffle, no Python.  At 100 TB this is the
    cheap 4-8x shrink applied BEFORE the ANN index: distances are
    approximately preserved (JL lemma; the distortion band is measured
    and pinned in tests), the index gets proportionally smaller and
    faster.

    Doubles are bit-identical to DuckDB's list_dot_product (same
    sequential fold order — the cosine gates' proven parity), so the
    projected columns hash-gate without rounding.

    Rows whose vector length differs from the matrix width are EXCLUDED
    like nulls (zip_with would otherwise null-pad and silently emit
    all-NULL projections for every such row — r06 review); mismatched
    dimensionality is a data-quality signal, surfaced by the
    expectations layer, not a projectable vector.

    SQL-text construction (r12): the Column form issued one py4j round
    trip per matrix ENTRY (out_dim x in_dim F.lit calls — ~1k for the
    64->16 projector) per construction; the parsed strings embed the
    same literals in one call per output dim.  `repr(x)D` is the SQL
    DOUBLE literal — Java's parseDouble of Python's shortest
    round-trip repr reproduces the exact double, so the analyzed plan
    literals are bit-identical to F.lit(x)."""
    in_dim = len(matrix[0])
    cols = [
        f"{_dot_sql(f'`{vec_col}`', 'array(' + ', '.join(f'{x!r}D' for x in row) + ')')}"
        f" AS `{prefix}{i}`"
        for i, row in enumerate(matrix)
    ]
    return df.where(
        f"(`{vec_col}` IS NOT NULL) AND (size(`{vec_col}`) = {in_dim})"
    ).selectExpr(f"`{id_col}`", *cols)


def jl_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    matrix: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int = 20,
) -> DataFrame:
    """Two-stage ANN with a compressed-domain first pass (the classic
    filter-then-rerank shape): stage 1 ranks by cosine in the JL
    PROJECTED space — at out_dim/in_dim the scan does proportionally
    fewer multiply-adds and, with a materialized projection, reads
    proportionally fewer bytes — and keeps a per-query ``shortlist``;
    stage 2 re-ranks ONLY the shortlist pairs with the exact
    full-dimension cosine.  Recall vs the exact brute force is measured
    in tests; at 100 TB stage 2 semi-join-prunes the corpus to the
    shortlist ids BEFORE touching full vectors, so its norms and dots
    run over |queries| x shortlist rows only.

    Stage 1 IS `cosine_topk_bruteforce` over the packed projected
    arrays (ONE ranking/tie-break definition — a fix there applies
    here), with k = ``shortlist``.

    Output: (query_id, neighbor_id, cosine, rank) — same contract as
    `cosine_topk_bruteforce`."""
    from pyspark.sql import Window

    out_dim = len(matrix)
    parr = f"array({', '.join(f'p{i}' for i in range(out_dim))})"
    pq = jl_project(queries, matrix, vec_col, id_col).selectExpr(
        f"`{id_col}`", f"{parr} AS __p"
    )
    pc = jl_project(corpus, matrix, vec_col, id_col).selectExpr(
        f"`{id_col}`", f"{parr} AS __p"
    )
    short = cosine_topk_bruteforce(
        pc, pq, id_col=id_col, vec_col="__p", k=shortlist
    ).select("query_id", "neighbor_id")

    # stage 2: exact full-dim cosine on shortlist pairs only — the
    # corpus is pruned to shortlist members BEFORE any norm/dot work.
    # No zero-norm guard needed: a zero full vector projects to zero
    # and is already excluded by stage 1's norm filter.
    qv = queries.selectExpr(
        f"`{id_col}` AS query_id",
        f"`{vec_col}` AS __qv",
        f"{_norm_sql(f'`{vec_col}`')} AS __qn2",
    )
    cv = (
        corpus.selectExpr(
            f"`{id_col}` AS neighbor_id", f"`{vec_col}` AS __cv"
        )
        .join(
            short.select("neighbor_id").distinct(),
            on="neighbor_id",
            how="left_semi",
        )
        .selectExpr("neighbor_id", "__cv", f"{_norm_sql('__cv')} AS __cn2")
    )
    exact = (
        short.join(F.broadcast(qv), on="query_id")
        .join(cv, on="neighbor_id")
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"({_dot_sql('__qv', '__cv')} / (__qn2 * __cn2)) AS cosine",
        )
    )
    ranked = top_k_per_group_sql(
        exact, ["query_id"], "cosine DESC, neighbor_id ASC", k
    )
    return ranked.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, neighbor_id ASC) AS rank",
    )
