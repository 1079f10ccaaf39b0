"""Similarity search over embedding columns (``array<float>``).

Every search is one program: each side projected once as (id, vector,
norm) with rows of no direction (null, empty, zero norm) dropped, the
operator's own candidate join, one score per pair, then the top k per
query by ``row_number``.  :func:`_pairs_sql` writes the first three
steps and :func:`_topk_sql` the ranking, as SQL text; an operator
supplies only its candidate key and its score:

- ``cosine_topk_bruteforce``: exact top-k for a bounded query set.  The
  query side broadcasts; the corpus streams once; candidates are the
  CROSS join.  Cost: O(|queries| × |corpus|) multiply-adds, purely
  map-side + one top-k shuffle of (query, k) rows.
- ``lsh_bucketed_topk``: the scale path — restrict candidate pairs to a
  coarse bucket (here: a precomputed partition id such as an IVF/KMeans
  assignment; the fixture's ``label`` column stands in for the centroid
  assignment).  Same plan shape as a production IVF index: bucket join
  instead of cross join, so cost drops by the bucket fan-out factor.
- ``hyperplane_lsh_topk`` joins on (table, bucket), the IVF and IVF-PQ
  searches of `operators/clustering.py` on the probed cluster, and
  ``int8_dot_topk`` / the PQ searches swap the cosine for an exact int8
  dot or an ADC lookup sum, and project no norm: they drop only NULL
  arrays.

Only pairs of equal length are scored: ``zip_with`` null-pads the
shorter array, so a mismatched pair would get a NULL score and be
ranked.  Floats are cast to double BEFORE any arithmetic (exact
widening); the sequential fold matches DuckDB's list_dot_product
evaluation order, so raw cosine doubles are bit-identical to the oracle
(verified empirically) — no rounding, which would itself diverge
between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The vector arithmetic is SQL text (r12, as functions/hashing.py): one
# parsed string instead of several py4j round trips per expression.
# `0.0D` is the SQL DOUBLE literal.


def _array(values) -> str:
    """A literal double array.  `repr(x)D` is the SQL DOUBLE literal —
    Java's parseDouble of Python's shortest round-trip repr reproduces
    the exact double."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in values) + ")"


def _fold(a: str, b: str, term: str, zero: str = "0.0D") -> str:
    """Sequential left-fold sum of ``term`` over the zipped arrays
    (``x`` from ``a``, ``y`` from ``b``)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), {zero}, "
        "(acc, v) -> acc + v)"
    )


def _dot(a: str, b: str) -> str:
    """Dot product in the oracle's list_dot_product evaluation order."""
    return _fold(a, b, "cast(x as double) * cast(y as double)")


def _norm(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * "
        f"cast(x as double)), 0.0D, (acc, v) -> acc + v))"
    )


#: the cosine of a pair of :func:`_side_sql` rows
_COSINE = f"{_dot('__qv', '__cv')} / (__qn * __cn)"
_BUCKET_JOIN = "JOIN q ON c.__bucket = q.__bucket"


def _side_sql(
    table: str, role: str, id_col: str, vec: str, *keys: str, norm: bool = True
) -> str:
    """One side of a search, projected once: the id as ``query_id``
    (role ``q``) or ``neighbor_id`` (role ``c``), the scored array
    ``vec`` as ``__qv``/``__cv``, its norm ``__qn``/``__cn`` and the
    operator's candidate-key columns ``keys``.  Rows whose norm is not
    positive have no direction and are dropped; ANSI division would
    raise on a zero norm.  Norms are per ROW, not per pair: per-pair
    work is one fold (the score).  Without a norm (a lookup table or
    codes) only NULL arrays are dropped."""
    rid = {"q": "query_id", "c": "neighbor_id"}[role]
    cols = [f"`{id_col}` AS {rid}", f"{vec} AS __{role}v"]
    if norm:
        cols.append(f"{_norm(vec)} AS __{role}n")
    keep = f"__{role}n > 0" if norm else f"__{role}v IS NOT NULL"
    return (
        f"SELECT * FROM (SELECT {', '.join([*cols, *keys])} FROM {table}) "
        f"WHERE {keep}"
    )


def _pairs_sql(
    q: str,
    c: str,
    score: str,
    name: str,
    join: str = "CROSS JOIN q",
    pair: str = "NOT (neighbor_id = query_id)",
    broadcast: str = "q",
) -> str:
    """The candidate pairs of two :func:`_side_sql` sides ``q`` and
    ``c``, scored: a ``WITH`` clause ending in ``scored`` (query_id,
    neighbor_id, ``name``).  ``join`` is the operator's candidate join
    (``FROM c <join>``), ``pair`` its pair predicate.  Pairs of unequal
    length are never scored.  ``broadcast`` names the relations hinted
    to broadcast, by default the query side: a bounded query set joins
    the corpus without shuffling it."""
    hint = f"/*+ BROADCAST({broadcast}) */ " if broadcast else ""
    return f"""
WITH q AS ({q}),
c AS ({c}),
scored AS (
  SELECT {hint}query_id, neighbor_id, {score} AS {name}
  FROM c {join}
  WHERE {pair} AND size(__qv) = size(__cv)
)"""


def _topk_sql(
    q: str, c: str, score: str, name: str, k: int, order: str = "DESC", **pairs
) -> str:
    """The k best-scored pairs per query of :func:`_pairs_sql`, ties to
    the smaller ``neighbor_id``: (query_id, neighbor_id, ``name``,
    rank).  The filtered ``row_number`` lets the optimizer cut each
    query's rows to k before the exchange; ``rank`` is numbered again
    over the kept rows."""
    over = (
        f"OVER (PARTITION BY query_id ORDER BY {name} {order}, neighbor_id ASC)"
    )
    return _pairs_sql(q, c, score, name, **pairs) + f"""
SELECT *, row_number() {over} AS rank
FROM (
  SELECT query_id, neighbor_id, {name}
  FROM (SELECT *, row_number() {over} AS __rn FROM scored)
  WHERE __rn <= {int(k)}
)
"""


def _search(
    corpus: DataFrame,
    queries: DataFrame,
    q: str,
    c: str,
    score: str,
    name: str,
    k: int,
    **ranking,
) -> DataFrame:
    """:func:`_topk_sql` over two DataFrames, named ``{q}`` and ``{c}``
    in the side texts.  With keyword arguments ``spark.sql`` formats
    the whole text, so a literal brace in the SQL must be doubled.  The
    session is the corpus's, never a captured one."""
    return corpus.sparkSession.sql(
        _topk_sql(q, c, score, name, k, **ranking), c=corpus, q=queries
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
    inside the row_number window."""
    v = f"`{vec_col}`"
    return _topk_sql(
        _side_sql(queries_table, "q", id_col, v),
        _side_sql(corpus_table, "c", id_col, v),
        _COSINE,
        "cosine",
        k,
    )


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
    LSH band join, cost ∝ bucket occupancy, never |corpus|².  A pair
    that collides in several tables is kept only in the first of them
    (its bucket arrays are compared per pair), so no aggregation
    dedupes the candidates.

    ``n_planes`` is THE recall/cost knob: each plane halves expected
    bucket occupancy but loses neighbors whose angle crosses it.
    Near-uniform embeddings (angles concentrated near 90°) need few
    planes + many tables (defaults: measured recall@5 ≈ 0.9 on the
    fixture); well-clustered spaces tolerate more planes, shrinking
    candidate sets proportionally.
    """
    planes = _hyperplanes(dim, n_planes, n_tables)
    v = f"`{vec_col}`"
    buckets = "array({})".format(
        ", ".join(
            " + ".join(
                f"CASE WHEN {_dot(v, _array(planes[t, j]))} > 0 "
                f"THEN {1 << j} ELSE 0 END"
                for j in range(n_planes)
            )
            for t in range(n_tables)
        )
    )

    def side(role: str) -> str:
        b = f"__{role}b"
        return _side_sql(
            f"(SELECT *, {buckets} AS {b} FROM {{{role}}})",
            role,
            id_col,
            v,
            b,
            f"posexplode({b}) AS (__table, __bucket)",
        )

    first_shared = "array_position(zip_with(__qb, __cb, (x, y) -> x = y), true) - 1"
    return _search(
        corpus,
        queries,
        side("q"),
        side("c"),
        _COSINE,
        "cosine",
        k,
        join="JOIN q ON c.__table = q.__table AND c.__bucket = q.__bucket",
        pair=f"NOT (neighbor_id = query_id) AND c.__table = {first_shared}",
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
    v, key = f"`{vec_col}`", f"`{bucket_col}` AS __bucket"
    return _search(
        corpus,
        queries,
        _side_sql("{q}", "q", id_col, v, key),
        _side_sql("{c}", "c", id_col, v, key),
        _COSINE,
        "cosine",
        k,
        join=_BUCKET_JOIN,
    )


def _bucket_pairs_sql(
    table: str, id_col: str, vec_col: str, bucket_col: str, **pairs
) -> str:
    """The cosine-scored pairs of one table with itself within a coarse
    bucket (:func:`_pairs_sql`; no broadcast: both sides are the whole
    table)."""
    v, key = f"`{vec_col}`", f"`{bucket_col}` AS __bucket"
    return _pairs_sql(
        _side_sql(table, "q", id_col, v, key),
        _side_sql(table, "c", id_col, v, key),
        _COSINE,
        "cosine",
        join=_BUCKET_JOIN,
        broadcast="",
        **pairs,
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: same coarse bucket, cosine
    >= ``threshold``, each pair once as (id_a, id_b, cosine) with
    id_a < id_b.  The bucket equi-join keeps the pair space linear-ish
    at scale — the plan of ``lsh_bucketed_topk`` minus the top-k."""
    pairs = _bucket_pairs_sql(
        "{e}", id_col, vec_col, bucket_col, pair="query_id < neighbor_id"
    )
    return emb.sparkSession.sql(
        pairs + f"""
SELECT query_id AS id_a, neighbor_id AS id_b, cosine
FROM scored WHERE cosine >= {float(threshold)!r}D
""",
        e=emb,
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
    group that survives dedup.  Vectors without a cosine (zero norm,
    e.g. empty/failed embeddings) join no pair and survive as their own
    representatives.
    """
    i = f"e.`{id_col}`"
    pairs = _bucket_pairs_sql("{e}", id_col, vec_col, bucket_col)
    return emb.sparkSession.sql(
        pairs + f""",
nb AS (
  SELECT query_id, min(neighbor_id) AS __min_nb FROM scored
  WHERE cosine >= {float(threshold)!r}D GROUP BY query_id
),
rep AS (
  SELECT {i}, least({i}, coalesce(nb.__min_nb, {i})) AS representative
  FROM {{e}} e LEFT JOIN nb ON {i} = nb.query_id
)
SELECT *, representative = `{id_col}` AS keep FROM rep
""",
        e=emb,
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
    the int8 code arrays (:func:`int8_pair_dot`; monotone proxy for
    the float inner product; recall@5 pinned in tests), and ranking is
    (score desc, neighbor asc) — every output column and every
    comparison is an integer, so this gate class has zero cross-engine
    ULP surface (unlike the float-cosine rankers).  An integer dot
    needs no norm, so only NULL codes are dropped: all-zero codes score
    0, as in the oracle.

    Scale shape mirrors `cosine_topk_bruteforce`: the (tiny) quantized
    query set broadcasts across the corpus scan; at 100 TB the scan
    reads 4x fewer bytes than the float baseline — that is the point
    of quantized search."""
    return _search(
        int8_quantize_symmetric(corpus, max_abs, vec_col, "__codes"),
        int8_quantize_symmetric(queries, max_abs, vec_col, "__codes"),
        _side_sql("{q}", "q", id_col, "__codes", norm=False),
        _side_sql("{c}", "c", id_col, "__codes", norm=False),
        int8_pair_dot("__qv", "__cv"),
        "dot_q",
        k,
    )


def int8_pair_dot(code_a: str, code_b: str) -> str:
    """Exact BIGINT dot product of two int8 code arrays, as SQL text —
    ONE definition of the quantized pair score shared by
    ``int8_dot_topk`` and the brute-force and IVF-bucketed bitext
    alignment gates (a quantization or fold tweak applied to one would
    silently break their dots-identical invariant)."""
    return _fold(code_a, code_b, "cast(x * y as bigint)", "0L")


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
    return scored.selectExpr(
        "*",
        f"row_number() OVER (PARTITION BY {id_a} ORDER BY {dot} DESC, {id_b} ASC) AS __ra",
        f"row_number() OVER (PARTITION BY {id_b} ORDER BY {dot} DESC, {id_a} ASC) AS __rb",
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
    same literals in one call per output dim."""
    in_dim = len(matrix[0])
    cols = [
        f"{_dot(f'`{vec_col}`', _array(row))} AS `{prefix}{i}`"
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
    in tests.  Stage 2's candidate join is the (|queries| x
    shortlist)-row shortlist, hinted to broadcast like the bounded
    query set it grows from (the optimizer's size estimate of a
    filtered window is no bound), so the corpus joins it on
    neighbor_id without a shuffle and the dots run over the shortlist
    pairs only.  The full-dimension norms are taken for every corpus
    row, map-side, before that join: one fold per row, a fraction
    1/out_dim of the projection every row already pays.

    Stage 1 IS `cosine_topk_bruteforce` over the packed projected
    arrays with k = ``shortlist``; stage 2 is the same search with the
    shortlist as its candidate join (ONE ranking/tie-break definition —
    a fix there applies here).

    Output: (query_id, neighbor_id, cosine, rank) — same contract as
    `cosine_topk_bruteforce`."""
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
    )
    v = f"`{vec_col}`"
    sql = _topk_sql(
        _side_sql("{q}", "q", id_col, v),
        _side_sql("{c}", "c", id_col, v),
        _COSINE,
        "cosine",
        k,
        join="JOIN (SELECT query_id, neighbor_id FROM {s}) s USING (neighbor_id) "
        "JOIN q USING (query_id)",
        broadcast="q, s",
    )
    return corpus.sparkSession.sql(sql, c=corpus, q=queries, s=short)
