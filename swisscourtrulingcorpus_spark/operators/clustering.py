"""K-means clustering + IVF / product-quantization ANN — the learned
scale path for similarity search.

`operators/similarity.py` covers the exact baseline (brute-force
cosine) and the hash-bucketed approximations (hyperplane LSH, the
fixture ``label`` standing in for a coarse assignment).  This module
supplies the remaining production ANN layer a 100 TB corpus needs:

- ``kmeans_fit``: Lloyd's iterations expressed as DataFrame programs —
  the centroid matrix unrolls into a literal argmin EXPRESSION (k x dim
  doubles, kilobytes), so assignment is a pure map with no join or row
  multiplication; the recompute is a posexplode + per-(cluster,
  dimension) average with map-side combine.  Only k x dim numbers ever
  return to the driver per iteration; the corpus streams.
- ``assign_clusters`` / ``ivf_index``: one scan, literal-centroid
  argmin, deterministic ties (first minimum = smallest cluster id) —
  the IVF coarse quantizer; index once, persist, search many.
- ``ivf_topk``: multi-probe IVF search — each query probes its
  ``nprobe`` nearest centroids, candidates come from an equi-join on
  the cluster id (never a cross join against the corpus).
- ``pq_codebooks_from_rows`` / ``pq_encode`` / ``pq_topk_adc``:
  product quantization — vectors become m small codes; search scans
  codes with a broadcast per-query partial-distance lookup table
  (asymmetric distance computation, m ``element_at`` lookups per
  candidate).  At 100 TB the code table is ~64x smaller than the raw
  embeddings and the scan never touches the float vectors.
- ``ivfpq_train`` / ``ivfpq_encode`` / ``ivfpq_topk``: the composed
  FAISS-style index — PQ over residuals to the coarse centroid, probed
  search over the inverted lists.

Distance arithmetic is the SQL-text dot product of
`operators/similarity.py` (verified bit-identical to DuckDB's
``list_dot_product``) over literal centroid arrays, so the
assignment/encoding gates hash-match the oracle exactly.  Squared L2 is
computed as ``c.c - 2 a.c`` — the ``a.a`` term is constant per row and
cannot change the argmin, and dropping it keeps every compared double a
two-flop combination of oracle-identical folds.  The searches (``ivf_topk``,
``pq_topk_adc``, ``ivfpq_topk``) supply only their candidate key and
score to similarity.py's one pair-scoring and top-k body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.operators.similarity import (
    _COSINE,
    _array,
    _dot,
    _fold,
    _search,
    _side_sql,
)

#: the asymmetric distance of a (lookup table, codes) pair: the sum of
#: each subspace's table entry at the code
_ADC = _fold("__qv", "__cv", "element_at(x, y + 1)")


def _self_dot(c: list[float]) -> float:
    """Driver-side c.c with the SAME sequential left-fold order as the
    Spark ``aggregate`` / DuckDB ``list_dot_product`` evaluation —
    identical IEEE-754 operation sequence, identical double.  (Spark's
    higher-order ``aggregate`` is not constant-foldable, so an
    expression-side self-dot would re-evaluate k literal folds per
    row.)"""
    s = 0.0
    for x in c:
        x = float(x)
        s += x * x
    return s


def centroid_scores(vec: str, centroids: list[list[float]]) -> str:
    """Array of rank-equivalent squared L2 scores (c.c - 2 a.c) of the
    SQL array ``vec`` to each centroid, as ONE map-side expression over
    literal centroid arrays — no join, no shuffle, no row
    multiplication; one distance fold per centroid per row.  Every
    score is bit-identical to the oracle's ``list_dot_product``
    arithmetic."""
    return "array({})".format(
        ", ".join(
            f"{_self_dot(c)!r}D - 2.0D * {_dot(vec, _array(c))}" for c in centroids
        )
    )


def _valid_vec(vec_col: str, dim: int | None = None) -> F.Column:
    """Row guard shared by every assignment/encode entry point: the
    vector is non-null AND every component is a finite number.  A NaN
    (or null-element) component makes its distance score NaN, and
    ``_min_struct``'s strict ``<`` against the +inf seed never selects
    a NaN — the row would silently land in cluster/code -1, a bucket
    no probe ever reaches and the DuckDB oracle never produces.
    Excluding the row (like nulls) keeps assignment total over its
    domain; surface bad embeddings with the data-quality checks.
    ±Infinity components are excluded too: a -inf score also ties or
    beats every finite distance through inf arithmetic (inf - inf =
    NaN), landing in the same unreachable -1 bucket.  With ``dim`` (the
    centroids' or codebooks' length), a vector of any other length is
    excluded too: ``zip_with`` null-pads the shorter side, every score
    is NULL, and the row would land in the same -1 bucket."""
    c = F.col(vec_col)
    valid = c.isNotNull() & ~F.exists(
        c,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )
    return valid if dim is None else valid & (F.size(c) == dim)


def _indexed(scores: str) -> str:
    """The (s, i) structs of a scores array: each score with its index."""
    return f"transform({scores}, (s, i) -> named_struct('s', s, 'i', i))"


def _min_struct(scores: str) -> str:
    """Single-scan (score, index) minimum over a scores array; strict
    ``<`` keeps the FIRST minimum, so ties break to the smallest
    cluster id — matching the oracle's ORDER BY score, cid.

    Why a fold and not ``array_position(s, array_min(s))``: that form
    references the scores expression twice, and CollapseProject
    re-inlines projections so the k distance folds evaluate twice per
    row (measured — the plan showed every fold duplicated).  The
    ``aggregate`` form scans once and references ``scores`` once."""
    return (
        f"aggregate({_indexed(scores)}, "
        "named_struct('s', cast('Infinity' as double), 'i', -1), "
        "(acc, x) -> CASE WHEN x.s < acc.s THEN x ELSE acc END)"
    )


def _argmin_of(scores: str) -> str:
    """First index of the array minimum (ties -> smallest cluster id);
    single scan, ``scores`` referenced once."""
    return _min_struct(scores) + ".i"


def _probe_clusters(vec: str, centroids: list[list[float]], nprobe: int) -> str:
    """The ``nprobe`` nearest centroid ids for a query vector, as one
    map-side expression (sort the (score, index) pairs, slice)."""
    pairs = _indexed(centroid_scores(vec, centroids))
    return f"slice(transform(array_sort({pairs}), x -> x.i), 1, {int(nprobe)})"


def _subspace_scores(vec: str, codebooks: list[list[list[float]]]) -> list[str]:
    """Per subspace s, the scores of ``vec``'s s-th slice to that
    subspace's codewords."""
    sub = len(codebooks[0][0])
    return [
        centroid_scores(f"slice({vec}, {s * sub + 1}, {sub})", cb)
        for s, cb in enumerate(codebooks)
    ]


def _adc_lut(vec: str, codebooks: list[list[list[float]]]) -> str:
    """ADC lookup table: lut[s][code] = partial squared distance of
    ``vec``'s s-th slice to that codeword (rank-equivalent c.c - 2 a.c
    form) — one projection over the literal codebooks, one entry per
    subspace, so it zips with a code array."""
    return f"array({', '.join(_subspace_scores(vec, codebooks))})"


def _pq_codes(vec: str, codebooks: list[list[list[float]]]) -> str:
    """The m codebook indices of ``vec``: per-subspace argmin."""
    codes = (_argmin_of(s) for s in _subspace_scores(vec, codebooks))
    return f"array({', '.join(codes)})"


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """IVF coarse assignment: nearest centroid per row, ties to the
    smallest cluster id.

    Pure projection — the centroid matrix unrolls into the expression
    tree (k x dim literals; fine through k*dim ~ tens of thousands, the
    IVF coarse-quantizer regime) so the corpus is scanned once with NO
    join, shuffle, or aggregation.  An earlier broadcast-join + min
    formulation materialized k struct rows per vector and OOM'd at
    500k x 64 on the test box — the expression form replaced it
    (SCALE.md).

    NULL vectors, and vectors whose length differs from the centroids',
    are EXCLUDED (neither has a nearest centroid; the fold would
    otherwise emit the -1 seed, a cluster no probe ever reaches —
    surface them with the data-quality checks instead)."""
    return df.where(_valid_vec(vec_col, len(centroids[0]))).selectExpr(
        f"`{id_col}`",
        f"{_argmin_of(centroid_scores(f'`{vec_col}`', centroids))} AS cluster",
    )


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    max_iter: int = 10,
    tol: float = 1e-6,
) -> tuple[list[list[float]], float]:
    """Lloyd's k-means over an embedding column.

    Deterministic init — the vectors of the ``k`` smallest ids (k rows
    collected; bounded).  Each iteration: one map-side argmin pass,
    then centroids recomputed as the per-(cluster, dimension) mean via
    ``posexplode`` (map-side partial aggregation applies; the shuffle
    carries (cluster, pos, sum, count) partials — k x dim groups, not
    the corpus).  Returns (centroids, inertia); inertia is the summed
    squared distance under the centroids the LAST assignment used.

    NOTE on determinism: init and assignment are exactly
    deterministic, but the centroid AVERAGES are deterministic only up
    to floating summation order (partition order in the groupBy), like
    any distributed mean — trained centroids can differ in final ulps
    across runs.  The driver gate therefore verifies the
    seeded-assignment path (bit-exact); tests check trained-path
    invariants (inertia monotonicity, coverage), not bits.

    Empty clusters keep their previous centroid (the reference point
    for re-seeding strategies; at k << n with real data this is rare).
    """
    init_rows = (
        df.where(_valid_vec(vec_col))
        .orderBy(id_col)
        .select(vec_col)
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init_rows]
    if len(centroids) < k:
        raise ValueError(f"need >= {k} non-null vectors, got {len(centroids)}")

    vecs = df.where(_valid_vec(vec_col)).select(
        id_col, F.col(vec_col).cast("array<double>").alias("__v")
    )
    prev_inertia = None
    inertia = float("inf")
    for _ in range(max_iter):
        # one map-side pass: cluster id + full squared distance per row,
        # both read from ONE (score, index) fold: the fold is projected
        # first, and the optimizer does not inline an expensive
        # expression that is referenced twice
        best = _min_struct(centroid_scores("__v", centroids))
        assigned = vecs.selectExpr("__v", f"{best} AS __best").selectExpr(
            "__v", "__best.i AS cluster", f"__best.s + {_dot('__v', '__v')} AS d2"
        )
        # recompute + inertia in ONE aggregation over (cluster, pos)
        # partials — map-side combine applies, the shuffle carries
        # k x dim groups, not the corpus
        new_rows = (
            assigned.select("cluster", "d2", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(
                F.avg("val").alias("m"),
                F.sum(F.when(F.col("pos") == 0, F.col("d2"))).alias("d2p"),
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec"),
                F.sum("d2p").alias("d2sum"),
            )
            .collect()
        )
        inertia = float(sum(r["d2sum"] for r in new_rows))
        for r in new_rows:
            centroids[r["cluster"]] = [float(x) for x in r["cvec"]]
        if prev_inertia is not None and abs(prev_inertia - inertia) <= tol * max(
            prev_inertia, 1.0
        ):
            break
        prev_inertia = inertia
    return centroids, float(inertia)


def ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Build the IVF index: the corpus with its ``cluster`` assignment
    column.  ONE expression-argmin scan — write/persist the result (e.g.
    ``layout.write_sorted_by(..., ["cluster"])`` so each inverted list
    is contiguous and cluster-pruned at scan time); search calls then
    skip the assignment entirely.  Measured at 50k x 64: assignment is the
    bulk of a cold ``ivf_topk`` call — indexing once is what makes IVF
    beat brute force (see SCALE.md).  Null and wrong-length vectors are
    excluded (see ``assign_clusters``)."""
    return corpus.where(_valid_vec(vec_col, len(centroids[0]))).withColumn(
        "cluster", F.expr(_argmin_of(centroid_scores(f"`{vec_col}`", centroids)))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Multi-probe IVF search: per query, candidates come from the
    ``nprobe`` nearest centroids' inverted lists.

    If ``corpus`` already carries a ``cluster`` column (built by
    ``ivf_index`` — the intended production path), it is used as-is;
    otherwise the corpus is assigned on the fly (convenience for
    one-shot calls; at scale always index once).  The probe list is a
    per-query array exploded to (query, cluster) rows, and candidates
    arrive through an equi-join on the cluster id — cost is
    corpus/k * nprobe per query instead of the brute-force full scan.
    Output matches ``similarity.cosine_topk_bruteforce``: (query_id,
    neighbor_id, cosine, rank)."""
    if "cluster" not in corpus.columns:
        corpus = ivf_index(corpus, centroids, vec_col, id_col)
    v = f"`{vec_col}`"
    # probe list = nprobe nearest centroids, map-side over the same
    # literal-centroid score expression (no join, no aggregation)
    probe = f"explode({_probe_clusters(v, centroids, nprobe)}) AS cluster"
    return _search(
        corpus,
        queries,
        _side_sql("{q}", "q", id_col, v, probe),
        _side_sql("{c}", "c", id_col, v, "cluster"),
        _COSINE,
        "cosine",
        k,
        join=_CLUSTER_JOIN,
    )


_CLUSTER_JOIN = "JOIN q ON c.cluster = q.cluster"


# --- product quantization ------------------------------------------------


def pq_codebooks_from_rows(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int,
    ksub: int,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: subspace s's codewords are the s-th
    slices of the ``ksub`` smallest-id vectors (the same trained-vs-
    seeded tradeoff as ``kmeans_fit`` init; swap in per-subspace
    ``kmeans_fit`` for trained codebooks — identical downstream shape).
    Returns codebooks[s][code] = list of dim/m floats."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rows = (
        df.where(_valid_vec(vec_col))
        .orderBy(id_col)
        .select(vec_col)
        .limit(ksub)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"need >= {ksub} vectors, got {len(rows)}")
    return [
        [[float(x) for x in r[0][s * sub : (s + 1) * sub]] for r in rows]
        for s in range(m)
    ]


def pq_codebooks_trained(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int,
    ksub: int,
    max_iter: int = 5,
) -> list[list[list[float]]]:
    """Trained PQ codebooks: per-subspace Lloyd's k-means (seeded from
    the smallest-id slices, like FAISS's default train-on-sample).
    m index-build passes over the sliced corpus — offline cost; the
    encode/search plans are identical to the seeded variant."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    out: list[list[list[float]]] = []
    for s in range(m):
        sliced = df.select(
            id_col,
            F.slice(F.col(vec_col).cast("array<double>"), s * sub + 1, sub).alias(
                "__sv"
            ),
        )
        cents, _ = kmeans_fit(sliced, "__sv", id_col, ksub, max_iter=max_iter)
        out.append(cents)
    return out


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Encode each vector as m codebook indices: per-subspace argmin
    over the literal codebooks, as ONE projection — the encode pass is
    a pure map over the corpus with no join, shuffle, or aggregation
    (an earlier explode + broadcast-join + two-groupBy version was
    replaced; at 100 TB an extra corpus shuffle in the encode pass is
    the whole cost).  Output: (id, codes array<int>) — the compressed
    representation an ANN index actually stores.  Null and wrong-length
    vectors are excluded (see ``assign_clusters``)."""
    dim = sum(len(cb[0]) for cb in codebooks)
    return df.where(_valid_vec(vec_col, dim)).selectExpr(
        f"`{id_col}`", f"{_pq_codes(f'`{vec_col}`', codebooks)} AS codes"
    )


def _residual(vec: str, cluster: str, centroids: list[list[float]]) -> str:
    """vec - centroids[cluster], with the centroid matrix inlined as a
    literal array-of-arrays indexed by the cluster column."""
    cents = "array({})".format(", ".join(_array(c) for c in centroids))
    return f"zip_with({vec}, element_at({cents}, {cluster} + 1), (a, c) -> a - c)"


def _residuals(
    df: DataFrame, centroids: list[list[float]], vec_col: str, id_col: str
) -> DataFrame:
    """(id, cluster, __r): each valid vector's nearest coarse centroid
    and its residual to it.  The assignment fold is projected first, so
    the residual reads it instead of folding again."""
    return (
        df.where(_valid_vec(vec_col, len(centroids[0])))
        .selectExpr(
            f"`{id_col}`",
            f"{_argmin_of(centroid_scores(f'`{vec_col}`', centroids))} AS cluster",
            f"cast(`{vec_col}` as array<double>) AS __v",
        )
        .selectExpr(
            f"`{id_col}`", "cluster", f"{_residual('__v', 'cluster', centroids)} AS __r"
        )
    )


def ivfpq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    m: int,
    ksub: int,
    dim: int,
    max_iter: int = 5,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the IVF-PQ index: coarse centroids via Lloyd's, then PQ
    codebooks on the RESIDUALS (vec - assigned centroid) — the FAISS
    IVFPQ recipe; residuals are much smaller than raw vectors, so the
    same code budget quantizes far more precisely."""
    centroids, _ = kmeans_fit(df, vec_col, id_col, k, max_iter=max_iter)
    codebooks = pq_codebooks_trained(
        _residuals(df, centroids, vec_col, id_col),
        "__r",
        id_col,
        dim,
        m,
        ksub,
        max_iter=max_iter,
    )
    return centroids, codebooks


def ivfpq_seed(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    id_col: str,
    dim: int,
    m: int,
    ksub: int,
) -> list[list[list[float]]]:
    """Seed (untrained) residual codebooks for given coarse centroids:
    residuals of the ``ksub`` smallest-id vectors, sliced per subspace
    — ``ivfpq_train`` minus the Lloyd iterations.  This is the
    deterministic construction the driver gate verifies bit-for-bit."""
    return pq_codebooks_from_rows(
        _residuals(df, centroids, vec_col, id_col), "__r", id_col, dim, m, ksub
    )


def ivfpq_encode(
    df: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Encode as (id, cluster, codes): coarse argmin + per-subspace
    argmin over the RESIDUAL — map-side projections over the corpus, no
    join/shuffle/row multiplication."""
    return _residuals(df, centroids, vec_col, id_col).selectExpr(
        f"`{id_col}`", "cluster", f"{_pq_codes('__r', codebooks)} AS codes"
    )


def ivfpq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ ADC search: probe ``nprobe`` clusters per query; per
    (query, probed cluster) the RESIDUAL lookup table (m x ksub partial
    distances + the residual self-term, which differs across clusters
    and must not be dropped) broadcasts; candidates come from the
    equi-join on the cluster id and are scored by m table lookups.
    The scan touches (cluster, codes) only — never the float vectors."""
    v = f"`{vec_col}`"
    probed = (
        f"(SELECT `{id_col}`, explode({_probe_clusters(v, centroids, nprobe)}) "
        f"AS cluster, cast({v} as array<double>) AS __v FROM {{q}})"
    )
    residuals = (
        f"(SELECT `{id_col}`, cluster, "
        f"{_residual('__v', 'cluster', centroids)} AS __r FROM {probed})"
    )
    return _search(
        corpus_codes,
        queries,
        _side_sql(
            residuals,
            "q",
            id_col,
            _adc_lut("__r", codebooks),
            "cluster",
            f"{_dot('__r', '__r')} AS __qr2",
            norm=False,
        ),
        _side_sql("{c}", "c", id_col, "codes", "cluster", norm=False),
        f"__qr2 + {_ADC}",
        "adc",
        k,
        order="ASC",
        join=_CLUSTER_JOIN,
    )


def pq_topk_adc(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes.

    Per query, the (subspace, code) -> partial squared distance lookup
    table is m x ksub doubles, ONE array of m arrays per query, and
    broadcast.  The corpus-side work per (query, code-row) is then m
    ``element_at`` lookups zipped with the codes and folded — ~dim/m times
    less arithmetic than the brute-force dot product, with no
    posexplode fan-out and no join on (s, code) (an earlier join-shaped
    version shuffled corpus x m rows and lost to brute force; see
    SCALE.md).  No float vectors move after encoding — the scan reads
    m bytes of codes per row, the PQ promise at scale."""
    return _search(
        corpus_codes,
        queries,
        _side_sql("{q}", "q", id_col, _adc_lut(f"`{vec_col}`", codebooks), norm=False),
        _side_sql("{c}", "c", id_col, "codes", norm=False),
        _ADC,
        "adc",
        k,
        order="ASC",
    )
