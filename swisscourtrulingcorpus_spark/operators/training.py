"""Training-data preparation operators (beyond the reference's surface;
BASELINE.md north star: the ops a 100 TB LLM-corpus pipeline needs).

- ``chunk_documents_sql``: split each document into token-bounded chunks
  with overlap — the standard pretraining/embedding preprocessing step.
  Pure map-side (sequence + slice + posexplode inside codegen): a doc
  becomes ceil((n - overlap) / step) rows with NO shuffle; the wide
  text column is projected away before any exchange downstream.
- ``deterministic_shuffle_sql``: a reproducible global permutation by
  hashing the id with a seed — training-order shuffling that any engine
  (and any rerun) reproduces bit-for-bit, unlike rand()-based orderings.
  Executed as a parallel range-partitioned sort + partition-offset rank
  (NOT a global window, which would funnel every row through one task).
- ``pack_sequences``: concat-and-split context packing — documents are
  laid out in a deterministic hashed order and cut into fixed-size
  token windows (the GPT-style pretraining batch layout).  The global
  token prefix-sum uses the same two-phase parallel pattern as the
  shuffle rank: local cumsums per range partition + a broadcast of the
  tiny per-partition totals, never a single-partition window.
- ``domain_mix_sample``: deterministic per-group downsampling to target
  mixture rates — the corpus-mixing step of every pretraining data
  recipe.  A row survives iff its md5 hash falls under its group's
  rate threshold: a pure map-side filter (rates broadcast), zero
  shuffles, reproducible on any engine or cluster size, and stable
  under corpus growth (a doc's keep/drop never flips when other docs
  are added — unlike rank-based sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.functions.hashing import (
    h32_sql,
    md5_seeded_sql,
    words_sql,
)


def chunk_documents_sql(
    table: str,
    text_col: str,
    id_col: str,
    chunk_size: int = 64,
    overlap: int = 16,
) -> str:
    """One row per (doc, chunk) over a FROM-able table expression, as
    one parsed statement (r12, session 2): whitespace tokens
    ``[start, start + chunk_size)`` with consecutive chunks overlapping
    by ``overlap`` tokens.  Chunk starts are ``1, 1+step, ...`` up to
    ``max(n - overlap, 1)`` (step = chunk_size - overlap), so the
    trailing chunk is never empty and never fully contained in its
    predecessor.  ``chunk_idx`` is ``(start - 1) / step`` — arithmetic
    the SQL oracle reproduces without ordinality.

    NULL text drops out: null-skipping greatest/least would otherwise
    fabricate a chunk_idx=0 row with empty text and a full-size token
    count ('' still chunks to one empty chunk — a defined value both
    engines agree on)."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    step = chunk_size - overlap
    words = words_sql(f"`{text_col}`")
    return f"""
SELECT `{id_col}`,
       cast((__s - 1) / {step} as int) AS chunk_idx,
       concat_ws(' ', slice(__w, __s, {chunk_size})) AS chunk_text,
       least({chunk_size}, __n - __s + 1) AS n_chunk_tokens
FROM (
  SELECT `{id_col}`, size(__w) AS __n,
         explode(sequence(1, greatest(size(__w) - {overlap}, 1), {step})) AS __s,
         __w
  FROM (
    SELECT `{id_col}`, {words} AS __w
    FROM {table} WHERE `{text_col}` IS NOT NULL
  )
)
"""


def parallel_prefix_sum(
    df: DataFrame,
    sort_cols: list,
    value,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """INCLUSIVE prefix sum of ``value`` over the total order given by
    ``sort_cols`` (which must form a unique key), without ever putting
    the whole dataset through one window task: range-partition on the
    sort key (the parallel total sort), LOCAL running sum per
    partition, then add each partition's starting offset — a running
    total over the tiny one-row-per-partition table, broadcast back.
    The result is independent of where the range boundaries land, so
    output is identical at any parallelism (property-tested).

    This is the shared skeleton behind :func:`pack_sequences`
    (value=token count -> token offsets); :func:`parallel_rank` is its
    value=1 special case (global rank) with one exchange instead of
    two.  Keeping it in ONE place means a fix to the pattern lands
    everywhere (r04 review).

    ``value`` must be non-null for every row (a NULL contribution
    would poison every later prefix in its partition) — coalesce at
    the call site if the source column is nullable."""
    return parallel_prefix_sums(
        df, sort_cols, [(value, out_col)], num_partitions
    )


def parallel_prefix_sums(
    df: DataFrame,
    sort_cols: list,
    pairs: list,
    num_partitions: int | None = None,
) -> DataFrame:
    """The multi-column form of :func:`parallel_prefix_sum`: compute
    the inclusive prefix sum of EVERY ``(value, out_col)`` pair in
    ``pairs`` over one shared range partitioning + local sort — N
    running sums for the price of one Exchange.  A caller that needs
    two cumulations over the same order (the Kaplan–Meier log-survival
    sum plus its Greenwood variance sum, r11) pays one pass instead
    of stacking N full passes.  Same contract as the single-column
    form: unique sort key, non-null values, reserved working columns
    fail loudly."""
    out_cols = [oc for _, oc in pairs]
    if len(set(out_cols)) != len(out_cols):
        raise ValueError(f"duplicate out_cols {out_cols}")
    vals = [f"__val{i}" for i in range(len(pairs))]
    locs = [f"__local{i}" for i in range(len(pairs))]
    offs = [f"__off{i}" for i in range(len(pairs))]
    tots = [f"__t{i}" for i in range(len(pairs))]
    reserved = {"__pid", *vals, *locs, *offs, *out_cols}
    clash = sorted(reserved & set(df.columns))
    if clash:
        # fail LOUDLY: withColumn would silently replace and drop the
        # caller's columns of these names (r04 review)
        raise ValueError(f"parallel_prefix_sum reserves columns {clash}")
    parts = (
        df.repartitionByRange(num_partitions, *sort_cols)
        if num_partitions is not None
        else df.repartitionByRange(*sort_cols)
    ).withColumn("__pid", F.spark_partition_id())
    with_val = parts.withColumns(
        {v: value.cast("bigint") for v, (value, _) in zip(vals, pairs)}
    )
    local_w = (
        Window.partitionBy("__pid")
        .orderBy(*[c.asc() for c in sort_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = with_val.withColumns(
        {lc: F.sum(v).over(local_w) for lc, v in zip(locs, vals)}
    )
    totals = local.groupBy("__pid").agg(
        *[F.sum(v).alias(t) for v, t in zip(vals, tots)]
    )
    off_w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__pid",
        *[
            F.coalesce(F.sum(t).over(off_w), F.lit(0)).alias(o)
            for t, o in zip(tots, offs)
        ],
    )
    return (
        local.join(F.broadcast(offsets), on="__pid")
        .withColumns(
            {
                oc: F.col(o) + F.col(lc)
                for oc, o, lc in zip(out_cols, offs, locs)
            }
        )
        .drop("__pid", *vals, *locs, *offs)
    )


def parallel_rank(
    df: DataFrame,
    sort_cols: list,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global 1-based rank over the total order of ``sort_cols`` (which
    must form a unique key) — the value=1 special case of
    :func:`parallel_prefix_sum`, executed with one full-data exchange
    instead of two (r11 optimization, guide §2.4).

    The generic prefix sum windows over ``spark_partition_id`` for the
    local running sum, and that window's required ClusteredDistribution
    re-shuffles EVERY row by hash(__pid) right after the range exchange
    (plan evidence: plans/r11/training_shuffle_rank_before.txt, Exchange
    (3) then Exchange (5) back to back).  For a pure rank the local
    position needs no window at all: after range-partition + local sort,
    ``monotonically_increasing_id()`` is ``partition_id << 33 | row_idx``
    by contract, so the local 1-based position is ``(mid & (2^33-1)) + 1``
    and the partition id is ``mid >> 33`` — plain arithmetic inside
    whole-stage codegen.  Per-partition totals are the max local
    position, aggregated map-side to one row per partition; the offsets
    running-total window only ever sees that tiny table.  The mid
    projection sits ABOVE the local sort and is non-deterministic, so
    Catalyst neither reorders nor duplicates it.

    Same contract as the window form: output independent of where the
    range boundaries land (property-tested), unique sort key required,
    partitions must stay under 2^33 rows (monotonically_increasing_id's
    per-partition counter width).

    CORRECTNESS DEPENDENCY (ADVICE r11): the nondeterministic ``rows``
    subtree (mid above the local sort) is referenced twice — once for
    ``totals`` and once for the final join — and the two references
    must observe the SAME partitioning and row placement.  Exchange
    reuse does NOT guarantee that here: column pruning narrows the
    totals branch to the sort-key columns, so its range exchange no
    longer canonicalizes equal to the join branch's and each reference
    evaluates independently (verified in the executed plan).  What
    actually holds, and what this operator RELIES on, is deterministic
    re-evaluation: (a) the upstream must be DETERMINISTIC (scans /
    projections / deterministic keys — every engine caller qualifies;
    do not feed this operator the raw output of a round-robin
    repartition or rand()), so RangePartitioner's seeded reservoir
    sampling draws identical boundaries on both evaluations, and
    (b) the sort key is unique, so the within-partition order after
    sortWithinPartitions — and hence every row's (__pid, __local) —
    is a pure function of the boundary set.  Output invariance across
    partition counts and re-runs is property-tested
    (tests/test_properties.py, tests/test_round12_ops.py).  The
    pruned totals branch re-reads only the sort-key columns (narrow
    columnar re-scan), not the full rows."""
    reserved = {"__mid", "__pid", "__local", "__off", "__t", out_col}
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(f"parallel_rank reserves columns {clash}")
    parts = (
        df.repartitionByRange(num_partitions, *sort_cols)
        if num_partitions is not None
        else df.repartitionByRange(*sort_cols)
    ).sortWithinPartitions(*[c.asc() for c in sort_cols])
    # SQL-text construction (r12): identical analyzed plan, fewer py4j
    # round trips (the projections mirror the former withColumn chain).
    rows = (
        parts.selectExpr("*", "monotonically_increasing_id() AS __mid")
        .selectExpr("*", "shiftright(__mid, 33) AS __pid")
        .selectExpr("*", f"(__mid & {(1 << 33) - 1}) + 1 AS __local")
    )
    totals = rows.groupBy("__pid").agg(F.expr("max(__local) AS __t"))
    offsets = totals.selectExpr(
        "__pid",
        "coalesce(sum(__t) OVER (ORDER BY __pid ASC ROWS BETWEEN"
        " UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __off",
    )
    return (
        rows.join(F.broadcast(offsets), on="__pid")
        .selectExpr("*", f"(__off + __local) AS `{out_col}`")
        .drop("__mid", "__pid", "__local", "__off")
    )


def deterministic_shuffle_sql(
    table: str,
    id_col: str,
    seed: str = "42",
    rank_col: str = "shuffle_rank",
) -> str:
    """Reproducible global shuffle rank → ``SELECT id, rank`` over a
    FROM-able table expression: each row's 1-based position in the
    ordering by ``md5(seed|id)`` (ties broken by id).
    Engine-independent (md5) and rerun-stable, unlike ``rand()``-seeded
    ordering which is tied to one engine's RNG and partitioning.

    Computed WITHOUT a global window (row_number over an unpartitioned
    window forces Exchange SinglePartition — one task sorts the world).
    Instead: range-partition + sort on the hash key (the parallel total
    sort, ``spark.sql.shuffle.partitions`` wide), rank locally per
    partition, then add each partition's starting offset — a running
    sum over the tiny per-partition-count table.  The final rank is
    independent of where the range boundaries land, so the result is
    identical at any parallelism (asserted by
    ``tests/test_properties.py::test_shuffle_rank_partition_invariant``).

    Mirrors :func:`parallel_rank`'s mid-arithmetic shape exactly (the
    gate's plan is pinned in tests/fixtures/plan_fingerprints.json), so
    the determinism contract documented on ``parallel_rank``
    (deterministic upstream + unique sort key ⇒ identical
    re-evaluation of the twice-referenced nondeterministic subtree)
    carries over: the ``rows`` text is spliced twice below.  One parsed
    statement instead of ~126 py4j round trips."""
    mask = (1 << 33) - 1
    rows = f"""
    SELECT *, (__mid & {mask}) + 1 AS __local FROM (
      SELECT *, shiftright(__mid, 33) AS __pid FROM (
        SELECT *, monotonically_increasing_id() AS __mid FROM (
          SELECT /*+ REPARTITION_BY_RANGE(__k, `{id_col}`) */ * FROM (
            SELECT *, {md5_seeded_sql(f"cast(`{id_col}` as string)", seed)} AS __k
            FROM {table}
          ) SORT BY __k ASC, `{id_col}` ASC
        )
      )
    )"""
    offsets = f"""
    SELECT __pid, coalesce(sum(__t) OVER (ORDER BY __pid ASC ROWS BETWEEN
           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __off
    FROM (SELECT __pid, max(__local) AS __t FROM ({rows}) GROUP BY __pid)"""
    return f"""
SELECT `{id_col}`, cast((__off + __local) as int) AS `{rank_col}` FROM (
  SELECT /*+ BROADCAST(o) */ * FROM ({rows}) JOIN ({offsets}) o USING (__pid)
)
"""


def pack_sequences(
    df: DataFrame,
    len_col: str,
    id_col: str,
    context_len: int,
    seed: str = "pack",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-split context packing: documents are concatenated in
    a deterministic hashed order (``md5(seed|id)``, ties by id) and the
    token stream is cut into ``context_len`` windows.  Emits, per doc,
    the window its first token lands in (``pack_id``), the offset
    inside that window (``pack_offset``), and the global token start —
    the layout a pretraining loader needs to build fixed-size batches
    without padding.  A doc may span several windows; ownership of the
    head position is what's assigned (standard GPT-style packing).

    The global token prefix-sum is the same two-phase parallel shape as
    :func:`deterministic_shuffle_sql`: range-partition on the hash key,
    LOCAL cumulative sum per partition, then add the tiny broadcast
    running total of per-partition token counts.  No single-partition
    window anywhere, and the result is invariant to where the range
    boundaries land — identical output at any parallelism.
    """
    keyed = df.select(
        F.col(id_col),
        F.col(len_col).cast("bigint").alias("__len"),
        F.expr(md5_seeded_sql(f"cast(`{id_col}` as string)", seed)).alias("__k"),
    )
    summed = parallel_prefix_sum(
        keyed,
        [F.col("__k"), F.col(id_col)],
        # a NULL length occupies zero tokens but KEEPS its defined
        # position in the pack layout (n_tokens stays NULL below) — a
        # raw NULL value would poison every later prefix (r04 review)
        F.coalesce(F.col("__len"), F.lit(0)),
        "__incl",
        num_partitions,
    )
    start = F.col("__incl") - F.coalesce(F.col("__len"), F.lit(0))
    return summed.select(
        id_col,
        F.col("__len").alias("n_tokens"),
        start.alias("token_start"),
        F.floor(start / context_len).cast("bigint").alias("pack_id"),
        (start % context_len).cast("bigint").alias("pack_offset"),
    )


def domain_mix_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    seed: str = "mix",
) -> DataFrame:
    """Deterministic mixture sampling: keep a row iff the 32-bit hash of
    its id falls below ``rate(group) * 2^32`` — i.e. each group is
    downsampled to (approximately) its target rate by a reproducible
    per-row coin whose outcome depends only on (seed, id).

    Properties the rand()-based ``df.sample`` cannot give:
    - engine-independent (md5 — the SQL oracle reproduces every row),
    - cluster-size- and partitioning-independent,
    - stable under corpus growth: adding documents never flips an
      existing document's keep/drop (rank/ntile-based sampling does).

    Plan: the rate CASE is a literal expression (broadcast-with-
    closure), the hash is codegen md5 — a pure map-side filter with
    zero shuffles, pushed against the scan.
    """
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(group_col) == value, F.lit(float(r))).otherwise(rate)
    threshold = F.floor(rate * F.lit(4294967296.0)).cast("bigint")
    return df.where(F.expr(h32_sql(f"cast(`{id_col}` as string)", seed)) < threshold)


def oracle_domain_mix_predicate(
    group_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    seed: str = "mix",
) -> str:
    """DuckDB WHERE-clause reproducing :func:`domain_mix_sample` (same
    md5 window, same literal-double threshold arithmetic)."""
    cases = " ".join(
        f"WHEN {group_col} = '{v}' THEN {float(r)!r}"
        for v, r in sorted(rates.items())
    )
    rate_sql = f"(CASE {cases} ELSE {float(default_rate)!r} END)"
    h_sql = (
        f"CAST(('0x' || substr(md5('{seed}|' || CAST({id_col} AS VARCHAR)), 1, 8)) "
        f"AS UBIGINT)"
    )
    return f"{h_sql} < CAST(floor({rate_sql} * 4294967296.0) AS BIGINT)"


def group_aware_split(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    seed: str = "split",
) -> DataFrame:
    """Leakage-safe random split: the split is assigned from the hash of
    the GROUP (e.g. the dedup representative from
    `operators/dedup.py::exact_dedup` / `similarity.py::semantic_dedup_
    groups`), not the row — so near-duplicate documents can never
    straddle train/test, the standard guard against train→eval leakage
    the reference's random 80/10/10 split (`dataset_creator.py:
    1073-1084`) does not have.

    ``weights`` maps split name → probability (must sum to 1).  The
    md5 coin is the same engine-portable device as
    ``training_shuffle_rank``/``domain_mix_sample``: deterministic,
    cluster-size-independent, stable under corpus growth.  Pure
    map-side expression — zero shuffles (the group label is already on
    the row after the dedup join).
    """
    total = sum(weights.values())
    assert abs(total - 1.0) < 1e-9, f"weights sum to {total}, not 1"
    coin = F.expr(h32_sql(f"cast(`{group_col}` as string)", seed))
    expr = None
    acc = 0.0
    items = sorted(weights.items())
    for name, w in items[:-1]:
        acc += w
        bound = F.lit(int(acc * 4294967296))
        cond = coin < bound
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


LITERAL_VOCAB_MAX = 1024


def apply_token_vocab(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str,
    tokens_col,
    literal_max: int = LITERAL_VOCAB_MAX,
) -> DataFrame:
    """Tokenizer vocabulary application: every token position becomes
    its frequency-ranked vocab id (OOV -> 0), output
    ``(id_col, pos, token_id)``.

    Two plans by vocabulary size:

    - ``<= literal_max`` entries: collect and inline as a literal
      ``create_map`` — the corpus pass is a pure zero-shuffle
      projection.  Right for small demo vocabularies.
    - larger (a real 50k-100k BPE table): posexplode + BROADCAST hash
      join against the vocab DataFrame.  Inlining that many literals
      bloats the plan/codegen (r03 VERDICT item 8); the broadcast
      join moves the table once per executor instead of into the
      expression tree, and the probe stays map-side (no shuffle of
      the corpus).

    ``vocab`` must be bounded (top-N by construction) with columns
    (token, vocab_id).
    """
    tokens = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    # ONE probe doubles as the literal-path collect: take() pulls at
    # most literal_max+1 rows, so a small vocab is materialized in a
    # single execution of its (potentially expensive) plan instead of
    # a count() job followed by a collect() job (r04 review finding).
    rows = vocab.take(literal_max + 1)
    if len(rows) <= literal_max:
        mapping = F.create_map(
            *[F.lit(x) for r in rows for x in (r["token"], r["vocab_id"])]
        )
        ids = F.transform(
            tokens, lambda w: F.coalesce(F.element_at(mapping, w), F.lit(0))
        )
        return docs.select(
            id_col, F.posexplode(ids).alias("pos", "token_id")
        ).select(id_col, "pos", F.col("token_id").cast("int"))
    ex = docs.select(id_col, F.posexplode(tokens).alias("pos", "w"))
    return (
        ex.join(F.broadcast(vocab), ex["w"] == vocab["token"], "left")
        .select(
            id_col,
            "pos",
            F.coalesce(F.col("vocab_id"), F.lit(0)).cast("int").alias("token_id"),
        )
    )


def length_grouped_shards(
    df: DataFrame,
    len_col: str,
    id_col: str,
    n_shards: int = 64,
) -> DataFrame:
    """Equal-frequency length bucketing: rows sorted by (length, id)
    split into ``n_shards`` contiguous shards — the padding-efficiency
    / curriculum grouping trainers apply before batching (documents of
    similar token count batch together, so per-batch padding waste is
    minimized and shard order doubles as a length curriculum).

    Shard of rank r (1-based) in t rows is ``(r-1) * n DIV t + 1`` —
    the balanced contiguous split, integer-exact in any engine.  The
    global rank uses the SAME two-phase parallel pattern as
    :func:`deterministic_shuffle_sql` (range-partition on the sort key,
    local row_number, add the tiny broadcast partition offsets) — no
    single-partition window, identical output at any parallelism."""
    slim = df.select(F.col(id_col), F.col(len_col).cast("bigint").alias("__len"))
    ranked = parallel_rank(slim, [F.col("__len"), F.col(id_col)], "__rank")
    # total = max rank (value is 1): derived from the RANKED branch so
    # its subtree shares the range exchange (ReuseExchange) instead of
    # executing the upstream lineage a second time (r04 review)
    total = ranked.agg(F.max("__rank").alias("__total"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            id_col,
            F.col("__len").alias(len_col),
            (
                F.expr(f"(__rank - 1) * {n_shards} DIV __total") + 1
            ).cast("int").alias("shard"),
        )
    )


def stratified_sample_exact(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
    seed: str = "strat",
) -> DataFrame:
    """EXACTLY ``n_per_stratum`` rows per stratum (fewer only when the
    stratum is smaller), selected by seeded md5 order — the eval-set /
    annotation-batch builder.  Differs from ``domain_mix_sample`` (rate
    x hash threshold: unbiased but only EXPECTED counts) when the
    contract is a hard per-group quota.

    Scale shape — both phases run over a SLIM (id, stratum)
    projection, so a low-cardinality stratum column (languages,
    domains: a handful of values over a 100 TB corpus) never funnels
    the corpus — or even one wide stratum — through one window task:

    1. Local top-n per (input partition, stratum) over the slim
       projection: the required exchange carries only fixed-width
       (id, stratum) pairs, never the document columns.
    2. Global per-stratum top-n over the surviving candidates —
       bounded by n × P × strata rows.  A row in the true global top
       n is necessarily in its partition's local top n, so phase 1
       discards no winner.
    3. The winning ids BROADCAST-semi-join back to ``df`` to fetch the
       full rows — the corpus itself is never shuffled.

    Deterministic on any engine/cluster (md5 order, ties by id), and
    stable per stratum under growth of OTHER strata (adding documents
    to stratum A never changes stratum B's sample)."""
    slim = df.select(id_col, strata_col)
    return df.join(
        F.broadcast(_two_phase_stratum_topn(slim, strata_col, id_col, F.lit(int(n_per_stratum)), seed)),
        on=id_col,
        how="left_semi",
    )


def _two_phase_stratum_topn(
    slim: DataFrame,
    strata_col: str,
    id_col: str,
    cap,
    seed: str,
) -> DataFrame:
    """Shared selection core of `stratified_sample_exact` /
    `stratified_sample_quota`: the per-stratum md5-ordered top-``cap``
    ids (``cap`` is a Column — a literal for the exact variant, the
    joined quota for the quota variant).  Two phases so no stratum
    funnels through one window task: a row in the true global top-cap
    is necessarily in its input-partition's local top-cap, so phase 1
    discards no winner; phase 2 re-ranks the bounded survivors."""
    key = F.expr(md5_seeded_sql(f"cast(`{id_col}` as string)", seed))
    local_w = Window.partitionBy(
        F.spark_partition_id(), F.col(strata_col)
    ).orderBy(key.asc(), F.col(id_col).asc())
    candidates = (
        slim.withColumn("__lrk", F.row_number().over(local_w))
        .where(F.col("__lrk") <= cap)
        .drop("__lrk")
    )
    w = Window.partitionBy(strata_col).orderBy(key.asc(), F.col(id_col).asc())
    return (
        candidates.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .select(id_col)
    )


def temperature_sampling_quotas(
    df: DataFrame,
    group_col: str,
    total: int,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-based multilingual/domain sampling quotas (the
    mT5/XLM-R alpha-sampling recipe, public): apportion ``total``
    sample slots across groups proportionally to ``count^alpha`` —
    alpha < 1 up-weights low-resource groups, alpha = 1 is natural
    sampling.  The missing half of ``domain_mix_sample``: there the
    caller SUPPLIES rates; here the rates are DERIVED from the corpus.

    Integer discipline: the (double) ``pow`` weight is snapped to a
    micro bigint immediately, and apportionment is exact
    largest-remainder (Hamilton) arithmetic on those bigints.  A
    group's quota is CAPPED at its population (sampling is without
    replacement) and the unfillable slots are redistributed in one
    exact greedy pass over the remaining capacities (largest-remainder
    order, ties by group asc) — so quotas sum to EXACTLY
    ``min(total, corpus size)`` and every engine computes the
    identical table.  (Without the cap, a small stratum under a big
    ``total`` would be promised more rows than it has and the
    selection stage would silently under-fill — r06b review.)

    Scale shape: one groupBy(group) count over a slim projection, then
    windows over the GROUPS-sized table (a handful of rows at any
    corpus size) — the corpus is scanned once, nothing document-sized
    shuffles."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.withColumn(
        "w_micro",
        F.round(
            F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
            * F.lit(1_000_000.0)
        ).cast("long"),
    )
    tot = w.agg(F.sum("w_micro").alias("__W"))
    w = w.crossJoin(F.broadcast(tot))
    w = w.select(
        group_col,
        "n_docs",
        "w_micro",
        F.expr(f"({int(total)} * w_micro) DIV __W").alias("__base"),
        F.expr(f"({int(total)} * w_micro) % __W").alias("__rem"),
    )
    # the group-count table is tiny, so the single-partition windows
    # are a non-issue
    everyone = Window.partitionBy(F.lit(1))
    hamilton_order = Window.partitionBy(F.lit(1)).orderBy(
        F.col("__rem").desc(), F.col(group_col).asc()
    )
    leftover = F.lit(int(total)) - F.sum("__base").over(everyone)
    rank = F.row_number().over(hamilton_order)
    w = w.select(
        group_col,
        "n_docs",
        "w_micro",
        "__rem",
        F.least(
            F.col("__base")
            + F.when(rank <= leftover, F.lit(1)).otherwise(F.lit(0)),
            F.col("n_docs"),
        ).alias("__q1"),
    )
    # greedy capacity refill: deficit = slots lost to the population
    # cap, poured into the remaining capacities in largest-remainder
    # order — one cumulative-sum window, exact (fills the whole
    # deficit whenever total <= corpus size; caps everything at
    # n_docs otherwise)
    deficit = F.lit(int(total)) - F.sum("__q1").over(everyone)
    cap = F.col("n_docs") - F.col("__q1")
    cum_before = F.coalesce(
        F.sum(cap).over(
            hamilton_order.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    extra2 = F.least(cap, F.greatest(deficit - cum_before, F.lit(0)))
    return w.select(
        group_col,
        "n_docs",
        "w_micro",
        (F.col("__q1") + extra2).cast("long").alias("quota"),
    )


def stratified_sample_quota(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    quotas: DataFrame,
    seed: str = "strat",
) -> DataFrame:
    """`stratified_sample_exact` with a PER-STRATUM quota table
    (strata_col, quota) instead of one constant n — the selection
    stage of temperature sampling: exactly ``quota`` rows per stratum
    by seeded md5 order.

    Same two-phase shape over the slim (id, stratum) projection
    (shared core `_two_phase_stratum_topn`); the local phase caps at
    each stratum's own quota (quotas broadcast — groups-sized), the
    global phase ranks survivors per stratum, and winners
    broadcast-semi-join back so the corpus never shuffles."""
    q = F.broadcast(quotas.select(strata_col, "quota"))
    slim = df.select(id_col, strata_col).join(q, on=strata_col)
    winners = _two_phase_stratum_topn(
        slim, strata_col, id_col, F.col("quota"), seed
    )
    return df.join(F.broadcast(winners), on=id_col, how="left_semi")



def priority_sample(
    df: DataFrame,
    weight_col,
    id_col: str,
    k: int,
    seed: str = "psamp",
) -> DataFrame:
    """Deterministic weight-proportional sample of ``k`` rows plus the
    threshold that makes totals estimable — priority sampling
    (Duffield, Lund & Thorup 2007), the "pick k documents proportional
    to token count / quality weight" primitive of corpus curation.

    Each row gets priority q = w/u with uniform u from the shared md5
    hash: u = (h32(id)+1)/2^32, so q_scaled = (w * 2^32) div (h+1) =
    floor(w/u) — integer arithmetic IN WEIGHT UNITS, oracle-exact on
    any engine.  The k largest priorities are the sample; the (k+1)-th
    priority tau yields the unbiased total estimator
    E[Σ max(w_i, tau)] = Σ w (gated form:
    `plans/training_queries.py::priority_sample_total_estimate`).

    Scale shape: one map-side projection computes the fixed-width
    (id, weight, q_scaled) rows; orderBy+limit(k+1) compiles to
    TakeOrderedAndProject — every partition forwards at most k+1 rows,
    no global sort — and the final rank window runs over exactly k+1
    rows in one task by construction.  Rows with w <= 0 can never be
    sampled (q = 0) and are excluded up front.  Weights so large that
    q = w*2^32 div (h+1) exceeds int64 (w div (h+1) >= 2^31) raise
    loudly via ``raise_error`` instead of wrapping silently under
    non-ANSI Spark while the DuckDB oracle errors (ADVICE r07).

    Returns k+1 rows: (id, weight, q_scaled, rank, is_sample) with
    is_sample = 1 for ranks 1..k and 0 for the threshold row."""
    from pyspark.sql import Window

    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    # Staged long division (the integer_hits identity, ADVICE r06):
    # q = w*2^32 div m computed as
    #   (w div m)*2^32 + ((r*2^16) div m)*2^16 + (((r*2^16) % m)*2^16) div m
    # with r = w % m — bit-identical to the direct form wherever the
    # direct form didn't wrap, and overflow-safe for EVERY weight whose
    # result q fits int64 (the naive w * 2^32 wrapped silently past
    # w >= 2^31 even when q itself fit, e.g. w = m = 2^32).  All terms
    # stay below 2^48 since r < m <= 2^32.
    slim = (
        df.select(F.col(id_col), w.cast("bigint").alias("weight"))
        .where(F.col("weight") > 0)
        .select(
            id_col,
            "weight",
            F.expr(f"{h32_sql(f'cast(`{id_col}` as string)', seed)} + 1").alias("__den"),
        )
        .select(
            id_col,
            "weight",
            # Guard (ADVICE r07): the staged form is exact exactly while
            # the true quotient q fits int64, i.e. (weight div __den)
            # < 2^31 (then term1 <= 2^63-2^32, term2 <= 2^32-2^16,
            # term3 <= 2^16-1: sum <= 2^63-1, no wrap).  Past that the
            # first product would wrap SILENTLY under non-ANSI Spark
            # while DuckDB errors — raise loudly on both engines
            # instead of diverging.
            F.expr(
                "CASE WHEN (weight div __den) < 2147483648 THEN"
                " (weight div __den) * 4294967296"
                " + (((weight % __den) * 65536) div __den) * 65536"
                " + ((((weight % __den) * 65536) % __den) * 65536) div __den"
                " ELSE raise_error('priority_sample: weight*2^32 div (h32+1)"
                " exceeds int64; rescale weights below 2^31 * min(h32+1)')"
                " END"
            ).alias("q_scaled"),
        )
    )
    topk1 = slim.orderBy(F.col("q_scaled").desc(), F.col(id_col)).limit(k + 1)
    rank_w = Window.orderBy(F.col("q_scaled").desc(), F.col(id_col))
    return topk1.select(
        id_col,
        "weight",
        "q_scaled",
        F.row_number().over(rank_w).alias("rank"),
    ).withColumn("is_sample", (F.col("rank") <= k).cast("int"))
