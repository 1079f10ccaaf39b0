"""Core relational operators re-expressed Spark-first (SURVEY.md §2.2–2.6).

Each helper is a thin composition of built-in DataFrame ops so Catalyst
keeps full visibility (pushdown, pruning, join re-planning).  None of
them collect to the driver; all are shuffle-minimal by construction:

- ``map_join``        : J2 — THE core denormalization pattern.  One
  shuffle on the group key; the dim side joins pre-aggregation so the
  heavy fact rows shuffle exactly once.
- ``asof_join``       : J6 — as-of with tolerance via union+window, no
  range-explosion cross join.
- ``top_k_per_group_sql`` : W1/W2 — rank window; map-side partial top-k is
  AQE's job, the window shuffles once on the partition key.
- ``date_stratified_split`` : D8 — a derived column, zero shuffles.
- ``cutoff_filter``   : P7 — broadcast the tiny cutoff map, filter
  pre-shuffle so downstream aggregations see less data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def map_join(
    parent: DataFrame,
    child: DataFrame,
    key: str,
    agg_col: Column,
    alias: str,
    how: str = "left",
) -> DataFrame:
    """The reference's ``map_join`` (`scrc/utils/sql_select_utils.py:240-257`):
    ``json_agg(json_build_object(...)) GROUP BY decision_id`` collapsed a
    child table to one array per parent row, then LEFT JOINed on.

    Spark form: ``child.groupBy(key).agg(agg_col)`` then join.  Aggregate
    BEFORE the join (not after) so the join's build side is one row per
    key — at 100 TB this halves the shuffled bytes vs join-then-group.
    ``agg_col`` is typically ``collect_list(struct(...))``; wrap it in
    ``sort_array`` at the call site when deterministic order matters.
    """
    agg = child.groupBy(key).agg(agg_col.alias(alias))
    return parent.join(agg, on=key, how=how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    partition_keys: list[str],
    left_on: str,
    right_on: str,
    tolerance: Column | None = None,
    right_payload: list[str] | None = None,
) -> DataFrame:
    """As-of join: for each left row, the right row with the greatest
    ``right_on`` <= ``left_on`` within the same ``partition_keys`` group,
    optionally within ``tolerance`` (J6 — the citation→ruling page snap,
    `dataset_creator.py:262-285`: cited page snapped to the greatest BGE
    start page <= it, if < 20 pages away).

    Implementation: union the two sides tagged by origin, sort within
    each partition by the time/ordering key, and carry the last-seen
    right payload forward with ``last(..., ignorenulls=True)`` over a
    running window.  This is the sort-merge as-of: ONE shuffle on
    ``partition_keys`` + a sort — no range cross-join blowup, no
    per-row lookup dict like the reference.  Skewed partitions are
    handled by AQE; at 100 TB this is the same plan a purpose-built
    as-of engine (kdb/QuestDB-style) executes.
    """
    right_payload = right_payload or [
        c for c in right.columns if c not in partition_keys and c != right_on
    ]
    lcols = [c for c in left.columns]

    # SQL-text construction (r12, same technique as functions/hashing.py
    # twins): the Column form cost ~340 py4j round trips per bench-timed
    # construction; the parsed strings build the identical analyzed plan
    # in ~15 calls.  Only the ``tolerance`` mask (a Column: every caller
    # passes one, e.g. ``F.lit(20)``) is Column-built, below.
    rschema, lschema = right.schema, left.schema
    tagged_left = left.selectExpr(
        *[f"`{c}`" for c in lcols],
        f"`{left_on}` AS __ord",
        "1 AS __is_left",
        *[
            f"cast(null as {rschema[c].dataType.simpleString()}) AS `__r_{c}`"
            for c in right_payload
        ],
        f"cast(null as {rschema[right_on].dataType.simpleString()}) AS __r_on",
    )
    tagged_right = right.selectExpr(
        *[
            f"cast(null as {lschema[c].dataType.simpleString()}) AS `{c}`"
            for c in lcols
            if c not in partition_keys
        ],
        *[f"`{k}`" for k in partition_keys],
        f"`{right_on}` AS __ord",
        "0 AS __is_left",
        *[f"`{c}` AS `__r_{c}`" for c in right_payload],
        f"`{right_on}` AS __r_on",
    ).select(*tagged_left.columns)

    unioned = tagged_left.unionByName(tagged_right)
    # Right rows sort before left rows at equal ordinates (__is_left asc)
    # so an exact match is visible to the left row — "<=" semantics.
    over = (
        "OVER (PARTITION BY "
        + ", ".join(f"`{k}`" for k in partition_keys)
        + " ORDER BY __ord ASC, __is_left ASC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    carried = unioned.selectExpr(
        *[f"`{c}`" for c in lcols],
        "__is_left",
        "__ord",
        *[f"last(`__r_{c}`, true) {over} AS `__m_{c}`" for c in right_payload],
        f"last(__r_on, true) {over} AS __m_on",
    )
    out = carried.where("__is_left = 1")
    if tolerance is not None:
        within = F.col("__ord") - F.col("__m_on") < tolerance
        for c in right_payload:
            out = out.withColumn(f"__m_{c}", F.when(within, F.col(f"__m_{c}")))
        out = out.withColumn("__m_on", F.when(within, F.col("__m_on")))
    return out.selectExpr(
        *[f"`{c}`" for c in lcols],
        *[f"`__m_{c}` AS `asof_{c}`" for c in right_payload],
        f"__m_on AS `asof_{right_on}`",
    )


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: int,
) -> DataFrame:
    """Range join (point ∈ [lo, hi]) WITHOUT an equi key, as a bucketed
    equi-join — the standard Spark strategy for interval containment
    (beyond the reference's surface: it has no range joins at all;
    SURVEY §2.3 note).

    A naive ``points JOIN intervals ON p BETWEEN lo AND hi`` has no
    equi-condition, so Spark falls back to BroadcastNestedLoopJoin —
    O(|points| × |intervals|) comparisons, unusable at scale.  Bucketed
    form: points hash into ``floor(p / width)``; each interval EXPLODES
    into every bucket it overlaps (``sequence(floor(lo/w),
    floor(hi/w))``); the join becomes an equi-join on the bucket id plus
    a residual containment filter.  Each (point, interval) pair meets in
    exactly ONE bucket (the point's), so no dedup is needed.  Cost:
    one shuffle on the bucket id; interval blowup = interval_length /
    bucket_width rows per interval — pick ``bucket_width`` near the
    typical interval length.

    Numeric columns (use ``unix_micros`` for timestamps at call sites).
    """
    pb = points.withColumn(
        "__bucket", F.floor(F.col(point_col) / bucket_width)
    )
    ib = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width),
                F.floor(F.col(hi_col) / bucket_width),
            )
        ),
    )
    return (
        pb.join(ib, on="__bucket")
        .where(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("__bucket")
    )


def top_k_per_group_sql(
    df: DataFrame, partition_keys: list[str], order_by_sql: str, k: int
) -> DataFrame:
    """Top-k rows per group (W1/W2: top-25 citation tables, top-1000
    most-common citations).  ``row_number`` (not rank) + deterministic
    tie-breakers in ``order_by_sql`` — the ORDER BY body as one string
    (e.g. ``"price DESC, o_orderkey ASC"``) — keep results
    reproducible.  Parsed SQL text: 3 py4j calls instead of ~40 for the
    Column form."""
    pk = ", ".join(f"`{c}`" for c in partition_keys)
    return (
        df.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {pk} "
            f"ORDER BY {order_by_sql}) AS __rn",
        )
        .where(f"__rn <= {int(k)}")
        .drop("__rn")
    )


def date_stratified_split(
    df: DataFrame,
    year_col: str = "year",
    train_start: int = 1900,
    val_start: int = 2016,
    test_start: int = 2018,
    secret_start: int = 2023,
) -> DataFrame:
    """D8 date-stratified splits (`dataset_creator.py:158-159,1058-1071`):
    train [start,2016) / val [2016,2018) / test [2018,2023) / secret_test
    [2023,∞).  A derived column — no shuffle; exports partitionBy it.

    Built from parsed SQL text (r12, session 2): the CASE chain is the
    exact transliteration of the former when-chain (analyzed-plan
    identical; one py4j call instead of ~30)."""
    return df.withColumn(
        "split",
        F.expr(
            f"CASE WHEN (`{year_col}` < {int(train_start)})"
            " THEN cast(null as string)"
            f" WHEN (`{year_col}` < {int(val_start)}) THEN 'train'"
            f" WHEN (`{year_col}` < {int(test_start)}) THEN 'validation'"
            f" WHEN (`{year_col}` < {int(secret_start)}) THEN 'test'"
            " ELSE 'secret_test' END"
        ),
    )


SUB_DATASET_BOUNDARIES = [0, 512, 1024, 2048, 4096, 8192]


def input_length_bucket(
    num_tokens: Column | str,
    boundaries: list[int] | None = None,
) -> Column:
    """The sub-dataset input-length slicing (`dataset_creator.py:
    955-961` ``create_sub_datasets``): bucket label
    ``between(lower,higher)`` with the reference's zero-padded bounds
    and (boundary, boundary+1] interval convention; tokens above the
    last boundary -> null (the reference materializes no bucket for
    them).

    The reference materializes one sub-DataFrame per (metadata value,
    split) — dozens of copies of the corpus.  Spark-first this is a
    DERIVED COLUMN + ``write.partitionBy('split', bucket)``: partition
    pruning serves any sub-dataset for free, nothing is copied, and
    the same pattern covers the year / legal_area / origin_* slicings
    (`:963-1004`) with their natural columns.
    """
    bounds = boundaries or SUB_DATASET_BOUNDARIES
    c = F.col(num_tokens) if isinstance(num_tokens, str) else num_tokens
    expr = F.lit(None).cast("string")
    for i in range(len(bounds) - 1, 0, -1):
        lower, higher = bounds[i - 1] + 1, bounds[i]
        expr = F.when(
            (c >= lower) & (c <= higher),
            F.lit(f"between({lower:04d},{higher:04d})"),
        ).otherwise(expr)
    return expr


def cutoff_filter(
    df: DataFrame,
    cutoffs: DataFrame,
    on: list[str],
    value_col: str,
    cutoff_col: str = "cutoff",
    default_cutoff: int = 0,
) -> DataFrame:
    """P7 per-court per-section minimum-token cutoffs
    (`dataset_creator.py:1146-1232`): join the ~dozens-row cutoff map
    (broadcast) and keep rows meeting their group's threshold."""
    joined = df.join(F.broadcast(cutoffs), on=on, how="left")
    return joined.where(
        F.col(value_col) >= F.coalesce(F.col(cutoff_col), F.lit(default_cutoff))
    ).drop(cutoff_col)


def value_counts_with_pct(df: DataFrame, attr: str) -> DataFrame:
    """A10 attribute histogram + percent-of-total
    (`report_creator.py:126-163`).  The total is a one-row aggregate
    broadcast back onto the counts — NOT a global window, which would
    funnel the grouped result through one partition and silently
    bottleneck on a high-cardinality attribute (fine for 5 priorities,
    not for a million tokens)."""
    counts = df.groupBy(attr).agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        F.col(attr),
        F.col("cnt"),
        (F.col("cnt") * 100.0 / F.col("__total")).alias("pct"),
    )


def scd2_history(
    updates: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 build from an update log: one
    versioned row per genuine attribute CHANGE, with its validity
    interval.

    The warehouse twin of W6 export versioning (`pipeline.py:62`
    versions whole exports; this versions individual keys).  Two window
    passes over the same (key, ts) sort:

    1. change compaction — ``lag(attr)`` drops updates that repeat the
       current value (an update stream at 100 TB is dominated by
       no-op heartbeats; compacting FIRST keeps pass 2's input small),
    2. interval close — ``lead(ts)`` of the surviving changes is each
       version's ``valid_to`` (NULL = still current).

    Both passes partition by key: the only shuffle is one exchange on
    the key, reused by the second window (same partitioning — Catalyst
    plans a single Exchange; sort order is shared too).  Timestamps
    stay exact integer microseconds end-to-end.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    prev = F.lag(attr_col).over(w)
    changes = (
        updates.withColumn("__prev", prev)
        .where(F.col("__prev").isNull() | (F.col(attr_col) != F.col("__prev")))
        .drop("__prev")
    )
    # same (ts, tiebreak) order as pass 1 — two surviving changes can
    # share a timestamp, and lead() must be deterministic for parity
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return changes.select(
        key_col,
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
    )


def interval_overlap_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Interval self-join: unordered pairs (id_a < id_b) of rows sharing
    ``key_cols`` whose half-open integer intervals [start, end) overlap
    — the temporal-join primitive (concurrent sessions, double-booked
    resources, overlapping validity windows) the reference's pandas
    layer would do with a per-group quadratic scan.

    Scale shape (the 100 TB plan): each interval explodes into the
    coarse time buckets it touches (``sequence(start div W, end div
    W)`` — for spans bounded by ~W that is <= 2 rows), the self-join is
    an EQUI-join on (keys, bucket) so it shuffles and compares within
    buckets only — never a per-key all-pairs — and each pair is emitted
    from exactly ONE bucket (the bucket of ``greatest(s_a, s_b)``,
    which both overlapping intervals always cover) via a free map-side
    filter, so no pair-output-sized dedup exists anywhere.  A plain
    range join would force a broadcast-nested-loop; the bucket trick
    keeps it a hash join under AQE with per-task work proportional to
    bucket occupancy.  Pick ``bucket_width`` ~ the typical span: much
    larger wastes comparisons, much smaller multiplies the explode
    fan-out.

    Input contract: exact-duplicate rows (replayed records) collapse
    BEFORE pairing — one input-sized distinct on the slim projection;
    gate oracles mirror it with ``SELECT DISTINCT`` on their interval
    CTE.

    Returns key cols + (id_a, s_a, e_a, id_b, s_b, e_b).
    """

    # input-side dedup (slim rows, BEFORE the explode): replayed
    # records collapse here at input-sized cost; pairs themselves are
    # emitted exactly once by the single-bucket filter below, so no
    # pair-output-sized dedup is ever needed (review r07 follow-up)
    slim = df.select(
        *key_cols, F.col(id_col), F.col(start_col), F.col(end_col)
    ).distinct()

    def side(tag: str) -> DataFrame:
        return slim.select(
            *key_cols,
            F.col(id_col).alias(f"id_{tag}"),
            F.col(start_col).alias(f"s_{tag}"),
            F.col(end_col).alias(f"e_{tag}"),
        ).withColumn(
            "__bkt",
            F.explode(
                F.sequence(
                    F.expr(f"s_{tag} div {bucket_width}"),
                    F.expr(f"e_{tag} div {bucket_width}"),
                )
            ),
        )

    a, b = side("a"), side("b")
    return (
        a.join(b, on=[*key_cols, "__bkt"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("s_a") < F.col("e_b"))
            & (F.col("s_b") < F.col("e_a"))
        )
        # emit each pair from exactly ONE shared bucket — the bucket of
        # greatest(s_a, s_b): the later start lies inside the overlap,
        # so both intervals always explode into it.  A free map-side
        # filter replacing a pair-output-sized distinct() shuffle
        # (review r07).
        .where(
            F.col("__bkt")
            == F.expr(f"greatest(s_a, s_b) div {bucket_width}")
        )
        .drop("__bkt")
    )


def ordered_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_us: int | None = None,
) -> DataFrame:
    """Ordered funnel conversion: per user, step i completes at the
    EARLIEST event of ``steps[i]`` strictly after the completion of
    step i-1 (and within ``within_us`` microseconds of it when set) —
    the first-completion semantics every product-analytics funnel
    uses.  Returns one row per step: (step_idx, step, n_users) with
    n_users the count of users whose funnel reached that step.

    Scale shape: one filtered min-aggregate per step plus one slim
    equi-join per step carrying only (user, prev_time) — all
    micro-second integers via `sources/catalog.py::epoch_us`, all
    shuffles on the user key (high cardinality; map-side combine on
    the mins), the text/props columns never read.  The final report is
    ONE aggregate row unpivoted with stack — len(steps) cells.
    """
    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us

    assert steps, "funnel needs at least one step"
    e = events.select(
        F.col(user_col), F.col(type_col), epoch_us(ts_col).alias("__us")
    )
    t = (
        e.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min("__us").alias("__t0"))
    )
    for i, s in enumerate(steps[1:], start=1):
        prev = f"__t{i - 1}"
        cond = F.col("__us") > F.col(prev)
        if within_us is not None:
            cond = cond & (F.col("__us") <= F.col(prev) + F.lit(within_us))
        nxt = (
            e.where(F.col(type_col) == s)
            .join(t.select(user_col, prev), on=user_col)
            .where(cond)
            .groupBy(user_col)
            .agg(F.min("__us").alias(f"__t{i}"))
        )
        t = t.join(nxt, on=user_col, how="left")
    agg = t.agg(
        *[F.count(f"__t{i}").alias(f"__n{i}") for i in range(len(steps))]
    )
    # Unpivot via explode(array(struct(...))) with TYPED literals —
    # never interpolate step names into a SQL string (a quote in a
    # step name would break the expression at analysis time).
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("step_idx"),
                        F.lit(s).alias("step"),
                        F.col(f"__n{i}").alias("n_users"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("__cell")
    ).select("__cell.step_idx", "__cell.step", "__cell.n_users")


def integer_ewma_by_key(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    num: int = 3,
    den: int = 8,
) -> DataFrame:
    """Exponentially weighted moving average as an INTEGER recurrence:
    s_1 = x_1, s_t = (num*x_t + (den-num)*s_{t-1}) div den — the
    rational-alpha (num/den) form of EWMA whose floor-division state
    is exactly replayable on any engine (the float form's
    pow-of-(1-alpha) weights diverge in ULPs; this one is the ADPCM
    predictor's arithmetic class applied to business data).  Returns
    one row per key: (key, n_values, ewma).

    Scale shape: a sequential per-key fold cannot be a window
    expression, so it runs as ONE applyInPandas pass over the
    (key)-grouped slim value rows — high-cardinality partitions, state
    is a single integer per key, and only (key, order, value) columns
    shuffle.  Values must be integers (micro-snap floats upstream);
    order ties must be broken by ``order_cols`` in full or the fold is
    nondeterministic.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField(key_col, LongType()),
            StructField("n_values", LongType()),
            StructField("ewma", LongType()),
        ]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols)
        xs = [int(x) for x in pdf[value_col]]
        s = xs[0]
        for x in xs[1:]:
            s = (num * x + (den - num) * s) // den
        return pd.DataFrame(
            [{key_col: int(pdf[key_col].iloc[0]), "n_values": len(xs), "ewma": s}]
        )

    slim = df.select(key_col, *order_cols, value_col)
    return slim.groupBy(key_col).applyInPandas(fold, schema)


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    partition_keys: list[str],
    left_on: str,
    right_on: str,
    tolerance,
    right_payload: list[str] | None = None,
) -> DataFrame:
    """BIDIRECTIONAL nearest join: for each left row, the right row
    minimizing |right_on - left_on| within the same partition group
    and within ``tolerance`` — sensor/event alignment where the
    closest reading matters regardless of direction (the as-of join's
    backward-only rule is the trade-settlement semantics; this is the
    telemetry-alignment one).  Ties (equidistant before/after) go to
    the EARLIER right row, then the smaller payload, so the winner is
    total-ordered on any engine.

    Scale shape: candidate pairing is TOLERANCE-BOUNDED BY
    CONSTRUCTION, the `interval_overlap_pairs` bucket trick — each
    right row is replicated into the three tolerance-width time
    buckets {b-1, b, b+1} around floor(right_on / tolerance) and the
    join is an equi-join on (partition_keys, bucket), so a left row
    only ever meets the right rows of its own ±1 buckets (≤ 3
    tolerance-widths of data), NEVER the per-key |left|×|right|
    cross product a bare key-join would build under a heavy key (AQE
    splits skewed PARTITIONS but cannot reduce per-key pair counts —
    only the bucket does).  The band filter then trims the corner
    candidates, and one min-struct aggregate per left row picks the
    winner — no window over the joined table, no global sort.
    ``tolerance`` must be a positive integer constant: the bucket
    width IS the band, and an unbounded nearest join would be the
    cross join the bucket exists to avoid.

    Semantics notes: right payload columns are internally aliased
    with a reserved ``__nj_`` prefix for the join, so a payload
    column may share a name with any non-key left column without an
    ambiguity AnalysisException (names are restored in the output).
    IDENTICAL duplicate left rows (same keys, same ``left_on``, same
    payload values) collapse to ONE output row — the final groupBy is
    keyed on the left row's full value; carry a unique id column on
    the left side if duplicate rows must survive.
    """
    if isinstance(tolerance, Column):
        raise TypeError(
            "nearest_join tolerance must be a positive integer constant "
            "(it is the candidate-bucket width), not a Column"
        )
    tol = int(tolerance)
    if tol != tolerance:
        # int() would silently TRUNCATE (2.5 -> 2) and narrow the band
        raise ValueError(
            f"nearest_join tolerance must be integral, got {tolerance!r} "
            "(scale the time axis to integer units instead)"
        )
    if tol <= 0:
        raise ValueError("nearest_join tolerance must be > 0")
    pay = right_payload or [c for c in right.columns if c not in partition_keys]
    rpay = [c for c in pay if c != right_on]
    lhs = left.select(
        *partition_keys, F.col(left_on).alias("__l"), *[
            c for c in left.columns if c not in partition_keys and c != left_on
        ]
    ).withColumn("__b", F.expr(f"(__l - pmod(__l, {tol})) div {tol}"))
    # floor(x / tol) in exact long arithmetic: (x - pmod(x, tol)) is
    # divisible by tol and pmod is the POSITIVE modulus, so this is a
    # true floor for negative values too (DIV truncates toward zero).
    rb = F.expr(f"(__nj_r - pmod(__nj_r, {tol})) div {tol}")
    rhs = (
        right.select(
            *partition_keys,
            F.col(right_on).alias("__nj_r"),
            *[F.col(c).alias(f"__nj_{c}") for c in rpay],
        )
        .withColumn("__b", F.explode(F.array(rb - 1, rb, rb + 1)))
    )
    joined = lhs.join(rhs, on=[*partition_keys, "__b"]).where(
        (F.col("__nj_r") >= F.col("__l") - F.lit(tol))
        & (F.col("__nj_r") <= F.col("__l") + F.lit(tol))
    )
    dist = F.abs(F.col("__nj_r") - F.col("__l"))
    pick = F.struct(
        dist.alias("d"),
        F.col("__nj_r").alias("r"),
        *[F.col(f"__nj_{c}").alias(c) for c in rpay],
    )
    group_cols = [*partition_keys, "__l"] + [
        c
        for c in lhs.columns
        if c not in partition_keys and c not in ("__l", "__b")
    ]
    best = joined.groupBy(*group_cols).agg(F.min(pick).alias("__best"))
    return best.select(
        *partition_keys,
        F.col("__l").alias(left_on),
        *[c for c in group_cols if c not in partition_keys and c != "__l"],
        F.col("__best.r").alias(right_on),
        F.col("__best.d").alias("distance"),
        *[F.col(f"__best.{c}").alias(c) for c in rpay],
    )


def ols_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares line fit from INTEGER-EXACT
    moment sums: one aggregate computes (n, Σx, Σy, Σxy, Σx²) as
    bigints — bit-identical on any engine because every product and
    sum is exact integer arithmetic — then the closed-form slope and
    intercept are derived with ONE fixed shape of double casts:

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − Σx·Σx)
        intercept = (Σy − slope·Σx) / n

    with each bigint cast to double exactly once before the float
    arithmetic, so any engine replaying the same expression tree
    produces bit-identical doubles (the oracle-parity rule: never
    round, compute identically).  ``x_col`` and ``y_col`` must be
    integers sized so Σxy fits int64 (e.g. bounded day index ×
    cent-valued daily totals).

    Scale shape: a trend over a trillion rows is ONE map-side
    partially-aggregated groupBy — five bigint accumulators per group,
    nothing else shuffles; the division happens on the final slim
    group rows.  Groups with a single distinct x emit NULL slope
    (denominator zero) rather than a fake fit.

    Returns group_cols + (n bigint, slope double, intercept double).
    """
    sums = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(x_col)).alias("__sx"),
        F.sum(F.col(y_col)).alias("__sy"),
        F.sum(F.col(x_col) * F.col(y_col)).alias("__sxy"),
        F.sum(F.col(x_col) * F.col(x_col)).alias("__sxx"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    den = nd * sxx - sx * sx
    slope = F.when(den != 0.0, (nd * sxy - sx * sy) / den)
    intercept = F.when(den != 0.0, (sy - ((nd * sxy - sx * sy) / den) * sx) / nd)
    return sums.select(
        *group_cols,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def pearson_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation of integer columns from ONE
    map-side aggregate of exact moment sums — the multivariate sibling
    of `ols_trend`: for every pair (a, b),

        r = (n·Σab − Σa·Σb) /
            (sqrt(n·Σa² − Σa·Σa) · sqrt(n·Σb² − Σb·Σb))

    where every Σ is a bigint (engine-exact) and the float arithmetic
    is one fixed cast shape; ``sqrt`` is IEEE-754 correctly rounded on
    every engine, so the doubles are bit-identical wherever the same
    integer sums go in.  Degenerate pairs (zero variance on either
    side) emit NULL r.  Columns must be integer-valued and small
    enough that Σa·b fits int64 at the target scale (quantities,
    percents, bounded codes — not raw cents at petabyte row counts).

    Scale shape: a correlation matrix over a trillion rows is ONE
    whole-stage-codegen aggregate with k + k(k+1)/2 bigint
    accumulators and a constant-size unpivot of the single result row
    — nothing else moves.  Returns (col_x, col_y, n, r) per pair.
    """
    # aliases are INDEX-based, not name-based: name-concatenation
    # (__sp_{a}_{b}) is ambiguous for underscore-containing columns
    # (pairs (a, b_c) and (a_b, c) would both alias __sp_a_b_c)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.col(c)).alias(f"__s_{i}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"__ss_{i}"))
    for i, a in enumerate(cols):
        for j, b in enumerate(cols[i + 1 :], start=i + 1):
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"__sp_{i}_{j}"))
    sums = df.agg(*aggs)
    nd = F.col("n").cast("double")
    cells = []
    for i, a in enumerate(cols):
        for j, b in enumerate(cols[i + 1 :], start=i + 1):
            sa = F.col(f"__s_{i}").cast("double")
            sb = F.col(f"__s_{j}").cast("double")
            # n·Σx² − (Σx)² is ≥ 0 in exact arithmetic but is computed
            # in doubles from bigint sums; past ~2^53 rounding can dip
            # it negative, where sqrt is engine-divergent (Spark NaN,
            # DuckDB raises) — clamp to 0 (mirrored in the oracles)
            da = F.sqrt(
                F.greatest(
                    nd * F.col(f"__ss_{i}").cast("double") - sa * sa,
                    F.lit(0.0),
                )
            )
            db = F.sqrt(
                F.greatest(
                    nd * F.col(f"__ss_{j}").cast("double") - sb * sb,
                    F.lit(0.0),
                )
            )
            r = F.when(
                (da != 0.0) & (db != 0.0),
                (nd * F.col(f"__sp_{i}_{j}").cast("double") - sa * sb)
                / (da * db),
            )
            cells.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    F.col("n").alias("n"),
                    r.alias("r"),
                )
            )
    return sums.select(F.explode(F.array(*cells)).alias("__c")).select(
        "__c.col_x", "__c.col_y", "__c.n", "__c.r"
    )


def exact_kth_value(
    df: DataFrame,
    value_col: str,
    k: int,
    bins: int = 4096,
    weight_col: str | None = None,
) -> int:
    """EXACT k-th smallest value (1-based) of an integer column
    WITHOUT a global sort — iterative histogram narrowing (the
    distributed selection algorithm): each round bins the remaining
    candidate range into ``bins`` equal-width buckets with one
    map-side-combined groupBy, walks the (collected, ≤ bins-row)
    histogram to the bucket containing the k-th element, and recurses
    into that bucket with k rebased.  The range shrinks by ``bins``×
    per round, so cents-scale domains (~2^36) finish in ≤ 3 rounds of
    whole-stage-codegen aggregation; the only driver-side data is one
    histogram per round.  This is the EXACT-answer complement of the
    mergeable `histogram_quantiles_orders` sketch (which trades
    exactness for single-pass mergeability).

    With ``weight_col`` (positive integer weights) the k-th element is
    by CUMULATIVE WEIGHT in value order — the weighted-quantile
    generalization (k = (W+1) div 2 gives the weighted lower median);
    the unweighted path is weight ≡ 1.

    Returns the exact value as a Python int (a driver-side scalar by
    nature — the recursion is data-dependent control flow).  Thin
    wrapper over `exact_kth_values` (the batched form — ask for many
    ranks in ONE shared narrowing loop).
    """
    return exact_kth_values(df, value_col, [k], bins, weight_col)[k]


def exact_kth_values(
    df: DataFrame,
    value_col: str,
    ks: list[int],
    bins: int = 4096,
    weight_col: str | None = None,
    _stats: dict | None = None,
    persist_survivors: bool = True,
) -> dict[int, int]:
    """BATCHED exact selection: the k-th smallest value for EVERY rank
    in ``ks`` from one shared histogram-narrowing loop — instead of
    |ks| independent selections each re-scanning the input, all ranks
    narrow together.  Each round runs ONE map-side-combined groupBy
    over the union of the still-active candidate ranges (each range
    binned into ``bins`` equal-width buckets, tagged with a segment
    id); ranks that land in the same bucket keep sharing a segment,
    ranks in different buckets split into disjoint child segments —
    so the per-round work is one aggregation pass whatever |ks| is.
    Returns {k: exact value}.

    Survivor persistence: after the first round the candidate set has
    shrunk to ≤ |segments|/bins of the input, so the round-1 survivors
    are persisted and rounds 2+ scan the narrowed set only — one full
    input scan per CALL, not per round (and never per rank).

    The binning arithmetic runs over fixed internal names (``__v``,
    ``__w``) so no user column name is ever interpolated into a SQL
    expression; bucket = (v − lo)·bins div span in exact bigint `div`
    arithmetic (never double division — exact past 2^53).

    ``_stats``, when given, is filled with {"rounds", "agg_passes"}
    (full-pipeline aggregation passes incl. the min/max/total pass)
    for scale measurement.  ``persist_survivors=False`` disables the
    round-1 persistence (every round rescans the input) — results are
    identical by construction; the flag exists for the A/B scan-cost
    measurement in SCALE.md.
    """
    if not ks:
        return {}
    wexpr = F.col(weight_col) if weight_col else F.lit(1)
    slim = df.select(
        F.col(value_col).cast("bigint").alias("__v"),
        wexpr.cast("bigint").alias("__w"),
    ).where(F.col("__v").isNotNull())
    row = slim.agg(
        F.min("__v").alias("lo"),
        F.max("__v").alias("hi"),
        F.sum("__w").alias("n"),
    ).collect()[0]
    lo, hi, n = row.lo, row.hi, row.n
    if n is None or n == 0:
        raise ValueError("exact_kth_value over an empty input")
    for k in ks:
        if not 1 <= k <= n:
            raise ValueError(f"k={k} outside [1, {n}]")
    lo, hi, n = int(lo), int(hi), int(n)
    passes, rounds = 1, 0
    results: dict[int, int] = {}
    # segment (lo, hi) -> [(original k, k rebased into the segment)]
    segs: dict[tuple[int, int], list[tuple[int, int]]] = {
        (lo, hi): [(k, k) for k in sorted(set(ks))]
    }
    src = slim
    persisted = None
    try:
        while True:
            active: dict[tuple[int, int], list[tuple[int, int]]] = {}
            for (slo, shi), pairs in segs.items():
                if slo == shi:
                    for orig, _ in pairs:
                        results[orig] = slo
                else:
                    active[(slo, shi)] = pairs
            if not active:
                break
            rounds += 1
            passes += 1
            seg_list = sorted(active)
            seg_expr = None
            bh_expr = None
            vcol = F.col("__v")
            for i, (slo, shi) in enumerate(seg_list):
                span = shi - slo + 1
                cond = (vcol >= F.lit(slo)) & (vcol <= F.lit(shi))
                # exact bigint integer division; only fixed internal
                # names and integer literals reach the expression
                b = F.expr(f"(__v - {slo}L) * {bins}L div {span}L")
                seg_expr = (
                    F.when(cond, F.lit(i))
                    if seg_expr is None
                    else seg_expr.when(cond, F.lit(i))
                )
                bh_expr = F.when(cond, b) if bh_expr is None else bh_expr.when(cond, b)
            hist_rows = (
                src.select(
                    seg_expr.alias("__seg"), bh_expr.alias("__bh"), "__w"
                )
                .where(F.col("__seg").isNotNull())
                .groupBy("__seg", "__bh")
                .agg(F.sum("__w").alias("cnt"))
                .orderBy("__seg", "__bh")
                .collect()
            )
            hists: dict[int, list[tuple[int, int]]] = {}
            for r in hist_rows:
                hists.setdefault(int(r["__seg"]), []).append(
                    (int(r["__bh"]), int(r["cnt"]))
                )
            new_segs: dict[tuple[int, int], list[tuple[int, int]]] = {}
            for i, (slo, shi) in enumerate(seg_list):
                span = shi - slo + 1
                hist = hists.get(i, [])
                for orig, k in active[(slo, shi)]:
                    acc = 0
                    for bh, cnt in hist:
                        if acc + cnt >= k:
                            # bucket bh covers v with (v-slo)*bins div span == bh
                            new_lo = slo + -(-(bh * span) // bins)  # ceil
                            new_hi = min(shi, slo + ((bh + 1) * span - 1) // bins)
                            new_segs.setdefault((new_lo, new_hi), []).append(
                                (orig, k - acc)
                            )
                            break
                        acc += cnt
            segs = new_segs
            if (
                persist_survivors
                and persisted is None
                and any(slo < shi for slo, shi in segs)
            ):
                cond = None
                for slo, shi in sorted(segs):
                    c = (vcol >= F.lit(slo)) & (vcol <= F.lit(shi))
                    cond = c if cond is None else cond | c
                persisted = slim.where(cond).persist()
                src = persisted
    finally:
        if persisted is not None:
            persisted.unpersist()
    if _stats is not None:
        _stats["rounds"] = rounds
        _stats["agg_passes"] = passes
    return results


def chi2_independence_cells(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Chi-square independence test as a PER-CELL table: for every
    (a, b) cell of the contingency table, the observed bigint count,
    the expected count e = rowTotal·colTotal/total, and the cell's
    chi² contribution (o − e)²/e.  The statistic is emitted per cell
    rather than pre-summed because a float SUM over distributed cells
    is order-dependent (ULP-unstable across engines), while each
    cell's double is one fixed expression shape over exact integer
    counts — bit-identical anywhere; `chi2_total` sums the (bounded,
    sorted) cells driver-side deterministically.  Expected counts
    multiply in DOUBLE (rowTotal·colTotal overflows int64 at petabyte
    row counts; each factor < 2^53 keeps the product's rounding
    identical on every engine).

    Scale shape: one (a, b) groupBy with map-side combine, two
    category-sized total tables broadcast back — the contingency table
    is bounded by |A|×|B| whatever the input row count.
    """
    cells = df.groupBy(a_col, b_col).agg(F.count(F.lit(1)).alias("observed"))
    rows = cells.groupBy(a_col).agg(F.sum("observed").alias("__rt"))
    colt = cells.groupBy(b_col).agg(F.sum("observed").alias("__ct"))
    total = cells.agg(F.sum("observed").alias("__t"))
    j = (
        cells.join(F.broadcast(rows), on=a_col)
        .join(F.broadcast(colt), on=b_col)
        .crossJoin(F.broadcast(total))
    )
    e = (
        F.col("__rt").cast("double")
        * F.col("__ct").cast("double")
        / F.col("__t").cast("double")
    )
    o = F.col("observed").cast("double")
    return j.select(
        a_col,
        b_col,
        "observed",
        e.alias("expected"),
        ((o - e) * (o - e) / e).alias("contrib"),
    )


def chi2_total(cells_df: DataFrame, a_col: str, b_col: str) -> dict:
    """Deterministic chi² statistic + degrees of freedom from the
    `chi2_independence_cells` table: the (category-bounded) cells are
    collected SORTED by (a, b) and summed sequentially driver-side, so
    the float sum has ONE order on every engine/partitioning."""
    rows = cells_df.orderBy(a_col, b_col).collect()
    stat = 0.0
    a_vals, b_vals = set(), set()
    for r in rows:
        stat += r.contrib
        a_vals.add(r[a_col])
        b_vals.add(r[b_col])
    return {
        "chi2": stat,
        "dof": (len(a_vals) - 1) * (len(b_vals) - 1),
        "n_cells": len(rows),
    }


def exact_gini(df: DataFrame, value_col: str) -> DataFrame:
    """EXACT Gini coefficient of a non-negative integer column as
    integer rank-sum arithmetic — the inequality/concentration metric
    (Gini 1912, public; "how concentrated is spend/tokens/traffic"):
    with values sorted ascending,

        G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)

    computed WITHOUT per-row ranks, the `exact_auc` pattern: group to
    the DISTINCT-VALUE table (value, cnt), take the running
    count-strictly-below window in value order, and fold each value
    group's rank sum in closed form — Σ i over a tied group is
    below·cnt + cnt(cnt+1)/2, so ties are exact by construction.
    Every term is an exact bigint; the one float division has a fixed
    shape.  Returns one row: (n, total, gini_num, gini_den, gini);
    gini is NULL when the total is 0.  Values must be ≥ 0 (the
    classical definition's domain).

    Scale shape: one (value) groupBy with map-side combine + ONE
    window over the distinct-value table (bounded by distinct values,
    not rows).  gini_num overflows int64 past ~2^63 of n·Σx — at
    petabyte row counts widen to DECIMAL(38,0).
    """
    per = (
        df.select(F.col(value_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    stepped = per.select(
        "__v",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("below"),
    )
    agg = stepped.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("__v") * F.col("cnt")).alias("total"),
        # cnt·(cnt+1) is always even: integer DIV keeps the whole rank
        # sum in exact bigint arithmetic (`/` would silently go double)
        F.sum(
            F.col("__v")
            * (
                F.col("below") * F.col("cnt")
                + F.expr("cnt * (cnt + 1) div 2")
            )
        ).alias("__ranksum"),
    )
    num = 2 * F.col("__ranksum") - (F.col("n") + 1) * F.col("total")
    den = F.col("n") * F.col("total")
    return agg.select(
        "n",
        "total",
        num.cast("bigint").alias("gini_num"),
        den.cast("bigint").alias("gini_den"),
        F.when(
            den != 0, num.cast("double") / den.cast("double")
        ).alias("gini"),
    )


def leadlag_xcorr(
    df: DataFrame,
    key_col: str,
    time_col: str,
    value_col: str,
    max_lag: int,
    max_keys: int = 64,
) -> DataFrame:
    """Lead-lag cross-correlation between keyed integer time series:
    for every ORDERED key pair (a, b) and lag ℓ ∈ [0, max_lag], the
    Pearson correlation of a's value at time t with b's value at
    t + ℓ — the lead-lag discovery matrix ("does a spike in clicks
    precede purchases by two days?").  Alignment is the INNER join of
    the two series' time points at offset ℓ (missing periods drop
    from that cell's n, reported per cell).

    The statistic reuses the `pearson_matrix` arithmetic: per cell,
    exact bigint moment sums over the matched points, then one fixed
    shape of double casts + correctly-rounded sqrt — bit-identical on
    any engine.  Zero-variance cells emit NULL r.

    Scale shape: the input collapses to one (key, time, value) row
    per period FIRST (caller does the partial agg), the lag grid
    explodes only that slim table (max_lag + 1 replicas), and the
    pair join is an equi-join on aligned time — candidates are
    series-length-bounded per pair, never |rows|².  Output is
    |keys|²·(max_lag+1) cells — quadratic in distinct keys by
    DEFINITION, so a key column with more than ``max_keys`` distinct
    values raises loudly (one cheap countDistinct pre-pass) instead of
    silently requesting a keys²-sized result; pre-filter to the key
    subset of interest or raise ``max_keys`` deliberately.
    """
    n_keys = df.agg(
        F.count_distinct(F.col(key_col)).alias("k")
    ).collect()[0].k
    if n_keys > max_keys:
        raise ValueError(
            f"leadlag_xcorr over {n_keys} distinct {key_col!r} keys would "
            f"emit {n_keys}²·{max_lag + 1} cells — above the max_keys={max_keys} "
            f"bound; pre-filter the keys of interest or pass a larger "
            f"max_keys explicitly"
        )
    a = df.select(
        F.col(key_col).alias("key_a"),
        F.col(time_col).alias("__t"),
        F.col(value_col).alias("__xa"),
    )
    lags = F.explode(
        F.array(*[F.lit(i) for i in range(max_lag + 1)])
    ).alias("lag")
    b = (
        df.select(
            F.col(key_col).alias("key_b"),
            F.col(time_col).alias("__tb"),
            F.col(value_col).alias("__xb"),
        )
        .select("key_b", "__tb", "__xb", lags)
        # the aligned time lives ENTIRELY on the b side so the join
        # key is separable (a mixed-side `__t + lag == __tb` condition
        # would fall back to a nested loop)
        .withColumn("__t", F.col("__tb") - F.col("lag"))
    )
    # b's value at t + lag pairs with a's value at t
    joined = a.join(b, on="__t")
    sums = joined.groupBy("key_a", "key_b", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__xa").alias("__sa"),
        F.sum("__xb").alias("__sb"),
        F.sum(F.col("__xa") * F.col("__xa")).alias("__saa"),
        F.sum(F.col("__xb") * F.col("__xb")).alias("__sbb"),
        F.sum(F.col("__xa") * F.col("__xb")).alias("__sab"),
    )
    nd = F.col("n").cast("double")
    sa = F.col("__sa").cast("double")
    sb = F.col("__sb").cast("double")
    # clamp the double-rounded variance term like pearson_matrix
    # (mirrored in the oracle) — sqrt of a rounding-negative term is
    # engine-divergent (Spark NaN, DuckDB raises)
    da = F.sqrt(
        F.greatest(nd * F.col("__saa").cast("double") - sa * sa, F.lit(0.0))
    )
    db = F.sqrt(
        F.greatest(nd * F.col("__sbb").cast("double") - sb * sb, F.lit(0.0))
    )
    r = F.when(
        (da != 0.0) & (db != 0.0),
        (nd * F.col("__sab").cast("double") - sa * sb) / (da * db),
    )
    return sums.select("key_a", "key_b", "lag", "n", r.alias("r"))
