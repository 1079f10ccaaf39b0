"""Event-time window queries over the events table (SURVEY.md §2.10).

The reference is batch-only ("streaming" = incremental batch); these
queries are the engine capabilities beyond it — tumbling / sliding /
session windows and event-gap analytics — expressed as BATCH DataFrame
programs oracle-checked by DuckDB.  The same logic runs as Structured
Streaming in ``swisscourtrulingcorpus_spark.streaming`` (tested in
tests/test_streaming.py by equivalence against these batch results).

Timestamps are formatted to strings at the output boundary (second
precision) so engine-side timestamp representations never leak into the
hash comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.plans.registry import QuerySpec
from swisscourtrulingcorpus_spark.sources.catalog import catalog_sql, load_table


def tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type: count + exact value sum.
    ``window()`` aligns to the epoch, i.e. identical to date_trunc.

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT date_format(w.start, 'yyyy-MM-dd HH:mm:ss') AS window_start,
       event_type, cnt, total_value
FROM (
  SELECT window(ts, '1 hour') AS w, event_type, count(1) AS cnt,
         cast(sum(cast(value as decimal(18,2))) as double) AS total_value
  FROM {view('events')}
  GROUP BY window(ts, '1 hour'), event_type
)
""",
    )


TUMBLING_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS cnt,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide — each event lands
    in exactly two windows.  Spark's ``window(ts, '1 hour', '30 min')``
    explodes to per-window rows natively."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
        )
    )


SLIDING_ORACLE = """
WITH starts AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
  FROM events)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS cnt
FROM starts
GROUP BY 1
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap — the
    one genuinely stateful windowing shape.  Batch form uses the native
    ``session_window``; the oracle derives identical sessions via
    gaps-and-islands (lag + running sum).

    Whole-query SQL-text construction (r12, session 2); optimized plan
    pinned in tests/fixtures/plan_fingerprints.json."""
    return catalog_sql(
        spark,
        sf_dir,
        lambda view: f"""
SELECT user_id,
       date_format(w.start, 'yyyy-MM-dd HH:mm:ss') AS session_start,
       date_format(__last, 'yyyy-MM-dd HH:mm:ss') AS last_ts,
       n_events
FROM (
  SELECT user_id, session_window(ts, '30 minutes') AS w,
         count(1) AS n_events, max(ts) AS __last
  FROM {view('events')}
  GROUP BY user_id, session_window(ts, '30 minutes')
)
""",
    )


SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS is_new
  FROM ordered),
sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
"""


def event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() analytics: inter-event gap per user, aggregated per
    event_type.  Gap in exact integer microseconds; the mean is one
    bigint-sum / count division (identical double both engines)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # timestamp_diff works for both TIMESTAMP and TIMESTAMP_NTZ inputs —
    # parquet `timestamp[us]` without tz arrives as NTZ under Spark 4's
    # default inferTimestampNTZ, and unix_micros would reject it.
    gap = F.timestamp_diff("MICROSECOND", F.lag("ts").over(w), F.col("ts"))
    gapped = ev.select("event_type", gap.alias("gap_us")).where(
        F.col("gap_us").isNotNull()
    )
    return gapped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        (F.sum("gap_us") / F.count(F.lit(1))).alias("mean_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


EVENT_GAP_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
  FROM events)
SELECT event_type,
       count(*) AS n_gaps,
       sum(gap_us) / count(*) AS mean_gap_us,
       max(gap_us) AS max_gap_us
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


def first_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 first-match-wins, relationalized: each user's earliest event
    (row_number over event time) — the positional 'first marker decides'
    logic of the judgment extractor expressed as a window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


FIRST_EVENT_ORACLE = """
SELECT user_id,
       event_id AS first_event_id,
       event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
"""


def input_length_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 input-length describe() (`report_creator.py:66-112`) as a
    gate query: count/mean/min/quartiles/max of clipped value column.
    Quartiles over integral floor() (exact interpolation); mean =
    exact int sum / count (identical double both engines)."""
    ev = load_table(spark, sf_dir, "events")
    clipped = F.least(F.floor("value"), F.lit(150)).cast("long")
    per = ev.select(clipped.alias("v"))
    return per.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("v") / F.count(F.lit(1))).alias("mean_v"),
        F.min("v").alias("min_v"),
        F.expr("percentile(v, 0.25)").alias("p25"),
        F.expr("percentile(v, 0.5)").alias("p50"),
        F.expr("percentile(v, 0.75)").alias("p75"),
        F.max("v").alias("max_v"),
    )


INPUT_LENGTH_ORACLE = """
WITH per AS (SELECT CAST(least(floor(value), 150) AS BIGINT) AS v FROM events)
SELECT count(*) AS n,
       CAST(sum(v) AS DOUBLE) / count(*) AS mean_v,
       min(v) AS min_v,
       quantile_cont(v, 0.25) AS p25,
       quantile_cont(v, 0.5) AS p50,
       quantile_cont(v, 0.75) AS p75,
       max(v) AS max_v
FROM per
"""


def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 temporal versioning of each user's event_type 'state'
    (`operators/relational.py::scd2_history`): no-op updates compacted
    away by lag(), validity intervals closed by lead() — one key
    exchange serves both windows."""
    from swisscourtrulingcorpus_spark.operators.relational import scd2_history

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(ev, "user_id", "ts", "event_type", tiebreak_col="event_id")
    return hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


SCD2_ORACLE = """
WITH changes AS (
  SELECT user_id, event_type, ts, event_id
  FROM (SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events)
  WHERE prev IS NULL OR event_type <> prev)
SELECT user_id,
       event_type AS state,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
FROM changes
"""


def sliding_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending report: per sliding 1-hour window (30-min slide), the
    top-3 event types by count with rank — the windowed heavy-hitters
    shape every event store serves ("what's trending right now").
    Two-level aggregation: the (window, type) partial agg shuffles the
    small composite key, then the rank window partitions by window
    start — per-partition input is bounded by the TYPE DOMAIN (a
    handful of rows per window), never by event volume.  Count-desc
    with type as the total-order tie-break keeps ranks engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "cnt",
        )
    )
    rnk = Window.partitionBy("window_start").orderBy(
        F.col("cnt").desc(), F.col("event_type")
    )
    return counts.withColumn("rank", F.row_number().over(rnk)).where(
        F.col("rank") <= 3
    )


SLIDING_TOPK_ORACLE = """
WITH starts AS (
  SELECT event_type,
         unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes']) AS ws
  FROM events),
counts AS (
  SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
         count(*) AS cnt
  FROM starts GROUP BY 1, 2),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY window_start
                                    ORDER BY cnt DESC, event_type) AS INTEGER) AS rank
  FROM counts)
SELECT window_start, event_type, cnt, rank FROM ranked WHERE rank <= 3
"""


def hourly_anomaly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational anomaly detection over the event stream: per
    (event_type, hour), flag hours whose count exceeds twice the
    trailing-24h average — kept integer-exact as the cross-multiplied
    predicate 24 * cnt > 2 * trailing_sum (no float average ever
    computed), emitting the flagged hours with their evidence.  Hours
    with an incomplete 24h history are skipped (n_trail < 24), so the
    report never flags the stream's warm-up.  One (type, hour) partial
    agg plus one lag-range window per type — both shuffles carry slim
    integer rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_timestamp("hour"))
        .rangeBetween(-24 * 3600, -3600)
    )
    scored = hourly.select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("trailing_sum"),
        F.count(F.lit(1)).over(w).alias("n_trail"),
    )
    return scored.where(
        (F.col("n_trail") >= 24)
        & (F.lit(24) * F.col("cnt") > F.lit(2) * F.col("trailing_sum"))
    )


HOURLY_ANOMALY_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt
  FROM events GROUP BY 1, 2),
scored AS (
  SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour, event_type, cnt,
         coalesce(sum(cnt) OVER w, 0) AS trailing_sum,
         count(*) OVER w AS n_trail
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch(hour)
               RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING))
SELECT hour, event_type, cnt,
       CAST(trailing_sum AS BIGINT) AS trailing_sum,
       CAST(n_trail AS BIGINT) AS n_trail
FROM scored
WHERE n_trail >= 24 AND 24 * cnt > 2 * trailing_sum
"""


def interval_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval self-join (`operators/relational.py::
    interval_overlap_pairs`): each event opens a deterministic activity
    window [ts, ts + (event_id % 45 + 5) min); per user, count
    overlapping window pairs and their exact summed overlap.  The
    bucket-exploded equi-join (1 h buckets ~ the max 50 min span, <= 2
    buckets per interval) keeps the self-join hash-partitioned at any
    scale — the oracle does the naive per-user quadratic join, which is
    exactly what this operator exists to avoid."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        interval_overlap_pairs,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import epoch_us

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("s_us"),
        (
            epoch_us("ts")
            + (F.col("event_id") % 45 + 5) * F.lit(60_000_000).cast("long")
        ).alias("e_us"),
    )
    pairs = interval_overlap_pairs(
        iv, ["user_id"], "event_id", "s_us", "e_us", bucket_width=3_600_000_000
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
        ).alias("sum_overlap_us"),
    )


INTERVAL_OVERLAP_ORACLE = """
WITH iv AS (
  -- DISTINCT mirrors the operator's input-side dedup contract:
  -- replayed interval rows collapse BEFORE pairing on both engines
  -- (review r07 follow-up 2) — without it the naive self-join would
  -- count duplicate combinations the Spark side collapses
  SELECT DISTINCT user_id, event_id, epoch_us(ts) AS s_us,
         epoch_us(ts) + (event_id % 45 + 5) * 60000000 AS e_us
  FROM events),
p AS (
  SELECT a.user_id,
         least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) AS ov
  FROM iv a JOIN iv b
    ON a.user_id = b.user_id AND a.event_id < b.event_id
   AND a.s_us < b.e_us AND b.s_us < a.e_us)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(ov) AS BIGINT) AS sum_overlap_us
FROM p GROUP BY 1
"""


def cusum_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM drift detection over daily event counts (Page
    1954, public — the sustained-mean-shift twin of the spike detector
    `hourly_anomaly_events`): the one-sided CUSUM
    ``s_t = max(0, s_{t-1} + (x_t − ref))`` is computed in CLOSED FORM
    as ``s_t = P_t − min(0, min_{j<=t} P_j)`` with P the prefix sum of
    (x − ref) — two stock window functions instead of a sequential
    fold, so the whole detector is plan-parallel and engine-portable.
    ``ref`` is the integer-floored per-type daily mean and the alarm
    threshold h = 4·ref, both exact integer arithmetic.  Output per
    event_type: n_days, ref, max_cusum, n_alarm_days, first_alarm_day
    (NULL when the series never drifts).

    Scale shape: one (type, day) partial-agg groupBy, one broadcast of
    the per-type scalars, one window per type over slim integer rows —
    the windows partition on event_type and days are calendar-bounded,
    so partition size is bounded at any corpus size."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    refs = daily.groupBy("event_type").agg(
        F.expr("sum(cnt) div count(*)").alias("ref"),
        F.count(F.lit(1)).alias("n_days"),
    )
    j = daily.join(F.broadcast(refs), on="event_type")
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # two window layers (running sum, then running min of it) —
    # nested window CALLS are illegal on both engines, but a window
    # over a windowed COLUMN is one projection apart and Catalyst
    # fuses both into a single sort+exchange on event_type
    prefixed = j.select(
        "event_type",
        "d",
        "ref",
        "n_days",
        F.sum(F.col("cnt") - F.col("ref")).over(w).alias("p"),
    )
    stepped = prefixed.select(
        "event_type",
        "d",
        "ref",
        "n_days",
        (F.col("p") - F.least(F.min("p").over(w), F.lit(0))).alias("s"),
    )
    return (
        stepped.groupBy("event_type", "ref", "n_days")
        .agg(
            F.max("s").alias("max_cusum"),
            F.count(F.when(F.col("s") > 4 * F.col("ref"), 1)).alias(
                "n_alarm_days"
            ),
            F.min(
                F.when(F.col("s") > 4 * F.col("ref"), F.col("d"))
            ).cast("string").alias("first_alarm_day"),
        )
        .select(
            "event_type", "n_days", "ref", "max_cusum",
            "n_alarm_days", "first_alarm_day",
        )
    )


def incremental_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING CUSUM twin value-gated (the probe-stage pattern
    `incremental_media_neardup` established): the events table replays
    through the genuine `streaming/stateful.py::make_cusum_update`
    fold — the exact function `cusum_drift_stream` hands to
    applyInPandasWithState — as three day-ordered micro-batch chunks
    per key with cross-batch state carry
    (`cusum_drift_batch_replay`).  References are HISTORY-derived
    constants, the standard Page-CUSUM deployment: ref = the type's
    integer-floored daily mean, h = 4·ref (a |types|-row driver-side
    collect).  Output per type is the final streaming emission —
    COMPLETED days only, the newest day pending in state — so the
    oracle recomputes the recurrence over each type's days strictly
    before its last and must match the sequential fold exactly,
    pending-day semantics included."""
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        cusum_drift_batch_replay,
        cusum_history_refs,
    )

    events = load_table(spark, sf_dir, "events")
    refs, hs = cusum_history_refs(events)
    ev = events.select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    return cusum_drift_batch_replay(ev, refs, hs, n_batches=3)


INCREMENTAL_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         count(*) AS cnt
  FROM events GROUP BY 1, 2),
refs AS (
  SELECT event_type, CAST(sum(cnt) // count(*) AS BIGINT) AS ref
  FROM daily GROUP BY 1),
-- the streaming fold's newest day is PENDING: only days strictly
-- before each type's last day have folded into the emitted state
completed AS (
  SELECT d.event_type, d.day, d.cnt
  FROM daily d
  JOIN (SELECT event_type, max(day) AS last_day FROM daily GROUP BY 1) m
    USING (event_type)
  WHERE d.day < m.last_day),
prefixed AS (
  SELECT c.event_type, day, ref,
         sum(cnt - ref) OVER (PARTITION BY c.event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS p
  FROM completed c JOIN refs USING (event_type)),
stepped AS (
  SELECT event_type, day, ref,
         CAST(p - least(min(p) OVER (PARTITION BY event_type ORDER BY day
                                     ROWS UNBOUNDED PRECEDING), 0)
              AS BIGINT) AS s
  FROM prefixed),
agg AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS days_folded,
         CAST(arg_max(s, day) AS BIGINT) AS s,
         CAST(max(s) AS BIGINT) AS max_cusum,
         CAST(count(CASE WHEN s > 4 * ref THEN 1 END) AS BIGINT)
           AS n_alarm_days,
         min(CASE WHEN s > 4 * ref THEN day END) AS first_alarm_day
  FROM stepped GROUP BY 1)
SELECT r.event_type,
       coalesce(a.days_folded, CAST(0 AS BIGINT)) AS days_folded,
       coalesce(a.s, CAST(0 AS BIGINT)) AS s,
       coalesce(a.max_cusum, CAST(0 AS BIGINT)) AS max_cusum,
       coalesce(a.n_alarm_days, CAST(0 AS BIGINT)) AS n_alarm_days,
       a.first_alarm_day
FROM refs r LEFT JOIN agg a USING (event_type)
"""


CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
  FROM events GROUP BY 1, 2),
refs AS (
  SELECT event_type, CAST(sum(cnt) // count(*) AS BIGINT) AS ref,
         count(*) AS n_days
  FROM daily GROUP BY 1),
prefixed AS (
  SELECT daily.event_type, d, ref, n_days,
         sum(cnt - ref) OVER (PARTITION BY daily.event_type ORDER BY d
                              ROWS UNBOUNDED PRECEDING) AS p
  FROM daily JOIN refs USING (event_type)),
stepped AS (
  SELECT event_type, d, ref, n_days,
         CAST(p - least(min(p) OVER (PARTITION BY event_type ORDER BY d
                                     ROWS UNBOUNDED PRECEDING), 0)
              AS BIGINT) AS s
  FROM prefixed)
SELECT event_type, n_days, ref,
       CAST(max(s) AS BIGINT) AS max_cusum,
       CAST(count(CASE WHEN s > 4 * ref THEN 1 END) AS BIGINT) AS n_alarm_days,
       CAST(min(CASE WHEN s > 4 * ref THEN d END) AS VARCHAR) AS first_alarm_day
FROM stepped
GROUP BY 1, 2, 3
"""


SPECS = [
    QuerySpec("interval_overlap_events", interval_overlap_events, INTERVAL_OVERLAP_ORACLE, "bucketed interval self-join vs naive quadratic oracle"),
    QuerySpec("tumbling_hourly_events", tumbling_hourly, TUMBLING_ORACLE, "tumbling window"),
    QuerySpec("first_event_per_user", first_event_per_user, FIRST_EVENT_ORACLE, "W3 first-match"),
    QuerySpec("input_length_stats_events", input_length_stats_events, INPUT_LENGTH_ORACLE, "A11 describe"),
    QuerySpec("sliding_hourly_events", sliding_hourly, SLIDING_ORACLE, "sliding window"),
    QuerySpec("sliding_topk_event_types", sliding_topk_event_types, SLIDING_TOPK_ORACLE, "windowed heavy hitters: top-3 types per sliding window"),
    QuerySpec("hourly_anomaly_events", hourly_anomaly_events, HOURLY_ANOMALY_ORACLE, "trailing-24h anomaly flags, cross-multiplied integer predicate"),
    QuerySpec("session_windows_events", session_windows, SESSION_ORACLE, "session window"),
    QuerySpec("event_gap_stats", event_gap_stats, EVENT_GAP_ORACLE, "lag analytics"),
    QuerySpec("scd2_user_state", scd2_user_state, SCD2_ORACLE, "SCD2 temporal versioning"),
    QuerySpec("cusum_drift_events", cusum_drift_events, CUSUM_ORACLE, "CUSUM sustained-shift detection in window closed form (prefix sum minus running min)"),
    QuerySpec("incremental_cusum_drift", incremental_cusum_drift, INCREMENTAL_CUSUM_ORACLE, "streaming CUSUM fold replayed as sequential micro-batch chunks, pending-day semantics value-gated"),
]


def chi2_weekday_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for event_type × ISO weekday
    (`operators/relational.py::chi2_independence_cells`): is event mix
    independent of the day of week?  Observed counts are exact
    bigints; expected/contribution doubles are one fixed expression
    shape per cell (no distributed float sum — see the operator
    docstring), so DuckDB reproduces every cell bit-for-bit.  Weekday
    is Spark ``weekday(ts) + 1`` == DuckDB ``isodow`` (Monday=1)."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        chi2_independence_cells,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.weekday("ts") + 1).cast("bigint").alias("isodow")
    )
    return chi2_independence_cells(ev, "event_type", "isodow")


CHI2_WEEKDAY_ORACLE = """
WITH cells AS (
  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS isodow,
         count(*) AS observed
  FROM events GROUP BY 1, 2),
rt AS (SELECT event_type, CAST(sum(observed) AS BIGINT) AS r FROM cells GROUP BY 1),
ct AS (SELECT isodow, CAST(sum(observed) AS BIGINT) AS c FROM cells GROUP BY 1),
t AS (SELECT CAST(sum(observed) AS BIGINT) AS t FROM cells)
SELECT cells.event_type, cells.isodow, observed,
       CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS expected,
       (CAST(observed AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
       * (CAST(observed AS DOUBLE) - CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
       / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) AS contrib
FROM cells JOIN rt USING (event_type) JOIN ct USING (isodow), t
"""


SPECS += [
    QuerySpec(
        "chi2_weekday_events",
        chi2_weekday_events,
        CHI2_WEEKDAY_ORACLE,
        "chi-square independence cells (event mix x weekday), per-cell fixed-shape doubles",
    ),
]


_XCORR_MAX_LAG = 3


def leadlag_xcorr_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation matrix over the event stream
    (`operators/relational.py::leadlag_xcorr`): for every ordered
    event-type pair and lag 0..3 days, the Pearson correlation of
    type a's daily count with type b's count `lag` days LATER — the
    discovery report behind "which behaviors lead which".  Daily
    counts collapse first (the only row-sized shuffle); cells are
    |types|²·4; moment sums exact bigints, r one fixed double shape +
    correctly-rounded sqrt."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        leadlag_xcorr,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast(
            "bigint"
        ).alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return leadlag_xcorr(
        daily, "event_type", "day", "cnt", max_lag=_XCORR_MAX_LAG
    )


XCORR_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
         count(*) AS cnt
  FROM events GROUP BY 1, 2),
cells AS (
  SELECT a.event_type AS key_a, b.event_type AS key_b, l.lag,
         count(*) AS n,
         CAST(sum(a.cnt) AS BIGINT) AS sa,
         CAST(sum(b.cnt) AS BIGINT) AS sb,
         CAST(sum(a.cnt * a.cnt) AS BIGINT) AS saa,
         CAST(sum(b.cnt * b.cnt) AS BIGINT) AS sbb,
         CAST(sum(a.cnt * b.cnt) AS BIGINT) AS sab
  FROM daily a
  CROSS JOIN (SELECT unnest(generate_series(0, {_XCORR_MAX_LAG})) AS lag) l
  JOIN daily b ON b.day = a.day + l.lag
  GROUP BY 1, 2, 3)
SELECT key_a, key_b, lag, n,
       -- greatest(..., 0.0) mirrors the engine's clamp of the
       -- double-rounded variance term (see leadlag_xcorr)
       CASE WHEN sqrt(greatest(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE), 0.0)) <> 0.0
             AND sqrt(greatest(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE), 0.0)) <> 0.0
            THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / (sqrt(greatest(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE), 0.0))
                    * sqrt(greatest(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE), 0.0)))
       END AS r
FROM cells
"""


SPECS += [
    QuerySpec(
        "leadlag_xcorr_event_types",
        leadlag_xcorr_event_types,
        XCORR_ORACLE,
        "lead-lag cross-correlation matrix; aligned-time equi-join, bigint moment sums",
    ),
]
