"""Round-9 regression tests: the r08 ADVICE fixes and the bucketed
nearest-join rewrite (VERDICT r08 "what's wrong" #2).

Reference parity context: these harden operators already mapped in
VERDICT r08 §2.3/§2.10 — no new reference surface.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest


class _FakeState:
    """Minimal GroupState stand-in for driving the stateful update
    functions directly (exists/get/update are the only members the
    folds touch)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _ewma_reference(times):
    last, n, s = -1, 0, 0
    for us in times:
        if last >= 0:
            g = us - last
            n += 1
            s = g if n == 1 else (3 * g + 5 * s) // 8
        last = us
    return n, s


def test_stateful_ewma_multichunk_group_order():
    """applyInPandasWithState delivers ONE group as MULTIPLE Arrow
    chunks in arbitrary order (default 10k rows/chunk); the fold must
    materialize + sort the whole group, not each chunk independently
    (ADVICE r08 medium).  Drive _update_ewma directly with shuffled
    chunk splits and compare against the sequential reference."""
    from swisscourtrulingcorpus_spark.streaming.stateful import _update_ewma

    rng = random.Random(9)
    times = sorted(rng.sample(range(0, 10_000_000), 57))
    rows = [{"us": t, "event_id": i} for i, t in enumerate(times)]
    want = _ewma_reference(times)

    for trial in range(5):
        shuffled = rows[:]
        rng.shuffle(shuffled)
        # split the shuffled group into 3 unsorted chunks
        cuts = sorted(rng.sample(range(1, len(rows)), 2))
        chunks = [
            pd.DataFrame(shuffled[: cuts[0]]),
            pd.DataFrame(shuffled[cuts[0] : cuts[1]]),
            pd.DataFrame(shuffled[cuts[1] :]),
        ]
        state = _FakeState()
        out = list(_update_ewma((7,), iter(chunks), state))
        assert len(out) == 1
        got = (int(out[0]["n_gaps"][0]), int(out[0]["ewma_gap_us"][0]))
        assert got == want, f"trial {trial}: {got} != {want}"
        # state carries (last, n, s); last must be the true max time
        assert state.get[0] == times[-1]


def test_stateful_ewma_multichunk_carries_state_across_batches():
    """Chunked delivery must compose with cross-batch state exactly as
    single-chunk delivery does."""
    from swisscourtrulingcorpus_spark.streaming.stateful import _update_ewma

    times = [100, 250, 900, 1400, 5000, 5100, 9999]
    want = _ewma_reference(times)
    state = _FakeState()
    # batch 1: first four rows as two unsorted chunks
    b1 = [{"us": t, "event_id": i} for i, t in enumerate(times[:4])]
    list(
        _update_ewma(
            (1,),
            iter([pd.DataFrame(b1[2:]), pd.DataFrame(b1[:2])]),
            state,
        )
    )
    # batch 2: remaining rows, again chunked out of order
    b2 = [{"us": t, "event_id": i + 4} for i, t in enumerate(times[4:])]
    out = list(
        _update_ewma(
            (1,),
            iter([pd.DataFrame(b2[1:]), pd.DataFrame(b2[:1])]),
            state,
        )
    )
    got = (int(out[0]["n_gaps"][0]), int(out[0]["ewma_gap_us"][0]))
    assert got == want


def test_media_sniffer_bm_prefixed_text_falls_through():
    """A UTF-8 text document that happens to start with 'BM' (the BMP
    magic) must not be dropped as 'unknown' — on image-decode failure
    the router falls through to the text SimHash (ADVICE r08 low)."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        _thash_value,
        media_fingerprint_rows,
    )

    doc = b"BM25 scoring ranks documents by term frequency and length"
    rows = media_fingerprint_rows([(1, doc)])
    assert rows == [
        {"doc_id": 1, "modality": "text", "fp": _thash_value(doc)}
    ]
    assert rows[0]["fp"] is not None

    # genuinely undecodable binary without any known magic stays unknown
    junk = b"BM\x00\xff\xfe\x01binary"
    rows = media_fingerprint_rows([(2, junk)])
    assert rows[0]["modality"] == "unknown" and rows[0]["fp"] is None


def test_ordered_funnel_quoted_step_names(spark):
    """Step names containing quotes must survive the unpivot (ADVICE
    r08 low: the old stack() string interpolation broke at analysis
    time)."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        ordered_funnel,
    )

    ev = spark.createDataFrame(
        [
            (1, "add'to\"cart", "2024-01-01 10:00:00"),
            (1, "buy", "2024-01-01 11:00:00"),
            (2, "add'to\"cart", "2024-01-01 10:00:00"),
        ],
        "user_id: long, event_type: string, ts: string",
    ).selectExpr("user_id", "event_type", "CAST(ts AS timestamp) AS ts")
    got = {
        (r.step_idx, r.step): r.n_users
        for r in ordered_funnel(ev, ["add'to\"cart", "buy"]).collect()
    }
    assert got == {(0, "add'to\"cart"): 2, (1, "buy"): 1}


def _brute_nearest(left_rows, right_rows, tol):
    """Pure-python reference: per left row, min (|d|, r_time, payload)
    struct over in-band right rows of the same key."""
    best = {}
    for lk, lt, lid in left_rows:
        cands = [
            (abs(rt - lt), rt, rid)
            for rk, rt, rid in right_rows
            if rk == lk and abs(rt - lt) <= tol
        ]
        if cands:
            best[(lk, lt, lid)] = min(cands)
    return {
        (lk, lid): (rid, d) for (lk, lt, lid), (d, rt, rid) in best.items()
    }


def test_nearest_join_bucketed_equals_bruteforce(spark):
    """Property test for the bucketed rewrite: random keyed point sets
    (including one HEAVY key holding half the rows — the shape the old
    per-key pairing was quadratic on) must match the brute-force
    nearest-within-tolerance reference exactly."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        nearest_join,
    )

    rng = random.Random(99)
    tol = 1000
    # heavy key 0 gets ~half of all rows; times cluster so bucket
    # boundaries (multiples of tol) are crossed often; include
    # negative times to exercise the floor arithmetic.
    def mk(n, id0):
        rows = []
        for i in range(n):
            k = 0 if rng.random() < 0.5 else rng.randrange(1, 6)
            t = rng.randrange(-5000, 50_000)
            rows.append((k, t, id0 + i))
        return rows

    left_rows, right_rows = mk(120, 1000), mk(150, 2000)
    left = spark.createDataFrame(
        left_rows, "k: long, l_us: long, left_id: long"
    )
    right = spark.createDataFrame(
        right_rows, "k: long, r_us: long, right_id: long"
    )
    got = {
        (r.k, r.left_id): (r.right_id, r.distance)
        for r in nearest_join(
            left, right, ["k"], "l_us", "r_us",
            tolerance=tol, right_payload=["right_id", "r_us"],
        ).collect()
    }
    assert got == _brute_nearest(left_rows, right_rows, tol)
    assert len(got) > 0


def test_nearest_join_payload_name_collision(spark):
    """A right payload column sharing a name with a non-key left
    column must not raise an ambiguity error (ADVICE r08 low): the
    right side is internally __nj_-prefixed."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        nearest_join,
    )

    left = spark.createDataFrame(
        [(1, 1000, "L")], "k: long, l_us: long, tag: string"
    )
    right = spark.createDataFrame(
        [(1, 1050, "R1"), (1, 1500, "R2")],
        "k: long, r_us: long, score: string",
    )
    # collide on purpose: rename right's payload to 'tag'
    right = right.withColumnRenamed("score", "tag")
    rows = nearest_join(
        left,
        right,
        ["k"],
        "l_us",
        "r_us",
        tolerance=200,
        right_payload=["tag", "r_us"],
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # left's tag survives under its own name; right's collided payload
    # is restored as the struct field in the output columns
    assert r.distance == 50 and r.r_us == 1050


def test_nearest_join_rejects_column_tolerance(spark):
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.relational import (
        nearest_join,
    )

    df = spark.createDataFrame([(1, 1)], "k: long, t: long")
    with pytest.raises(TypeError):
        nearest_join(df, df, ["k"], "t", "t", tolerance=F.lit(5))
    with pytest.raises(ValueError):
        nearest_join(df, df, ["k"], "t", "t", tolerance=0)


def test_cdc_vectorized_equals_sequential_reference():
    """The numpy windowed-polynomial CDC (one np.correlate pass) must
    produce byte-identical cut points to the sequential pure-Python
    recurrence `_cdc_cut_points_py` on arbitrary unicode — including
    astral code points (cp < 2^21 keeps the int64 dot product exact)
    and every short-string edge."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        CDC_WINDOW,
        _cdc_cut_points_py,
        cdc_cut_points,
    )

    rng = random.Random(42)
    alphabet = "abcdefgh \n.,:é漢💡\U0010ffff"
    for _ in range(300):
        n = rng.randrange(0, 500)
        t = "".join(rng.choice(alphabet) for _ in range(n))
        assert cdc_cut_points(t) == _cdc_cut_points_py(t)
    for edge in ("", "x", "x" * (CDC_WINDOW - 1), "x" * CDC_WINDOW):
        assert cdc_cut_points(edge) == _cdc_cut_points_py(edge)
    big = "".join(rng.choice(alphabet) for _ in range(100_000))
    assert cdc_cut_points(big) == _cdc_cut_points_py(big)


def test_distributed_corpus_generator_matches_sequential_shape(spark):
    """`raw_corpus_df_distributed` must agree with the sequential
    fixture on every rng-FREE field (spider/chamber/lang/date/outcome/
    citations are pure arithmetic on the id) and differ only in the
    judge-name draws; the schema must be identical so the pipeline is
    oblivious to which generator fed it."""
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        build_raw_corpus,
        raw_corpus_df,
        raw_corpus_df_distributed,
    )

    n = 200
    seq = {r["file_name"]: r for r in build_raw_corpus(n)}
    dist = {
        r["file_name"]: r.asDict()
        for r in raw_corpus_df_distributed(spark, n, parts=8).collect()
    }
    assert set(seq) == set(dist)
    rngfree = [
        "spider", "chamber", "lang", "true_outcome",
        "cited_year", "cited_page",
    ]
    for fn, s in seq.items():
        d = dist[fn]
        for c in rngfree:
            assert d[c] == s[c], (fn, c)
    assert (
        raw_corpus_df(spark, 10).schema
        == raw_corpus_df_distributed(spark, 10).schema
    )


def test_raw_corpus_none_int_stays_bigint(spark, monkeypatch):
    """A None-able int field keeps the pinned ``bigint`` type with a
    null; pandas on its own would turn the column into ``double``."""
    from pyspark.sql.types import LongType

    from swisscourtrulingcorpus_spark.sources import domain_fixtures

    row = domain_fixtures._decision_row

    def none_on_odd(i, rng):
        return {**row(i, rng), "cited_year": None} if i % 2 else row(i, rng)

    monkeypatch.setattr(domain_fixtures, "_decision_row", none_on_odd)
    df = domain_fixtures.raw_corpus_df(spark, 4)
    assert df.schema["cited_year"].dataType == LongType()
    years = sorted((r.cited_year for r in df.collect()), key=str)
    assert years == [120, 122, None, None]


def test_cms_join_size_overestimates_and_converges(spark):
    """CMS inner-product join-size estimate (Cormode-Muthukrishnan):
    always >= the exact equi-join cardinality (collision cross-terms
    are non-negative), and EQUAL to it when the width is collision-
    free for the key domain."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.sketches import (
        cms_join_size,
        cms_table,
    )

    rng = random.Random(7)
    a_keys = [rng.randrange(0, 25) for _ in range(400)]
    b_keys = [rng.randrange(0, 25) for _ in range(300)]
    a = spark.createDataFrame([(str(k),) for k in a_keys], "k: string")
    b = spark.createDataFrame([(str(k),) for k in b_keys], "k: string")
    exact = a.join(b, on="k").count()

    for width, must_equal in ((16, False), (4096, True)):
        est = cms_join_size(
            cms_table(a, "k", width=width, depth=4),
            cms_table(b, "k", width=width, depth=4),
        ).collect()[0].est_join_size
        assert est >= exact, (width, est, exact)
        if must_equal:
            assert est == exact, (width, est, exact)


def test_ols_trend_recovers_known_line(spark):
    """ols_trend must recover an exact integer line perfectly and emit
    NULL slope for a single-x group (zero denominator) instead of a
    fake fit."""
    from swisscourtrulingcorpus_spark.operators.relational import ols_trend

    rows = [("g1", x, 7 * x + 300) for x in range(0, 50)]
    rows += [("flat", 5, 123), ("flat", 5, 125)]
    df = spark.createDataFrame(rows, "g: string, x: long, y: long")
    got = {r.g: r for r in ols_trend(df, ["g"], "x", "y").collect()}
    assert got["g1"].slope == 7.0 and got["g1"].intercept == 300.0
    assert got["g1"].n == 50
    assert got["flat"].slope is None and got["flat"].intercept is None


def test_cusum_closed_form_equals_sequential_fold(spark):
    """The window closed form s_t = P_t - min(0, min P_j) must equal
    the sequential CUSUM fold max(0, s+x-ref) on a planted drift
    series, and the alarm day must be the true onset region."""
    import datetime

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.plans.window_queries import (
        cusum_drift_events,
    )

    # build an events parquet with one type drifting upward: 30 days
    # of 10/day then 20 days of 30/day
    import tempfile

    counts = [10] * 30 + [30] * 20
    rows = []
    eid = 0
    for day, c in enumerate(counts):
        d = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day)
        for j in range(c):
            rows.append((eid, 1, "drift", d + datetime.timedelta(seconds=j), 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id: long, user_id: long, event_type: string, ts: timestamp, value: double"
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(tmp + "/events.parquet")
    got = {
        r.event_type: r for r in cusum_drift_events(spark, tmp).collect()
    }["drift"]

    ref = sum(counts) // len(counts)
    s, max_s, alarms, first_alarm = 0, 0, 0, None
    for day, c in enumerate(counts):
        s = max(0, s + c - ref)
        max_s = max(max_s, s)
        if s > 4 * ref:
            alarms += 1
            if first_alarm is None:
                first_alarm = day
    assert got.ref == ref and got.n_days == 50
    assert got.max_cusum == max_s
    assert got.n_alarm_days == alarms and alarms > 0
    want_day = (
        datetime.date(2024, 1, 1) + datetime.timedelta(days=first_alarm)
    ).isoformat()
    assert got.first_alarm_day == want_day
    assert first_alarm >= 30  # alarm fires after the onset, not before


def test_pearson_matrix_matches_numpy(spark):
    import numpy as np

    from swisscourtrulingcorpus_spark.operators.relational import (
        pearson_matrix,
    )

    rng = random.Random(5)
    xs = [rng.randrange(1, 50) for _ in range(500)]
    ys = [2 * x + rng.randrange(-5, 6) for x in xs]
    zs = [rng.randrange(0, 10) for _ in xs]  # independent
    const = [7] * len(xs)  # zero variance -> NULL r
    df = spark.createDataFrame(
        list(zip(xs, ys, zs, const)), "x: long, y: long, z: long, c: long"
    )
    got = {
        (r.col_x, r.col_y): r.r
        for r in pearson_matrix(df, ["x", "y", "z", "c"]).collect()
    }
    want_xy = np.corrcoef(xs, ys)[0, 1]
    want_xz = np.corrcoef(xs, zs)[0, 1]
    assert abs(got[("x", "y")] - want_xy) < 1e-12 and got[("x", "y")] > 0.99
    assert abs(got[("x", "z")] - want_xz) < 1e-12
    assert got[("x", "c")] is None and got[("y", "c")] is None


def test_stream_cusum_equals_batch_closed_form(spark, sf_dir, tmp_path):
    """The stateful streaming CUSUM (sequential per-day fold with the
    in-progress day carried in state) must equal the batch gate's
    window closed form when events arrive day-ordered: feed the corpus
    in three disjoint time ranges plus one sentinel day (to fold the
    final real day — the streaming op's documented pending-day
    semantics), then compare per-type max_cusum / n_alarm_days /
    first_alarm_day."""
    import datetime
    import os

    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.plans.window_queries import (
        cusum_drift_events,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        cusum_drift_stream,
    )

    batch = {r.event_type: r for r in cusum_drift_events(spark, sf_dir).collect()}
    refs = {t: r.ref for t, r in batch.items()}
    hs = {t: 4 * r.ref for t, r in batch.items()}

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel_day = (max_ts + datetime.timedelta(days=2)).replace(
        hour=0, minute=0, second=0, microsecond=0
    )
    sentinel = spark.createDataFrame(
        [(t, sentinel_day) for t in refs],
        "event_type: string, ts: timestamp",
    )
    cuts = [
        r[0]
        for r in ev.select(
            F.percentile_approx("ts", [0.34, 0.67], 10000).alias("p")
        ).select(F.explode("p")).collect()
    ]
    chunks = [
        ev.where(F.col("ts") < cuts[0]),
        ev.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.where(F.col("ts") >= cuts[1]),
        sentinel,
    ]
    stage = str(tmp_path / "ev_in")
    os.makedirs(stage, exist_ok=True)
    out_dir = str(tmp_path / "cusum_out")
    schema = ev.schema
    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).write.parquet(os.path.join(stage, f"chunk={i}"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1000)
            .parquet(stage + "/*")
        )

        def _sink(b, bid):
            if b.count():
                b.write.mode("append").parquet(out_dir)

        q = (
            cusum_drift_stream(stream, refs, hs)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = {
        r.event_type: r
        for r in spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.max(
                F.struct(
                    "days_folded", "max_cusum", "n_alarm_days",
                    "first_alarm_day",
                )
            ).alias("m")
        )
        .select("event_type", "m.*")
        .collect()
    }
    assert set(got) == set(batch)
    for t, b in batch.items():
        g = got[t]
        assert g.days_folded == b.n_days, (t, g.days_folded, b.n_days)
        assert g.max_cusum == b.max_cusum, t
        assert g.n_alarm_days == b.n_alarm_days, t
        assert g.first_alarm_day == b.first_alarm_day, t


def test_nearest_join_rejects_fractional_tolerance(spark):
    from swisscourtrulingcorpus_spark.operators.relational import (
        nearest_join,
    )

    df = spark.createDataFrame([(1, 1)], "k: long, t: long")
    with pytest.raises(ValueError, match="integral"):
        nearest_join(df, df, ["k"], "t", "t", tolerance=2.5)


def test_pearson_matrix_underscore_column_names(spark):
    """Index-based moment aliases: pairs (a, b_c) and (a_b, c) must
    not collide (name-concatenated aliases were ambiguous)."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        pearson_matrix,
    )

    rows = [(i, i + 1, 2 * i, 3 * i) for i in range(20)]
    df = spark.createDataFrame(rows, "a: long, b_c: long, a_b: long, c: long")
    out = pearson_matrix(df, ["a", "b_c", "a_b", "c"]).collect()
    assert len(out) == 6
    assert all(abs(r.r - 1.0) < 1e-12 for r in out)  # all exact lines


def test_cms_join_size_empty_side_is_zero(spark):
    from swisscourtrulingcorpus_spark.operators.sketches import (
        cms_join_size,
        cms_table,
    )

    a = spark.createDataFrame([("1",), ("2",)], "k: string")
    empty = a.where("k = 'nope'")
    est = cms_join_size(
        cms_table(a, "k", width=16, depth=4),
        cms_table(empty, "k", width=16, depth=4),
    ).collect()[0].est_join_size
    assert est == 0


def test_cusum_stream_skips_unknown_type():
    """A type with no history-derived reference must be skipped, not
    crash the stream (a raise would poison the checkpoint)."""
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        make_cusum_update,
    )

    upd = make_cusum_update({"known": 5}, {"known": 20})
    state = _FakeState()
    out = list(
        upd(("unknown",), iter([pd.DataFrame({"day": ["2024-01-01"]})]), state)
    )
    assert out == [] and not state.exists


def test_exact_kth_value_matches_sorted(spark):
    """Distributed selection: exact k-th smallest for k across the
    whole range, including duplicates, negatives, and the all-equal
    degenerate domain — against plain sorted()."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        exact_kth_value,
    )

    rng = random.Random(11)
    vals = [rng.randrange(-(10**7), 10**7) for _ in range(3000)] + [42] * 40
    df = spark.createDataFrame([(v,) for v in vals], "v: long").cache()
    df.count()
    sv = sorted(vals)
    for k in (1, 2, 1500, 1520, len(vals) - 1, len(vals)):
        assert exact_kth_value(df, "v", k, bins=64) == sv[k - 1]
    allsame = spark.createDataFrame([(7,)] * 9, "v: long")
    assert exact_kth_value(allsame, "v", 5) == 7
    with pytest.raises(ValueError):
        exact_kth_value(df, "v", 0)
    df.unpersist()


def test_chi2_independence_cells_and_total(spark):
    """Per-cell chi2 contributions must match the textbook formula,
    expected counts must sum to observed counts, and chi2_total must
    equal the python reference summed in the same sorted order."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        chi2_independence_cells,
        chi2_total,
    )

    rng = random.Random(13)
    rows = [
        (rng.choice(["a", "b", "c"]), rng.choice([1, 2, 3, 4]))
        for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, "g: string, d: long")
    cells = chi2_independence_cells(df, "g", "d")
    got = {(r.g, r.d): r for r in cells.collect()}

    from collections import Counter

    obs = Counter(rows)
    rt = Counter(g for g, _ in rows)
    ct = Counter(d for _, d in rows)
    n = len(rows)
    assert set(got) == set(obs)
    for (g, d), r in got.items():
        e = rt[g] * ct[d] / n
        assert abs(r.expected - e) < 1e-9
        assert abs(r.contrib - (obs[(g, d)] - e) ** 2 / e) < 1e-9
        assert r.observed == obs[(g, d)]
    # expected sums to n (within float tolerance)
    assert abs(sum(r.expected for r in got.values()) - n) < 1e-6

    tot = chi2_total(cells, "g", "d")
    want = sum(
        (obs[k] - rt[k[0]] * ct[k[1]] / n) ** 2 / (rt[k[0]] * ct[k[1]] / n)
        for k in sorted(obs)
    )
    assert abs(tot["chi2"] - want) < 1e-9
    assert tot["dof"] == (3 - 1) * (4 - 1) and tot["n_cells"] == len(obs)


def _auc_reference(pairs):
    """O(P*N) textbook AUC: mean over (pos, neg) pairs of
    1 if sp > sn, 0.5 if tie, else 0."""
    pos = [s for s, y in pairs if y]
    neg = [s for s, y in pairs if not y]
    if not pos or not neg:
        return None
    num = 0.0
    for sp in pos:
        for sn in neg:
            num += 1.0 if sp > sn else (0.5 if sp == sn else 0.0)
    return num / (len(pos) * len(neg))


def test_exact_auc_matches_pairwise_reference(spark):
    from swisscourtrulingcorpus_spark.operators.classifier import exact_auc

    rng = random.Random(21)
    # heavy ties: scores drawn from a small integer domain
    pairs = [
        (rng.randrange(-5, 6), rng.random() < 0.4) for _ in range(300)
    ]
    df = spark.createDataFrame(pairs, "s: long, y: boolean")
    row = exact_auc(df, "s", "y").collect()[0]
    want = _auc_reference(pairs)
    assert abs(row.auc - want) < 1e-12
    assert row.auc_num % 1 == 0 and row.auc_den == 2 * row.n_pos * row.n_neg
    # perfect separation -> 1.0 exactly; single class -> NULL
    sep = spark.createDataFrame(
        [(10, True), (11, True), (1, False)], "s: long, y: boolean"
    )
    assert exact_auc(sep, "s", "y").collect()[0].auc == 1.0
    mono = spark.createDataFrame([(1, True), (2, True)], "s: long, y: boolean")
    assert exact_auc(mono, "s", "y").collect()[0].auc is None


def test_audience_overlap_matches_reference(spark, sf_dir):
    """The exact Jaccard gate must agree with a pure-python set
    computation over the same (user, type) pairs."""
    from swisscourtrulingcorpus_spark.plans.sketch_queries import (
        audience_overlap_event_types,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    audiences = {}
    for r in ev.distinct().collect():
        audiences.setdefault(r.event_type, set()).add(r.user_id)
    got = {
        (r.type_a, r.type_b): (r.n_both, r.jaccard)
        for r in audience_overlap_event_types(spark, sf_dir).collect()
    }
    types = sorted(audiences)
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            inter = len(audiences[a] & audiences[b])
            if inter == 0:
                assert (a, b) not in got
                continue
            union = len(audiences[a] | audiences[b])
            nb, j = got[(a, b)]
            assert nb == inter and abs(j - inter / union) < 1e-12


def test_exact_kth_value_weighted(spark):
    """Weighted selection: the k-th element by cumulative weight must
    equal the k-th of the weight-expanded multiset."""
    from swisscourtrulingcorpus_spark.operators.relational import (
        exact_kth_value,
    )

    rng = random.Random(17)
    rows = [(rng.randrange(-500, 500), rng.randrange(1, 7)) for _ in range(800)]
    df = spark.createDataFrame(rows, "v: long, w: long").cache()
    df.count()
    expanded = sorted(v for v, w in rows for _ in range(w))
    W = len(expanded)
    for k in (1, W // 4, (W + 1) // 2, W):
        assert (
            exact_kth_value(df, "v", k, bins=64, weight_col="w")
            == expanded[k - 1]
        )
    df.unpersist()


def test_expect_functional_dependency(spark):
    """FD check: a holding dependency reports 0 violating groups; a
    planted violation is counted once per violating lhs group."""
    from swisscourtrulingcorpus_spark.operators.expectations import (
        expect_functional_dependency,
    )

    rows = [
        (1, "a", 10), (1, "a", 10), (2, "b", 20),
        (3, "c", 30), (3, "c", 31),      # lhs 3 violates k->v
        (4, "d", 40), (4, "e", 40),      # lhs 4 violates k->name only
    ]
    df = spark.createDataFrame(rows, "k: long, name: string, v: long")
    fd_v = expect_functional_dependency(df, "t", ["k"], "v").collect()[0]
    assert (fd_v.violations, fd_v.total) == (1, 4)
    fd_n = expect_functional_dependency(df, "t", ["k"], "name").collect()[0]
    assert (fd_n.violations, fd_n.total) == (1, 4)
    fd_c = expect_functional_dependency(
        df, "t", ["k", "name"], "k"
    ).collect()[0]
    assert fd_c.violations == 0


def test_calibration_table_semantics(spark):
    """Monotone scores + labels above a cutoff => top buckets pure
    positive, bottom pure negative; bucket sizes are decile-balanced
    for distinct scores; n < buckets raises."""
    from swisscourtrulingcorpus_spark.operators.classifier import (
        calibration_table,
    )

    rows = [(i, i >= 60) for i in range(100)]  # distinct scores
    df = spark.createDataFrame(rows, "s: long, y: boolean")
    got = {r.bucket: r for r in calibration_table(df, "s", "y").collect()}
    assert set(got) == set(range(1, 11))
    assert all(r.n_rows == 10 for r in got.values())
    for b in (1, 2, 3, 4, 5, 6):
        assert got[b].n_pos == 0 and got[b].pos_rate == 0.0
    for b in (8, 9, 10):
        assert got[b].n_pos == 10 and got[b].pos_rate == 1.0
    # heavy ties: one value dominating collapses deciles deterministically
    tied = spark.createDataFrame(
        [(5, False)] * 95 + [(9, True)] * 5, "s: long, y: boolean"
    )
    tb = {r.bucket: r for r in calibration_table(tied, "s", "y").collect()}
    assert tb[1].n_rows == 95 and tb[10].n_rows == 5
    with pytest.raises(ValueError):
        calibration_table(
            spark.createDataFrame([(1, True)], "s: long, y: boolean"),
            "s",
            "y",
        )


def test_cdc_cut_points_hypothesis():
    """Hypothesis sweep: for ANY unicode text, the vectorized cut
    points equal the sequential reference, end with len(text), and are
    strictly increasing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from swisscourtrulingcorpus_spark.operators.dedup import (
        _cdc_cut_points_py,
        cdc_cut_points,
    )

    @settings(deadline=None, max_examples=200)
    @given(st.text(max_size=300))
    def check(text):
        got = cdc_cut_points(text)
        assert got == _cdc_cut_points_py(text)
        if text:
            assert got[-1] == len(text)
            assert all(a < b for a, b in zip(got, got[1:]))
        else:
            assert got == []

    check()


def test_exact_kth_bucket_arithmetic_hypothesis():
    """Hypothesis sweep of the selection bucket arithmetic alone (no
    Spark): for any value multiset and any k, walking the bucket
    histogram with the ceil/floor bounds must locate exactly the
    sorted k-th element.  Mirrors exact_kth_value's narrowing loop in
    pure python so the arithmetic is fuzzed at scale-free speed."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    BINS = 7  # small bins stress the boundary arithmetic hardest

    def kth(vals, k):
        lo, hi = min(vals), max(vals)
        while hi > lo:
            span = hi - lo + 1
            hist = {}
            for v in vals:
                if lo <= v <= hi:
                    hist[(v - lo) * BINS // span] = (
                        hist.get((v - lo) * BINS // span, 0) + 1
                    )
            acc = 0
            for b in sorted(hist):
                if acc + hist[b] >= k:
                    new_lo = lo + -(-(b * span) // BINS)
                    new_hi = min(hi, lo + ((b + 1) * span - 1) // BINS)
                    k -= acc
                    lo, hi = new_lo, new_hi
                    break
                acc += hist[b]
        return lo

    @settings(deadline=None, max_examples=300)
    @given(
        st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=60),
        st.data(),
    )
    def check(vals, data):
        k = data.draw(st.integers(1, len(vals)))
        assert kth(vals, k) == sorted(vals)[k - 1]

    check()


def test_ewma_chunk_invariance_hypothesis():
    """Hypothesis: the stateful EWMA fold is invariant to HOW a batch
    is chunked and to chunk order (the r09 materialize-then-sort
    contract)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from swisscourtrulingcorpus_spark.streaming.stateful import _update_ewma

    @settings(deadline=None, max_examples=100)
    @given(
        st.lists(
            st.integers(0, 10**9), min_size=2, max_size=40, unique=True
        ),
        st.data(),
    )
    def check(times, data):
        times = sorted(times)
        rows = [{"us": t, "event_id": i} for i, t in enumerate(times)]
        want = _ewma_reference(times)

        perm = data.draw(st.permutations(rows))
        n_cuts = data.draw(st.integers(0, min(3, len(rows) - 1)))
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(1, len(rows) - 1),
                    min_size=n_cuts,
                    max_size=n_cuts,
                    unique=True,
                )
            )
        )
        chunks, prev = [], 0
        for c in [*cuts, len(rows)]:
            chunks.append(pd.DataFrame(perm[prev:c]))
            prev = c
        state = _FakeState()
        out = list(_update_ewma((1,), iter(chunks), state))
        got = (int(out[0]["n_gaps"][0]), int(out[0]["ewma_gap_us"][0]))
        assert got == want

    check()


def _gini_reference(vals):
    xs = sorted(vals)
    n = len(xs)
    s = sum(xs)
    if s == 0:
        return None
    return (2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s) / (
        n * s
    )


def test_exact_gini_matches_reference(spark):
    """Exact Gini vs the textbook sorted-rank formula: random values
    with heavy ties, the all-equal case (G = 0), maximal concentration
    (G -> (n-1)/n), and the zero-total NULL."""
    from swisscourtrulingcorpus_spark.operators.relational import exact_gini

    rng = random.Random(23)
    vals = [rng.randrange(0, 50) for _ in range(400)]
    df = spark.createDataFrame([(v,) for v in vals], "v: long")
    row = exact_gini(df, "v").collect()[0]
    assert abs(row.gini - _gini_reference(vals)) < 1e-12
    assert row.gini_den == row.n * row.total

    equal = spark.createDataFrame([(7,)] * 20, "v: long")
    assert exact_gini(equal, "v").collect()[0].gini == 0.0

    conc = spark.createDataFrame([(0,)] * 9 + [(100,)], "v: long")
    r = exact_gini(conc, "v").collect()[0]
    assert abs(r.gini - 0.9) < 1e-12  # (n-1)/n with n=10

    zero = spark.createDataFrame([(0,)] * 5, "v: long")
    assert exact_gini(zero, "v").collect()[0].gini is None


def test_benford_audit_shape(spark, sf_dir):
    """The Benford audit must cover exactly digits 1-9 with observed
    counts summing to the positive-value row count and expected counts
    summing to ~n (the constants sum to 1)."""
    from swisscourtrulingcorpus_spark.plans.relational_queries import (
        benford_audit_orders,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    rows = benford_audit_orders(spark, sf_dir).collect()
    assert sorted(r.digit for r in rows) == list(range(1, 10))
    n = sum(r.observed for r in rows)
    assert abs(sum(r.expected for r in rows) - n) < 1e-6
    assert all(r.contrib >= 0 for r in rows)


def test_leadlag_xcorr_detects_planted_lag(spark):
    """A series b that is exactly a shifted copy of a must correlate
    r = 1.0-ish at the planted lag and lower elsewhere; self-pairs at
    lag 0 are exactly 1.0; results match a numpy reference."""
    import numpy as np

    from swisscourtrulingcorpus_spark.operators.relational import (
        leadlag_xcorr,
    )

    rng = random.Random(29)
    days = list(range(60))
    xa = [rng.randrange(0, 100) for _ in days]
    SHIFT = 2
    # b mirrors a two days later (b[t] = a[t-2]), plus noise-free copy
    rows = [("a", d, xa[d]) for d in days]
    rows += [("b", d, xa[d - SHIFT]) for d in days if d >= SHIFT]
    df = spark.createDataFrame(rows, "k: string, t: long, v: long")
    got = {
        (r.key_a, r.key_b, r.lag): (r.n, r.r)
        for r in leadlag_xcorr(df, "k", "t", "v", max_lag=3).collect()
    }
    assert abs(got[("a", "a", 0)][1] - 1.0) < 1e-12
    n, r = got[("a", "b", SHIFT)]
    assert r is not None and abs(r - 1.0) < 1e-12  # exact shifted copy
    # numpy check on one other cell
    for lag in (0, 1, 3):
        n, r = got[("a", "b", lag)]
        a_al = [xa[d] for d in days if d + lag >= SHIFT and d + lag < 60]
        b_al = [xa[d + lag - SHIFT] for d in days if d + lag >= SHIFT and d + lag < 60]
        assert n == len(a_al)
        want = np.corrcoef(a_al, b_al)[0, 1]
        assert abs(r - want) < 1e-10, (lag, r, want)
