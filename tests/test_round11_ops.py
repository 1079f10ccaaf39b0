"""Round-11 operators: the grouped two-sample KS (one prefix-sum pass
for every slice, zero driver collects), the multi-column prefix-sum
form, and the streaming PSI register twin."""

import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F


# --- parallel_prefix_sums (multi-column) -----------------------------------


def test_prefix_sums_multi_equals_stacked_singles(spark):
    from swisscourtrulingcorpus_spark.operators.training import (
        parallel_prefix_sum,
        parallel_prefix_sums,
    )

    rng = random.Random(11)
    rows = [(i, rng.randrange(-50, 50), rng.randrange(0, 9)) for i in range(500)]
    df = spark.createDataFrame(rows, "k: long, a: long, b: long")
    multi = {
        r["k"]: (r["ca"], r["cb"])
        for r in parallel_prefix_sums(
            df,
            [F.col("k")],
            [(F.col("a"), "ca"), (F.col("b"), "cb")],
        ).collect()
    }
    s1 = {
        r["k"]: r["ca"]
        for r in parallel_prefix_sum(df, [F.col("k")], F.col("a"), "ca").collect()
    }
    s2 = {
        r["k"]: r["cb"]
        for r in parallel_prefix_sum(df, [F.col("k")], F.col("b"), "cb").collect()
    }
    assert multi == {k: (s1[k], s2[k]) for k in s1}
    # pure-python check of one column
    run, ref = 0, {}
    for k, a, _ in sorted(rows):
        run += a
        ref[k] = run
    assert {k: v[0] for k, v in multi.items()} == ref


def test_prefix_sums_duplicate_out_cols_fail_loudly(spark):
    from swisscourtrulingcorpus_spark.operators.training import (
        parallel_prefix_sums,
    )

    df = spark.createDataFrame([(1, 2)], "k: long, a: long")
    with pytest.raises(ValueError, match="duplicate"):
        parallel_prefix_sums(
            df, [F.col("k")], [(F.col("a"), "x"), (F.col("a"), "x")]
        )


# --- ks_two_sample_by -------------------------------------------------------


def _ks_reference(vals):
    """vals: list of (value, is_a). Exact D as (d_num, d_den)."""
    na = sum(1 for _, a in vals if a)
    nb = len(vals) - na
    per = defaultdict(lambda: [0, 0])
    for v, a in vals:
        per[v][0 if a else 1] += 1
    cum, best = 0, 0
    for v in sorted(per):
        ca, cb = per[v]
        cum += nb * ca - na * cb
        best = max(best, abs(cum))
    return na, nb, best, na * nb


def test_ks_by_matches_per_slice_form(spark):
    """Per slice, the grouped KS equals the per-pair ks_two_sample on
    that slice's rows; slices with an empty side are omitted."""
    from swisscourtrulingcorpus_spark.operators.drift import (
        ks_two_sample,
        ks_two_sample_by,
    )

    rng = random.Random(13)
    rows = []
    for s, shift in [("r1", 0), ("r2", 30), ("r3", -5)]:
        for i in range(200):
            g = "A" if rng.random() < 0.5 else "B"
            v = rng.randrange(0, 100) + (shift if g == "A" else 0)
            rows.append((s, v, g))
    # an extra slice with ONLY group A -> must be omitted
    rows += [("empty_b", rng.randrange(0, 100), "A") for _ in range(20)]
    df = spark.createDataFrame(rows, "s: string, v: long, g: string")
    got = {
        r["slice"]: (r["n_a"], r["n_b"], r["d_num"], r["d_den"], r["d"])
        for r in ks_two_sample_by(df, "v", "g", "A", "B", "s").collect()
    }
    assert set(got) == {"r1", "r2", "r3"}
    for s in ["r1", "r2", "r3"]:
        one = ks_two_sample(
            df.where(F.col("s") == s), "v", "g", "A", "B"
        ).collect()[0]
        assert got[s] == (
            one["n_a"], one["n_b"], one["d_num"], one["d_den"], one["d"]
        ), s
        na, nb, dn, dd = _ks_reference(
            [(v, g == "A") for x, v, g in rows if x == s]
        )
        assert got[s][:4] == (na, nb, dn, dd), s


def test_ks_by_zero_driver_collects(spark, monkeypatch):
    """Building the grouped-KS plan must trigger NO driver collect and
    NO job (the per-pair form's totals collect is exactly what the
    grouped form exists to avoid)."""
    from pyspark.sql import DataFrame

    from swisscourtrulingcorpus_spark.operators.drift import ks_two_sample_by

    df = spark.createDataFrame(
        [("s", 1, "A"), ("s", 2, "B")], "s: string, v: long, g: string"
    )

    def _boom(self, *a, **k):
        raise AssertionError("driver collect during plan construction")

    monkeypatch.setattr(DataFrame, "collect", _boom)
    monkeypatch.setattr(DataFrame, "toPandas", _boom)
    out = ks_two_sample_by(df, "v", "g", "A", "B", "s")
    monkeypatch.undo()
    assert out.columns == ["slice", "n_a", "n_b", "d_num", "d_den", "d"]


def test_ks_by_single_prefix_pass_resets_at_slice_boundaries(spark):
    """The load-bearing algebra: one GLOBAL prefix sum over (slice,
    value) is exact per slice because each slice's diff terms sum to
    zero.  Adversarial check: slices whose cumulative diffs would
    poison a neighbor if the reset failed (all-A prefix then all-B)."""
    from swisscourtrulingcorpus_spark.operators.drift import ks_two_sample_by

    rows = (
        [("a", v, "A") for v in range(10)]
        + [("a", v + 100, "B") for v in range(10)]
        + [("b", v, "B") for v in range(10)]
        + [("b", v + 100, "A") for v in range(10)]
    )
    df = spark.createDataFrame(rows, "s: string, v: long, g: string")
    got = {
        r["slice"]: (r["d_num"], r["d_den"])
        for r in ks_two_sample_by(df, "v", "g", "A", "B", "s").collect()
    }
    # fully separated distributions: D = 1 in both slices
    assert got == {"a": (100, 100), "b": (100, 100)}


# --- PSI streaming register -------------------------------------------------


def test_psi_register_replay_chunk_invariant(spark):
    """The register fold is a pure count: any chunking (1, 2, 5
    batches) of any arrival order must yield the identical final
    register, union bins included."""
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        psi_register_batch_replay,
    )

    rng = random.Random(17)
    rows = [
        ("s", rng.randrange(0, 6), i) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "snapshot: string, bin: long, __ord: long")
    want = Counter(b for _, b, _ in rows)
    base_bins = [4, 5, 9]  # 9 never occurs live -> cnt 0 row
    results = []
    for n_batches in (1, 2, 5):
        got = {
            r["bin"]: r["cnt"]
            for r in psi_register_batch_replay(
                df, base_bins, n_batches=n_batches
            ).collect()
        }
        results.append(got)
    assert results[0] == results[1] == results[2]
    assert results[0][9] == 0
    assert {b: c for b, c in results[0].items() if c > 0} == dict(want)


def test_stream_psi_register_equals_batch_replay(spark, tmp_path):
    """The LIVE applyInPandasWithState stream over growing input must
    converge to the same final register as the batch replay (the gate
    evidence that `incremental_psi_drift` exercises the genuine
    streaming fold)."""
    import os

    from swisscourtrulingcorpus_spark.streaming.stateful import (
        psi_register_batch_replay,
        psi_register_stream,
    )

    rng = random.Random(19)
    rows = [("live", rng.randrange(0, 5), i) for i in range(300)]
    df = spark.createDataFrame(rows, "snapshot: string, bin: long, __ord: long")
    base_bins = [0, 1, 7]
    stage = str(tmp_path / "psi_in")
    os.makedirs(stage, exist_ok=True)
    out_dir = str(tmp_path / "psi_out")
    thirds = [rows[:100], rows[100:200], rows[200:]]
    for i, chunk in enumerate(thirds):
        spark.createDataFrame(
            chunk, "snapshot: string, bin: long, __ord: long"
        ).coalesce(1).write.parquet(os.path.join(stage, f"chunk={i}"))
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1000)
            .parquet(stage + "/*")
        )

        def _sink(b, bid):
            if b.count():
                b.write.mode("append").parquet(out_dir)

        q = (
            psi_register_stream(stream, base_bins)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    final_stream = {
        r["bin"]: r["cnt"]
        for r in spark.read.parquet(out_dir)
        .groupBy("bin")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    final_replay = {
        r["bin"]: r["cnt"]
        for r in psi_register_batch_replay(df, base_bins).collect()
    }
    assert final_stream == final_replay
    assert final_replay[7] == 0 and sum(final_replay.values()) == 300


# --- psi_table_by -----------------------------------------------------------


def test_psi_by_matches_per_slice_static_form(spark):
    """Per slice, the grouped PSI equals psi_table run on that slice's
    rows alone (probabilities normalize per slice); empty-side slices
    degrade to all-NULL contributions instead of disappearing."""
    from swisscourtrulingcorpus_spark.operators.drift import (
        psi_table,
        psi_table_by,
    )

    rng = random.Random(23)
    rows = []
    for s, shift in [("de", 0), ("fr", 2)]:
        for i in range(300):
            a = rng.random() < 0.5
            rows.append((s, rng.randrange(0, 5) + (shift if a else 0), a))
    # a slice where side B is entirely missing
    rows += [("it", rng.randrange(0, 5), True) for _ in range(30)]
    df = spark.createDataFrame(rows, "s: string, bin: long, a: boolean")
    got = {
        (r["slice"], r["bin"]): (r["cnt_a"], r["cnt_b"], r["psi_contrib_micro"])
        for r in psi_table_by(
            df, F.col("bin"), F.col("a"), F.col("s")
        ).collect()
    }
    for s in ["de", "fr"]:
        one = {
            r["bin"]: (r["cnt_a"], r["cnt_b"], r["psi_contrib_micro"])
            for r in psi_table(
                df.where(F.col("s") == s), F.col("bin"), F.col("a")
            ).collect()
        }
        assert {b: v for (sl, b), v in got.items() if sl == s} == one, s
    it_rows = {b: v for (sl, b), v in got.items() if sl == "it"}
    assert len(it_rows) == 5
    assert all(v[1] == 0 and v[2] is None for v in it_rows.values())


# --- cvm_two_sample ---------------------------------------------------------


def test_cvm_matches_reference(spark):
    """Exact CvM numerator equals the pure-python pooled sum; shifted
    distributions score higher than identical ones."""
    from decimal import Decimal

    from swisscourtrulingcorpus_spark.operators.drift import cvm_two_sample

    rng = random.Random(29)
    rows = [
        ("A" if rng.random() < 0.5 else "B", rng.randrange(0, 50))
        for _ in range(400)
    ]
    vals = [(v, g == "A") for g, v in rows]
    na = sum(1 for _, a in vals if a)
    nb = len(vals) - na
    per = defaultdict(lambda: [0, 0])
    for v, a in vals:
        per[v][0 if a else 1] += 1
    cum, u = 0, 0
    for v in sorted(per):
        ca, cb = per[v]
        cum += nb * ca - na * cb
        u += (ca + cb) * cum * cum
    df = spark.createDataFrame(rows, "g: string, v: long")
    got = cvm_two_sample(df, "v", "g", "A", "B").collect()[0]
    assert got["n_a"] == na and got["n_b"] == nb
    assert Decimal(got["u_num"]) == u
    assert Decimal(got["u_den"]) == na * nb * (na + nb) ** 2
    assert got["t"] == u / (na * nb * (na + nb) ** 2)
    # a clearly shifted pair scores higher
    shifted = spark.createDataFrame(
        [("A", v) for v in range(100)] + [("B", v + 60) for v in range(100)],
        "g: string, v: long",
    )
    t2 = cvm_two_sample(shifted, "v", "g", "A", "B").collect()[0]["t"]
    assert t2 > got["t"]


# --- js_token_divergence_by -------------------------------------------------


def test_js_by_matches_per_slice_form(spark):
    from swisscourtrulingcorpus_spark.operators.drift import (
        js_token_divergence,
        js_token_divergence_by,
    )

    rng = random.Random(37)
    toks = ["alpha", "beta", "gamma", "delta", "rare"]
    rows = []
    for s in ["de", "fr"]:
        for _ in range(500):
            w = [0.5, 0.2, 0.2, 0.05, 0.05] if s == "de" else [0.1, 0.4, 0.3, 0.1, 0.1]
            rows.append((s, rng.choices(toks, weights=w)[0], rng.random() < 0.5))
    df = spark.createDataFrame(rows, "s: string, t: string, a: boolean")
    got = {
        (r["slice"], r["token"]): (r["cnt_a"], r["cnt_b"], r["js_contrib_micro"])
        for r in js_token_divergence_by(
            df, F.col("t"), F.col("a"), F.col("s"), min_total=5
        ).collect()
    }
    for s in ["de", "fr"]:
        one = {
            r["token"]: (r["cnt_a"], r["cnt_b"], r["js_contrib_micro"])
            for r in js_token_divergence(
                df.where(F.col("s") == s), F.col("t"), F.col("a"), min_total=5
            ).collect()
        }
        assert {t: v for (sl, t), v in got.items() if sl == s} == one, s


# --- hypothesis property sweeps (round-11 statistics) -----------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_HSETTINGS = dict(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (slice in 3 values, value small-domain to force ties, group boolean)
_ks_rows = st.lists(
    st.tuples(
        st.sampled_from(["s1", "s2", "s3"]),
        st.integers(0, 6),
        st.booleans(),
    ),
    min_size=1,
    max_size=80,
)


@given(rows=_ks_rows)
@settings(**_HSETTINGS)
def test_ks_by_property(spark, rows):
    """Any slice/value/group draw (hypothesis finds all-one-group
    slices, single-value slices, heavy ties): per-slice grouped KS
    equals the pure-python reference; empty-side slices are omitted."""
    from swisscourtrulingcorpus_spark.operators.drift import ks_two_sample_by

    df = spark.createDataFrame(
        [(s, v, "A" if a else "B") for s, v, a in rows],
        "s: string, v: long, g: string",
    )
    got = {
        r["slice"]: (r["n_a"], r["n_b"], r["d_num"], r["d_den"])
        for r in ks_two_sample_by(df, "v", "g", "A", "B", "s").collect()
    }
    want = {}
    for s in {s for s, _, _ in rows}:
        vals = [(v, a) for ss, v, a in rows if ss == s]
        na, nb, dn, dd = _ks_reference(vals)
        if na > 0 and nb > 0:
            want[s] = (na, nb, dn, dd)
    assert got == want


_lr_rows = st.lists(
    st.tuples(st.integers(0, 8), st.booleans(), st.booleans()),
    min_size=1,
    max_size=60,
)


@given(subs=_lr_rows)
@settings(**_HSETTINGS)
def test_logrank_property(spark, subs):
    """Any duration/event/group draw (all-censored, one-group-empty,
    terminal-tie shapes): the log-rank table equals the pure-python
    reference row for row."""
    from test_influence_survival import _logrank_reference

    from swisscourtrulingcorpus_spark.operators.survival import logrank_table

    df = spark.createDataFrame(
        [(t, e, "A" if a else "B") for t, e, a in subs],
        "dur: long, ev: boolean, g: string",
    )
    got = [
        tuple(r)
        for r in logrank_table(df, "dur", "ev", "g", "A", "B")
        .orderBy("duration")
        .collect()
    ]
    assert got == _logrank_reference(subs)


def test_js_empty_side_slice_omitted_not_zero(spark):
    """A slice (or a whole input) with one side entirely empty has no
    defined JS divergence: the grouped form OMITS the slice and the
    static form emits an EMPTY report — never NaN-cast-to-0 rows
    masquerading as 'no drift' (r11 review)."""
    from swisscourtrulingcorpus_spark.operators.drift import (
        js_token_divergence,
        js_token_divergence_by,
    )

    rows = (
        [("ok", "tok", i % 2 == 0) for i in range(40)]
        + [("onesided", "tok", True) for _ in range(40)]
    )
    df = spark.createDataFrame(rows, "s: string, t: string, a: boolean")
    got = js_token_divergence_by(
        df, F.col("t"), F.col("a"), F.col("s"), min_total=5
    ).collect()
    assert {r["slice"] for r in got} == {"ok"}
    static = js_token_divergence(
        df.where(F.col("s") == "onesided"), F.col("t"), F.col("a"), min_total=5
    ).collect()
    assert static == []


# --- bh_step_up -------------------------------------------------------------


def _bh_reference(ps, alpha_micro=50_000):
    """ps: {key: p_micro}. Returns {key: significant}."""
    items = sorted(ps.items(), key=lambda kv: (kv[1], kv[0]))
    m = len(items)
    kmax = 0
    for k, (_, p) in enumerate(items, 1):
        if p * m <= k * alpha_micro:
            kmax = k
    return {key: (k <= kmax) for k, (key, _) in enumerate(items, 1)}


def test_bh_step_up_matches_reference(spark):
    from swisscourtrulingcorpus_spark.operators.drift import bh_step_up

    rng = random.Random(71)
    cases = [
        {f"s{i}": rng.randrange(0, 1_000_000) for i in range(30)},  # mixed
        {f"s{i}": 1_000_000 for i in range(10)},                    # none pass
        {f"s{i}": 0 for i in range(10)},                            # all pass
        {"a": 40_000, "b": 40_000, "c": 900_000},                   # p ties
    ]
    for ps in cases:
        df = spark.createDataFrame(
            list(ps.items()), "k: string, p_micro: long"
        )
        got = {
            r["k"]: r["significant"]
            for r in bh_step_up(df, "p_micro", "k").collect()
        }
        assert got == _bh_reference(ps), ps
        # BH monotonicity: the rejected set is a prefix of the p-order
        rows = bh_step_up(df, "p_micro", "k").collect()
        sig_ranks = sorted(r["p_rank"] for r in rows if r["significant"])
        assert sig_ranks == list(range(1, len(sig_ranks) + 1))


def test_bh_never_rejects_less_than_bonferroni_more_than_alpha_m(spark):
    """Structural: BH rejects at least everything Bonferroni would
    (p <= alpha/m) and nothing with p > alpha."""
    from swisscourtrulingcorpus_spark.operators.drift import bh_step_up

    rng = random.Random(73)
    ps = {f"s{i}": rng.randrange(0, 1_000_000) for i in range(50)}
    df = spark.createDataFrame(list(ps.items()), "k: string, p_micro: long")
    rows = bh_step_up(df, "p_micro", "k", alpha_micro=50_000).collect()
    m = len(ps)
    for r in rows:
        p = ps[r["k"]]
        if p * m <= 50_000:  # Bonferroni-significant
            assert r["significant"], r
        if p > 50_000:  # above alpha itself
            assert not r["significant"], r


def test_uuid5_col_bit_identical_to_stdlib(spark):
    """The JVM-side UUIDv5 expression (r11: replaced the pandas_udf)
    must reproduce uuid.uuid5(UUID(int=0), name) byte-for-byte,
    including NULL propagation, empty strings and non-ASCII input."""
    from swisscourtrulingcorpus_spark.extraction.ids import uuid5_col, uuid5_py

    names = [
        "",
        "a",
        "doc_0",
        "CH_BGer_001_2003.html",
        "Ürteil-1/2003 ä.pdf",
        "x" * 500,
        None,
        "tab\tand\nnewline",
        "emoji \U0001F600",
    ] + [f"doc_{i}" for i in range(50)]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {
        r["name"]: r["u"]
        for r in df.select("name", uuid5_col("name").alias("u")).collect()
    }
    for n in names:
        assert got[n] == uuid5_py(n), (n, got[n], uuid5_py(n))


def test_load_table_view_cache_selfjoin_and_invalidation(spark, tmp_path):
    """r11 session 2: load_table registers the prepared scan as a temp
    view and returns spark.table(view).  Two loads must still
    self-join with distinct expression IDs, and a rewritten file (new
    stat key) must be re-read — the view cache is metadata only."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    p = str(tmp_path / "t.parquet")
    spark.range(5).select(F.col("id").alias("k")).write.mode("overwrite").parquet(p)
    sf_dir, name = str(tmp_path), "t"

    a = load_table(spark, sf_dir, name)
    b = load_table(spark, sf_dir, name)
    joined = a.join(b, a["k"] == b["k"])
    assert joined.count() == 5  # equi self-join, no ambiguity error

    # second load hits the cache (same underlying view), still fresh
    assert a.schema == b.schema

    # rewrite with different contents -> stat key changes -> new data
    spark.range(8).select(F.col("id").alias("k")).write.mode("overwrite").parquet(p)
    c = load_table(spark, sf_dir, name)
    assert c.count() == 8


def test_load_table_rewrite_to_nanos_timestamp(spark, tmp_path):
    """A file rewritten in place with a TIMESTAMP(NANOS) column where
    it had a plain int64 one loads that column as a timestamp: the
    nanosecond columns are read from the file the view scans, not
    remembered per path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    sf_dir, ns = str(tmp_path), 1_700_000_000_000_000_000
    p = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.int64())}), p)
    assert load_table(spark, sf_dir, "t").dtypes == [("ts", "bigint")]

    pq.write_table(pa.table({"ts": pa.array([ns] * 3, pa.timestamp("ns"))}), p)
    df = load_table(spark, sf_dir, "t")
    assert df.dtypes == [("ts", "timestamp")]
    rows = df.selectExpr("unix_micros(ts) AS us").collect()
    assert [r.us for r in rows] == [ns // 1000] * 3
