"""Property-based tests (hypothesis) for the subtle operators.

These check INVARIANTS rather than examples: the as-of join against a
brute-force per-row reference, binary-judgment normalization's set
semantics, clean_text idempotence, and MinHash's similarity-estimate
behavior on controlled corpora.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.extraction.cleaning import clean_text_py
from swisscourtrulingcorpus_spark.functions.domain import (
    normalize_binary_judgment,
)

# Slow tier (pytest.ini): multi-minute suite, deselected from the
# default run so the round driver's pytest window completes.
pytestmark = pytest.mark.slow

# ---------------------------------------------------------- clean_text

@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_clean_text_idempotent(s):
    once = clean_text_py(s)
    assert clean_text_py(once) == once


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_clean_text_no_forbidden_chars(s):
    out = clean_text_py(s)
    assert "\x00" not in out
    assert "  " not in out
    assert "__" not in out


# ------------------------------------------- binary judgment semantics

_OUTCOMES = [
    "approval", "partial_approval", "dismissal", "partial_dismissal",
    "inadmissible", "write_off", "unification",
]


def _normalize_py(labels: list[str]) -> str | None:
    """Reference semantics in plain Python (the oracle for the Spark
    column expression)."""
    if not labels:
        return None
    stripped = {l.removeprefix("partial_") for l in labels}
    substantive = stripped - {"write_off", "unification", "inadmissible"}
    if "approval" in substantive and "dismissal" in substantive:
        return None
    if len(substantive) == 1:
        return next(iter(substantive))
    return None


@given(st.lists(st.sampled_from(_OUTCOMES), max_size=4))
@settings(max_examples=60, deadline=None)
def test_binary_judgment_matches_python_model(labels):
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    df = spark.createDataFrame([(labels,)], "labels: array<string>")
    got = df.select(
        normalize_binary_judgment("labels").alias("out")
    ).first().out
    assert got == _normalize_py(labels), (labels, got)


# --------------------------------------------------- order invariance

@given(st.permutations(["partial_approval", "write_off", "inadmissible"]))
@settings(max_examples=6, deadline=None)
def test_binary_judgment_order_invariant(perm):
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    df = spark.createDataFrame([(list(perm),)], "labels: array<string>")
    got = df.select(normalize_binary_judgment("labels").alias("o")).first().o
    assert got == "approval"


# ------------------------------------------------- LSH band-key packing

@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**32 - 1),
            st.integers(min_value=0, max_value=2**32 - 1),
        ),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=40, deadline=None)
def test_band_key_packing_bijective(pairs):
    """`_banded`'s shiftleft|OR packing must bucket two docs together
    exactly when their band's (mh_hi, mh_lo) pair is identical — an
    exact bijection for 2 rows/band, no collisions (unlike a hashed
    concat).  Checked against the Python model of the same packing."""
    from swisscourtrulingcorpus_spark.operators.dedup import _banded
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    rows = [(i, int(a), int(b)) for i, (a, b) in enumerate(pairs)]
    sig = spark.createDataFrame(rows, "id: int, mh0: bigint, mh1: bigint")
    got = {
        r.id: r.band_key
        for r in _banded(sig, "id", num_hashes=2, bands=1).collect()
    }
    # Python model: value in the upper 32 bits, interpreted as signed 64
    model = {
        i: (a << 32 | b) - (1 << 64 if (a << 32 | b) >= 1 << 63 else 0)
        for i, (a, b) in enumerate(pairs)
    }
    assert got == model
    # bijection: equal keys <=> equal pairs
    for i, (a1, b1) in enumerate(pairs):
        for j, (a2, b2) in enumerate(pairs):
            assert (model[i] == model[j]) == ((a1, b1) == (a2, b2))


# --------------------------------------- shuffle-rank partition invariance

def test_shuffle_rank_partition_invariant():
    """deterministic_shuffle_sql (the training_shuffle_rank gate's path)
    must produce the SAME rank for every row no matter how many range
    partitions execute it — the claim that lets the same code run at
    local[2] and on 1000 executors.  Its range exchange is
    ``spark.sql.shuffle.partitions`` wide; AQE coalescing is off so
    that width is the one that runs."""
    from conftest import explain_plan_str

    from swisscourtrulingcorpus_spark.operators.training import (
        deterministic_shuffle_sql,
    )
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    df = spark.range(0, 257).select(F.col("id").alias("doc_id"))
    confs = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k) for k in confs}
    baseline = None
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        for n in (1, 3, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            ranked = spark.sql(deterministic_shuffle_sql("{df}", "doc_id"), df=df)
            # a one-partition range exchange plans as SinglePartition
            width = "SinglePartition" if n == 1 else rf"rangepartitioning\([^)]*, {n}\)"
            assert re.search(
                rf"{width}, REPARTITION_BY_COL", explain_plan_str(ranked)
            ), f"range exchange is not {n} partitions wide"
            got = {r.doc_id: r.shuffle_rank for r in ranked.collect()}
            assert sorted(got.values()) == list(range(1, 258))
            if baseline is None:
                baseline = got
            else:
                assert got == baseline, f"ranks differ at {n} shuffle partitions"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_parallel_rank_matches_window_prefix_sum():
    """parallel_rank (the r11 window-free rank: range partition + local
    sort + monotonically_increasing_id arithmetic) must agree with the
    generic window-based parallel_prefix_sum(value=1) on a frame WITH a
    payload column, at several partition counts — including the
    empty-partition and single-partition edges."""
    from swisscourtrulingcorpus_spark.operators.training import (
        parallel_prefix_sum,
        parallel_rank,
    )
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    df = spark.range(0, 211).selectExpr(
        "id",
        "md5(cast(id as string)) AS k",
        "repeat('p', cast(id % 7 as int)) AS payload",
    )
    want = {
        (r.id, r.payload): r.rk
        for r in parallel_prefix_sum(
            df, [F.col("k"), F.col("id")], F.lit(1), "rk"
        ).collect()
    }
    for n in (1, 2, 5, 300):  # 300 > row count -> empty partitions
        got = {
            (r.id, r.payload): r.rk
            for r in parallel_rank(
                df, [F.col("k"), F.col("id")], "rk", num_partitions=n
            ).collect()
        }
        assert got == want, f"parallel_rank diverged at num_partitions={n}"


# ------------------------------------------- pack_sequences invariants

def test_pack_sequences_partition_invariant_and_contiguous():
    """pack_sequences must (a) assign the same layout at any
    parallelism and (b) lay tokens out contiguously: sorted by
    token_start, each doc starts exactly where the previous one ended,
    and pack_id/pack_offset are consistent with token_start."""
    from swisscourtrulingcorpus_spark.operators.training import pack_sequences
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    df = spark.range(0, 101).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n")
    )
    baseline = None
    for n_parts in (1, 4, 9):
        rows = pack_sequences(
            df, "n", "doc_id", context_len=64, num_partitions=n_parts
        ).collect()
        got = {r.doc_id: (r.token_start, r.pack_id, r.pack_offset) for r in rows}
        if baseline is None:
            baseline = got
            ordered = sorted(rows, key=lambda r: r.token_start)
            pos = 0
            for r in ordered:
                assert r.token_start == pos
                assert r.pack_id == pos // 64
                assert r.pack_offset == pos % 64
                pos += r.n_tokens
            assert pos == sum(i % 37 + 1 for i in range(101))
        else:
            assert got == baseline, f"layout differs at num_partitions={n_parts}"


def test_pii_redaction_families():
    """Each PII family redacts its canonical Swiss shapes and leaves
    clean text untouched."""
    from swisscourtrulingcorpus_spark.functions.redaction import redact_pii
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    cases = [
        ("a", "Schreiben Sie an hans.muster+ag@bger.ch bitte",
         "Schreiben Sie an <EMAIL> bitte"),
        ("b", "Tel. +41 44 123 45 67 oder 0041 21 555 11 22",
         "Tel. <PHONE> oder <PHONE>"),
        ("c", "AHV-Nr. 756.9217.0769.85 der Partei",
         "AHV-Nr. <AHV> der Partei"),
        ("d", "Konto CH93 0076 2011 6238 5295 7 bei der Bank",
         "Konto <IBAN> bei der Bank"),
        ("e", "Urteil vom 12. Juni 2020, BGE 141 III 28",
         "Urteil vom 12. Juni 2020, BGE 141 III 28"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "id: string, text: string"
    )
    got = {r.id: r.red for r in df.select("id", redact_pii("text").alias("red")).collect()}
    for i, _, want in cases:
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_domain_mix_sample_rates_and_stability():
    """domain_mix_sample hits target rates approximately, drops
    rate-0 groups exactly, keeps rate-1 groups exactly, and adding
    rows never flips an existing row's keep/drop."""
    from swisscourtrulingcorpus_spark.operators.training import domain_mix_sample
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "id: long, grp: string")
    rates = {"a": 0.5, "b": 0.0, "c": 1.0}
    kept = domain_mix_sample(df, "grp", "id", rates).collect()
    by_grp: dict[str, set] = {}
    for r in kept:
        by_grp.setdefault(r.grp, set()).add(r.id)
    assert "b" not in by_grp
    assert len(by_grp["c"]) == 1000
    assert abs(len(by_grp["a"]) / 1000 - 0.5) < 0.06
    # growth stability: the kept set over a prefix is the prefix of the
    # kept set over the full corpus
    prefix_kept = {
        r.id
        for r in domain_mix_sample(
            df.where(F.col("id") < 1500), "grp", "id", rates
        ).collect()
    }
    full_kept = {r.id for r in kept}
    assert prefix_kept == {i for i in full_kept if i < 1500}


def test_scd2_history_semantics():
    """SCD2: no-op updates compact away, intervals chain exactly, last
    version per key is current."""
    from swisscourtrulingcorpus_spark.operators.relational import scd2_history
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="prop", master="local[2]")
    rows = [
        # key, ts, state, seq   (b at t3 is a no-op repeat)
        ("u1", 1, "a", 1), ("u1", 2, "b", 2), ("u1", 3, "b", 3),
        ("u1", 4, "c", 4),
        ("u2", 5, "x", 5),
    ]
    df = spark.createDataFrame(rows, "k: string, t: long, s: string, i: long")
    got = {
        (r.k, r.s): (r.valid_from, r.valid_to, r.is_current)
        for r in scd2_history(df, "k", "t", "s", tiebreak_col="i").collect()
    }
    assert got == {
        ("u1", "a"): (1, 2, False),
        ("u1", "b"): (2, 4, False),   # t3 repeat compacted; closed by c at t4
        ("u1", "c"): (4, None, True),
        ("u2", "x"): (5, None, True),
    }


# --------------------------------- ROUGE/BLEU vs pure-python reference

def _py_ngrams(tokens, n):
    return [tuple(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]


def _py_clipped(cand, ref):
    from collections import Counter

    cc, rc = Counter(cand), Counter(ref)
    return sum(min(cc[g], rc[g]) for g in cc)


def _py_rouge_n(cand, ref, n):
    cg, rg = _py_ngrams(cand, n), _py_ngrams(ref, n)
    ov = _py_clipped(cg, rg)
    p = ov / len(cg) if cg else 0.0
    r = ov / len(rg) if rg else 0.0
    f1 = 2 * p * r / (p + r) if p + r > 0 else 0.0
    return p, r, f1


def _py_bleu(cand, ref, max_n=4):
    import math

    if not cand or not ref:
        return 0.0
    log_sum = 0.0
    for n in range(1, max_n + 1):
        cg, rg = _py_ngrams(cand, n), _py_ngrams(ref, n)
        p_n = _py_clipped(cg, rg) / len(cg) if cg else 0.0
        if p_n == 0:
            return 0.0
        log_sum += math.log(p_n)
    bp = 1.0 if len(cand) >= len(ref) else math.exp(1.0 - len(ref) / len(cand))
    return bp * math.exp(log_sum / max_n)


_token = st.sampled_from(["a", "b", "c", "ab", "the", "la"])


@given(
    st.lists(_token, max_size=12),
    st.lists(_token, max_size=12),
)
@settings(max_examples=30, deadline=None)
def test_rouge_bleu_match_python_reference(cand, ref):
    # hypothesis can't inject fixtures — grab the session started by
    # the surrounding run (conftest keeps one per process)
    from swisscourtrulingcorpus_spark.session import get_spark
    from swisscourtrulingcorpus_spark.functions.text import (
        bleu_score,
        rouge_n_scores,
    )
    import math

    spark = get_spark()
    df = spark.createDataFrame(
        [(cand, ref)], "cand array<string>, ref array<string>"
    )
    r1 = rouge_n_scores("cand", "ref", 1)
    r2 = rouge_n_scores("cand", "ref", 2)
    row = df.select(
        r1["precision"].alias("p1"),
        r1["recall"].alias("rr1"),
        r1["f1"].alias("f1"),
        r2["f1"].alias("f2"),
        bleu_score("cand", "ref").alias("bleu"),
    ).collect()[0]
    ep1, er1, ef1 = _py_rouge_n(cand, ref, 1)
    _, _, ef2 = _py_rouge_n(cand, ref, 2)
    assert math.isclose(row["p1"], ep1, abs_tol=1e-12)
    assert math.isclose(row["rr1"], er1, abs_tol=1e-12)
    assert math.isclose(row["f1"], ef1, abs_tol=1e-12)
    assert math.isclose(row["f2"], ef2, abs_tol=1e-12)
    assert math.isclose(row["bleu"], _py_bleu(cand, ref), abs_tol=1e-12)


# ------------------------------------ span occlusion reconstruction

@given(st.text(alphabet="abc XYZ.", min_size=1, max_size=60), st.data())
@settings(max_examples=30, deadline=None)
def test_occlude_spans_reconstruction(text, data):
    """occluded_text spliced back at `start` reconstructs the input."""
    from swisscourtrulingcorpus_spark.operators.annotation import occlude_spans
    from swisscourtrulingcorpus_spark.session import get_spark

    start = data.draw(st.integers(min_value=1, max_value=len(text)))
    length = data.draw(st.integers(min_value=0, max_value=len(text) - start + 1))
    spark = get_spark()
    df = spark.createDataFrame(
        [("c", text, [{"start": start, "length": length, "label": "L"}])],
        "id string, facts string, "
        "spans array<struct<start:int,length:int,label:string>>",
    )
    row = occlude_spans(df, "facts", "spans", ["id"]).collect()[0]
    rebuilt = (
        row["text"][: start - 1] + row["occluded_text"] + row["text"][start - 1:]
    )
    assert rebuilt == text


def test_parallel_prefix_sum_matches_naive(spark):
    """Property: the two-phase prefix sum equals the naive sequential
    prefix over the sorted order, for random values and any
    parallelism (it now underpins shuffle rank, packing and length
    shards)."""
    import random

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.training import (
        parallel_prefix_sum,
    )

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(500)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id: long, v: long")
    for parts in (None, 3, 17):
        got = {
            r["id"]: r["pfx"]
            for r in parallel_prefix_sum(
                df, [F.col("id")], F.col("v"), "pfx", parts
            ).collect()
        }
        acc = 0
        for i, v in sorted(rows):
            acc += v
            assert got[i] == acc, (parts, i)
