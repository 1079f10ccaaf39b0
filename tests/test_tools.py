"""Regression tests for the repo-root measurement tools.

bench_diff's classification must not use a union noise band: bench.py
records ``queries[name] == spread[name]["min"]``, so a band that unions
both runs' spreads always contains the new value and every regression
reads as within-noise (round-6 review finding).
"""

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _run_diff(tmp_path, old, new):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps(new))
    res = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_diff.py"), str(a), str(b)],
        capture_output=True,
        text=True,
        check=True,
    )
    return res.stdout


def _bench(value, queries, spread):
    return {"value": value, "queries": queries, "spread": spread}


def test_disjoint_regression_is_flagged(tmp_path):
    # new spread entirely above old spread -> REGRESSED even though
    # both files carry spread (the union-band bug reported this as
    # within-noise).
    out = _run_diff(
        tmp_path,
        _bench(1.0, {"q1": 1.0}, {"q1": {"min": 1.0, "median": 1.05, "max": 1.1}}),
        _bench(2.0, {"q1": 2.0}, {"q1": {"min": 2.0, "median": 2.1, "max": 2.2}}),
    )
    assert "REGRESSED" in out


def test_overlapping_spread_is_noise(tmp_path):
    out = _run_diff(
        tmp_path,
        _bench(1.0, {"q1": 1.0}, {"q1": {"min": 1.0, "median": 1.2, "max": 1.5}}),
        _bench(1.3, {"q1": 1.3}, {"q1": {"min": 1.3, "median": 1.4, "max": 1.6}}),
    )
    assert "within-noise" in out
    assert "REGRESSED" not in out


def test_disjoint_improvement_is_flagged(tmp_path):
    out = _run_diff(
        tmp_path,
        _bench(2.0, {"q1": 2.0}, {"q1": {"min": 2.0, "median": 2.1, "max": 2.2}}),
        _bench(1.0, {"q1": 1.0}, {"q1": {"min": 1.0, "median": 1.05, "max": 1.1}}),
    )
    assert "IMPROVED" in out


def test_removed_query_is_reported(tmp_path):
    # a query that vanishes between rounds must not silently read as a
    # total-time improvement.
    out = _run_diff(
        tmp_path,
        _bench(2.0, {"q1": 1.0, "q2": 1.0}, {}),
        _bench(1.0, {"q1": 1.0}, {}),
    )
    assert "REMOVED" in out


def test_new_query_is_reported(tmp_path):
    out = _run_diff(
        tmp_path,
        _bench(1.0, {"q1": 1.0}, {}),
        _bench(2.0, {"q1": 1.0, "q2": 1.0}, {}),
    )
    assert "NEW" in out


def _load_gate_profile():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "gate_profile", REPO / "tools" / "gate_profile.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_profile_records(spark, sf_dir):
    """One record per gate with every layer counted; a raising gate
    yields an ``err`` record; the py4j patch is gone afterwards."""
    import py4j.clientserver as cs

    from swisscourtrulingcorpus_spark.plans.registry import queries

    send_command = cs.ClientServerConnection.send_command
    q = queries()

    def broken(spark, sf_dir):
        raise ValueError("gate construction failed")

    gates = {
        "q1_pricing_summary": q["q1_pricing_summary"],
        "minhash_lsh_pairs": q["minhash_lsh_pairs"],
        "broken": broken,
    }
    recs = list(_load_gate_profile().profile_gates(spark, sf_dir, gates, runs=1))

    assert [r["gate"] for r in recs] == list(gates)
    for rec in recs[:2]:
        assert "err" not in rec, rec
        assert rec["round_trips"] > 0
        assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
        assert rec["shuffle_write_bytes"] > 0
        assert sum(rec["phases_ms"].values()) > 0
        assert rec["construct_best_ms"] == rec["construct_median_ms"] > 0
    assert "gate construction failed" in recs[2]["err"]
    assert cs.ClientServerConnection.send_command is send_command
