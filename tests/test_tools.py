"""Regression tests for the repo-root measurement tools.

bench_diff's classification must not use a union noise band: bench.py
records ``queries[name] == spread[name]["min"]``, so a band that unions
both runs' spreads always contains the new value and every regression
reads as within-noise (round-6 review finding).
"""

import ast
import importlib
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
TOOLS = REPO / "tools"


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


def _load_tool(name):
    """A ``tools/`` script as a module, loaded by path the way it runs."""
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_profile_records(spark, sf_dir):
    """One record per gate with every layer counted, its output rows and
    its static and executed plan facts; a raising gate yields an ``err``
    record; the py4j patch is gone afterwards.  Two sizes give each gate
    a sub-record per size and their scaling exponents."""
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
    gp = _load_tool("gate_profile")
    recs = list(gp.profile_gates(spark, sf_dir, gates, runs=1))

    assert [r["gate"] for r in recs] == list(gates)
    for rec in recs[:2]:
        assert "err" not in rec, rec
        assert rec["round_trips"] > 0
        assert rec["jobs"] >= 1 and rec["stages"] >= 1 and rec["tasks"] >= 1
        assert rec["shuffle_write_bytes"] > 0
        assert sum(rec["phases_ms"].values()) > 0
        assert rec["construct_best_ms"] == rec["construct_median_ms"] > 0
        assert rec["rows"] > 0
        assert set(rec["plan"]) == {"static", "executed"}
        assert rec["plan"]["executed"]["reused_exchanges"] >= 0
        assert rec["plan"]["static"]["exchanges"] >= 1
    for plan in recs[0]["plan"].values():
        assert plan["python"] == ""
    # the executed plan is the final AQE plan, counted without the
    # initial plan printed beside it: q1's one shuffle stays one, and
    # the LSH self-join reads one of its shuffles twice
    assert recs[0]["plan"]["executed"]["exchanges"] == recs[0]["plan"]["static"]["exchanges"]
    executed = recs[1]["plan"]["executed"]
    assert executed["reused_exchanges"] > 0 and executed["aqe_shuffle_reads"] > 0
    assert "gate construction failed" in recs[2]["err"]
    assert cs.ClientServerConnection.send_command is send_command

    # q1 returns one row per (returnflag, linestatus) pair: 6 at every size
    small, big = (os.path.join(os.path.dirname(sf_dir), s) for s in ("sf0.001", "sf0.01"))
    (rec,) = gp.profile_gates(spark, [small, big], {"q1_pricing_summary": q["q1_pricing_summary"]}, runs=1)
    assert rec[gp.size_label(small)]["rows"] == rec[gp.size_label(big)]["rows"] == 6
    assert rec["alpha"]["rows"] == 0.0
    assert rec["alpha"]["execute_best_s"] is not None


def test_alpha_floors_and_small_byte_sides():
    """Scaling exponents floor times at 0.01 s and counts at 1, and a
    byte metric (gate or streaming state) whose small side holds 0.05 MB
    or less has none."""
    small = {"execute_best_s": 0.001, "rows": 0, "shuffle_write_bytes": 1e6, "state_bytes_max": 9e3}
    big = {"execute_best_s": 0.1, "rows": 100, "shuffle_write_bytes": 1e7, "state_bytes_max": 9e4}
    assert _load_tool("gate_profile").alpha(small, big) == {
        "execute_best_s": 1.0, "rows": 2.0, "shuffle_write_bytes": 1.0, "state_bytes_max": None,
    }


@pytest.mark.parametrize("path", sorted(TOOLS.glob("*.py")), ids=lambda p: p.stem)
def test_tool_imports_resolve(path, monkeypatch):
    """Every tool loads with ``tools/`` on ``sys.path``, as when it runs,
    and every name it imports, in ``main`` too, exists: deleting a
    helper another tool still uses fails here, not on the next run."""
    monkeypatch.syspath_prepend(str(TOOLS))
    _load_tool(path.stem)
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.module != "__future__":
            mod = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(mod, alias.name), f"{path.name}: {node.module}.{alias.name}"
        elif isinstance(node, ast.Import):
            for alias in node.names:
                importlib.import_module(alias.name)


def test_scale_gates_are_registry_gates():
    from swisscourtrulingcorpus_spark.plans.registry import queries

    names = [n for n, _ in _load_tool("scale_measure").QUERIES]
    assert len(names) == len(set(names))
    assert set(names) <= set(queries())


def test_synth_10x_replicates_and_refuses_an_existing_dst(spark, sf_dir, tmp_path):
    """Each replicated table holds 10x its source rows, and a second
    synthesis into the same dir raises instead of keeping the first
    one's tables (which could come from another source)."""
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    synth_10x = _load_tool("scale_measure").synth_10x
    dst = str(tmp_path / "x10")
    synth_10x(spark, sf_dir, dst)
    for t in ("documents", "lineitem", "events"):
        assert load_table(spark, dst, t).count() == 10 * load_table(spark, sf_dir, t).count(), t
    with pytest.raises(FileExistsError):
        synth_10x(spark, sf_dir, dst)
