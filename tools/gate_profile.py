#!/usr/bin/env python
"""Layer-by-layer profile of registry gates: one JSON record per gate.

Each gate is warmed once (construct, then a noop-sink execute), then
constructed and executed ``--runs`` more times.  A record holds the py4j
round trips of one construction (main thread), construct best/median ms,
execute best s, Catalyst phase ms, and, from Spark's status store, the
jobs, stages, tasks, shuffle-write bytes, spill bytes and peak execution
memory of the first measured iteration.  That window opens before
construction, so jobs a driver-report gate runs while being built count.
Taken outside the window: ``rows``, one ``count()`` of the output, and
``plan``, the ``plan_facts`` of two texts: ``static``, the formatted
explain of the warm-up construction before it runs, and ``executed``,
the status store's final (AQE) plan of the window's last execution, the
noop write.  A gate that raises gets an ``err`` record instead.  The
counters are ``perfbench/bench_trace.py``'s; cached plans and persisted
RDDs are dropped after each gate so no gate pays for its predecessors'
leftovers.

    python tools/gate_profile.py [GATE ... | headline | scale] [--sf DIR [DIR]] [--runs N] [--out FILE]

No gate names means the whole registry; ``headline`` is
``bench.HEADLINE``; ``scale`` is ``scale_measure.QUERIES``, whose
linear claim each record carries.  ``--sf`` defaults to
``$SPARK_GRAFT_SF_DIR``.  With two dirs (a small and a big size, e.g.
``scale_measure.py``'s 10x copy) a record holds one sub-record per dir,
keyed by the dir's base name, and their ``alpha``.  Records print as
JSON lines, then a totals line; ``--out`` also writes them as a JSON
list.  (Not ``profile.py``: the script's directory leads ``sys.path``,
and that name would shadow the stdlib module ``cProfile`` imports when
pyspark loads, breaking every script in ``tools/``.)
"""

from __future__ import annotations

import gc
import json
import math
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.bench_trace import (  # noqa: E402
    PHASES,
    Py4jCounter,
    drain_listener_bus,
    execution_count,
    harvest,
    phase_listener,
)

#: plan nodes that run Python: EvalPython covers Batch/ArrowEvalPython
#: (udf / pandas_udf); the map and grouped-map nodes are separate
_PYTHON_NODES = ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow")


def plan_facts(text: str) -> dict:
    """Exchange, join-strategy, pushed-scan and Python-node counts of a
    formatted physical plan.  ``exchanges`` counts every node whose name
    holds ``Exchange`` (broadcast and reused ones too); the two runtime
    counts read 0 in a plan that has not run."""
    return {
        "exchanges": text.count("Exchange"),
        "bhj": text.count("BroadcastHashJoin"),
        "smj": text.count("SortMergeJoin"),
        "bnlj": text.count("BroadcastNestedLoopJoin"),
        "pushed_scans": len(re.findall(r"PushedFilters: \[(?!\])", text)),
        "python": "yes" if any(k in text for k in _PYTHON_NODES) else "",
        "reused_exchanges": text.count("ReusedExchange"),
        "aqe_shuffle_reads": text.count("AQEShuffleRead"),
    }


def final_plan(text: str) -> str:
    """An executed formatted plan without the ``Initial Plan`` subtrees
    that an adaptive plan prints beside its final one, nor the detail
    entries of the nodes only those subtrees hold, so that
    ``plan_facts`` counts the nodes that ran."""
    kept, initial, shared, col = [], set(), set(), None
    for line in text.split("\n"):
        if col is not None and len(line) > col + 3 and not line[: col + 3].strip(" :|"):
            initial.update(re.findall(r" \((\d+)\)", line))
            continue
        col = None
        if "== Initial Plan ==" in line:
            col = line.index("== Initial Plan ==") - 3
            continue
        if not line.startswith("("):
            shared.update(re.findall(r" \((\d+)\)", line))
        kept.append(line)
    only_initial = initial - shared
    return "\n\n".join(
        block for block in "\n".join(kept).split("\n\n")
        # a detail entry starts "(id) Node"
        if (m := re.match(r"\((\d+)\) ", block)) is None or m.group(1) not in only_initial
    )


#: metric -> floor of its scaling exponent; the streaming state
#: measurement (``scale_measure.py``) shares the helper
_SCALED = {
    "execute_best_s": 0.01, "wall_s": 0.01, "rows": 1, "state_rows_max": 1,
    "shuffle_write_bytes": 1e4, "spill_bytes": 1e4, "peak_exec_memory_bytes": 1e4,
    "state_bytes_max": 1e4,
}


def alpha(small: dict, big: dict) -> dict:
    """``log10(big / small)`` of each scaled metric the records hold
    (1.0 is linear in a 10x pair, 2.0 quadratic).  Times floor at
    0.01 s and counts at 1; a byte metric is ``None`` when the small
    side holds 0.05 MB or less, where fixed per-task bytes dominate."""
    out = {}
    for k, floor in _SCALED.items():
        if k not in small:
            continue
        if "bytes" in k and small[k] <= 5e4:
            out[k] = None
        else:
            out[k] = round(math.log10(max(big[k], floor) / max(small[k], floor)), 2)
    return out


def size_label(sf_dir: str) -> str:
    """The key of a size's sub-record: the dir's base name."""
    return os.path.basename(os.path.normpath(sf_dir))


def newest_execution(spark):
    """The newest SQL execution in the status store (one has run)."""
    drain_listener_bus(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList(execution_count(spark) - 1, 1).apply(0)


def window_totals(spark, newest: int) -> tuple[dict, str]:
    """Job, stage, task, shuffle, spill and memory totals of the SQL
    executions after id ``newest``, and the final plan of the last one.

    ``harvest`` takes a list index.  Spark evicts the oldest executions
    once it holds ``spark.sql.ui.retainedExecutions`` of them, which
    shifts every index, so the index is derived from execution ids
    (consecutive, one per execution) when the window closes.
    """
    last = newest_execution(spark)
    h = harvest(spark, execution_count(spark) - (last.executionId() - newest), os.devnull, ())
    ids = [e["id"] for e in h["executions"]]
    if ids != list(range(newest + 1, last.executionId() + 1)):
        raise RuntimeError(f"status store window after {newest} holds executions {ids}")
    stages = h["stages"].values()
    return {
        "jobs": h["jobs"],
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "peak_exec_memory_bytes": max((s["peak_exec_memory_bytes"] for s in stages), default=0),
    }, last.physicalPlanDescription()


def _profile_gate(spark, sf_dir: str, build, runs: int, rt: Py4jCounter, phases) -> dict:
    def construct():
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        return df, time.perf_counter() - t0

    def execute(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    warm = construct()[0]
    # explained before it runs: a cache the gate fills would otherwise
    # print its materialized plan
    static = warm._sc._jvm.PythonSQLUtils.explainString(warm._jdf.queryExecution(), "formatted")
    execute(warm)
    del warm  # freed here, not by the measured construction's rebinding
    newest, seen = newest_execution(spark).executionId(), len(phases.rows)
    # py4j sends a delete command for each JavaObject the cyclic
    # collector frees; collect now so earlier garbage is not counted
    # as this construction's round trips
    gc.collect()
    before = rt.n
    df, c = construct()
    rec = {"round_trips": rt.n - before}
    phases._record("construct", df._jdf.queryExecution(), True)
    construct_s, execute_s = [c], [execute(df)]
    totals, executed = window_totals(spark, newest)
    rec.update(totals)
    rec["phases_ms"] = {
        k: sum(r["phases_ms"].get(k, 0) for r in phases.rows[seen:]) for k in PHASES
    }
    for _ in range(runs - 1):
        df, c = construct()
        construct_s.append(c)
        execute_s.append(execute(df))
    rec["construct_best_ms"] = round(min(construct_s) * 1e3, 1)
    rec["construct_median_ms"] = round(statistics.median(construct_s) * 1e3, 1)
    rec["execute_best_s"] = round(min(execute_s), 3)
    rec["rows"] = df.count()
    rec["plan"] = {"static": plan_facts(static), "executed": plan_facts(final_plan(executed))}
    return rec


def profile_gates(spark, sf_dirs, gates: dict, runs: int = 3):
    """Yield one record per ``name -> build(spark, sf_dir)`` gate.

    ``sf_dirs`` is one dir, or a list of one (a flat record), or a small
    and a big one (a sub-record per ``size_label`` and their ``alpha``)."""
    dirs = [sf_dirs] if isinstance(sf_dirs, str) else list(sf_dirs)
    with Py4jCounter() as rt, phase_listener(spark) as phases:
        for name, build in gates.items():
            rec = {"gate": name}
            try:
                sizes = {}
                for d in dirs:
                    try:
                        sizes[size_label(d)] = _profile_gate(spark, d, build, runs, rt, phases)
                    finally:
                        spark.catalog.clearCache()
                        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                            rdd.unpersist()
                if len(sizes) == 1:
                    rec.update(*sizes.values())
                else:
                    rec.update(sizes, alpha=alpha(*sizes.values()))
            except Exception as exc:  # keep profiling; the record says why
                rec = {"gate": name, "err": str(exc)[:300]}
            yield rec


def main() -> None:
    import argparse

    from scale_measure import QUERIES
    from swisscourtrulingcorpus_spark.plans.registry import QUERY_SPECS
    from swisscourtrulingcorpus_spark.session import get_spark

    from bench import HEADLINE

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("gates", nargs="*", help="gate names, 'headline' or 'scale' (default: whole registry)")
    ap.add_argument("--sf", nargs="+", metavar="DIR", help="one scale-factor dir, or a small and a big one "
                    "(default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--runs", type=int, default=3, help="measured iterations per gate after the warmup")
    ap.add_argument("--out", help="also write the records to this JSON file")
    args = ap.parse_args()
    dirs = args.sf or [d for d in [os.environ.get("SPARK_GRAFT_SF_DIR")] if d]
    if not dirs:
        raise SystemExit("pass --sf or set $SPARK_GRAFT_SF_DIR to a scale-factor data dir")
    labels = [size_label(d) for d in dirs]
    if len(dirs) > 2 or len(set(labels)) != len(labels):
        raise SystemExit(f"--sf takes one dir or two with distinct base names, not {dirs}")

    specs = {s.name: s for s in QUERY_SPECS}
    sets = {"headline": dict.fromkeys(HEADLINE), "scale": dict(QUERIES)}
    claims = {}  # gate name -> its scale claim, or None
    for g in args.gates or list(specs):
        claims.update(sets.get(g, {g: None}))
    spark = get_spark(app_name="gate_profile")
    spark.sparkContext.setLogLevel("ERROR")
    records = []
    gates = {n: specs[n].spark for n in claims}
    for rec in profile_gates(spark, dirs, gates, args.runs):
        name = rec["gate"]
        rec["oracle"] = "rows-only" if specs[name].oracle is None else "value-hash"
        if claims[name]:
            rec["claim"] = claims[name]
        print(json.dumps(rec), flush=True)
        records.append(rec)
    ok = [r for r in records if "err" not in r]
    measured = [r[lb] for r in ok for lb in labels] if len(dirs) > 1 else ok
    print(json.dumps({
        "gates": len(records),
        "errors": [r["gate"] for r in records if "err" in r],
        "round_trips": sum(r["round_trips"] for r in measured),
        "construct_best_ms": round(sum(r["construct_best_ms"] for r in measured), 1),
        "execute_best_s": round(sum(r["execute_best_s"] for r in measured), 3),
    }))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(records, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
