#!/usr/bin/env python
"""Layer-by-layer profile of registry gates: one JSON record per gate.

Each gate is warmed once (construct, then a noop-sink execute), then
constructed and executed ``--runs`` more times.  A record holds the py4j
round trips of one construction (main thread), construct best/median ms,
execute best s, Catalyst phase ms, and, from Spark's status store, the
jobs, stages, tasks, shuffle-write bytes, spill bytes and peak execution
memory of the first measured iteration.  That window opens before
construction, so jobs a driver-report gate runs while being built count.
A gate that raises gets an ``err`` record instead.  The counters are
``perfbench/bench_trace.py``'s; cached plans and persisted RDDs are
dropped between gates so no gate pays for its predecessors' leftovers.

    SPARK_GRAFT_SF_DIR=... python tools/gate_profile.py [GATE ... | headline] [--runs N] [--out FILE]

No gate names means the whole registry; ``headline`` is ``bench.HEADLINE``.
Records print as JSON lines, then a totals line; ``--out`` also writes
them as a JSON list.  (Not ``profile.py``: the script's directory leads
``sys.path``, and that name would shadow the stdlib module ``cProfile``
imports when pyspark loads, breaking every script in ``tools/``.)
"""

from __future__ import annotations

import gc
import json
import os
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


def newest_execution(spark) -> int:
    """Id of the newest SQL execution in the status store, or -1."""
    drain_listener_bus(spark)
    n = execution_count(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def window_totals(spark, newest: int) -> dict:
    """Job, stage, task, shuffle, spill and memory totals of the SQL
    executions after id ``newest``.

    ``harvest`` takes a list index.  Spark evicts the oldest executions
    once it holds ``spark.sql.ui.retainedExecutions`` of them, which
    shifts every index, so the index is derived from execution ids
    (consecutive, one per execution) when the window closes.
    """
    last = newest_execution(spark)
    h = harvest(spark, execution_count(spark) - (last - newest), os.devnull, ())
    ids = [e["id"] for e in h["executions"]]
    if ids != list(range(newest + 1, last + 1)):
        raise RuntimeError(f"status store window after {newest} holds executions {ids}")
    stages = h["stages"].values()
    return {
        "jobs": h["jobs"],
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill_bytes": sum(s["spill_bytes"] for s in stages),
        "peak_exec_memory_bytes": max((s["peak_exec_memory_bytes"] for s in stages), default=0),
    }


def _profile_gate(spark, sf_dir: str, build, runs: int, rt: Py4jCounter, phases) -> dict:
    def construct():
        t0 = time.perf_counter()
        df = build(spark, sf_dir)
        return df, time.perf_counter() - t0

    def execute(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    execute(construct()[0])
    newest, seen = newest_execution(spark), len(phases.rows)
    # py4j sends a delete command for each JavaObject the cyclic
    # collector frees; collect now so earlier garbage is not counted
    # as this construction's round trips
    gc.collect()
    before = rt.n
    df, c = construct()
    rec = {"round_trips": rt.n - before}
    phases._record("construct", df._jdf.queryExecution(), True)
    construct_s, execute_s = [c], [execute(df)]
    rec.update(window_totals(spark, newest))
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
    return rec


def profile_gates(spark, sf_dir: str, gates: dict, runs: int = 3):
    """Yield one record per ``name -> build(spark, sf_dir)`` gate."""
    with Py4jCounter() as rt, phase_listener(spark) as phases:
        for name, build in gates.items():
            try:
                rec = {"gate": name, **_profile_gate(spark, sf_dir, build, runs, rt, phases)}
            except Exception as exc:  # keep profiling; the record says why
                rec = {"gate": name, "err": str(exc)[:300]}
            finally:
                spark.catalog.clearCache()
                for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                    rdd.unpersist()
            yield rec


def main() -> None:
    import argparse

    from swisscourtrulingcorpus_spark.plans.registry import queries
    from swisscourtrulingcorpus_spark.session import get_spark

    from bench import HEADLINE

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("gates", nargs="*", help="gate names, or 'headline' (default: whole registry)")
    ap.add_argument("--runs", type=int, default=3, help="measured iterations per gate after the warmup")
    ap.add_argument("--out", help="also write the records to this JSON file")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit("set $SPARK_GRAFT_SF_DIR to a scale-factor data dir")

    q = queries()
    names = [n for g in args.gates or list(q) for n in (HEADLINE if g == "headline" else [g])]
    spark = get_spark(app_name="gate_profile")
    spark.sparkContext.setLogLevel("ERROR")
    records = []
    for rec in profile_gates(spark, sf_dir, {n: q[n] for n in names}, args.runs):
        print(json.dumps(rec), flush=True)
        records.append(rec)
    ok = [r for r in records if "err" not in r]
    print(json.dumps({
        "gates": len(records),
        "errors": [r["gate"] for r in records if "err" in r],
        "round_trips": sum(r["round_trips"] for r in ok),
        "construct_best_ms": round(sum(r["construct_best_ms"] for r in ok), 1),
        "execute_best_s": round(sum(r["execute_best_s"] for r in ok), 3),
    }))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(records, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
