#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The printed line is deliberately COMPACT (total + per-query best + the
pipeline extras, no spread block): the r06 driver recorded
``"parsed": null`` because the full spread payload outgrew the
driver's tail capture and the captured tail started mid-JSON (VERDICT
r06 "what's wrong" #1).  The full payload — per-query min/median/max
spread and run provenance — is written to BENCH_RESULT.json in the
repo root instead, so the spread data survives without riding the
stdout line.

Each query executes via a NOOP-SINK WRITE on the final plan — full
execution of every column, no driver-side row transfer.  Rounds 1-9
used .count(), which lets Catalyst PRUNE aggregate functions (group
keys survive, computed columns don't): q1's eight aggregate columns
never executed and its parquet scan read 2 columns instead of 7
(measured: 0.45 s counted vs 0.93 s fully executed at sf0.1) and
map_join_orders' collect_list array was pruned entirely (0.25 s vs
1.02 s, A/B-measured); every other headline query is within noise of
the two modes — joins, windows and pair outputs need all their rows
either way.  The noop sink closes that hole from round 10 on; the
one-time step-ups on q1 and map_join_orders in the r09->r10 bench
diff are this harness fix, not regressions.
A tiny warmup query first so JVM/codegen startup isn't billed to the
first headline query; each headline query then runs three times and
reports the fastest run — steady-state throughput, so one-time
whole-stage-codegen compilation (~2s for the widest dedup plans,
amortized to nothing over a real corpus) isn't billed either.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from swisscourtrulingcorpus_spark.plans.registry import queries  # noqa: E402
from swisscourtrulingcorpus_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q18_large_orders",
    "coverage_by_region",
    "map_join_orders",
    "semi_join_membership",
    "asof_purchase_attribution",
    "topk_orders_per_segment",
    "rollup_region_nation",
    # LLM-pipeline operators
    "minhash_lsh_pairs",
    "minhash_dedup_groups",
    "ngram_jaccard_pairs",
    "cosine_topk_bruteforce",
    "tfidf_top_terms",
    # training-data prep
    "chunked_documents",
    "training_shuffle_rank",
    "test_set_contamination",
    # event-time windows
    "tumbling_hourly_events",
    "session_windows_events",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    q = queries()

    def execute(df):
        # full-plan execution: the noop sink consumes every column, so
        # Catalyst can't prune aggregate functions the way .count() can
        df.write.format("noop").mode("overwrite").save()

    # warmup: JVM + whole-stage-codegen compile paths
    execute(q["coverage_by_region"](spark, sf_dir))

    timings: dict[str, float] = {}
    spread: dict[str, dict[str, float]] = {}
    for name in HEADLINE:
        # best-of-3: a single GC pause or JIT recompile in one run no
        # longer lands in the recorded number (r03->r04 drift was pure
        # run-to-run noise; see SCALE.md bench-drift bisect).  The full
        # min/median/max spread is recorded too (VERDICT r05 item 4) so
        # a sub-second delta can be judged against the run-to-run noise
        # band instead of being indistinguishable from regression.
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            execute(q[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
        runs.sort()
        timings[name] = round(runs[0], 3)
        spread[name] = {
            "min": round(runs[0], 3),
            "median": round(runs[len(runs) // 2], 3),
            "max": round(runs[-1], 3),
        }

    total = round(sum(timings.values()), 3)

    # Extraction-pipeline throughput (the reference's core workload):
    # raw corpus -> clean -> sections -> citations/judgments -> dataset.
    # 5k synthetic docs through the cached document pass, measured warm
    # (the headline queries above already paid JVM/codegen startup).
    from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
        judgment_dataset,
        run_extraction_pipeline,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import raw_corpus_df

    # warmup: fork the Python UDF workers + compile the UDF plans so the
    # measurement is steady-state throughput, not process startup.
    # TWO full-size warmup passes, not a 200-doc one: the r05 "22%
    # pipeline regression" bisected to nothing — identical code at r04
    # and r05 measured 1383..2000 docs/s depending on how many
    # full-size iterations had already run (python-worker reuse + JIT
    # keep improving through ~4 passes).  A 200-doc warmup + 2 runs
    # samples the steep part of that curve; full-size warmups + 3 runs
    # sample the plateau the pipeline would live on over a real corpus.
    # Every iteration must COMPUTE, not replay: the pipeline caches its
    # base and document-pass frames, the raw fixture is a LocalRelation
    # whose canonicalized plan is identical across iterations, and
    # Spark's CacheManager substitutes any materialized cache entry
    # whose canonical plan matches — so without clearing, iterations
    # 2+ silently reused iteration 1's cached extraction output and
    # the recorded docs/s measured cache replay, not the pipeline
    # (r11 measurement-honesty fix, found via persistentRDDs growing
    # +2/iteration; the numbers before this fix are kept in
    # OPTIMIZATION_r11.md).  clearCache() also unpersists the leaked
    # entries, so memory stays flat across the 5 iterations.
    n_docs = 5000
    for _ in range(2):
        spark.catalog.clearCache()
        execute(judgment_dataset(
            run_extraction_pipeline(raw_corpus_df(spark, n_docs))
        ))

    pipe_runs = []
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        execute(judgment_dataset(
            run_extraction_pipeline(raw_corpus_df(spark, n_docs))
        ))
        pipe_runs.append(time.perf_counter() - t0)
    pipe_runs.sort()
    pipeline_sec = pipe_runs[0]

    extras = {
        "domain_pipeline_docs": n_docs,
        "domain_pipeline_sec": round(pipeline_sec, 3),
        "domain_pipeline_docs_per_sec": round(n_docs / pipeline_sec, 1),
    }
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "extras": extras,
    }
    # Full payload (spread + provenance) goes to a file — the driver's
    # stdout tail capture is size-bounded and the r06 spread-bearing
    # line overflowed it.  Any locally quoted figure must carry the
    # run_meta provenance (r04 verdict item 5/6); it lives here.
    full = dict(compact)
    full["run_meta"] = {
        "jvm": "fresh per invocation, warmup query before timing",
        "execution": "noop-sink write (full plan; round 10 harness fix "
        "closing .count()'s aggregate-function pruning)",
        "runs_per_query": 3,
        "aggregation": "best",
        "pipeline_warmup": "2 full-size passes before timing",
    }
    full["spread"] = spread
    full["extras"] = dict(
        extras,
        domain_pipeline_sec_spread={
            "min": round(pipe_runs[0], 3),
            "median": round(pipe_runs[len(pipe_runs) // 2], 3),
            "max": round(pipe_runs[-1], 3),
        },
    )
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_RESULT.json"), "w") as f:
        json.dump(full, f, indent=2)
        f.write("\n")
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
