"""Full-pipeline scale rehearsal (VERDICT r06 item 7).

Every operator family is two-SF measured in SCALE_MEASURE.json, but the
flagship COMPOSITION — ``run_extraction_pipeline`` + ``judgment_dataset``,
the reference's core workload — was only ever benched at one size.  This
runs it end-to-end at the bench size (5k docs) and at 10x (50k docs) in
one Spark app, and reports wall seconds, docs/sec, and the shuffle-write
bytes of each run (Spark's status store, read by
``tools/gate_profile.py::window_totals``), so SCALE.md can carry a
measured exponent for the pipeline itself rather than a per-stage
argument.

    python tools/pipeline_scale.py [OUT_JSON]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# local-mode python WORKERS resolve imports from the JVM's cwd + their
# PYTHONPATH, not the driver's sys.path — export the repo root so the
# pipeline's pandas_udfs deserialize wherever the script is launched
# from (a tools/ cwd broke the workers with ModuleNotFoundError)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
).rstrip(os.pathsep)

from gate_profile import newest_execution, window_totals  # noqa: E402


def main() -> None:
    out_json = sys.argv[1] if len(sys.argv) > 1 else "PIPELINE_SCALE.json"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("pipeline-scale")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
        judgment_dataset,
        run_extraction_pipeline,
    )
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        raw_corpus_df,
        raw_corpus_df_distributed,
    )

    def _src(n_docs: int):
        # driver-side generation up to 50k (the historical protocol,
        # keeps tier-to-tier numbers comparable across rounds);
        # executor-side generation beyond that (500k dicts through
        # createDataFrame would measure the driver serializer, not the
        # pipeline — and a real corpus arrives distributed anyway)
        return (
            raw_corpus_df(spark, n_docs)
            if n_docs <= 50_000
            else raw_corpus_df_distributed(spark, n_docs)
        )

    def run(n_docs: int) -> None:
        # noop-sink write, NOT .count(): the round-10 harness rule —
        # count() lets Catalyst prune columns the row count doesn't
        # need (see tools/scale_measure.py); the noop sink executes
        # the full pipeline including every extracted column
        judgment_dataset(run_extraction_pipeline(_src(n_docs))).write.format(
            "noop"
        ).mode("overwrite").save()

    # same steady-state protocol as bench.py: two full-size warmups at
    # the SMALL size fork the Python workers + compile the UDF plans
    for _ in range(2):
        run(5000)

    results: dict[str, dict] = {}
    for label, n_docs in (
        ("sf0.1_5k", 5000),
        ("sf1_50k", 50000),
        ("sf10_500k", 500000),
    ):
        newest = newest_execution(spark)
        t0 = time.time()
        run(n_docs)
        wall = time.time() - t0
        shuffle = window_totals(spark, newest)["shuffle_write_bytes"]
        # output-rows metric from a separate count after the window
        rows = judgment_dataset(run_extraction_pipeline(_src(n_docs))).count()
        results[label] = {
            "n_docs": n_docs,
            "rows_out": rows,
            "wall_s": round(wall, 2),
            "docs_per_sec": round(n_docs / wall, 1),
            "shuffle_write_mb": round(shuffle / 1e6, 2),
        }
        print(label, results[label], flush=True)

    import math

    def _alpha(a, b):
        return {
            "wall": round(
                math.log10(max(b["wall_s"], 1e-9) / max(a["wall_s"], 1e-9)), 2
            ),
            "shuffle_write": round(
                math.log10(
                    max(b["shuffle_write_mb"], 1e-9)
                    / max(a["shuffle_write_mb"], 1e-9)
                ),
                2,
            ),
        }

    results["alpha"] = _alpha(results["sf0.1_5k"], results["sf1_50k"])
    results["alpha_10x_100x"] = _alpha(
        results["sf1_50k"], results["sf10_500k"]
    )
    with open(out_json, "w") as f:
        json.dump(results, f, indent=2)
        f.write("\n")
    print("written:", out_json, results["alpha"])
    spark.stop()


if __name__ == "__main__":
    main()
