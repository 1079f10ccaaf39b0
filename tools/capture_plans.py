#!/usr/bin/env python
"""Capture .explain("formatted") for the headline queries.

Usage: python tools/capture_plans.py <suffix> [query ...]

Writes plans/r11/<query>_<suffix>.txt for each headline query (or the
subset given).  Each query is EXECUTED once (noop sink) before the
explain so the AdaptiveSparkPlan prints its Final Plan — AQE-time
exchange/stage reuse (ReusedExchange) and AQEShuffleRead coalescing
only exist there, and they are exactly the plan properties the
r11 optimizations claim.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from swisscourtrulingcorpus_spark.plans.registry import queries  # noqa: E402
from swisscourtrulingcorpus_spark.session import get_spark  # noqa: E402

from bench import HEADLINE  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    q = queries()
    for name in names:
        df = q[name](spark, sf_dir)
        # a noop write runs a SEPARATE QueryExecution (the write
        # command's); collect() executes df's own, which is the one
        # explainString reads — only then does the AdaptiveSparkPlan
        # carry a Final Plan section
        df.collect()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
