#!/usr/bin/env python
"""Writer of the golden plan fingerprints (tests/fixtures/plan_fingerprints.json).

Prints, as JSON on stdout, `plans/parity.py::plan_fingerprint` of
every registered gate at the default test scale (recorded by name;
`tests/conftest.py::TEST_SF_DIR`) and of every extraction-pipeline
output over an ``n_docs`` synthetic corpus (default 200).  A change
that moves a plan on purpose regenerates the file:

    python tools/pipeline_fingerprint.py > tests/fixtures/plan_fingerprints.json
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from conftest import TEST_SF_DIR, golden_scale  # noqa: E402
from swisscourtrulingcorpus_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    # the tests' session width: gates that spread by
    # defaultParallelism carry it in their plans
    spark = get_spark(app_name="pipeline_fingerprint", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from swisscourtrulingcorpus_spark.plans.parity import (
        pipeline_fingerprints,
        plan_fingerprint,
    )

    gates = {
        name: plan_fingerprint(fn(spark, TEST_SF_DIR))
        for name, fn in entry.queries().items()
    }
    golden = {
        "sf": golden_scale(TEST_SF_DIR),
        "n_docs": n,
        "gates": gates,
        "pipeline": pipeline_fingerprints(spark, n),
    }
    json.dump(golden, sys.stdout, indent=1, sort_keys=True)
    print()
    spark.stop()


if __name__ == "__main__":
    main()
