"""Registry duplicate-lint (VERDICT r08 'next round' item 5).

Round 8 shipped two semantic duplicates of existing operators
(a profiler twin and an FK anti-join twin) that only in-session review
caught.  This is the mechanical guard: every registered gate's
OPTIMIZED logical plan is fingerprinted at sf0.001 with exprIds
normalized away (`plans/parity.py::plan_fingerprint`); two gates with
different names but the same fingerprint are the same query, and the
test goes red naming the pair.  The same scan checks every fingerprint
against the committed golden file (tests/fixtures/plan_fingerprints.json).
"""

from __future__ import annotations

import os

import pytest

# Slow tier (pytest.ini): multi-minute suite, deselected from the
# default run so the round driver's pytest window completes.
pytestmark = pytest.mark.slow

SF_DIR = os.environ.get(
    "SPARK_GRAFT_LINT_SF_DIR", "/root/testdata/sf0.001"
)


def test_plan_fingerprint_catches_planted_duplicate(spark):
    """Positive control: the SAME query registered twice under
    different names must collide (exprIds differ between the two
    constructions; the normalizer must not let that hide the dup) —
    and a genuinely different query must not."""
    from swisscourtrulingcorpus_spark.plans.parity import plan_fingerprint

    def q_a(s, d):
        return s.range(10).selectExpr("id", "id * 2 AS doubled")

    def q_b(s, d):  # planted duplicate of q_a under another name
        return s.range(10).selectExpr("id", "id * 2 AS doubled")

    def q_c(s, d):  # literal differs -> different query
        return s.range(10).selectExpr("id", "id * 3 AS doubled")

    fa = plan_fingerprint(q_a(spark, SF_DIR))
    fb = plan_fingerprint(q_b(spark, SF_DIR))
    fc = plan_fingerprint(q_c(spark, SF_DIR))
    assert fa == fb, "normalizer failed to identify a planted duplicate"
    assert fa != fc, "normalizer over-collapsed distinct literals"


@pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="lint scale dir missing"
)
def test_registry_has_no_duplicate_plans(spark):
    """Full-registry scan: no two gates may resolve to the same
    normalized optimized plan, and each must match its golden
    fingerprint (skipped after the duplicate check when SF_DIR is not
    the golden file's scale).  One loop: ~150-220 s for 262 gates of
    plan analysis, no jobs beyond a few bounded driver-side collects."""
    import __spark_entry__ as entry
    from conftest import assert_golden_plans
    from swisscourtrulingcorpus_spark.plans.parity import plan_fingerprint

    seen: dict[str, str] = {}
    got: dict[str, str] = {}
    dups: list[tuple[str, str]] = []
    for name, fn in entry.queries().items():
        fp = got[name] = plan_fingerprint(fn(spark, SF_DIR))
        if fp in seen:
            dups.append((seen[fp], name))
        else:
            seen[fp] = name
    assert not dups, (
        "gates with IDENTICAL normalized plans (same query, two "
        f"names — delete one): {dups}"
    )
    assert_golden_plans("gates", got, complete=True, sf_dir=SF_DIR)
