from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

# Tests default to the smallest scale factor for speed; override with
# SPARK_GRAFT_TEST_SF_DIR to re-check at sf0.01 (the driver's gate SF).
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the same views the driver registers."""
    import duckdb

    from swisscourtrulingcorpus_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


def explain_plan_str(df, mode: str = "formatted") -> str:
    """Public-API plan dump (classic + Spark Connect safe) — use
    instead of df._jdf.queryExecution().  Importable from test modules
    (``from conftest import explain_plan_str``) as well as via the
    ``explain_plan`` fixture."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="session")
def explain_plan():
    return explain_plan_str


# Golden plan fingerprints (plans/parity.py::plan_fingerprint) of every
# gate and pipeline output; one writer, tools/pipeline_fingerprint.py.
GOLDEN_PLANS = "tests/fixtures/plan_fingerprints.json"
GOLDEN_REGEN = f"python tools/pipeline_fingerprint.py > {GOLDEN_PLANS}"


def load_golden_plans() -> dict:
    import json

    with open(os.path.join(REPO_ROOT, GOLDEN_PLANS)) as f:
        return json.load(f)


def golden_scale(sf_dir: str) -> str:
    """The scale name (``sf0.001``) the golden file records for gates."""
    return os.path.basename(os.path.normpath(sf_dir))


def assert_golden_plans(
    section: str, got: dict, complete: bool = False, sf_dir: str | None = None
) -> None:
    """Fail naming every entry of ``got`` whose fingerprint moved from
    the golden file's ``section`` (and, with ``complete``, every golden
    entry ``got`` lacks), plus the regeneration command.  Gate plans
    built from ``sf_dir`` are only comparable at the scale the file was
    written at: skip, naming both, when they differ."""
    golden = load_golden_plans()
    if sf_dir is not None and golden_scale(sf_dir) != golden["sf"]:
        pytest.skip(
            f"golden gate plans are pinned at {golden['sf']}, these were"
            f" built at {golden_scale(sf_dir)}"
        )
    want = golden[section]
    moved = sorted(k for k in got if want.get(k) != got[k])
    missing = sorted(set(want) - set(got)) if complete else []
    assert not moved and not missing, (
        f"{section} plans moved from {GOLDEN_PLANS}:"
        f" {moved}; golden entries without a plan: {missing}.  If the"
        f" change is intended, regenerate with: {GOLDEN_REGEN}"
    )
