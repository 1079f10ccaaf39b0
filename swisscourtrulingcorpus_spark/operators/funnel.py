"""Curation-funnel runner: ordered named steps over a corpus with a
per-stage row report — the FineWeb/RefinedWeb pipeline shape (quality
filter → lexicon filter → dedup → mixture sample), where the per-stage
retention numbers ARE the deliverable a data-curation team reviews
before a training run.

Scale note: each stage's count is a 1-row aggregate; the report is the
lazy union of those aggregates, so collecting it re-executes each stage
prefix once per count: a funnel of k stages runs its first stage k
times.  Per-stage counts taken as observations of ONE pass over the
final frame (``DataFrame.observe``) would remove the re-execution.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Step = tuple[str, Callable[[DataFrame], DataFrame]]


def funnel(df: DataFrame, steps: list[Step]) -> tuple[DataFrame, DataFrame]:
    """Apply ``steps`` in order; return (final_df, report_df) where the
    report has one (step, rows_out) row per stage plus the leading
    ('input', n) row.  Report rows are lazy 1-row aggregates unioned —
    one job materializes the whole funnel table."""
    reports = [
        df.agg(F.count(F.lit(1)).alias("rows_out")).select(
            F.lit("input").alias("step"), F.col("rows_out").cast("long")
        )
    ]
    cur = df
    for name, fn in steps:
        cur = fn(cur)
        reports.append(
            cur.agg(F.count(F.lit(1)).alias("rows_out")).select(
                F.lit(name).alias("step"), F.col("rows_out").cast("long")
            )
        )
    report = reduce(lambda a, b: a.unionByName(b), reports)
    return cur, report
