"""Physical file-layout operators: range-clustered writes, footer-stats
data skipping, and small-file compaction.

At 100 TB the dominant cost of a selective query is how many files the
scan can SKIP, and the dominant operational failure is millions of tiny
files from incremental appends.  Three primitives cover this:

- ``write_sorted_by``: repartitionByRange + sortWithinPartitions before
  the write, so every output file owns a disjoint key range and its
  parquet footer min/max actually prunes (a hash-partitioned write
  spreads every key everywhere — footer stats then span the full
  domain and skip nothing).
- ``file_skipping_stats`` / ``files_for_range``: read ONLY the parquet
  footers (pyarrow metadata, no row groups) and compute which files a
  range predicate touches — the same min/max pruning Spark's reader
  applies; exposed as a table so tests and capacity planning can
  measure skipping instead of guessing.
- ``compact_small_files``: rewrite a directory to size-targeted files
  through `sources/sinks.py::replace_table` (staged write, rename
  swap) so a crash never leaves a partial table.

Reference parity: the reference caches per-court parquet without layout
control (`dataset_creator.py:543` df.to_parquet) — fine at GB scale,
not at 100 TB; this module is the Spark-first replacement.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from swisscourtrulingcorpus_spark.sources.sinks import replace_table


def write_sorted_by(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int,
) -> None:
    """Range-clustered parquet write: ``num_files`` files, each owning a
    disjoint ``sort_cols`` range (sampled range boundaries), rows sorted
    within each file so row-group stats prune at sub-file granularity
    too."""
    (
        df.repartitionByRange(num_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(cols: list, mins: list[int], maxs: list[int], bits: int = 16):
    """Z-order (Morton) key for up to ~4 integer columns: each column is
    linearly scaled to ``bits`` bits against its [min, max], then the
    bits interleave.  Pure JVM expressions (shift/or folds unrolled at
    plan-build time) — whole-stage codegen applies; no UDF.

    Linear scaling keeps the key rank-equivalent for roughly uniform
    key domains (ids, dates); for heavily skewed domains substitute
    quantile bucket ids before calling (the interleave is agnostic).

    ``bits`` is clamped so n * bits <= 63 — interleaving into the long
    sign bit would order the largest keys FIRST (negative z), and
    shifts >= 64 wrap in the JVM; e.g. 4 columns get at most 15 bits
    each."""
    from pyspark.sql import functions as F

    n = len(cols)
    bits = min(bits, 63 // n)
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        span = max(1, hi - lo)
        # Ratio-first in DOUBLE: multiplying (col - lo) by the 2^bits-1
        # scale in LONG overflows 64-bit once the span reaches ~2^47
        # and corrupts the Morton order; the double ratio keeps rank
        # order (53-bit mantissa ≫ the ≤16 bucket bits that survive).
        # Clamp BOTH ends — caller-supplied mins above actual values
        # would otherwise go negative and poison the bit interleave.
        ratio = (col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
        scaled.append(
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit((1 << bits) - 1).cast("long"),
                    (ratio * F.lit(float((1 << bits) - 1))).cast("long"),
                ),
            )
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftright(s, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


# Morton->Hilbert DFA (Lam & Shapiro form), derived mechanically from
# the classic xy2d algorithm and verified over the FULL order-8 domain
# (65536 points) in tests/test_layout.py::test_hilbert_matches_classic.
# 4 states = the reachable coordinate transforms {id, swap, swap+compl,
# compl}; index = (state*4 + bx*2 + by), 2 bits per entry:
#   quadrant  = (T_OUT >> 2*idx) & 3   (the next 2 Hilbert key bits)
#   nextstate = (T_ST  >> 2*idx) & 3
_HILBERT_OUT = 506895540
_HILBERT_ST = 3083492385


def hilbert_value(cols: list, mins: list[int], maxs: list[int], bits: int = 8):
    """Hilbert-curve key for exactly 2 integer columns: each column is
    linearly scaled to ``bits`` bits (identical clamp/scale to
    :func:`zorder_value`), then the 2-bit Morton digits stream MSB-first
    through the 4-state DFA above.  Pure JVM expressions — the state
    chain doubles per level, so ``bits`` is capped at 12 (4^12 node
    worst case is still far beyond practical; 8 is the default and
    gives a 64 KiB cell grid).

    Hilbert beats Morton on locality: consecutive key ranges are
    CONNECTED rectangles (no Z-shape jumps across the midline), so a
    file owning a key range owns a tighter bounding box and footer
    min/max prunes better on both dimensions.  The gate
    ``hilbert_locality_orders`` measures exactly that against
    ``zorder_locality_orders`` on the same columns."""
    from pyspark.sql import functions as F

    assert len(cols) == 2, "hilbert_value is 2-D (use zorder_value for >2)"
    bits = min(bits, 12)
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        span = max(1, hi - lo)
        ratio = (col.cast("double") - F.lit(float(lo))) / F.lit(float(span))
        scaled.append(
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit((1 << bits) - 1).cast("long"),
                    (ratio * F.lit(float((1 << bits) - 1))).cast("long"),
                ),
            )
        )
    x, y = scaled
    st = F.lit(0).cast("long")
    d = F.lit(0).cast("long")
    for lvl in range(bits - 1, -1, -1):
        bx = F.shiftright(x, lvl).bitwiseAND(F.lit(1))
        by = F.shiftright(y, lvl).bitwiseAND(F.lit(1))
        # shiftright() needs a LITERAL count; the table lookups shift by
        # a computed amount, so divide by 2^idx instead — division by a
        # power of two only changes the double's exponent (exact), and
        # both tables are < 2^32 < 2^53, so floor(T / 2^idx) == T >> idx
        # bit-for-bit (the DuckDB oracle uses >> directly).
        idx = (st * 4 + bx * 2 + by) * 2
        pw = F.pow(F.lit(2.0), idx.cast("double"))
        d = d * 4 + F.floor(F.lit(float(_HILBERT_OUT)) / pw).cast("long") % 4
        st = F.floor(F.lit(float(_HILBERT_ST)) / pw).cast("long") % 4
    return d


def hilbert_cluster(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 8,
) -> DataFrame:
    """Cluster ``df`` by the Hilbert key — same collect-bounds contract
    as :func:`zorder_cluster`, same all-null/empty fallback."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    r = df.agg(*aggs).collect()[0]
    if any(r[f"__lo_{c}"] is None or r[f"__hi_{c}"] is None for c in cols):
        return df.coalesce(max(1, num_files))
    mins = [int(r[f"__lo_{c}"]) for c in cols]
    maxs = [int(r[f"__hi_{c}"]) for c in cols]
    h = hilbert_value(cols, mins, maxs, bits)
    return (
        df.withColumn("__h", h)
        .repartitionByRange(num_files, "__h")
        .sortWithinPartitions("__h")
        .drop("__h")
    )


def write_hilbert_clustered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 8,
) -> None:
    """Hilbert-clustered parquet write: like :func:`write_zordered` but
    files own CONNECTED regions of the 2-D key space (no Z-jumps across
    midlines), so per-file bounding boxes — and therefore footer
    min/max pruning on both dimensions — are tighter for files whose
    key ranges cross block boundaries (measured against z-order in
    tests/test_layout.py)."""
    hilbert_cluster(df, cols, num_files, bits).write.mode(
        "overwrite"
    ).parquet(path)


def zorder_cluster(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 16,
) -> DataFrame:
    """Cluster ``df`` by the Morton key: range-partition into
    ``num_files`` + sort within.  Column ranges come from one min/max
    aggregate (a single short job).  An empty table, or one where a
    clustered column is all-null, has no range to scale — it falls
    back to a plain coalesce instead of crashing on int(None)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
    r = df.agg(*aggs).collect()[0]
    if any(r[f"__lo_{c}"] is None or r[f"__hi_{c}"] is None for c in cols):
        return df.coalesce(max(1, num_files))
    mins = [int(r[f"__lo_{c}"]) for c in cols]
    maxs = [int(r[f"__hi_{c}"]) for c in cols]
    z = zorder_value(cols, mins, maxs, bits)
    return (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits: int = 16,
) -> None:
    """Z-order-clustered parquet write: files own compact HYPERCUBES of
    the multi-column key space instead of slabs of one column, so
    footer min/max prunes on EVERY clustered column at once — the
    layout a 100 TB table wants when queries filter on more than one
    dimension."""
    zorder_cluster(df, cols, num_files, bits).write.mode("overwrite").parquet(path)


def file_skipping_stats(path: str, column: str) -> list[dict]:
    """Per-file (min, max, rows) for ``column`` from parquet footers
    only — no data pages are read.  Driver-side by design: one footer
    per file, the same metadata a table format (Delta/Iceberg) would
    keep in its manifest."""
    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        meta = pq.read_metadata(os.path.join(path, name))
        lo, hi = None, None
        all_known = True
        for rg in range(meta.num_row_groups):
            found = False
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                if col.path_in_schema != column:
                    continue
                st = col.statistics
                if st is not None and st.has_min_max:
                    found = True
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            if not found:
                # a row group WITHOUT stats may hold values outside the
                # other groups' range — the whole file's range must be
                # unknown or files_for_range would wrongly skip it
                all_known = False
        if not all_known:
            lo = hi = None
        out.append(
            {"file": name, "min": lo, "max": hi, "rows": meta.num_rows}
        )
    return out


def files_for_range(stats: list[dict], lo, hi) -> list[str]:
    """Files a ``BETWEEN lo AND hi`` predicate must read — footer
    min/max pruning, matching the reader's skipping rule (a file with
    unknown stats must be read)."""
    keep = []
    for s in stats:
        if s["min"] is None or s["max"] is None:
            keep.append(s["file"])
        elif not (s["max"] < lo or s["min"] > hi):
            keep.append(s["file"])
    return keep


def compact_small_files(
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite ``path`` into ceil(total/target)-sized files, published by
    :func:`~swisscourtrulingcorpus_spark.sources.sinks.replace_table`
    (staged write, then a rename swap that a later call repairs after a
    crash), so readers see either the old or the new layout across
    process deaths.  Returns the new file count."""
    n = 1

    def compact(existing: DataFrame) -> DataFrame:
        # sized after replace_table's crash recovery: the live table
        nonlocal n
        total = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        n = max(1, math.ceil(total / target_bytes))
        return existing.coalesce(n)

    replace_table(path, compact)
    return n


def recluster_table(
    path: str,
    cols: list[str],
    num_files: int,
    curve: str = "zorder",
    bits: int | None = None,
) -> None:
    """OPTIMIZE-style in-place recluster: rewrite ``path`` so its files
    own compact multi-dimensional key regions again — the maintenance
    op an append-heavy table needs periodically, because incremental
    appends land in arrival order and every appended file spans the
    full key domain (footer stats stop pruning).

    Crash-safety is :func:`compact_small_files`'s: the clustered
    rewrite is published by ``replace_table``, whose recovery also
    repairs a compaction that died mid-swap and vice versa.

    ``curve``: "zorder" (default, up to 4 columns) or "hilbert"
    (2 columns, tighter non-aligned ranges — see hilbert_value)."""
    if curve == "zorder":
        cluster = lambda df: zorder_cluster(  # noqa: E731
            df, cols, num_files, bits or 16
        )
    elif curve == "hilbert":
        cluster = lambda df: hilbert_cluster(  # noqa: E731
            df, cols, num_files, bits or 8
        )
    else:
        raise ValueError(f"unknown curve {curve!r}")
    replace_table(path, cluster)
