"""File-layout operators (`sources/layout.py`): disjoint ranges from
sorted writes, footer-stats skipping arithmetic, crash-safe compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.sources import layout


def test_sorted_write_produces_disjoint_ranges(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_sorted")
    layout.write_sorted_by(docs, out, ["doc_id"], num_files=4)
    stats = [s for s in layout.file_skipping_stats(out, "doc_id") if s["rows"]]
    assert len(stats) >= 2
    spans = sorted((s["min"], s["max"]) for s in stats)
    for (_, hi_a), (lo_b, _) in zip(spans, spans[1:]):
        assert hi_a < lo_b, "range-partitioned files must not overlap"
    assert sum(s["rows"] for s in stats) == docs.count()


def test_point_range_touches_one_file(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "docs_point")
    layout.write_sorted_by(docs, out, ["doc_id"], num_files=4)
    stats = [s for s in layout.file_skipping_stats(out, "doc_id") if s["rows"]]
    some_id = docs.agg(F.min("doc_id")).collect()[0][0]
    touched = layout.files_for_range(stats, some_id, some_id)
    assert len(touched) == 1
    # a full-domain range reads everything
    lo = min(s["min"] for s in stats)
    hi = max(s["max"] for s in stats)
    assert len(layout.files_for_range(stats, lo, hi)) == len(stats)


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    zp, sp = str(tmp_path / "z"), str(tmp_path / "s")
    layout.write_zordered(orders, zp, ["o_orderkey", "o_custkey"], num_files=16)
    layout.write_sorted_by(orders, sp, ["o_orderkey"], num_files=16)

    def avg_span(path, col):
        st = [s for s in layout.file_skipping_stats(path, col) if s["rows"]]
        return sum(s["max"] - s["min"] for s in st) / len(st)

    glob = {
        c: (
            orders.agg(F.max(c) - F.min(c)).collect()[0][0]
        )
        for c in ["o_orderkey", "o_custkey"]
    }
    # single-column sort: first col prunes hard, second col spans ~full range
    assert avg_span(sp, "o_orderkey") < 0.2 * glob["o_orderkey"]
    assert avg_span(sp, "o_custkey") > 0.8 * glob["o_custkey"]
    # z-order: BOTH columns prune (each well under half the global range)
    assert avg_span(zp, "o_orderkey") < 0.5 * glob["o_orderkey"]
    assert avg_span(zp, "o_custkey") < 0.5 * glob["o_custkey"]
    assert spark.read.parquet(zp).count() == orders.count()


def test_unknown_stats_must_be_read():
    stats = [
        {"file": "a", "min": 0, "max": 10, "rows": 5},
        {"file": "b", "min": None, "max": None, "rows": 5},
    ]
    assert layout.files_for_range(stats, 100, 200) == ["b"]


def test_compaction_preserves_rows_and_reduces_files(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    out = str(tmp_path / "fragmented")
    docs.repartition(16).write.parquet(out)
    import os

    before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert before >= 8
    n = layout.compact_small_files(out, target_bytes=1 << 30)
    after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert after == n == 1
    assert spark.read.parquet(out).count() == 200
    assert not os.path.exists(out + ".staging")
    assert not os.path.exists(out + ".old")


def test_compaction_recovers_from_crashed_swap(spark, tmp_path):
    """Hard-crash between the two swap renames leaves no table at
    `path` and the only copy at `.old` — the entry sweep must
    restore it (ADVICE r03)."""
    import os
    import shutil

    out = str(tmp_path / "t")
    spark.range(100).write.parquet(out)
    # simulate the post-crash state: table parked at .old
    os.rename(out, out + ".old")
    n = layout.compact_small_files(out, target_bytes=1 << 30)
    assert n == 1
    assert spark.read.parquet(out).count() == 100
    assert not os.path.exists(out + ".old")

    # crash AFTER a completed swap (debris backup + live table):
    # backup is removed, table untouched
    shutil.copytree(out, out + ".old")
    layout.compact_small_files(out, target_bytes=1 << 30)
    assert spark.read.parquet(out).count() == 100
    assert not os.path.exists(out + ".old")


def test_zorder_value_wide_span_no_overflow(spark):
    """Morton key for a column spanning >= 2^47: the old long-side
    multiply overflowed and corrupted the ordering (ADVICE r03); the
    double-ratio form must keep bucket rank order and clamp below."""
    vals = [0, 1 << 50, 1 << 55, 1 << 60, (1 << 62) - 1]
    df = spark.createDataFrame([(v,) for v in vals], "x: long")
    z = layout.zorder_value(["x"], [0], [(1 << 62) - 1], bits=16)
    got = [r["z"] for r in df.select(z.alias("z")).collect()]
    assert got == sorted(got), got
    assert all(0 <= v < (1 << 16) for v in got), got
    # caller-supplied min above actual values: clamped to 0, not negative
    z2 = layout.zorder_value(["x"], [1 << 55], [(1 << 62) - 1], bits=16)
    got2 = [r["z"] for r in df.select(z2.alias("z")).collect()]
    assert all(v >= 0 for v in got2), got2


def _xy2d_classic(order: int, x: int, y: int) -> int:
    """Trusted reference implementation (Wikipedia 'Hilbert curve')."""
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_classic(spark):
    """The DFA-table form (layout.py::hilbert_value) must equal the
    classic loop algorithm over the FULL order-8 domain — all 65536
    (x, y) cells.  Scaling is bypassed by feeding mins/maxs equal to
    the grid bounds (ratio scaling then maps each cell to itself)."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.sources.layout import hilbert_value

    grid = (
        spark.range(256 * 256)
        .select(
            (F.col("id") / 256).cast("long").alias("x"),
            (F.col("id") % 256).alias("y"),
        )
    )
    h = hilbert_value(["x", "y"], [0, 0], [255, 255], bits=8)
    got = {
        (r.x, r.y): r.h
        for r in grid.withColumn("h", h).collect()
    }
    for (x, y), d in got.items():
        assert d == _xy2d_classic(8, x, y), (x, y, d)


def test_hilbert_tighter_runs_than_zorder(spark):
    """The reason hilbert_value exists.  On power-of-4-ALIGNED buckets
    both curves give identical square blocks, so the comparison must
    use key ranges that cut across block boundaries — exactly what
    range-partitioned files are (boundaries come from row-count
    sampling, not the curve's block structure).  For every run of 100
    consecutive curve positions, the bounding-box semi-perimeter
    (x-span + y-span) is the footer-pruning proxy; Hilbert's runs are
    CONNECTED regions while Morton's jump across the midlines, so the
    summed semi-perimeter must come out strictly smaller."""
    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.sources.layout import (
        hilbert_value,
        zorder_value,
    )

    grid = spark.range(256 * 256).select(
        (F.col("id") / 256).cast("long").alias("x"),
        (F.col("id") % 256).alias("y"),
    )
    keyed = grid.select(
        "x",
        "y",
        hilbert_value(["x", "y"], [0, 0], [255, 255], bits=8).alias("h"),
        zorder_value(["x", "y"], [0, 0], [255, 255], bits=8).alias("z"),
    ).collect()

    def run_semi_perimeter(key_attr: str) -> int:
        runs: dict[int, list[int]] = {}
        for r in keyed:
            b = getattr(r, key_attr) // 100
            box = runs.setdefault(b, [256, -1, 256, -1])
            box[0] = min(box[0], r.x)
            box[1] = max(box[1], r.x)
            box[2] = min(box[2], r.y)
            box[3] = max(box[3], r.y)
        return sum((b[1] - b[0]) + (b[3] - b[2]) for b in runs.values())

    hilbert_total = run_semi_perimeter("h")
    zorder_total = run_semi_perimeter("z")
    assert hilbert_total < zorder_total, (hilbert_total, zorder_total)


def test_hilbert_write_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Hilbert-clustered files must prune BOTH dimensions like z-order
    does (each file's span well under the global range on each column)
    — the write-side counterpart of the run-bounding-box comparison."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    hp = str(tmp_path / "h")
    layout.write_hilbert_clustered(
        orders, hp, ["o_orderkey", "o_custkey"], num_files=16
    )

    def avg_span(path, col):
        st = [s for s in layout.file_skipping_stats(path, col) if s["rows"]]
        return sum(s["max"] - s["min"] for s in st) / len(st)

    glob = {
        c: orders.agg(F.max(c) - F.min(c)).collect()[0][0]
        for c in ["o_orderkey", "o_custkey"]
    }
    assert avg_span(hp, "o_orderkey") < 0.5 * glob["o_orderkey"]
    assert avg_span(hp, "o_custkey") < 0.5 * glob["o_custkey"]
    assert spark.read.parquet(hp).count() == orders.count()


def test_recluster_restores_pruning_after_appends(spark, sf_dir, tmp_path):
    """Append-in-arrival-order files span the full key domain (footer
    stats prune nothing); recluster_table must restore two-dimensional
    pruning in place, preserve every row, and leave no debris dirs.
    Also: a crash parked at .old before recluster runs is
    swept (shared recovery contract with compact_small_files)."""
    import os

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    out = str(tmp_path / "t")
    # simulate arrival-order appends: 8 hash-partitioned files, every
    # file spanning the whole key range
    orders.repartition(8).write.parquet(out)
    n_rows = orders.count()

    def avg_span(col):
        st = [s for s in layout.file_skipping_stats(out, col) if s["rows"]]
        return sum(s["max"] - s["min"] for s in st) / len(st)

    glob_span = {
        c: orders.agg(F.max(c) - F.min(c)).collect()[0][0]
        for c in ["o_orderkey", "o_custkey"]
    }
    assert avg_span("o_orderkey") > 0.8 * glob_span["o_orderkey"]

    layout.recluster_table(out, ["o_orderkey", "o_custkey"], 16)
    assert avg_span("o_orderkey") < 0.5 * glob_span["o_orderkey"]
    assert avg_span("o_custkey") < 0.5 * glob_span["o_custkey"]
    assert spark.read.parquet(out).count() == n_rows
    assert not os.path.exists(out + ".staging")
    assert not os.path.exists(out + ".old")

    # crash-recovery sweep: only copy parked at .old
    os.rename(out, out + ".old")
    layout.recluster_table(out, ["o_orderkey", "o_custkey"], 8, curve="hilbert")
    assert spark.read.parquet(out).count() == n_rows
    assert avg_span("o_custkey") < 0.5 * glob_span["o_custkey"]
