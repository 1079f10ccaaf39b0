"""Sinks (SURVEY.md §2.1 S7/S8/S10/S11/S14).

The reference's "upsert" is delete+insert ("Delete and reinsert as no
upsert command is available", `scrc/preprocessors/extractors/
section_splitter.py:140-174`), and its bulk column update is a bindparam
batch (`abstract_preprocessor.py:203-244`).  On a lakehouse both become
set operations over immutable files: anti-join out the superseded rows,
union in the new ones, rewrite.  With Delta available this is
``MERGE INTO``; the plain-parquet forms below have identical semantics
and stay fully distributed (no driver loop, no per-row statements).

A whole-table rewrite of a plain-parquet directory (a streaming merge,
a compaction, a recluster) publishes through :func:`replace_table`,
the one place that swaps a table directory.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def replace_table(
    path: str, build: Callable[[DataFrame | None], DataFrame]
) -> None:
    """Replace the parquet table at ``path`` with ``build(existing)``
    (``existing`` is the current table, ``None`` when there is none).

    The new table lands fully in ``<path>.staging`` first (``build``
    may read the live table, so an in-place overwrite would clobber its
    own input mid-job), then two renames swap it in: ``path`` →
    ``<path>.old``, staging → ``path``.  The swap is not one atomic op,
    so a hard crash between the renames leaves the only copy at
    ``.old``; the next call restores it before building, and drops a
    completed swap's ``.old`` and any crashed ``.staging``.  Readers
    see either the old or the new table across process deaths."""
    path = path.rstrip("/")
    staging, old = path + ".staging", path + ".old"
    if os.path.isdir(old):
        if os.path.isdir(path):
            shutil.rmtree(old)  # crashed after a completed swap
        else:
            os.rename(old, path)  # crashed mid-swap: the only copy
    shutil.rmtree(staging, ignore_errors=True)
    existing = None
    if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
        existing = SparkSession.active().read.parquet(path)
    try:
        build(existing).write.mode("overwrite").parquet(staging)
        if os.path.isdir(path):
            os.rename(path, old)
        try:
            os.rename(staging, path)
        except BaseException:
            if os.path.isdir(old):
                os.rename(old, path)  # never lose the only copy
            raise
        shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def upsert_by_key(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """Delete+insert semantics: any existing row whose key appears in
    ``incoming`` is replaced by the incoming rows for that key.

    Mirrors S7 (e.g. `citation_extractor.py:56-77`): the extractor deletes
    *all* rows for the incoming decision_ids then inserts fresh — so this
    is key-level replacement, not row-level merge.  ``left_anti`` on the
    (small, distinct) key set broadcasts at any scale where the incoming
    batch is incremental.
    """
    new_keys = incoming.select(*keys).distinct()
    survivors = existing.join(F.broadcast(new_keys), on=keys, how="left_anti")
    return survivors.unionByName(incoming.select(*existing.columns))


def bulk_update_columns(
    base: DataFrame, updates: DataFrame, key: str, cols: list[str]
) -> DataFrame:
    """Column-wise upsert (S8): set ``cols`` from ``updates`` where the key
    matches, keep the old value elsewhere — one join + coalesce per column
    instead of the reference's per-row UPDATE batch."""
    renamed = updates.select(
        F.col(key), *[F.col(c).alias(f"__new_{c}") for c in cols]
    )
    out = base.join(renamed, on=key, how="left")
    for c in cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    return out.drop(*[f"__new_{c}" for c in cols])


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
    compression: str | None = None,
) -> None:
    """Split-partitioned export (S10/S11): the reference writes one JSONL
    file per split then xz-compresses it (`dataset_creator.py:472-491`);
    here ``partitionBy("split")`` yields the same layout with parallel
    writers and partition pruning for readers, and ``compression``
    (e.g. ``gzip``/``zstd`` for json, ``zstd`` for parquet) replaces the
    external `xz -T0` step with codec-on-write — Spark has no xz codec,
    and a post-hoc recompression pass would serialize through one host
    anyway.  Overwrites ``path``."""
    writer = df.write.mode("overwrite").format(fmt)
    if compression:
        writer = writer.option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def export_labels_json(df: DataFrame, label_col: str, path: str) -> dict:
    """S11 labels.json (`dataset_creator.py:1032-1056`): the id2label /
    label2id mapping over the dataset's distinct labels.  Sorted for
    determinism (the reference relies on insertion order); distinct
    runs distributed, only the label vocabulary reaches the driver.
    Returns the mapping and writes it as JSON."""
    import json

    labels = sorted(
        r[0] for r in df.select(label_col).where(F.col(label_col).isNotNull()).distinct().collect()
    )
    mapping = {
        "id2label": {str(i): l for i, l in enumerate(labels)},
        "label2id": {l: i for i, l in enumerate(labels)},
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(mapping, f, ensure_ascii=False, indent=2, sort_keys=True)
    return mapping


def export_kaggle_files(
    df: DataFrame, id_col: str, label_col: str, out_dir: str
) -> tuple[str, str]:
    """S11 kaggle export (`dataset_creator.py:869-886`): solution.csv
    (id, ground-truth label) + sampleSubmission.csv (id, baseline
    label).  Deviation from the reference: the baseline Predicted is
    the lexicographically smallest non-null label, not the reference's
    insertion-order first label — sorted is deterministic under
    distributed reads, insertion order is not.  Deterministic order
    (by id); written with Spark's csv writer coalesced to one file
    each, matching the reference's single-file layout."""
    import os

    sol_dir = os.path.join(out_dir, "solution")
    sub_dir = os.path.join(out_dir, "sampleSubmission")
    pairs = df.select(
        F.col(id_col).alias("Id"), F.col(label_col).alias("Expected")
    ).orderBy("Id")
    pairs.coalesce(1).write.mode("overwrite").option("header", True).csv(sol_dir)
    label_rows = pairs.select("Expected").where(
        F.col("Expected").isNotNull()
    ).orderBy("Expected").limit(1).collect()
    first_label = label_rows[0][0] if label_rows else None
    pairs.select(
        "Id", F.lit(first_label).cast("string").alias("Predicted")
    ).coalesce(1).write.mode("overwrite").option("header", True).csv(sub_dir)
    return sol_dir, sub_dir
