"""Incremental processing (SURVEY.md §2.10 — "streaming" as incremental batch).

The reference threads `decision_ids` between stages and keeps progress
txt files (`abstract_preprocessor.py:122-140`, `abstract_extractor.py:
69-77`), and its text-to-database stage skips files "already in DB"
(`text_to_database.py:135-145`).  The lakehouse-native equivalent is an
anti-join against the already-processed keys.  The corpus build
(`pipeline.py`) keeps no list of its own: its keys are the decision
table's ``file_name`` column.  The streaming ``incremental_event_counts``
keeps its own *manifest table* of event ids, grown with
:func:`processed_union`.

At 100 TB the keys stay small relative to the corpus (one column), so
the anti-join broadcasts; if they ever grow past broadcast size it
degrades gracefully to a shuffled anti-join — same code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_rows_only(incoming: DataFrame, manifest: DataFrame | None, keys: list[str]) -> DataFrame:
    """Rows of ``incoming`` whose key is NOT in the manifest (J7 anti-join;
    `text_to_database.py:135-145` skip-already-ingested)."""
    if manifest is None:
        return incoming
    # No broadcast hint: the manifest GROWS with the corpus (every key
    # ever processed), so forcing it executor-resident would eventually
    # OOM.  Left to the optimizer, a young manifest broadcasts (under
    # autoBroadcastJoinThreshold) and a billion-key manifest degrades
    # gracefully to a shuffled anti-join on the key columns only.  No
    # distinct: an anti join's result does not depend on duplicate keys
    # on its right side, and one would shuffle at
    # spark.sql.shuffle.partitions in every incremental run.
    return incoming.join(manifest.select(*keys), on=keys, how="left_anti")


def processed_union(manifest: DataFrame | None, processed: DataFrame, keys: list[str]) -> DataFrame:
    """Append newly-processed keys to the manifest (U2 progress union)."""
    new_keys = processed.select(*keys).distinct()
    if manifest is None:
        return new_keys
    return manifest.select(*keys).unionByName(new_keys).distinct()
