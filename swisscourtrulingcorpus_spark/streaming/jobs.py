"""Streaming jobs: file-source ingest → watermarked windowed aggs.

Design for scale: the file source lists new files per micro-batch (the
incremental anti-join the reference hand-rolls); watermarks bound state
so a 100 TB backfill doesn't accumulate unbounded window state; and
``Trigger.AvailableNow`` gives exactly the reference's "process
everything new, then stop" daily-cron semantics with checkpointed
resume.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.sources.catalog import load_table


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files: int | None = None
) -> DataFrame:
    """Streaming read of the events table.  Schema is pinned from the
    batch reader (a streaming source must never infer), and the
    TIMESTAMP(NANOS) column arrives as nano-BIGINT (nanosAsLong) and is
    restored with integer DIV — same path as the batch catalog.

    The file source requires a *directory* (it lists files per
    micro-batch); the fixture is a single parquet file, so stage a
    symlink directory — zero-copy, works at any file size.  A
    multi-part table (already a directory) streams directly.  The
    staging path is DETERMINISTIC per source path: a checkpoint records
    the source basePath, so a fresh random dir per call would break
    resume ("Wrong basePath" on the second run).

    ``max_files`` caps files per trigger so an AvailableNow run over a
    multi-file table executes several micro-batches (watermark advances
    and state eviction runs between them) — used by
    tools/scale_measure.py's streaming state measurement.
    """
    import hashlib

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        stage = path
    else:
        key = hashlib.md5(path.encode()).hexdigest()[:12]
        stage = os.path.join(tempfile.gettempdir(), f"events_stream_{key}")
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "events.parquet")
        try:
            os.symlink(path, link)
        except FileExistsError:
            pass  # concurrent caller (or a prior run) already staged it
    raw_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(raw_schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.parquet(stage)
    return ensure_event_time(stream, "ts")


def ensure_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (what watermarks
    require).  Parquet TIMESTAMP(NANOS) arrives as nano-BIGINT
    (nanosAsLong) → integer DIV to micros; timestamp[us] without a zone
    arrives as TIMESTAMP_NTZ → cast, which under the UTC-pinned session
    is a pure re-tag (no instant shift), so windowed output strings
    match the batch twins exactly."""
    ts_type = dict(stream.dtypes).get(ts_col)
    if ts_type == "bigint":
        return stream.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` DIV 1000"))
        )
    if ts_type == "timestamp_ntz":
        return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream


def tumbling_counts_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour counts + value sums per event_type, with a
    watermark bounding state: windows older than the watermark are
    finalized and evicted (late rows beyond it are dropped)."""
    stream = ensure_event_time(stream, "ts")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


def session_counts_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Session windows (30-min gap) per user under watermark — the
    stateful-streaming shape (`applyInPandasWithState`-class problems
    solved with the built-in session_window operator)."""
    stream = ensure_event_time(stream, "ts")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def run_available_now(
    result: DataFrame, name: str, checkpoint_dir: str | None = None
) -> DataFrame:
    """Run a streaming aggregation to completion over all currently
    available input (Trigger.AvailableNow), landing in a memory sink;
    returns the completed result as a batch DataFrame.

    ``outputMode("complete")`` because the memory sink collects final
    window results; a production job would write append-mode to parquet
    with the watermark finalizing windows.
    """
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = result.sparkSession
    return spark.table(name)


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``keys`` already appeared
    within the watermark horizon (``dropDuplicatesWithinWatermark``).

    This is the streaming twin of ``operators.dedup.exact_dedup``: the
    watermark BOUNDS the dedup state (plain ``dropDuplicates`` on a
    stream keeps every key forever — unbounded state at 100 TB/day;
    within-watermark keeps only ``delay`` worth), trading global
    uniqueness for uniqueness within the late-data horizon — the
    standard contract for ingest-time dedup of re-delivered documents.
    """
    stream = ensure_event_time(stream, ts_col)
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def purchase_attribution_stream(
    stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each purchase joins the same user's
    view events from the preceding 30 minutes — the streaming twin of
    the batch as-of/attribution family (`asof_purchase_attribution`).

    Both sides carry a watermark and the join condition bounds event
    time on BOTH ends (``view_ts BETWEEN buy_ts - 30 min AND buy_ts``),
    which is what lets Spark evict buffered state: a view older than
    watermark + 30 min can never match a future purchase and is
    dropped.  Unbounded conditions would grow state forever at
    100 TB/day — the bound is the correctness-of-scale requirement,
    not an optimization.  Append mode, inner join: rows emit once both
    watermarks pass the match window.
    """
    ev = ensure_event_time(stream, "ts")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("buy_ts"),
        F.col("value"),
    )
    return (
        buys.withWatermark("buy_ts", watermark)
        .join(
            views.withWatermark("view_ts", watermark),
            F.expr(
                "b_user = v_user"
                " AND view_ts >= buy_ts - INTERVAL 30 MINUTES"
                " AND view_ts <= buy_ts"
            ),
            "inner",
        )
        .select(F.col("b_user").alias("user_id"), "buy_ts", "view_ts", "value")
    )


def incremental_event_counts(
    spark: SparkSession, sf_dir: str, manifest: DataFrame | None
) -> tuple[DataFrame, DataFrame]:
    """The reference-faithful incremental-batch path (process_new_files
    analogue): anti-join out already-seen event_ids, aggregate only the
    new ones, and return (result, updated_manifest)."""
    from swisscourtrulingcorpus_spark.sources.manifest import (
        new_rows_only,
        processed_union,
    )

    ev = load_table(spark, sf_dir, "events")
    fresh = new_rows_only(ev, manifest, ["event_id"])
    counts = fresh.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    return counts, processed_union(manifest, fresh, ["event_id"])


def stream_upsert_job(
    stream: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str],
):
    """Streaming merge: each micro-batch upserts into a parquet table
    via ``foreachBatch`` + the batch ``upsert_by_key`` sink — the
    production ingest-merge pattern (Delta MERGE's plain-parquet
    analogue).  Delivery is at-least-once with idempotent replay: the
    checkpoint fences completed batches, a replayed batch rewrites the
    same keys to the same rows, and the table itself is only ever
    replaced through ``sources/sinks.py::replace_table`` (staged write,
    rename swap, crash debris repaired by the next batch) — a crash can
    never leave a partial table, only a replayable batch.  Returns the
    started query; caller awaits termination.
    """
    from swisscourtrulingcorpus_spark.sources.sinks import (
        replace_table,
        upsert_by_key,
    )

    def _merge(batch: DataFrame, batch_id: int) -> None:
        replace_table(
            table_path,
            lambda old: batch if old is None else upsert_by_key(old, batch, keys),
        )

    return _available_now(stream, checkpoint, _merge)


def _available_now(stream: DataFrame, checkpoint: str, fn):
    """Start ``fn(batch, batch_id)`` as the ``foreachBatch`` sink of
    ``stream`` under Trigger.AvailableNow: drain everything currently
    available, then stop — the daily-cron batch shape, resumable from
    ``checkpoint``.  Returns the started query; caller awaits
    termination."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _binary_file_stream(spark: SparkSession, root: str, glob: str) -> DataFrame:
    """The files under ``root/*`` matching ``glob`` as a binaryFile FILE
    SOURCE: the checkpoint tracks which files each micro-batch has
    seen.  The schema is pinned (a streaming source must never
    infer)."""
    return (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length bigint,"
            " content binary"
        )
        .option("pathGlobFilter", glob)
        .load(os.path.join(root, "*"))
    )


def stream_versioned_upsert_job(
    stream: DataFrame,
    table_dir: str,
    checkpoint: str,
    keys: list[str],
):
    """Streaming merge into the VERSIONED table (`sources/versioned.py`):
    each micro-batch upserts against the latest snapshot and commits
    the merged result as a NEW version — readers get snapshot isolation
    and time travel over the ingest history, and the commit point is
    one atomic manifest rename instead of ``replace_table``'s two
    directory renames (crash debris is just an orphaned data dir;
    ``vacuum`` reclaims it).  Each micro-batch commits through
    :func:`versioned_upsert_batch`, exactly once per batch."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: versioned_upsert_batch(
            batch, batch_id, table_dir, run_tag, keys
        ),
    )


def versioned_upsert_batch(
    batch: DataFrame,
    batch_id: int,
    table_dir: str,
    run_tag: str,
    keys: list[str],
) -> None:
    """One micro-batch of the streaming merge into the versioned table:
    upsert ``batch`` against the latest snapshot by ``keys`` and commit
    the result as a new version.  Committed through
    :func:`_fold_into_store` (crash-replay + OCC contract there): a
    replay of a committed (run, batch) commits nothing."""
    from swisscourtrulingcorpus_spark.sources.sinks import upsert_by_key

    _fold_into_store(
        batch,
        batch_id,
        table_dir,
        run_tag,
        lambda b: b,
        lambda stored, delta: (
            delta if stored is None else upsert_by_key(stored, delta, keys)
        ),
    )


def sliding_counts_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding windows on a stream (1 h length, 30 min slide): each
    event lands in two window states; the watermark finalizes and
    evicts a window 2 h after its end passes — overlapping windows
    multiply STATE, not input, so slide granularity is a state-size
    knob, never a data-volume one."""
    stream = ensure_event_time(stream, "ts")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
        )
    )


def stream_ingest_landing_zone_job(
    spark,
    root: str,
    out_dir: str,
    checkpoint: str,
):
    """S1 as Structured Streaming (SURVEY §2.10's sanctioned mapping):
    the landing zone becomes a binaryFile FILE SOURCE — the checkpoint
    tracks which files each micro-batch has seen, so re-running the
    job over an unchanged tree ingests nothing and newly-landed files
    ingest exactly once (the scraper's incremental skip, delegated to
    the engine's source offsets instead of a hand-kept manifest).
    Each micro-batch runs the SAME transformation as the batch ingest
    (`sources/ingest.py::docs_from_scanned_files`) and MERGES the
    typed rows into ``out_dir`` by (spider, name) with column-level
    coalesce: a document whose .json metadata and .html/.pdf payload
    land in DIFFERENT micro-batches converges to one complete row
    (each batch contributes its non-null fields), and a replayed batch
    re-merges to the identical table — idempotent under foreachBatch's
    at-least-once delivery, where a blind append would duplicate rows
    (r04 review findings).  The table is only ever replaced through
    ``sources/sinks.py::replace_table``, as in ``stream_upsert_job``.
    Trigger.AvailableNow: drains everything currently available, then
    stops — the daily-cron batch shape, restartable as a continuous
    stream unchanged."""
    from swisscourtrulingcorpus_spark.sources.ingest import (
        docs_from_scanned_files,
        parse_file_paths,
    )
    from swisscourtrulingcorpus_spark.sources.sinks import replace_table

    files = _binary_file_stream(spark, root, "*.{json,html,htm,pdf,txt}")

    def _ingest(batch, batch_id: int) -> None:
        docs = docs_from_scanned_files(parse_file_paths(batch))
        replace_table(
            out_dir,
            lambda old: docs if old is None else _coalesce_merge_docs(old, docs),
        )

    return _available_now(files, checkpoint, _ingest)


def _coalesce_merge_docs(existing, incoming):
    """Full-outer merge of typed document rows on (spider, name):
    every data column takes the incoming side's non-null value first
    (a later batch carrying the payload fills a metadata-only row and
    vice versa); ``source_format`` follows whichever side actually has
    text, so a json-only batch can never demote an already-extracted
    document back to metadata-only."""
    e = existing.alias("e")
    i = incoming.alias("i")
    joined = e.join(i, on=["spider", "name"], how="full_outer")
    data_cols = ["signatur", "num", "datum", "html_url", "pdf_url", "text"]
    fmt = (
        F.when(F.col("i.text").isNotNull(), F.col("i.source_format"))
        .when(F.col("e.text").isNotNull(), F.col("e.source_format"))
        .otherwise(
            F.coalesce(F.col("i.source_format"), F.col("e.source_format"))
        )
    )
    return joined.select(
        "spider",
        "name",
        *[
            F.coalesce(F.col(f"i.{c}"), F.col(f"e.{c}")).alias(c)
            for c in data_cols
        ],
        fmt.alias("source_format"),
    )


_LEDGER_FILE = "replay_ledger.json"


def _read_replay_ledger(store_table: str) -> dict[str, int]:
    """{run_tag: highest committed batch_id} for the store.

    Primary home: the sidecar file (updated atomically after every
    commit; vacuum never touches it).  Fallback: scan version metas
    NEWEST-first for the cumulative ``runs`` map our commits carry
    forward — covers a crash between commit and sidecar write.
    Foreign commits (optimize_table, other jobs) have no ``runs`` map
    and are skipped; our next commit re-embeds the full ledger, so the
    scan normally stops within a few versions.

    The ledger keeps one ~30-byte entry per run tag forever (a new tag
    per force-reprocess).  There is deliberately NO automatic eviction
    — any heuristic risks evicting a live run's marker and re-opening
    the replay data-loss hole; hundreds of reprocess cycles cost
    kilobytes.  Prune manually by editing the sidecar if a store ever
    accumulates thousands of dead runs."""
    import json

    from swisscourtrulingcorpus_spark.sources.versioned import (
        version_meta,
        versions,
    )

    ledger: dict[str, int] = {}
    sidecar = os.path.join(store_table, _LEDGER_FILE)
    try:
        with open(sidecar) as fh:
            ledger = {str(k): int(v) for k, v in json.load(fh).items()}
    except (OSError, ValueError):
        ledger = {}
    for v in sorted(versions(store_table), reverse=True):
        m = version_meta(store_table, v)
        runs = m.get("runs")
        if runs is not None:
            for k, n in runs.items():
                if ledger.get(k, -1) < int(n):
                    ledger[k] = int(n)
            break  # cumulative map: the newest one is complete
    return ledger


def checkpoint_run_tag(checkpoint: str) -> str:
    """Identity of this checkpoint INSTANCE: a uuid minted on first use
    and stored inside the checkpoint dir — deleting and recreating the
    checkpoint (the standard force-reprocess move) yields a NEW tag, so
    the restarted run's batch 0 is never mistaken for the old run's
    batch 0 (a path-derived tag would be; r04 review)."""
    import uuid as _uuid

    os.makedirs(checkpoint, exist_ok=True)
    tag_file = os.path.join(checkpoint, "spark_graft_run_id")
    while True:
        try:
            with open(tag_file) as fh:
                tag = fh.read().strip()
            if tag:
                return tag
            # a crash between create and write left an empty file —
            # repair it (an empty tag shared across checkpoints would
            # alias their ledger entries)
            os.remove(tag_file)
        except FileNotFoundError:
            pass
        # write-then-rename: the tag file only ever appears complete
        tmp = tag_file + "." + _uuid.uuid4().hex
        with open(tmp, "w") as fh:
            fh.write(_uuid.uuid4().hex[:12])
        try:
            os.link(tmp, tag_file)  # exclusive: fails if another won
        except FileExistsError:
            pass
        finally:
            os.remove(tmp)


def _fold_into_store(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    run_tag: str,
    delta_of,
    merge,
) -> None:
    """Exactly-once fold of one micro-batch into a versioned store: the
    one commit body of every store-maintenance job.  ``delta_of(batch)``
    builds the batch's delta table (computed ONCE, cached because the
    OCC loop may re-merge, unpersisted on every exit);
    ``merge(stored, delta)`` returns the next snapshot, where ``stored``
    is the latest version or ``None`` for an empty store.  A job's
    per-batch side output (dedup survivors, media matches) is written
    inside ``merge``, so it lands before the commit.

    CRASH-REPLAY GUARD: foreachBatch is at-least-once.  If the store
    commit for THIS batch landed but the checkpoint did not, a replay
    would re-merge a batch the store already holds — double-counting
    additive stores, and for the dedup store, deduping the batch
    against its own committed signatures and overwriting its output
    with nothing.  Each commit records (run, batch_id); a replay of an
    already-committed batch returns before ``delta_of`` runs (the side
    output was written before the commit, so it is complete).  The
    marker ledger {run: max batch_id} is carried cumulatively in every
    commit's meta AND cached in a sidecar file (`replay_ledger.json`)
    the vacuum never touches — a concurrent committer landing after
    our commit cannot mask it, store maintenance cannot erase it, and
    the common path reads one file plus at most a few manifests.
    Batch ids are only unique WITHIN a checkpoint instance, so the tag
    comes from :func:`checkpoint_run_tag` (a fresh/recreated
    checkpoint is a new run, never a "replay") (r04 review, two
    passes).

    CONCURRENCY: the base version is captured BEFORE the snapshot is
    read, and the ledger re-read AFTER it, so the checked commit
    guarantees a successful commit saw every marker up to its base; a
    sibling committer landing in between raises ConcurrentWriteError,
    and the loop re-reads base AND ledger, re-checks the guard and
    re-merges against the winner."""
    from swisscourtrulingcorpus_spark.sources.versioned import (
        ConcurrentWriteError,
        commit_version,
        latest_version,
        read_version,
        write_json_atomic,
    )

    os.makedirs(store_table, exist_ok=True)
    if _read_replay_ledger(store_table).get(run_tag, -1) >= batch_id:
        return
    spark = batch.sparkSession
    delta = delta_of(batch).cache()
    try:
        while True:
            base = latest_version(store_table)
            ledger = _read_replay_ledger(store_table)
            if ledger.get(run_tag, -1) >= batch_id:
                # a concurrent twin of THIS batch (zombie driver +
                # restarted driver) already committed it — its output
                # is complete; rewriting would wipe it
                return
            stored = read_version(spark, store_table, base) if base else None
            updated = merge(stored, delta)
            runs = {**ledger, run_tag: batch_id}
            try:
                commit_version(
                    updated,
                    store_table,
                    base_version=base,
                    meta={"run": run_tag, "batch_id": batch_id, "runs": runs},
                )
            except ConcurrentWriteError:
                continue
            write_json_atomic(os.path.join(store_table, _LEDGER_FILE), runs)
            return
    finally:
        delta.unpersist()


def _replace_ids(
    stored: DataFrame | None, delta: DataFrame, id_col: str
) -> DataFrame:
    """Delete+insert merge: ``delta``'s rows replace every stored row
    of the same ids (a REPROCESSED document/vector replaces its old
    rows instead of double-counting them); an empty store is just the
    delta."""
    if stored is None:
        return delta
    return (
        stored.join(delta.select(id_col).distinct(), on=id_col, how="left_anti")
        .select(*delta.columns)
        .unionByName(delta)
    )


def minhash_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    out_dir: str,
    run_tag: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming near-dup-free ingest — module
    level so the at-least-once REPLAY semantics are directly testable
    (the engine calls it via foreachBatch in
    :func:`stream_minhash_dedup_job`).  Committed through
    :func:`_fold_into_store` (crash-replay + OCC contract there): a
    replay must be a no-op because it would dedup the batch against
    its own committed signatures, find zero survivors, and overwrite
    the batch's output subdir with nothing — permanent data loss."""
    from swisscourtrulingcorpus_spark.operators.dedup import (
        incremental_minhash_dedup_sig,
        minhash_signatures,
    )

    def merge(stored, sig):
        # empty store: batch-internal dedup only — the empty-signature
        # schema stands in as "history"
        store = sig.limit(0) if stored is None else stored
        survivors, updated = incremental_minhash_dedup_sig(sig, store, id_col)
        # Docs too short to shingle have NO signature (null text too),
        # hence no NEAR-dup identity — they must PASS THROUGH, not
        # silently vanish (dropping data the fingerprint can't see is
        # worse than admitting a short dup).  They DO get an exact-id
        # identity: a null-signature sentinel row in the store, so a
        # reprocessing run (fresh checkpoint over the same corpus) does
        # not ingest them twice.  Null band keys never equi-join, so
        # sentinels are invisible to the LSH probe.
        unfingerprintable = batch.join(
            sig.select(id_col), on=id_col, how="left_anti"
        ).join(store.select(id_col), on=id_col, how="left_anti")
        kept = batch.join(survivors, on=id_col, how="left_semi").unionByName(
            unfingerprintable
        )
        sentinels = unfingerprintable.select(
            id_col,
            *[
                F.lit(None).cast("bigint").alias(c)
                for c in updated.columns
                if c != id_col
            ],
        )
        # per-batch overwrite subdir: a replayed batch rewrites the
        # same files instead of appending duplicates
        kept.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"ingest_batch={run_tag}_{batch_id}")
        )
        return updated.unionByName(sentinels)

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        lambda b: minhash_signatures(b, text_col, id_col),
        merge,
    )


def stream_minhash_dedup_job(
    stream: DataFrame,
    store_table: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming near-duplicate-free ingest: each micro-batch runs
    `operators/dedup.py::incremental_minhash_dedup` against the
    versioned signature STORE (`sources/versioned.py`) via
    :func:`minhash_dedup_batch` — see :func:`_fold_into_store` for the
    crash-replay and concurrency contract.  History is only ever
    touched through its signature table; the corpus is never
    re-scanned.  Trigger.AvailableNow, restartable as a continuous
    stream."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: minhash_dedup_batch(
            batch, batch_id, store_table, out_dir, run_tag, text_col, id_col
        ),
    )


def stream_media_decode_job(
    spark: SparkSession,
    root: str,
    out_dir: str,
    checkpoint: str,
):
    """The multimodal decode stages as Structured Streaming: media
    attachments (png/wav/avi) become a binaryFile FILE SOURCE, and each
    micro-batch routes its rows through the SAME mapInPandas stages as
    batch (`extraction/multimodal.py::decode_image_features` /
    `decode_audio_features` / `sample_video_frames`), so streaming and
    batch feature rows are identical by construction (test-asserted).

    Exactly-once shape: the decode stages are per-row pure functions,
    so no merge is needed — each kind's features land in a PER-BATCH
    directory (`<out>/<kind>/batch=<id>`) written with overwrite.  A
    replayed micro-batch (foreachBatch is at-least-once) rewrites the
    same directory with the same rows instead of appending duplicates,
    and the file-source checkpoint guarantees newly-landed media files
    are decoded exactly once across restarts.  Trigger.AvailableNow:
    the daily-cron batch shape, restartable as a continuous stream."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_audio_features,
        decode_image_features,
        sample_video_frames,
    )
    from swisscourtrulingcorpus_spark.sources.ingest import (
        MEDIA_GLOB,
        parse_media_paths,
    )

    files = _binary_file_stream(spark, root, MEDIA_GLOB)

    def _decode(batch, batch_id: int) -> None:
        media = parse_media_paths(batch).cache()
        try:
            stages = {
                "image": decode_image_features(
                    media.filter("kind = 'png'").drop("kind")
                ),
                "audio": decode_audio_features(
                    media.filter("kind = 'wav'").drop("kind")
                ),
                "video": sample_video_frames(
                    media.filter("kind = 'avi'").drop("kind"), stride=1
                ),
            }
            for kind, df in stages.items():
                df.write.mode("overwrite").parquet(
                    os.path.join(out_dir, kind, f"batch={batch_id}")
                )
        finally:
            # a failed write must not leave the cached micro-batch
            # pinned across foreachBatch retries (r05 review)
            media.unpersist()

    return _available_now(files, checkpoint, _decode)


def postings_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    run_tag: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming inverted-index maintenance:
    build the delta index from the batch's NEW documents only
    (`operators/retrieval.py::build_postings`) and union it into the
    versioned postings store — the base corpus is never rescanned
    (`merge_postings` contract), and df/scalars are re-derived from
    the stored postings at read time (`index_from_postings`), so the
    store versions exactly ONE table.

    Committed through :func:`_fold_into_store` (crash-replay + OCC
    contract there); re-ingested doc ids take delete+insert semantics
    (:func:`_replace_ids`)."""
    from swisscourtrulingcorpus_spark.operators.retrieval import build_postings

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        lambda b: build_postings(b, id_col=id_col, text_col=text_col)["postings"],
        lambda stored, delta: _replace_ids(stored, delta, id_col),
    )


def stream_postings_maintenance_job(
    stream: DataFrame,
    store_table: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Continuous inverted-index maintenance: each micro-batch of new
    documents folds into the versioned postings store via
    :func:`postings_maintenance_batch`; serving reopens the store with
    `operators/retrieval.py::index_from_postings` + `bm25_search`.
    Trigger.AvailableNow — the reference's "process everything new,
    then stop" cron semantics, restartable as a continuous stream."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: postings_maintenance_batch(
            batch, batch_id, store_table, run_tag, text_col, id_col
        ),
    )


def stream_curation_job(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    mix_rates: dict[str, float] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
):
    """The curation funnel's STATELESS stages as Structured Streaming:
    Gopher quality rules → word-exact blocklist → deterministic
    md5-coin mixture downsample, all per-row JVM predicates from the
    SAME shared builders as the batch gates
    (`functions/curation.py`, `operators/training.py::
    domain_mix_sample`) — streaming and batch survivors are identical
    by construction (test-asserted).  Exact dedup is the one stateful
    stage and stays with `streaming_dedup` /
    `stream_minhash_dedup_job`; composing it after this job keeps each
    concern restartable on its own checkpoint.

    Exactly-once shape mirrors `stream_media_decode_job`: survivors
    land in a PER-BATCH directory written with overwrite, so an
    at-least-once foreachBatch replay rewrites the same rows instead
    of appending duplicates."""
    from swisscourtrulingcorpus_spark.functions.curation import (
        blocklist_keep,
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.training import (
        domain_mix_sample,
    )

    rates = {} if mix_rates is None else mix_rates

    def _curate(batch: DataFrame, batch_id: int) -> None:
        kept = batch.where(gopher_rule_columns(text_col)["keep"]).where(
            blocklist_keep(text_col)
        )
        kept = domain_mix_sample(kept, group_col, id_col, rates, seed="mix")
        kept.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return _available_now(stream, checkpoint, _curate)


def stream_nb_scoring_job(
    stream: DataFrame,
    model: DataFrame,
    prior: DataFrame,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Score a document stream against a FROZEN batch-trained NB model
    (`operators/classifier.py::nb_train`) — the standard deployment
    split of a curation classifier: train offline on the labeled
    corpus, apply online to the ingest stream.  The (model, prior)
    tables are fixed-size (2 x n_buckets / 2 rows) and broadcast into
    every micro-batch; scores are the same exact micro-int sums as the
    batch scorer (`nb_score_with_model` is the SHARED implementation,
    so streaming == batch by construction, test-asserted).

    Exactly-once shape mirrors `stream_curation_job`: per-batch output
    directory written with overwrite, so an at-least-once foreachBatch
    replay rewrites the same rows instead of appending duplicates.
    The model tables are materialized to driver-side rows ONCE at job
    construction (vocab-bounded, like the centroid collects) and
    rebuilt per batch from literals — a foreachBatch closure must not
    capture DataFrames whose lineage spans micro-batches.
    """
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_score_with_model,
    )

    spark = stream.sparkSession
    model_rows = [(r["b"], r["label"], r["loglik_micro"]) for r in model.collect()]
    prior_rows = [(r["label"], r["prior_micro"]) for r in prior.collect()]
    # bucket count DERIVED from the frozen model (the dense grid spans
    # 0..B-1), never hard-coded: a mismatched constant would silently
    # drop out-of-range buckets from every score (r06 review)
    n_buckets = max(r[0] for r in model_rows) + 1

    def _score(batch: DataFrame, batch_id: int) -> None:
        m = spark.createDataFrame(
            model_rows, "b bigint, label boolean, loglik_micro bigint"
        )
        p = spark.createDataFrame(
            prior_rows, "label boolean, prior_micro bigint"
        )
        out = nb_score_with_model(
            batch, text_col, id_col, m, p, n_buckets
        )
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return _available_now(stream, checkpoint, _score)


def nb_training_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    run_tag: str,
    label_col,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> None:
    """One micro-batch of streaming incremental NB training: the
    batch's sufficient-statistics delta
    (`operators/classifier.py::nb_stats_table`) merges into the
    versioned count store via `nb_merge_counts` — history text is never
    re-tokenized, only the vocab-bounded tables move.

    Committed through :func:`_fold_into_store` (crash-replay + OCC
    contract there): counts are ADDITIVE, so an at-least-once replay
    of an already-committed batch would double-count every token — the
    (run, batch_id) ledger is load-bearing here."""
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_merge_counts,
        nb_stats_table,
    )

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        lambda b: nb_stats_table(b, text_col, id_col, label_col, n_buckets),
        lambda stored, delta: (
            delta if stored is None else nb_merge_counts(stored, delta)
        ),
    )


def stream_nb_training_job(
    stream: DataFrame,
    store_table: str,
    checkpoint: str,
    label_col,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
):
    """Streaming incremental NB TRAINING: each micro-batch folds its
    count delta into the versioned statistics store; a model built from
    the store (`nb_train_from_stats`) after N batches is bit-identical
    to one-shot batch training over the union (test-asserted) — the
    counts-are-mergeable property doing the work.  Together with
    :func:`stream_nb_scoring_job` this closes the classifier loop:
    train incrementally on the labeled stream, freeze, score the
    ingest stream.  Trigger.AvailableNow, restartable."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: nb_training_batch(
            batch,
            batch_id,
            store_table,
            run_tag,
            label_col,
            text_col,
            id_col,
            n_buckets,
        ),
    )


def hll_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    run_tag: str,
    key_col: str = "user_id",
    p: int = 6,
) -> None:
    """One micro-batch of incremental distinct-count maintenance: fold
    the batch's HLL register table (`operators/sketches.py::
    portable_hll_registers`) into the versioned store by max-merge —
    the sketch's merge IS the union, so history is never rescanned and
    the store stays at most 2^p rows however much data has streamed
    through.  This replaces the reference's recompute-from-scratch
    counter upserts (`abstract_preprocessor.py:316-326`) with bounded
    state.

    Committed through :func:`_fold_into_store` (crash-replay + OCC
    contract there) — max-merge is idempotent anyway, but the ledger
    keeps the version chain replay-clean."""
    from swisscourtrulingcorpus_spark.operators.sketches import (
        portable_hll_registers,
    )

    def merge(stored, delta):
        if stored is None:
            return delta
        return (
            stored.select("register", "max_rank")
            .unionByName(delta)
            .groupBy("register")
            .agg(F.max("max_rank").alias("max_rank"))
        )

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        lambda b: portable_hll_registers(b, key_col, p=p),
        merge,
    )


def stream_hll_maintenance_job(
    stream: DataFrame,
    store_table: str,
    checkpoint: str,
    key_col: str = "user_id",
    p: int = 6,
):
    """Continuous distinct-count sketch maintenance: each micro-batch
    max-merges its register table into the versioned store via
    :func:`hll_maintenance_batch`; any reader answers "how many
    distinct keys so far" from the stored 2^p rows with
    `operators/sketches.py::portable_hll_estimate_milli`.
    Trigger.AvailableNow — restartable catch-up semantics like the
    other maintenance jobs."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: hll_maintenance_batch(
            batch, batch_id, store_table, run_tag, key_col, p
        ),
    )


def cms_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    run_tag: str,
    value_col: str,
    width: int = 256,
    depth: int = 4,
) -> None:
    """One micro-batch of incremental frequency-sketch maintenance:
    build the batch's count-min table (`operators/sketches.py::
    cms_table`) and SUM-merge it into the versioned store.  Counts are
    ADDITIVE, so — exactly like `nb_training_batch` and unlike the
    idempotent HLL max-merge — the (run, batch_id) replay ledger of
    :func:`_fold_into_store` is load-bearing: a replayed committed
    batch would double every bucket.  Store size stays depth x width
    rows however much data streams through; any reader answers
    heavy-hitter / frequency questions from it via `cms_estimate`
    without touching raw data."""
    from swisscourtrulingcorpus_spark.operators.sketches import cms_table

    def merge(stored, delta):
        if stored is None:
            return delta
        return (
            stored.select("d", "bucket", "cnt")
            .unionByName(delta)
            .groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        lambda b: cms_table(b, value_col, width=width, depth=depth),
        merge,
    )


def stream_cms_maintenance_job(
    stream: DataFrame,
    store_table: str,
    checkpoint: str,
    value_col: str,
    width: int = 256,
    depth: int = 4,
):
    """Continuous frequency-sketch maintenance via
    :func:`cms_maintenance_batch`; Trigger.AvailableNow catch-up
    semantics like the other maintenance jobs."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: cms_maintenance_batch(
            batch, batch_id, store_table, run_tag, value_col, width, depth
        ),
    )


def media_fingerprint_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    out_dir: str,
    run_tag: str,
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming perceptual-fingerprint
    registry (VERDICT r07 item 4 — what a 100 TB media ingest actually
    runs): decode the batch's new payloads ONCE through the unified
    sniff-and-fingerprint router (`extraction/multimodal.py::
    media_fingerprints` — image dHash / audio energy envelope / video
    brightness envelope, map-side, payloads never shuffle), probe the
    slim fingerprints against the accumulated registry with the banded
    hamming lookup (`operators/dedup.py::banded_hamming_probe`,
    grouped by modality), add the batch-INTERNAL pairs via the shared
    `banded_hamming_pairs`, and upsert the new fingerprints into the
    versioned registry store.  History is only ever touched through
    its fingerprint table; payload bytes are read exactly once,
    in the batch that ingested them.

    Every pair of the corpus-wide batch self-join surfaces exactly
    once, in the micro-batch where its LATER element arrives — the
    union of all batches' match outputs equals the one-shot
    `media_neardup_pairs` composition (test-asserted).

    Committed through :func:`_fold_into_store` (crash-replay + OCC
    contract there); the match output is written inside the merge, so
    it lands before the commit.  Undecodable/unroutable payloads land
    in the registry as null-fingerprint sentinel rows (re-ingest dedup
    by id still works; null band keys never equi-join, so they are
    invisible to the probe)."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        media_fingerprints,
    )
    from swisscourtrulingcorpus_spark.operators.dedup import (
        banded_hamming_pairs,
        banded_hamming_probe,
    )

    def merge(stored, fp):
        new_fp = fp.where(F.col("fp").isNotNull())
        matches = banded_hamming_pairs(
            new_fp, "fp", id_col=id_col, group_cols=("modality",)
        )
        if stored is not None:
            reg_fp = stored.where(F.col("fp").isNotNull()).join(
                new_fp.select(id_col), on=id_col, how="left_anti"
            )
            matches = matches.unionByName(
                banded_hamming_probe(
                    new_fp, reg_fp, "fp", id_col=id_col, group_cols=("modality",)
                )
            )
        matches.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"matches_batch={run_tag}_{batch_id}")
        )
        # a reprocessed doc replaces its fingerprint instead of
        # duplicating it
        return _replace_ids(stored, fp, id_col)

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        lambda b: media_fingerprints(b.select(id_col, "payload")),
        merge,
    )


def stream_media_fingerprint_job(
    stream: DataFrame,
    store_table: str,
    out_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
):
    """Continuous perceptual near-dup registry maintenance over a
    heterogeneous media stream — the streaming twin of the
    `media_neardup_pairs` batch composition, mirroring the postings /
    HLL / CMS maintenance jobs: each micro-batch folds through
    :func:`media_fingerprint_maintenance_batch` (decode -> fingerprint
    -> banded-hamming match against the registry -> versioned upsert).
    Trigger.AvailableNow catch-up semantics, restartable as a
    continuous stream."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: media_fingerprint_maintenance_batch(
            batch, batch_id, store_table, out_dir, run_tag, id_col
        ),
    )


def cdc_chunk_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    run_tag: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming content-defined-chunk store
    (the storage-dedup ingest): chunk the batch's NEW documents with
    the Rabin-Karp cutter (`operators/dedup.py::cdc_chunks` — one
    map-side pass, text never shuffles) and fold the slim
    (doc_id, chunk_hash, chunk_len) rows into the versioned chunk
    store.  The duplicate-chunk report (`cdc_chunk_dedup` shape) and
    the bytes-saved accounting re-derive from the stored table at read
    time, so the store versions exactly ONE table — the postings-
    maintenance contract, applied to chunks.

    Committed through :func:`_fold_into_store` (crash-replay + OCC
    contract there); re-ingested doc ids take delete+insert semantics
    (a reprocessed document replaces its chunks instead of
    double-counting them)."""
    from swisscourtrulingcorpus_spark.operators.dedup import cdc_chunks

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        lambda b: cdc_chunks(b, text_col, id_col),
        lambda stored, delta: _replace_ids(stored, delta, id_col),
    )


def stream_cdc_chunk_job(
    stream: DataFrame,
    store_table: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Continuous CDC chunk-store maintenance: each micro-batch of new
    documents folds through :func:`cdc_chunk_maintenance_batch`;
    serving re-derives the duplicate-chunk report from the stored
    chunk table (`operators/dedup.py::cdc_chunk_dedup` shape).
    Trigger.AvailableNow catch-up semantics like the other maintenance
    jobs."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: cdc_chunk_maintenance_batch(
            batch, batch_id, store_table, run_tag, text_col, id_col
        ),
    )


def ivf_maintenance_batch(
    batch: DataFrame,
    batch_id: int,
    store_table: str,
    run_tag: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """One micro-batch of streaming IVF index maintenance — the ANN
    family's twin of the postings job: assign the batch's NEW vectors
    to their coarse cluster (`operators/clustering.py::ivf_index`, one
    expression-argmin scan, no shuffle) and fold the
    (id, vector, cluster) rows into the versioned index store; serving
    calls `ivf_topk` over the store, which sees the ``cluster`` column
    and skips re-assignment — the corpus is scanned once, in the batch
    that ingested it.

    Null/invalid vectors land as null-cluster sentinel rows: they have
    no nearest centroid (the `assign_clusters` contract) but keep
    their re-ingest identity, and a null cluster never equi-joins a
    probe list.  Committed through :func:`_fold_into_store`
    (crash-replay + OCC contract there); re-ingested ids take
    delete+insert semantics."""
    from swisscourtrulingcorpus_spark.operators.clustering import ivf_index

    def delta_of(b: DataFrame) -> DataFrame:
        src = b.select(id_col, vec_col)
        assigned = ivf_index(src, centroids, vec_col, id_col).withColumn(
            "cluster", F.col("cluster").cast("int")
        )
        sentinels = src.join(
            assigned.select(id_col), on=id_col, how="left_anti"
        ).withColumn("cluster", F.lit(None).cast("int"))
        return assigned.unionByName(sentinels)

    _fold_into_store(
        batch,
        batch_id,
        store_table,
        run_tag,
        delta_of,
        lambda stored, delta: _replace_ids(stored, delta, id_col),
    )


def stream_ivf_maintenance_job(
    stream: DataFrame,
    store_table: str,
    checkpoint: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Continuous IVF index maintenance over an embedding stream: each
    micro-batch folds through :func:`ivf_maintenance_batch`; serving
    reopens the store and runs `operators/clustering.py::ivf_topk`
    (the stored ``cluster`` column makes search skip assignment).
    Trigger.AvailableNow catch-up semantics like the other maintenance
    jobs."""
    run_tag = checkpoint_run_tag(checkpoint)
    return _available_now(
        stream,
        checkpoint,
        lambda batch, batch_id: ivf_maintenance_batch(
            batch, batch_id, store_table, run_tag, centroids, vec_col, id_col
        ),
    )
