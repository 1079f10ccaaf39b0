"""Structured Streaming == batch equivalence (the unified-model check).

Runs the streaming jobs with Trigger.AvailableNow over the events
fixture and asserts the finished result equals the oracle-verified
batch query on the same data.
"""

from __future__ import annotations

import pandas as pd

# Slow tier (pytest.ini): multi-minute suite, deselected from the
# default run so the round driver's pytest window completes.
import pytest

pytestmark = pytest.mark.slow


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    from swisscourtrulingcorpus_spark.plans.window_queries import tumbling_hourly
    from swisscourtrulingcorpus_spark.streaming import (
        read_events_stream,
        run_available_now,
        tumbling_counts_stream,
    )

    stream = read_events_stream(spark, sf_dir)
    assert stream.isStreaming
    got = run_available_now(
        tumbling_counts_stream(stream), "t_tumbling_counts"
    )
    want = tumbling_hourly(spark, sf_dir)
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))


def test_streaming_sessions_equal_batch(spark, sf_dir):
    from swisscourtrulingcorpus_spark.plans.window_queries import session_windows
    from swisscourtrulingcorpus_spark.streaming import (
        read_events_stream,
        run_available_now,
        session_counts_stream,
    )

    got = run_available_now(
        session_counts_stream(read_events_stream(spark, sf_dir)),
        "t_session_counts",
    )
    want = session_windows(spark, sf_dir).select(
        "user_id", "session_start", "n_events"
    )
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))


def test_incremental_manifest(spark, sf_dir):
    from swisscourtrulingcorpus_spark.streaming.jobs import incremental_event_counts

    # first run: everything is new
    counts1, manifest = incremental_event_counts(spark, sf_dir, None)
    total1 = sum(r.cnt for r in counts1.collect())
    # second run with the manifest: nothing is new
    counts2, manifest2 = incremental_event_counts(spark, sf_dir, manifest)
    assert counts2.count() == 0
    assert total1 > 0
    assert manifest2.count() == manifest.count()


def test_streaming_picks_up_new_files(spark, sf_dir, tmp_path):
    """File-source incrementality: a second run over a staging dir that
    gained a new file processes ONLY the new rows (the reference's
    process_new_files_only, done by the engine's checkpoint)."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    import glob
    import shutil

    stage = tmp_path / "incoming"
    stage.mkdir()
    ckpt = str(tmp_path / "ckpt")
    ev = load_table(spark, sf_dir, "events")
    batch1 = ev.where(F.col("event_id") < 100)
    batch2 = ev.where((F.col("event_id") >= 100) & (F.col("event_id") < 150))

    def land(df, name):
        # the file source lists FILES; a df.write 'x.parquet' directory
        # is invisible to it — land a flat part file instead
        tmp = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = glob.glob(str(tmp / "part-*.parquet"))[0]
        shutil.copy(part, stage / f"{name}.parquet")

    land(batch1, "b1")
    schema = spark.read.parquet(str(stage / "b1.parquet")).schema

    def run_once(name):
        stream = spark.readStream.schema(schema).parquet(str(stage))
        counts = stream.groupBy().agg(F.count(F.lit(1)).alias("n"))
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
        return rows[0].n if rows else 0

    assert run_once("inc1") == 100
    land(batch2, "b2")
    # complete-mode memory sink re-emits the full aggregate, which now
    # includes ONLY checkpoint-known state + the new file's rows
    assert run_once("inc2") == 150


def test_stateful_user_profile(spark, sf_dir, tmp_path):
    """applyInPandasWithState: the final per-user profile must equal the
    batch aggregate over the same events."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.streaming import read_events_stream
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        user_profile_stream,
    )

    stream = user_profile_stream(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_profiles")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode may emit several rows per user across batches — the
    # LAST emission per user is the final state
    got = (
        spark.table("t_profiles")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    joined = got.alias("g").join(want.alias("w"), on="user_id")
    assert joined.count() == want.count()
    bad = joined.where(
        (F.col("g.n_events") != F.col("w.n_events"))
        | (F.abs(F.col("g.total_value") - F.col("w.total_value")) > 0.05)
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact dedup: re-delivered rows (same key) within the
    watermark horizon are dropped — output matches batch dropDuplicates
    on the same doubled input."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.jobs import streaming_dedup

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)
    doubled = ev.unionAll(ev)  # every event re-delivered once
    stage = tmp_path / "dedup_in"
    doubled.write.parquet(str(stage))
    schema = spark.read.parquet(str(stage)).schema
    stream = spark.readStream.schema(schema).parquet(str(stage))
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))

    q = (
        streaming_dedup(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_dedup")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_stream_attribution_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join == the equivalent batch join: every
    purchase paired with the same user's views in the prior 30 min.
    Append-mode inner join with bounded event-time condition, so
    AvailableNow drains the full fixture and emits every match."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming import read_events_stream
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        ensure_event_time,
        purchase_attribution_stream,
    )

    q = (
        purchase_attribution_stream(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("t_attrib")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_attrib")

    ev = ensure_event_time(load_table(spark, sf_dir, "events"), "ts")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts").alias("buy_ts"), "value"
    )
    want = buys.join(
        views,
        (F.col("b_user") == F.col("v_user"))
        & (F.col("view_ts") >= F.col("buy_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("view_ts") <= F.col("buy_ts")),
    ).select(F.col("b_user").alias("user_id"), "buy_ts", "view_ts", "value")

    assert want.count() > 0
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))


def test_stream_upsert_foreachbatch(spark, sf_dir, tmp_path):
    """foreachBatch streaming merge: re-delivered keys REPLACE their
    rows (delete+insert semantics), fresh keys append — and a second
    delivery of the same data leaves the table unchanged (idempotent)."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.jobs import stream_upsert_job

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 300)
    table = str(tmp_path / "merged_events")

    def deliver(df, ckpt):
        stage = str(tmp_path / f"in_{ckpt}")
        df.write.parquet(stage)
        stream = spark.readStream.schema(
            spark.read.parquet(stage).schema
        ).parquet(stage)
        q = stream_upsert_job(stream, table, str(tmp_path / f"ck_{ckpt}"), ["event_id"])
        q.awaitTermination()

    first = ev.where(F.col("event_id") < 200)
    deliver(first, "a")
    assert spark.read.parquet(table).count() == first.count()

    # second delivery: 100 overlapping keys (mutated value) + 100 new
    second = ev.withColumn(
        "value", F.col("value") + 1000
    ).where((F.col("event_id") >= 100) & (F.col("event_id") < 300))
    deliver(second, "b")
    merged = spark.read.parquet(table)
    assert merged.count() == ev.count()
    # overlapping keys carry the NEW value
    overlap = merged.where(
        (F.col("event_id") >= 100) & (F.col("event_id") < 200)
    )
    old = ev.select("event_id", F.col("value").alias("old_value"))
    bad = overlap.join(old, "event_id").where(
        F.col("value") != F.col("old_value") + 1000
    )
    assert bad.count() == 0


def test_streaming_sliding_equals_batch(spark, sf_dir):
    """Sliding-window stream == the oracle-gated batch twin."""
    from swisscourtrulingcorpus_spark.plans.window_queries import sliding_hourly
    from swisscourtrulingcorpus_spark.streaming import read_events_stream
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        run_available_now,
        sliding_counts_stream,
    )

    got = run_available_now(
        sliding_counts_stream(read_events_stream(spark, sf_dir)),
        "t_sliding_counts",
    )
    want = sliding_hourly(spark, sf_dir)
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(want))


def test_stream_upsert_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between the swap renames leaves the table at .old and
    no live dir; the next delivery must restore it before merging so
    no previously-committed batch is lost."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.jobs import stream_upsert_job

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 200)
    table = str(tmp_path / "merged_events")

    def deliver(df, ckpt):
        stage = str(tmp_path / f"in_{ckpt}")
        df.write.parquet(stage)
        stream = spark.readStream.schema(
            spark.read.parquet(stage).schema
        ).parquet(stage)
        q = stream_upsert_job(stream, table, str(tmp_path / f"ck_{ckpt}"), ["event_id"])
        q.awaitTermination()

    first = ev.where(F.col("event_id") < 100)
    deliver(first, "a")
    n_first = first.count()

    # simulate the crash window: table renamed away, stale staging left
    os.rename(table, table + ".old")
    os.makedirs(table + ".staging")
    assert not os.path.isdir(table)

    second = ev.where(F.col("event_id") >= 100)
    deliver(second, "b")
    assert spark.read.parquet(table).count() == n_first + second.count()
    # crash debris swept
    assert not os.path.isdir(table + ".old")
    leftovers = [f for f in os.listdir(tmp_path) if f.endswith((".staging", ".old"))]
    assert leftovers == []


def test_sibling_runs_race_no_lost_output_no_double_ingest(spark, tmp_path):
    """VERDICT r04 item 7 — black-box concurrency pin on the replay
    ledger: two LIVE streaming jobs (distinct checkpoint instances =
    distinct run tags) ingest overlapping corpora against ONE
    signature store, racing batch-for-batch from separate threads.
    Required outcome whatever the interleaving: every batch's output
    dir exists (no lost batch), near-dup pairs never BOTH survive (no
    double-ingest — the OCC retry re-dedups against the winner), and
    the cumulative {run: max batch_id} ledger carries both runs so a
    subsequent replay of ANY batch is a no-op."""
    import os
    import threading

    from swisscourtrulingcorpus_spark.sources import versioned as V
    from swisscourtrulingcorpus_spark.streaming.jobs import minhash_dedup_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    os.makedirs(store)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    fresh = "one two three four five six seven eight nine ten"
    later = "red green blue yellow purple orange pink brown black white"
    # round 0: docs 1/11 are near-dups of each other ACROSS the runs
    batches = {
        ("runA", 0): [(1, base), (2, fresh)],
        ("runB", 0): [(11, base + " X"), (12, later)],
        # round 1: docs 21/31 near-dup each other; 22 dups history
        ("runA", 1): [(21, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"), (22, fresh + " Y")],
        ("runB", 1): [(31, "lorem ipsum dolor sit amet consectetur adipiscing elit sed Z")],
    }
    dfs = {
        k: spark.createDataFrame(rows, "doc_id: long, text: string")
        for k, rows in batches.items()
    }

    errors: list[BaseException] = []

    def run(tag_batch):
        tag, bid = tag_batch
        try:
            minhash_dedup_batch(dfs[tag_batch], bid, store, out, run_tag=tag)
        except BaseException as e:  # pragma: no cover - surfaced below
            errors.append(e)

    for rnd in (0, 1):
        threads = [
            threading.Thread(target=run, args=((tag, rnd),))
            for tag in ("runA", "runB")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    assert errors == [], errors

    # no lost batch: all four output dirs exist
    for (tag, bid) in batches:
        assert os.path.isdir(os.path.join(out, f"ingest_batch={tag}_{bid}")), (tag, bid)

    ids = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    # no double-ingest: exactly one of each near-dup pair survives
    assert sum(i in ids for i in (1, 11)) == 1, ids
    assert sum(i in ids for i in (21, 31)) == 1, ids
    # fresh docs always survive; 22 near-dups doc 2's history
    assert 2 in ids and 12 in ids
    assert 22 not in ids
    assert len(ids) == 4, ids

    # ledger carries both runs at their max batch id
    ledger = V.version_meta(store, V.latest_version(store))["runs"]
    assert ledger == {"runA": 1, "runB": 1}

    # replaying every batch is a no-op: same output, no new versions
    versions_before = V.versions(store)
    for (tag, bid), df in dfs.items():
        minhash_dedup_batch(df, bid, store, out, run_tag=tag)
    assert V.versions(store) == versions_before
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == ids


def test_stream_media_decode_matches_batch(spark, tmp_path):
    """The media decode stages composed with a streaming binaryFile
    source produce EXACTLY the batch stages' rows (per-row pure
    transforms), a restart over the unchanged tree decodes nothing
    new, and newly-landed files decode exactly once."""
    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        decode_audio_features,
        decode_image_features,
        sample_video_frames,
    )
    from swisscourtrulingcorpus_spark.sources.ingest import (
        scan_media_attachments,
        write_rich_fixture_tree,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        stream_media_decode_job,
    )

    root = str(tmp_path / "zone")
    out = str(tmp_path / "features")
    ckpt = str(tmp_path / "ckpt")
    write_rich_fixture_tree(root, n_docs=48)

    q = stream_media_decode_job(spark, root, out, ckpt)
    q.awaitTermination()

    media = scan_media_attachments(spark, root).cache()
    batch = {
        "image": decode_image_features(media.filter("kind = 'png'").drop("kind")),
        "audio": decode_audio_features(media.filter("kind = 'wav'").drop("kind")),
        "video": sample_video_frames(
            media.filter("kind = 'avi'").drop("kind"), stride=1
        ),
    }
    for kind, bdf in batch.items():
        got = spark.read.parquet(f"{out}/{kind}/batch=*")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, bdf.collect())
        ), kind

    # restart over the unchanged tree: the file-source checkpoint skips
    # everything — no new batch directories appear
    import os

    dirs_before = {
        k: sorted(os.listdir(os.path.join(out, k))) for k in batch
    }
    q2 = stream_media_decode_job(spark, root, out, ckpt)
    q2.awaitTermination()
    for k in batch:
        assert sorted(os.listdir(os.path.join(out, k))) == dirs_before[k]

    # a newly-landed file is decoded exactly once on the next run
    from swisscourtrulingcorpus_spark.extraction.imagecodec import encode_png

    late = os.path.join(root, "CH_BGer", "late_doc_9999.png")
    with open(late, "wb") as fh:
        fh.write(encode_png(2, 2, 3, bytes(range(12))))
    q3 = stream_media_decode_job(spark, root, out, ckpt)
    q3.awaitTermination()
    img = spark.read.parquet(f"{out}/image/batch=*")
    late_rows = img.filter("doc_id = 9999").collect()
    assert len(late_rows) == 1 and late_rows[0]["fmt"] == "png"
    assert img.count() == batch["image"].count() + 1
    media.unpersist()


def test_stream_postings_maintenance_equals_batch_rebuild(spark, sf_dir, tmp_path):
    """Streaming index maintenance == batch rebuild: stream the
    documents corpus in micro-batches into the versioned postings
    store, then search over `index_from_postings(store)` and over a
    fresh `build_postings(all docs)` — identical results.  A rerun
    over the same checkpoint (no new files) must be a no-op, and a
    direct replay of an already-committed batch id must not
    double-count postings."""
    from swisscourtrulingcorpus_spark.operators.retrieval import (
        bm25_search,
        build_postings,
        index_from_postings,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        checkpoint_run_tag,
        postings_maintenance_batch,
        stream_postings_maintenance_job,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = str(tmp_path / "docs_in")
    docs.repartition(4).write.parquet(stage)
    store = str(tmp_path / "postings_store")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema(spark.read.parquet(stage).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = stream_postings_maintenance_job(stream, store, ckpt)
        q.awaitTermination()

    _run()
    v1 = latest_version(store)
    stored = read_version(spark, store, v1)
    served = index_from_postings(stored)
    full = build_postings(docs)
    queries = spark.createDataFrame(
        [("qa", "hash join"), ("qb", "stream window table")],
        ["query_id", "text"],
    )
    got = sorted(map(tuple, bm25_search(served, queries, k=10).collect()))
    want = sorted(map(tuple, bm25_search(full, queries, k=10).collect()))
    assert got == want and len(got) > 0

    # restart over the same checkpoint: nothing new -> no new version
    _run()
    assert latest_version(store) == v1

    # crash-replay: re-applying an already-committed batch id is a no-op
    run_tag = checkpoint_run_tag(ckpt)
    postings_maintenance_batch(docs.limit(7), 0, store, run_tag)
    assert latest_version(store) == v1
    n_postings = read_version(spark, store, v1).count()
    assert n_postings == full["postings"].count()


def test_stream_postings_reprocess_replaces_not_duplicates(spark, sf_dir, tmp_path):
    """A fresh checkpoint over an overlapping corpus (reprocessing)
    must REPLACE a document's postings, not double-count them —
    delete+insert semantics, mirroring `sources/sinks.py::upsert_by_key`."""
    from swisscourtrulingcorpus_spark.operators.retrieval import build_postings
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        postings_maintenance_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    store = str(tmp_path / "store2")
    postings_maintenance_batch(docs, 0, store, "runA")
    # reprocess the same docs under a DIFFERENT run tag (fresh
    # checkpoint): postings must stay identical, not double
    postings_maintenance_batch(docs, 0, store, "runB")
    stored = read_version(spark, store, latest_version(store))
    want = build_postings(docs)["postings"]
    assert sorted(map(tuple, stored.collect())) == sorted(map(tuple, want.collect()))


def test_stream_curation_equals_batch(spark, sf_dir, tmp_path):
    """The streaming curation twin must keep EXACTLY the documents the
    batch predicates keep (shared builders — identical by
    construction), and a second AvailableNow run over new files must
    only process the new ones (file-source checkpoint)."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.functions.curation import (
        blocklist_keep,
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.training import (
        domain_mix_sample,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.jobs import stream_curation_job

    rates = {"fr": 0.5, "it": 0.25}
    docs = load_table(spark, sf_dir, "documents")
    stage = tmp_path / "stage"
    stage.mkdir()
    out = tmp_path / "curated"
    ckpt = str(tmp_path / "ckpt")

    def land(df, name):
        tmp = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        _shutil.copy(part, stage / f"{name}.parquet")

    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    land(first, "b1")
    schema = spark.read.parquet(str(stage / "b1.parquet")).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(stage))
        q = stream_curation_job(stream, str(out), ckpt, mix_rates=rates)
        q.awaitTermination()

    run_once()
    land(second, "b2")
    run_once()

    got = {
        r.doc_id
        for r in spark.read.parquet(str(out / "batch=*")).select("doc_id").collect()
    }
    want_df = domain_mix_sample(
        docs.where(gopher_rule_columns("text")["keep"]).where(
            blocklist_keep("text")
        ),
        "lang",
        "doc_id",
        rates,
        seed="mix",
    )
    want = {r.doc_id for r in want_df.select("doc_id").collect()}
    assert got == want and len(want) > 0


def test_stream_nb_scoring_equals_batch(spark, sf_dir, tmp_path):
    """A frozen batch-trained NB model applied to a document stream must
    produce byte-identical scores to the batch scorer (shared
    implementation), across two AvailableNow runs with a file landing
    between them (checkpoint processes only the new file)."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_score_with_model,
        nb_train,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.jobs import stream_nb_scoring_job

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    label = gopher_rule_columns("text")["keep"]
    model, prior = nb_train(docs, "text", "doc_id", label)
    model = model.localCheckpoint(eager=True)
    prior = prior.localCheckpoint(eager=True)

    stage = tmp_path / "stage"
    stage.mkdir()
    out = tmp_path / "scored"
    ckpt = str(tmp_path / "ckpt")

    def land(df, name):
        tmp = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        _shutil.copy(part, stage / f"{name}.parquet")

    land(docs.where(F.col("doc_id") % 2 == 0), "b1")
    schema = spark.read.parquet(str(stage / "b1.parquet")).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(stage))
        q = stream_nb_scoring_job(stream, model, prior, str(out), ckpt)
        q.awaitTermination()

    run_once()
    land(docs.where(F.col("doc_id") % 2 == 1), "b2")
    run_once()

    got = {
        r.doc_id: (r.s_pos_micro, r.s_neg_micro, r.pred)
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        r.doc_id: (r.s_pos_micro, r.s_neg_micro, r.pred)
        for r in nb_score_with_model(
            docs, "text", "doc_id", model, prior
        ).collect()
    }
    assert got == want and len(got) == docs.count()


def test_stream_nb_training_equals_batch(spark, sf_dir, tmp_path):
    """A model built from the streaming training store after two file
    landings must be BIT-IDENTICAL to one-shot batch training over the
    full corpus (mergeable-counts property), and replaying the job with
    no new files must not advance the store (replay guard: additive
    counts would double)."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.functions.curation import (
        gopher_rule_columns,
    )
    from swisscourtrulingcorpus_spark.operators.classifier import (
        nb_train,
        nb_train_from_stats,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        stream_nb_training_job,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    label = gopher_rule_columns("text")["keep"]

    stage = tmp_path / "stage"
    stage.mkdir()
    store = str(tmp_path / "nb_store")
    ckpt = str(tmp_path / "ckpt")

    def land(df, name):
        tmp = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        _shutil.copy(part, stage / f"{name}.parquet")

    land(docs.where(F.col("doc_id") % 2 == 0), "b1")
    schema = spark.read.parquet(str(stage / "b1.parquet")).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(stage))
        q = stream_nb_training_job(stream, store, ckpt, label)
        q.awaitTermination()

    run_once()
    land(docs.where(F.col("doc_id") % 2 == 1), "b2")
    run_once()

    v = latest_version(store)
    stats = read_version(spark, store, v)
    got_m, got_p = nb_train_from_stats(stats)
    want_m, want_p = nb_train(docs, "text", "doc_id", label)
    assert {tuple(r) for r in got_m.collect()} == {
        tuple(r) for r in want_m.collect()
    }
    assert {tuple(r) for r in got_p.collect()} == {
        tuple(r) for r in want_p.collect()
    }

    # replay with no new files: the store version must not advance
    run_once()
    assert latest_version(store) == v


def test_nb_training_replay_and_sibling_runs(spark, tmp_path):
    """Counts are ADDITIVE, so the replay guard is load-bearing in a way
    the dedup store's isn't: a replayed committed batch would DOUBLE
    every token count.  Replay of a committed (run, batch_id) must be a
    no-op; a DIFFERENT run with the same batch_id is new data and must
    merge; and a concurrent committer landing after our commit must not
    mask the replay marker."""
    import os

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.sources import versioned as V
    from swisscourtrulingcorpus_spark.streaming.jobs import nb_training_batch

    store = str(tmp_path / "store")
    os.makedirs(store)
    batch = spark.createDataFrame(
        [(1, "aa bb cc dd", True), (2, "ee ff", False)],
        "doc_id long, text string, lab boolean",
    )

    def counts(version):
        return {
            (r.label, r.b): r.cnt
            for r in V.read_version(spark, store, version).collect()
        }

    nb_training_batch(batch, 0, store, "runA", F.col("lab"), n_buckets=64)
    assert V.versions(store) == [1]
    first = counts(1)
    # sentinel doc counts present for both classes
    assert first[(True, -1)] == 1 and first[(False, -1)] == 1

    # replay: same (run, batch) -> no-op, counts NOT doubled
    nb_training_batch(batch, 0, store, "runA", F.col("lab"), n_buckets=64)
    assert V.versions(store) == [1]
    assert counts(1) == first

    # a concurrent committer lands a newer version; replay still no-op
    V.commit_version(V.read_version(spark, store), store)
    nb_training_batch(batch, 0, store, "runA", F.col("lab"), n_buckets=64)
    assert V.versions(store) == [1, 2]

    # DIFFERENT run, same batch_id: genuinely new data, counts double
    nb_training_batch(batch, 0, store, "runB", F.col("lab"), n_buckets=64)
    v = V.latest_version(store)
    doubled = counts(v)
    assert doubled == {k: 2 * c for k, c in first.items()}


def test_stream_hll_maintenance_equals_batch(spark, tmp_path):
    """The register store after two file landings must be IDENTICAL to
    the one-shot batch register table over the full corpus (max-merge
    mergeability — the property the oracle-gated batch twin
    `hll_register_table_users` pins value-exactly), and a replay with
    no new files must not advance the store version."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.sketches import (
        portable_hll_registers,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        stream_hll_maintenance_job,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id"
    )
    stage = tmp_path / "stage"
    stage.mkdir()
    store = str(tmp_path / "hll_store")
    ckpt = str(tmp_path / "ckpt")

    def land(df, name):
        tmp = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        _shutil.copy(part, stage / f"{name}.parquet")

    land(ev.where(F.col("event_id") % 2 == 0), "b1")
    schema = spark.read.parquet(str(stage / "b1.parquet")).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(stage))
        q = stream_hll_maintenance_job(stream, store, ckpt)
        q.awaitTermination()

    run_once()
    land(ev.where(F.col("event_id") % 2 == 1), "b2")
    run_once()

    v = latest_version(store)
    got = {
        (r.register, r.max_rank)
        for r in read_version(spark, store, v).collect()
    }
    want = {
        (r.register, r.max_rank)
        for r in portable_hll_registers(ev, "user_id").collect()
    }
    assert got == want and got

    run_once()  # no new files -> no new version
    assert latest_version(store) == v


def test_stream_cms_maintenance_equals_batch_and_replay_guard(spark, tmp_path):
    """The CMS store after two landings must equal the one-shot batch
    sketch over the full corpus (sum-mergeability), and — because
    counts are ADDITIVE — a replay with no new files must not advance
    the store (a doubled bucket would break every estimate)."""
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from swisscourtrulingcorpus_spark.operators.sketches import cms_table
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        stream_cms_maintenance_job,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type"
    )
    stage = tmp_path / "stage"
    stage.mkdir()
    store = str(tmp_path / "cms_store")
    ckpt = str(tmp_path / "ckpt")

    def land(df, name):
        tmp = tmp_path / f"__stage_{name}"
        df.coalesce(1).write.parquet(str(tmp))
        part = _glob.glob(str(tmp / "part-*.parquet"))[0]
        _shutil.copy(part, stage / f"{name}.parquet")

    land(ev.where(F.col("event_id") % 2 == 0), "b1")
    schema = spark.read.parquet(str(stage / "b1.parquet")).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(stage))
        q = stream_cms_maintenance_job(
            stream, store, ckpt, "event_type", width=64, depth=2
        )
        q.awaitTermination()

    run_once()
    land(ev.where(F.col("event_id") % 2 == 1), "b2")
    run_once()

    v = latest_version(store)
    got = {
        (r.d, r.bucket): r.cnt for r in read_version(spark, store, v).collect()
    }
    want = {
        (r.d, r.bucket): r.cnt
        for r in cms_table(ev, "event_type", width=64, depth=2).collect()
    }
    assert got == want and got

    run_once()
    assert latest_version(store) == v


def test_stream_media_fingerprint_registry_equals_batch(spark, tmp_path):
    """Streaming perceptual-fingerprint registry (VERDICT r07 item 4)
    == the one-shot batch composition: stream the heterogeneous media
    fixture in micro-batches; the final versioned registry must equal
    a fresh `media_fingerprints` pass (null sentinels included), and
    the union of per-batch match outputs must equal the one-shot
    grouped `banded_hamming_pairs` self-join — every pair surfaces
    exactly once, in the batch where its later element arrived.  A
    rerun over the same checkpoint and a direct replay of a committed
    batch id must both be no-ops."""
    import os

    from swisscourtrulingcorpus_spark.extraction.multimodal import (
        generate_media_neardup_fixture,
        media_fingerprints,
    )
    from swisscourtrulingcorpus_spark.operators.dedup import (
        banded_hamming_pairs,
    )
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        checkpoint_run_tag,
        media_fingerprint_maintenance_batch,
        stream_media_fingerprint_job,
    )

    docs = spark.range(96).withColumnRenamed("id", "doc_id")
    media = generate_media_neardup_fixture(docs)
    stage = str(tmp_path / "media_in")
    media.repartition(4).write.parquet(stage)
    store = str(tmp_path / "fp_store")
    out = str(tmp_path / "matches")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema(spark.read.parquet(stage).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = stream_media_fingerprint_job(stream, store, out, ckpt)
        q.awaitTermination()

    _run()
    v1 = latest_version(store)
    reg = read_version(spark, store, v1)
    want_fp = sorted(map(tuple, media_fingerprints(media).collect()))
    assert sorted(map(tuple, reg.select("doc_id", "modality", "fp").collect())) == want_fp

    def norm(df):
        return sorted(
            (r.modality, min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b), r.hamming)
            for r in df.collect()
        )

    got_pairs = spark.read.parquet(os.path.join(out, "*"))
    fp_all = media_fingerprints(media).where("fp is not null")
    want_pairs = banded_hamming_pairs(fp_all, "fp", group_cols=("modality",))
    assert norm(got_pairs) == norm(want_pairs)
    assert got_pairs.count() > 0

    # restart over the same checkpoint: nothing new -> no new version
    _run()
    assert latest_version(store) == v1

    # crash-replay: re-applying a committed batch id is a no-op
    run_tag = checkpoint_run_tag(ckpt)
    media_fingerprint_maintenance_batch(
        media.limit(5), 0, store, out, run_tag
    )
    assert latest_version(store) == v1


def test_stream_cdc_chunk_store_equals_batch(spark, sf_dir, tmp_path):
    """Streaming CDC chunk-store maintenance == one-shot chunking:
    stream the documents corpus in micro-batches into the versioned
    chunk store; the final table must equal `cdc_chunks(all docs)` and
    the duplicate-chunk report derived from it must equal
    `cdc_chunk_dedup(all docs)`.  Replay of a committed batch id is a
    no-op; reprocessing a doc under a fresh run replaces its chunks."""
    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.operators.dedup import (
        cdc_chunk_dedup,
        cdc_chunks,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        cdc_chunk_maintenance_batch,
        checkpoint_run_tag,
        stream_cdc_chunk_job,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = str(tmp_path / "docs_in")
    docs.repartition(4).write.parquet(stage)
    store = str(tmp_path / "chunk_store")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema(spark.read.parquet(stage).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = stream_cdc_chunk_job(stream, store, ckpt)
        q.awaitTermination()

    _run()
    v1 = latest_version(store)
    stored = read_version(spark, store, v1)
    want = sorted(map(tuple, cdc_chunks(docs, "text", "doc_id").collect()))
    assert sorted(map(tuple, stored.collect())) == want

    report = (
        stored.groupBy("chunk_hash", "chunk_len")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where("n_occurrences > 1")
    )
    want_report = sorted(
        map(tuple, cdc_chunk_dedup(docs, "text", "doc_id").collect())
    )
    assert sorted(map(tuple, report.collect())) == want_report
    assert len(want_report) > 0

    # restart: no new files -> no new version; replay: no-op
    _run()
    assert latest_version(store) == v1
    cdc_chunk_maintenance_batch(
        docs.limit(3), 0, store, checkpoint_run_tag(ckpt)
    )
    assert latest_version(store) == v1

    # reprocessing under a NEW run replaces, never duplicates
    cdc_chunk_maintenance_batch(docs.limit(3), 0, store, "runB")
    v2 = latest_version(store)
    assert v2 != v1
    assert read_version(spark, store, v2).count() == stored.count()


def test_stream_ivf_maintenance_equals_batch_index(spark, sf_dir, tmp_path):
    """Streaming IVF index maintenance == one-shot `ivf_index`: stream
    the embeddings corpus in micro-batches into the versioned store;
    the stored assignments must equal a fresh index build, `ivf_topk`
    over the store (cluster column pre-computed) must equal search
    over the fresh index, and replay of a committed batch id is a
    no-op."""
    from swisscourtrulingcorpus_spark.operators.clustering import (
        ivf_index,
        ivf_topk,
    )
    from swisscourtrulingcorpus_spark.plans.ann_queries import (
        _seed_centroids,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        checkpoint_run_tag,
        ivf_maintenance_batch,
        stream_ivf_maintenance_job,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _seed_centroids(emb, 8)
    stage = str(tmp_path / "emb_in")
    emb.repartition(4).write.parquet(stage)
    store = str(tmp_path / "ivf_store")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (
            spark.readStream.schema(spark.read.parquet(stage).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = stream_ivf_maintenance_job(stream, store, ckpt, cents)
        q.awaitTermination()

    _run()
    v1 = latest_version(store)
    stored = read_version(spark, store, v1)
    want = {
        r.vec_id: r.cluster
        for r in ivf_index(emb, cents, "embedding", "vec_id").collect()
    }
    got = {
        r.vec_id: r.cluster
        for r in stored.where("cluster IS NOT NULL").collect()
    }
    assert got == want and len(got) > 0

    queries = emb.where("vec_id < 4")
    served = sorted(
        map(
            tuple,
            ivf_topk(
                stored.where("cluster IS NOT NULL"),
                queries, cents, "embedding", "vec_id", k=5,
            ).collect(),
        )
    )
    fresh = sorted(
        map(
            tuple,
            ivf_topk(emb, queries, cents, "embedding", "vec_id", k=5).collect(),
        )
    )
    assert served == fresh and len(served) > 0

    _run()
    assert latest_version(store) == v1
    ivf_maintenance_batch(emb.limit(3), 0, store, checkpoint_run_tag(ckpt), cents)
    assert latest_version(store) == v1


def test_stream_ewma_gap_equals_batch(spark, sf_dir, tmp_path):
    """The stateful EWMA stream must equal the batch gate when events
    arrive time-ordered (the operator's documented contract): feed the
    corpus in three disjoint time ranges via successive availableNow
    runs over a growing directory, then compare each user's final
    emission against `ewma_gap_events`."""
    import os

    import pyspark.sql.functions as F

    from swisscourtrulingcorpus_spark.plans.behavior_queries import (
        ewma_gap_events,
    )
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        ewma_gap_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    ts_cuts = [
        r[0]
        for r in ev.select(
            F.percentile_approx("ts", [0.34, 0.67], 10000).alias("p")
        ).select(F.explode("p")).collect()
    ]
    stage = str(tmp_path / "ev_in")
    os.makedirs(stage, exist_ok=True)
    chunks = [
        ev.where(F.col("ts") < ts_cuts[0]),
        ev.where((F.col("ts") >= ts_cuts[0]) & (F.col("ts") < ts_cuts[1])),
        ev.where(F.col("ts") >= ts_cuts[1]),
    ]
    schema = ev.schema
    for i, chunk in enumerate(chunks):
        chunk.coalesce(1).write.parquet(os.path.join(stage, f"chunk={i}"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1000)
            .parquet(stage + "/*")
        )
        out_dir = str(tmp_path / "ewma_out")

        def _sink(b, bid):
            if b.count():
                b.write.mode("append").parquet(out_dir)

        q = (
            ewma_gap_stream(stream)
            .writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = {
        r.user_id: (r.n_gaps, r.ewma_gap_us)
        for r in spark.read.parquet(str(tmp_path / "ewma_out"))
        .groupBy("user_id")
        .agg(F.max(F.struct("n_gaps", "ewma_gap_us")).alias("m"))
        .select("user_id", "m.n_gaps", "m.ewma_gap_us")
        .collect()
    }
    want = {
        r.user_id: (r.n_gaps, r.ewma_gap_us)
        for r in ewma_gap_events(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
