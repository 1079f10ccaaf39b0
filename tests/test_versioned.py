"""Versioned table format (`sources/versioned.py`): atomic commits,
time travel, crash debris invisibility, vacuum retention."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from swisscourtrulingcorpus_spark.sources import versioned as V


def test_commit_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    df1 = spark.range(10).withColumn("tag", F.lit("a"))
    df2 = spark.range(25).withColumn("tag", F.lit("b"))
    v1 = V.commit_version(df1, table)
    v2 = V.commit_version(df2, table)
    assert (v1, v2) == (1, 2)
    assert V.versions(table) == [1, 2]
    assert V.read_version(spark, table).count() == 25  # latest
    old = V.read_version(spark, table, 1)
    assert old.count() == 10
    assert old.select("tag").distinct().collect()[0][0] == "a"


def test_crash_debris_is_invisible(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    V.commit_version(spark.range(5), table)
    # simulate a crashed writer: data landed, tmp manifest + claim left
    os.makedirs(os.path.join(table, "data", "deadbeef"))
    with open(os.path.join(table, "v2.json.tmp.deadbeef"), "w") as fh:
        json.dump({"files": ["data/deadbeef/missing.parquet"]}, fh)
    open(os.path.join(table, "v2.claim"), "w").close()
    assert V.versions(table) == [1]
    assert V.read_version(spark, table).count() == 5
    # the next committer skips the claimed number — no livelock
    v = V.commit_version(spark.range(7), table)
    assert v == 3
    assert V.read_version(spark, table).count() == 7


def test_vacuum_keeps_referenced_data(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    for n in (3, 6, 9):
        V.commit_version(spark.range(n), table)
    removed = V.vacuum(table, keep=2)
    assert V.versions(table) == [2, 3]
    assert any("v1.json" in p for p in removed)
    # v1's data dir is gone, survivors still read
    assert len(os.listdir(os.path.join(table, "data"))) == 2
    assert V.read_version(spark, table, 2).count() == 6
    assert V.read_version(spark, table, 3).count() == 9


def test_read_missing_version_raises(spark, tmp_path):
    table = str(tmp_path / "t")
    os.makedirs(table)
    V.commit_version(spark.range(3), table)
    import pytest

    with pytest.raises(FileNotFoundError):
        V.read_version(spark, table, 99)


def test_stream_versioned_upsert(spark, sf_dir, tmp_path):
    """Streaming merge committing each micro-batch as a snapshot:
    latest reflects the upsert, earlier versions remain readable."""
    from swisscourtrulingcorpus_spark.sources.catalog import load_table
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        stream_versioned_upsert_job,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 300)
    table = str(tmp_path / "versioned_events")

    def deliver(df, ckpt):
        stage = str(tmp_path / f"in_{ckpt}")
        df.write.parquet(stage)
        stream = spark.readStream.schema(
            spark.read.parquet(stage).schema
        ).parquet(stage)
        q = stream_versioned_upsert_job(
            stream, table, str(tmp_path / f"ck_{ckpt}"), ["event_id"]
        )
        q.awaitTermination()

    first = ev.where(F.col("event_id") < 200)
    deliver(first, "a")
    second = ev.withColumn("value", F.col("value") + 1000).where(
        (F.col("event_id") >= 100) & (F.col("event_id") < 300)
    )
    deliver(second, "b")

    assert V.versions(table) == [1, 2]
    assert V.read_version(spark, table, 1).count() == first.count()
    latest = V.read_version(spark, table)
    assert latest.count() == ev.count()
    overlap = latest.where((F.col("event_id") >= 100) & (F.col("event_id") < 200))
    old = ev.select("event_id", F.col("value").alias("old_value"))
    assert (
        overlap.join(old, "event_id")
        .where(F.col("value") != F.col("old_value") + 1000)
        .count()
        == 0
    )


def test_versioned_upsert_replay_commits_nothing(spark, tmp_path):
    """The streaming versioned merge commits through the store jobs'
    fold: a replay of a committed (run, batch) adds no version."""
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        versioned_upsert_batch,
    )

    table = str(tmp_path / "versioned")
    batch = spark.range(5).withColumn("value", F.col("id") * 10)
    for _ in range(2):
        versioned_upsert_batch(batch, 0, table, "runA", ["id"])
    assert V.versions(table) == [1]
    assert sorted(r.id for r in V.read_version(spark, table).collect()) == [
        0, 1, 2, 3, 4,
    ]


def test_optimize_table_zorder_commit(spark, sf_dir, tmp_path):
    """OPTIMIZE commits a clustered rewrite as a new snapshot; the
    pre-optimize version stays readable, and the new layout's footer
    stats prune on both z-ordered columns."""
    from swisscourtrulingcorpus_spark.sources import layout, versioned

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    table = str(tmp_path / "t")
    os.makedirs(table)
    versioned.commit_version(orders.repartition(8), table)
    v = versioned.optimize_table(
        spark, table, zorder_cols=["o_orderkey", "o_custkey"],
        target_bytes=1 << 14,
    )
    assert v == 2
    assert versioned.read_version(spark, table, 1).count() == orders.count()
    opt = versioned.read_version(spark, table, 2)
    assert opt.count() == orders.count()
    # the optimized files' spans narrow on BOTH columns
    import json as _json

    with open(os.path.join(table, "v2.json")) as fh:
        commit = _json.load(fh)["commit"]
    data_dir = os.path.join(table, "data", commit)
    for col in ("o_orderkey", "o_custkey"):
        st = [s for s in layout.file_skipping_stats(data_dir, col) if s["rows"]]
        if len(st) < 2:
            continue
        glob_span = (
            orders.agg(F.max(col) - F.min(col)).collect()[0][0]
        )
        avg_span = sum(s["max"] - s["min"] for s in st) / len(st)
        assert avg_span < 0.8 * glob_span, col


def test_write_audit_publish(spark, tmp_path):
    """WAP: a batch failing its audit never becomes a readable
    version; a clean batch publishes."""
    from swisscourtrulingcorpus_spark.operators import expectations as X

    table = str(tmp_path / "t")
    os.makedirs(table)
    good = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, amount double")
    bad = spark.createDataFrame([(3, -5.0), (None, 1.0)], "id bigint, amount double")

    def audit(staged):
        return X.table_expectations(
            staged, "t", [X.not_null("id"), X.in_range("amount", 0, 100)]
        )

    v, fails = V.publish_if_valid(good, table, [audit])
    assert v == 1 and fails == []

    v2, fails2 = V.publish_if_valid(bad, table, [audit])
    assert v2 is None
    assert {c for c, _ in fails2} == {"t.not_null:id", "t.in_range:amount"}
    # the failed batch is invisible; table still reads version 1
    assert V.versions(table) == [1]
    assert V.read_version(spark, table).count() == 2
    # ...and its orphaned staging data is vacuumable
    removed = V.vacuum(table, keep=1)
    assert any("data/" in p for p in removed)


def test_concurrent_commits_unique_versions(spark, tmp_path):
    """The claim protocol under concurrency: parallel committers never
    share a version number and every snapshot stays readable."""
    import threading

    table = str(tmp_path / "t")
    os.makedirs(table)
    results: list[int] = []
    lock = threading.Lock()
    dfs = {n: spark.range(n + 1).toPandas() for n in range(8)}

    def commit(n):
        df = spark.createDataFrame(dfs[n])
        v = V.commit_version(df, table)
        with lock:
            results.append(v)

    threads = [threading.Thread(target=commit, args=(n,)) for n in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(results) == V.versions(table)
    assert len(set(results)) == 8
    counts = sorted(V.read_version(spark, table, v).count() for v in results)
    assert counts == [1, 2, 3, 4, 5, 6, 7, 8]


def test_checked_commit_detects_concurrent_writer(spark, tmp_path):
    """Optimistic concurrency (ADVICE r03): a writer that staged
    against vN must NOT silently commit over a concurrent vN+1."""
    import pytest

    table = str(tmp_path / "t")
    os.makedirs(table)
    v1 = V.commit_version(spark.range(5), table, base_version=0)
    assert v1 == 1
    base = V.latest_version(table)
    # concurrent writer lands v2 while we are staged against v1
    V.commit_version(spark.range(7), table)
    with pytest.raises(V.ConcurrentWriteError):
        V.commit_version(spark.range(3), table, base_version=base)
    # the failed attempt released its claim: next commit takes v3
    assert V.commit_version(spark.range(9), table, base_version=2) == 3
    assert V.versions(table) == [1, 2, 3]
    assert V.read_version(spark, table).count() == 9


def test_stale_claim_does_not_livelock_checked_commit(spark, tmp_path, monkeypatch):
    """r04 review: a crashed writer's leftover v2.claim made every
    checked commit raise forever (base never advanced).  The checked
    path now claims exactly v{base+1} and BREAKS claims older than the
    TTL."""
    monkeypatch.setattr(V, "CLAIM_TTL_SECONDS", 0.2)
    table = str(tmp_path / "t")
    os.makedirs(table)
    V.commit_version(spark.range(5), table)  # v1
    # crashed writer debris: stale claim on the next version
    stale = os.path.join(table, "v2.claim")
    open(stale, "w").close()
    os.utime(stale, (1, 1))  # ancient mtime -> immediately past TTL
    v = V.commit_version(spark.range(7), table, base_version=1)
    assert v == 2
    assert V.read_version(spark, table).count() == 7
    assert not os.path.exists(stale)


def test_checked_commit_still_conflicts_after_staleclaim_fix(spark, tmp_path):
    """The TTL break must not weaken conflict detection: a COMMITTED
    newer version still raises."""
    import pytest

    table = str(tmp_path / "t")
    os.makedirs(table)
    V.commit_version(spark.range(5), table)  # v1
    V.commit_version(spark.range(6), table)  # v2
    with pytest.raises(V.ConcurrentWriteError):
        V.commit_version(spark.range(3), table, base_version=1)


def test_concurrent_checked_commits_one_winner(spark, tmp_path):
    """Two checked committers staged against the SAME base: exactly
    one wins v{base+1}; the loser gets ConcurrentWriteError (the
    v{base+1} claim serializes them — no silent double-commit)."""
    import threading

    table = str(tmp_path / "t")
    os.makedirs(table)
    V.commit_version(spark.range(4), table)  # v1
    dfs = {n: spark.range(n + 10).toPandas() for n in range(4)}
    outcomes: list[tuple[int, object]] = []
    lock = threading.Lock()

    def commit(n):
        df = spark.createDataFrame(dfs[n])
        try:
            v = V.commit_version(df, table, base_version=1)
            res: object = ("ok", v)
        except V.ConcurrentWriteError:
            res = ("conflict", None)
        with lock:
            outcomes.append((n, res))

    threads = [threading.Thread(target=commit, args=(n,)) for n in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [r for _, r in outcomes if r[0] == "ok"]
    conflicts = [r for _, r in outcomes if r[0] == "conflict"]
    assert len(wins) == 1 and wins[0][1] == 2
    assert len(conflicts) == 3
    assert V.versions(table) == [1, 2]

def test_overtaken_writer_raises_instead_of_clobbering(spark, tmp_path):
    """ADVICE r04: a checked writer paused past CLAIM_TTL between
    _claim and the manifest rename used to silently overwrite the
    overtaker's v{n}.json.  The claim now carries the writer's
    commit_id token and the rename re-verifies ownership."""
    import pytest

    table = str(tmp_path / "t")
    os.makedirs(table)
    V.commit_version(spark.range(5), table)  # v1
    # Writer A: stage data and claim v2 with its token, then "pause"
    cid_a, _ = V._stage_data(spark.range(7), table)
    assert V._claim(table, 2, token=cid_a)
    # Overtaker B breaks the stale claim and commits v2
    os.remove(os.path.join(table, "v2.claim"))
    assert V.commit_version(spark.range(9), table, base_version=1) == 2
    # Writer A resumes INSIDE the critical section (past the
    # latest-version and target-exists checks) at the guarded rename:
    manifest_a = {"files": [], "commit": cid_a, "base": 1, "meta": {}}
    with pytest.raises(V.ConcurrentWriteError):
        V._write_manifest_owned(table, 2, manifest_a, cid_a)
    # B's manifest is intact — no silent clobber
    assert V.read_version(spark, table, 2).count() == 9


def test_retaken_claim_token_mismatch(spark, tmp_path):
    """Same scenario but the overtaker still HOLDS the retaken claim:
    the token in the file belongs to B, so A's rename must refuse."""
    import pytest

    table = str(tmp_path / "t")
    os.makedirs(table)
    V.commit_version(spark.range(3), table)  # v1
    cid_a, _ = V._stage_data(spark.range(4), table)
    assert V._claim(table, 2, token=cid_a)
    # TTL break + retake by B (claim now holds B's token)
    os.remove(os.path.join(table, "v2.claim"))
    assert V._claim(table, 2, token="writer-b")
    with pytest.raises(V.ConcurrentWriteError):
        V._write_manifest_owned(table, 2, {"files": []}, cid_a)
    assert V._claim_token(table, 2) == "writer-b"


def test_fold_replay_returns_before_delta(spark, tmp_path):
    """The store jobs' exactly-once fold: a replay of a committed
    (run, batch) returns before building the delta and commits
    nothing."""
    from swisscourtrulingcorpus_spark.streaming.jobs import _fold_into_store

    store = str(tmp_path / "store")
    batch = spark.range(3)
    _fold_into_store(batch, 0, store, "runA", lambda b: b, lambda s, d: d)
    assert V.versions(store) == [1]

    def delta_of(b):
        raise AssertionError("delta_of called on a replay")

    _fold_into_store(batch, 0, store, "runA", delta_of, lambda s, d: d)
    assert V.versions(store) == [1]


def test_fold_remerges_once_after_sibling_commit(spark, tmp_path):
    """A sibling committing between the fold's base capture and its
    commit fails the checked commit; the fold re-merges exactly once,
    against the sibling's snapshot, and records its ledger marker."""
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        _fold_into_store,
        _read_replay_ledger,
    )

    store = str(tmp_path / "store")
    seen = []

    def merge(stored, delta):
        ids = None if stored is None else sorted(r.id for r in stored.collect())
        seen.append(ids)
        if len(seen) == 1:
            V.commit_version(spark.range(100, 102), store)
        return delta if stored is None else stored.unionByName(delta)

    _fold_into_store(spark.range(2), 0, store, "runA", lambda b: b, merge)
    assert seen == [None, [100, 101]]
    assert V.versions(store) == [1, 2]
    got = sorted(r.id for r in V.read_version(spark, store).collect())
    assert got == [0, 1, 100, 101]
    assert V.version_meta(store, 2)["runs"] == {"runA": 0}
    assert _read_replay_ledger(store) == {"runA": 0}


def test_fold_merge_error_propagates_and_unpersists(spark, tmp_path):
    """A failing merge surfaces its error, commits nothing, and does not
    leave the cached delta pinned."""
    import pytest

    from swisscourtrulingcorpus_spark.streaming.jobs import _fold_into_store

    store = str(tmp_path / "store")
    deltas = []

    def merge(stored, delta):
        deltas.append((delta, delta.storageLevel.useMemory))
        raise RuntimeError("merge failed")

    with pytest.raises(RuntimeError, match="merge failed"):
        _fold_into_store(
            spark.range(3), 0, store, "runA", lambda b: b.select("id"), merge
        )
    [(delta, cached_during_merge)] = deltas
    assert cached_during_merge
    assert not delta.storageLevel.useMemory
    assert V.versions(store) == []
