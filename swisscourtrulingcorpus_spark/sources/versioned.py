"""Minimal versioned table format: atomic snapshot commits, time
travel, vacuum — the manifest layer a 100 TB table needs over plain
parquet.

Directory layout::

    table/
      data/<commit-uuid>/part-*.parquet   immutable data files
      v3.json                             manifest: file list of v3
      v3.json.tmp.<uuid>                  crash debris (ignored)

The COMMIT POINT is the atomic rename of the manifest from its tmp
file to ``v{n}.json`` (:func:`write_json_atomic`): readers resolve the
latest version by listing manifests, so a crashed writer leaves only
an orphaned data dir + tmp file — never a partially-visible table.  Version numbers are
claimed with exclusive-create (``open(..., 'x')``), so two concurrent
writers cannot both commit the same version (the loser retries with
the next number).

This is a different protocol from `sources/sinks.py::replace_table`
(a staged write swapped in by two directory renames, which keeps only
the one current table): here every commit is a readable snapshot, so
incremental pipelines (SURVEY §2.10 — process_new_files_only, id-list
reprocessing) get reproducible point-in-time reads of any earlier
corpus state, and ``vacuum`` reclaims data dirs no kept manifest
references.

On a real deployment this role is played by Delta/Iceberg; the module
exists so the engine is complete WITHOUT them while keeping the same
semantics (snapshot isolation, atomic commit, time travel, retention).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_RX = re.compile(r"^v(\d+)\.json$")


class ConcurrentWriteError(RuntimeError):
    """Raised by a base-version-checked commit when another writer
    committed (or is in flight) since the snapshot was computed —
    committing anyway would silently drop that writer's rows from the
    new latest snapshot (lost update)."""


def _manifests(table_dir: str) -> dict[int, str]:
    out = {}
    for name in os.listdir(table_dir):
        m = _MANIFEST_RX.match(name)
        if m:
            out[int(m.group(1))] = os.path.join(table_dir, name)
    return out


def versions(table_dir: str) -> list[int]:
    """Committed versions, ascending."""
    return sorted(_manifests(table_dir))


_CLAIM_RX = re.compile(r"^v(\d+)\.claim$")


def _next_version(table_dir: str) -> int:
    """Next free version number, counting live claims so a crashed
    writer's claim permanently skips one number instead of livelocking
    the retry loop."""
    taken = set(_manifests(table_dir))
    for name in os.listdir(table_dir):
        m = _CLAIM_RX.match(name)
        if m:
            taken.add(int(m.group(1)))
    return max(taken, default=0) + 1


def _stage_data(df: DataFrame, table_dir: str) -> tuple[str, str]:
    """Land the snapshot's data files in a fresh ``data/<uuid>`` dir;
    invisible to readers until a manifest names them."""
    os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)
    commit_id = uuid.uuid4().hex
    data_dir = os.path.join(table_dir, "data", commit_id)
    df.write.mode("overwrite").parquet(data_dir)
    return commit_id, data_dir


# A claim is only held between staging completion and the manifest
# rename — sub-second work — so a claim older than this is a crashed
# writer's debris and may be broken by a checked committer.
CLAIM_TTL_SECONDS = 60.0


def write_json_atomic(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` all at once: a tmp file named
    ``<path>.tmp.<uuid>``, then one atomic rename.  For a ``*.json``
    path the tmp name holds the ``.json.tmp.`` infix that :func:`vacuum`
    sweeps as crash debris."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def _claim(table_dir: str, version: int, token: str = "") -> bool:
    """Exclusive-create v{n}.claim; the claim file is separate from the
    manifest so the manifest itself only ever appears via atomic
    rename.  ``token`` (the writer's commit_id) is written into the
    claim so a writer can later verify the claim is still *its own*
    before renaming the manifest — a TTL-broken-and-reclaimed claim
    holds the overtaker's token instead."""
    try:
        fd = os.open(
            os.path.join(table_dir, f"v{version}.claim"),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        )
    except FileExistsError:
        return False
    try:
        os.write(fd, token.encode())
        os.fsync(fd)
    finally:
        os.close(fd)
    return True


def _write_manifest_owned(
    table_dir: str, version: int, manifest: dict, commit_id: str
) -> None:
    """Manifest rename guarded by a claim-ownership re-check: if this
    writer stalled past CLAIM_TTL, a committer may have broken the
    claim, reclaimed it (its token now in the file), and committed —
    renaming anyway would silently clobber the overtaker's v{n}.json
    with a manifest naming different data files.  Re-verifying the
    token immediately before the rename shrinks the lease caveat from
    the whole stage->rename window to the check->rename microseconds
    (ADVICE r04)."""
    if _claim_token(table_dir, version) != commit_id:
        raise ConcurrentWriteError(
            f"claim on v{version} was broken (writer paused past "
            f"CLAIM_TTL) and retaken in {table_dir}"
        )
    write_json_atomic(os.path.join(table_dir, f"v{version}.json"), manifest)


def _claim_token(table_dir: str, version: int) -> str | None:
    """Current content of v{n}.claim, or None when no claim exists."""
    try:
        with open(os.path.join(table_dir, f"v{version}.claim")) as fh:
            return fh.read()
    except OSError:
        return None


def _commit_manifest(
    table_dir: str,
    commit_id: str,
    data_dir: str,
    base_version: int | None = None,
    meta: dict | None = None,
) -> int:
    import time

    files = sorted(
        f"data/{commit_id}/{f}"
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    manifest = {
        "files": files,
        "commit": commit_id,
        "base": base_version,
        "meta": meta or {},
    }

    if base_version is not None:
        # CHECKED commit: must become exactly v{base+1}.  Claiming that
        # specific number is what serializes checked committers — two
        # writers staged against the same base race for ONE claim, the
        # loser re-merges.  (A latest-committed comparison alone has a
        # check-then-rename window where two passers both commit.)
        version = base_version + 1
        claim = os.path.join(table_dir, f"v{version}.claim")
        target = os.path.join(table_dir, f"v{version}.json")
        while True:
            if latest_version(table_dir) != base_version or os.path.exists(target):
                raise ConcurrentWriteError(
                    f"snapshot staged against v{base_version} but the "
                    f"table has advanced in {table_dir}"
                )
            if _claim(table_dir, version, token=commit_id):
                if os.path.exists(target):
                    # the previous holder committed and released before
                    # our exclusive create succeeded
                    os.remove(claim)
                    raise ConcurrentWriteError(
                        f"v{version} was committed concurrently in {table_dir}"
                    )
                _write_manifest_owned(table_dir, version, manifest, commit_id)
                os.remove(claim)
                return version
            # Claim held by another writer: either it commits (our next
            # latest_version check raises — re-merge), or it crashed —
            # break the claim after CLAIM_TTL (claims are only held for
            # the sub-second stage->rename window, see constant above).
            # This is what keeps a crashed writer from LIVELOCKING every
            # future checked commit (r04 review finding).
            try:
                age = time.time() - os.path.getmtime(claim)
            except OSError:
                continue  # released between _claim and getmtime
            if age > CLAIM_TTL_SECONDS:
                try:
                    os.remove(claim)
                except OSError:
                    pass
            else:
                time.sleep(0.05)

    # UNCHECKED commit (blind overwrite): take the next free number.
    while True:
        version = _next_version(table_dir)
        if not _claim(table_dir, version, token=commit_id):
            continue  # _next_version counts claims — the retry advances
        claim = os.path.join(table_dir, f"v{version}.claim")
        if os.path.exists(os.path.join(table_dir, f"v{version}.json")):
            # Lost race despite the exclusive create: a writer that
            # listed the dir concurrently can claim, commit, and
            # RELEASE v{n}.claim before we try it — the exclusive
            # create then succeeds against the already-committed
            # number and the manifest rename would silently overwrite
            # v{n}.json.  Committed manifests appear (atomic rename)
            # BEFORE their claim is released, so this check while
            # holding the claim is race-free: no new v{n}.json can
            # appear until we release it.
            os.remove(claim)
            continue
        _write_manifest_owned(table_dir, version, manifest, commit_id)
        os.remove(claim)
        return version


def latest_version(table_dir: str) -> int:
    """Highest committed version, 0 when the table is empty (the base
    to pass to a checked ``commit_version`` before any commit exists)."""
    known = _manifests(table_dir)
    return max(known) if known else 0


def version_meta(table_dir: str, version: int) -> dict:
    """The ``meta`` dict recorded with a commit (empty for commits that
    passed none) — e.g. the streaming dedup job's batch_id marker that
    makes a crash-replayed micro-batch detectable."""
    known = _manifests(table_dir)
    if version not in known:
        raise FileNotFoundError(f"version {version} not in {sorted(known)}")
    with open(known[version]) as fh:
        return json.load(fh).get("meta", {}) or {}


def commit_version(
    df: DataFrame,
    table_dir: str,
    base_version: int | None = None,
    meta: dict | None = None,
) -> int:
    """Write ``df`` as the next snapshot.  Data lands fully in a fresh
    ``data/<uuid>`` dir first; the manifest rename is the atomic commit
    point.  Returns the committed version number.

    ``base_version`` (capture via :func:`latest_version` BEFORE reading
    the snapshot being merged against) enables the optimistic-
    concurrency check: the commit becomes exactly v{base+1} — claiming
    that one number serializes checked committers — and fails with
    :class:`ConcurrentWriteError` instead of silently discarding a
    concurrent writer's rows.  A crashed writer's stale claim is
    broken after ``CLAIM_TTL_SECONDS`` (claims are held only for the
    sub-second manifest-rename window).  A writer paused past the TTL
    inside that window is OVERTAKEN, not clobbering: each claim holds
    its writer's commit_id token and the writer re-verifies ownership
    immediately before the manifest rename, raising
    :class:`ConcurrentWriteError` when the claim was broken and
    retaken (the residual lease caveat is now only the check->rename
    microseconds).  Leave ``base_version`` ``None`` only for
    blind-overwrite semantics."""
    if base_version is not None and latest_version(table_dir) != base_version:
        # fail fast BEFORE paying the full snapshot write — each retry
        # would otherwise stage (and orphan) a complete table copy
        raise ConcurrentWriteError(
            f"snapshot staged against v{base_version} but the table "
            f"has advanced in {table_dir}"
        )
    commit_id, data_dir = _stage_data(df, table_dir)
    return _commit_manifest(table_dir, commit_id, data_dir, base_version, meta)


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (latest when ``version`` is None).  Only files
    named by that version's manifest are scanned — concurrent commits
    and crash debris are invisible."""
    known = _manifests(table_dir)
    if not known:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    v = max(known) if version is None else version
    if v not in known:
        raise FileNotFoundError(f"version {v} not in {sorted(known)}")
    with open(known[v]) as fh:
        manifest = json.load(fh)
    paths = [os.path.join(table_dir, f) for f in manifest["files"]]
    return spark.read.parquet(*paths)


def optimize_table(
    spark: SparkSession,
    table_dir: str,
    zorder_cols: list[str] | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Maintenance pass over the latest snapshot: rewrite it into
    size-targeted files, Z-order-clustered when ``zorder_cols`` is
    given (multi-dimension footer skipping — `sources/layout.py`), and
    commit the rewrite as a NEW version.  Readers keep snapshot
    isolation throughout; the pre-optimize version stays time-travel
    readable until ``vacuum``.  This is the OPTIMIZE/ZORDER job every
    large table needs on a schedule.  Returns the committed version."""
    import math

    from swisscourtrulingcorpus_spark.sources import layout

    df = read_version(spark, table_dir)
    known = _manifests(table_dir)
    latest = max(known)
    with open(known[latest]) as fh:
        files = json.load(fh)["files"]
    total = sum(
        os.path.getsize(os.path.join(table_dir, f))
        for f in files
        if os.path.exists(os.path.join(table_dir, f))
    )
    n = max(1, math.ceil(total / target_bytes))
    if zorder_cols:
        df = layout.zorder_cluster(df, zorder_cols, n)
    else:
        df = df.coalesce(n)
    return commit_version(df, table_dir)


def publish_if_valid(
    df: DataFrame,
    table_dir: str,
    check_builders: list,
) -> tuple[int | None, list[tuple[str, int]]]:
    """Write-audit-publish: stage the snapshot's data files, run the
    audit against the STAGED files, and commit the manifest ONLY if
    every check reports zero violations.

    ``check_builders`` are callables ``staged_df -> report_df`` in the
    `operators/expectations.py` report schema.  Auditing the staged
    parquet (not the input lineage) is what makes the guarantee hold:
    a non-deterministic input (rand()/sample, a source mutating
    between write and audit) is audited exactly as written, and the
    input pipeline is not recomputed a second time.

    Returns (version, violations): version is None when the audit
    failed — the staged data dir is left as an orphan (invisible to
    readers; ``vacuum`` reclaims it), so a bad batch can never become
    readable.  This is the WAP pattern production tables gate ingest
    with, expressed over the same manifest commit."""
    commit_id, data_dir = _stage_data(df, table_dir)
    staged = df.sparkSession.read.parquet(data_dir)
    failures: list[tuple[str, int]] = []
    for build in check_builders:
        for row in build(staged).collect():
            if row["violations"]:
                failures.append((row["check"], int(row["violations"])))
    if failures:
        return None, failures
    return _commit_manifest(table_dir, commit_id, data_dir), []


def vacuum(table_dir: str, keep: int = 2) -> list[str]:
    """Drop all but the ``keep`` newest manifests, then delete every
    data dir (and tmp debris) no surviving manifest references.
    Returns the removed paths."""
    known = _manifests(table_dir)
    kept = sorted(known)[-keep:] if keep > 0 else []
    removed: list[str] = []
    for v, path in known.items():
        if v not in kept:
            os.remove(path)
            removed.append(path)
    referenced: set[str] = set()
    for v in kept:
        with open(os.path.join(table_dir, f"v{v}.json")) as fh:
            for f in json.load(fh)["files"]:
                referenced.add(f.split("/")[1])
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            if d not in referenced:
                shutil.rmtree(os.path.join(data_root, d))
                removed.append(os.path.join(data_root, d))
    for name in os.listdir(table_dir):
        # tmp manifests and claims are debris of crashed writers; only
        # vacuum while no writer is active (retention contract, same as
        # any table format)
        if ".json.tmp." in name or _CLAIM_RX.match(name):
            os.remove(os.path.join(table_dir, name))
            removed.append(os.path.join(table_dir, name))
    return removed
