"""Publishing tables: the one whole-table replace
(`sources/sinks.py::replace_table`) and the corpus build's appends over
a landing zone read once per build, with the decision table as the
build's manifest (its file_names are the processed set; it is written
last, so its part is a run's commit marker)."""

from __future__ import annotations

import glob
import os
import re

import pytest

from swisscourtrulingcorpus_spark.pipeline import (
    TABLES,
    build_corpus,
    build_corpus_from_landing_zone,
)
from swisscourtrulingcorpus_spark.sources.domain_fixtures import raw_corpus_df
from swisscourtrulingcorpus_spark.sources.sinks import replace_table


def _leftovers(directory) -> list[str]:
    """Crash or staging debris of any publish protocol under ``directory``."""
    return sorted(
        name
        for name in os.listdir(directory)
        if name.endswith(("_tmp", ".staging", ".old"))
    )


@pytest.mark.parametrize("crash", ["staging", "old", "old_and_live"])
def test_replace_table_recovers_each_crash_state(spark, tmp_path, crash):
    """Every state a crashed replace can leave behind ends, after the
    next replace, in the right rows and no leftover directories:
    a stale staging dir beside the live table, the only copy parked at
    ``.old`` (crash between the renames), and a completed swap whose
    ``.old`` was never deleted."""
    path = str(tmp_path / "t")
    spark.range(0, 10).write.parquet(path)
    if crash == "staging":
        spark.range(100, 200).write.parquet(path + ".staging")
    elif crash == "old":
        os.rename(path, path + ".old")
    else:
        spark.range(500, 600).write.parquet(path + ".old")

    def add_ten_more(existing):
        assert existing is not None
        return existing.unionByName(spark.range(10, 20))

    replace_table(path, add_ten_more)
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(20))
    assert _leftovers(tmp_path) == []


def test_replace_table_first_write_and_failed_build(spark, tmp_path):
    """No table yet: ``build`` gets None.  A build that fails leaves the
    live table as it was and no staging dir."""
    path = str(tmp_path / "t")

    def first_write(existing):
        assert existing is None
        return spark.range(3)

    replace_table(path, first_write)
    assert spark.read.parquet(path).count() == 3

    def broken(existing):
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        replace_table(path, broken)
    assert spark.read.parquet(path).count() == 3
    assert _leftovers(tmp_path) == []


def _part_files(directory) -> dict[str, bytes]:
    return {
        os.path.basename(p): open(p, "rb").read()
        for p in glob.glob(os.path.join(directory, "part-*"))
    }


def test_manifest_is_append_only(spark, tmp_path):
    """The decision table is the build's manifest: an incremental build
    appends its new documents' decision parts, leaves the earlier parts
    byte-identical, and the table's file_names stay distinct.  No build
    writes a ``_manifest`` directory."""
    out = str(tmp_path / "corpus")
    decision = os.path.join(out, "decision")
    build_corpus(spark, raw_corpus_df(spark, 12), out)
    first = _part_files(decision)
    assert first

    counts = build_corpus(spark, raw_corpus_df(spark, 18), out)
    assert counts["decision"] == 18
    after = _part_files(decision)
    assert {k: after.get(k) for k in first} == first
    assert set(after) > set(first)

    keys = [
        r.file_name
        for r in spark.read.parquet(decision).select("file_name").collect()
    ]
    assert len(keys) == len(set(keys)) == 18
    assert not os.path.exists(os.path.join(out, "_manifest"))
    assert _leftovers(out) == []


def test_stale_manifest_directory_is_ignored(spark, tmp_path):
    """An ``out_dir`` that still holds an older build's ``_manifest``
    appends the same rows as one without it: the build neither reads
    nor writes that directory.  The stale one names every document of
    the next batch, so reading it would turn the append into a no-op."""
    out = tmp_path / "corpus"
    build_corpus(spark, raw_corpus_df(spark, 12), str(out))
    raw = raw_corpus_df(spark, 18)
    stale_writer = raw.select("file_name").write.mode("overwrite")
    stale_writer.parquet(str(out / "_manifest"))
    stale = _part_files(out / "_manifest")

    counts = build_corpus(spark, raw, str(out))
    assert counts["decision"] == 18
    assert _part_files(out / "_manifest") == stale


@pytest.mark.parametrize("crash_at", ["section", "participation"])
def test_crash_before_decision_leaves_run_unprocessed(
    spark, tmp_path, monkeypatch, crash_at
):
    """``decision`` is written after the six derived tables, so a build
    that dies at any of their writes (here the first and the last) has
    not marked its documents processed: ``decision`` holds only the
    earlier build's keys, and the rerun extracts the crashed run's
    documents again."""
    from pyspark.sql.readwriter import DataFrameWriter

    out = str(tmp_path / "corpus")
    build_corpus(spark, raw_corpus_df(spark, 12), out)
    decision = os.path.join(out, "decision")

    def names() -> list[str]:
        return sorted(
            r.file_name
            for r in spark.read.parquet(decision).select("file_name").collect()
        )

    committed = names()
    parquet = DataFrameWriter.parquet

    def crash(self, path, *args, **kwargs):
        if os.path.basename(path) == crash_at:
            raise RuntimeError(f"crash writing {crash_at}")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(RuntimeError, match="crash writing"):
        build_corpus(spark, raw_corpus_df(spark, 18), out)
    assert names() == committed

    monkeypatch.undo()
    assert build_corpus(spark, raw_corpus_df(spark, 18), out)["decision"] == 18
    assert len(set(names())) == 18


def _newest_execution_id(spark) -> int:
    """Id of the newest SQL execution in the status store, -1 before
    the first."""
    from perfbench.bench_trace import drain_listener_bus, execution_count

    drain_listener_bus(spark)
    n = execution_count(spark)
    store = spark._jsparkSession.sharedState().statusStore()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _plan_nodes(spark, execution_id: int, prefixes) -> list[dict]:
    """(name, desc, sum metrics) of the plan-graph nodes of one
    execution whose name starts with one of ``prefixes``."""
    store = spark._jsparkSession.sharedState().statusStore()
    values = {}
    it = store.executionMetrics(execution_id).iterator()
    while it.hasNext():
        kv = it.next()
        values[kv._1()] = str(kv._2())
    nodes = store.planGraph(execution_id).allNodes()
    out = []
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if not node.name().startswith(prefixes):
            continue
        ms, metrics = node.metrics(), {}
        for j in range(ms.size()):
            m = ms.apply(j)
            if m.metricType() == "sum" and m.accumulatorId() in values:
                metrics[m.name()] = int(values[m.accumulatorId()].replace(",", ""))
        out.append({"name": node.name(), "desc": node.desc(), "metrics": metrics})
    return out


def _build_window(spark, out: str, build) -> tuple[dict, list[dict]]:
    """Run ``build()``; return its result and the SQL executions it ran,
    each with its physical plan and its Python, exchange and scan
    nodes.

    The executions are selected by id, not by list index: the status
    store evicts its oldest executions once it holds
    ``spark.sql.ui.retainedExecutions``, which shifts every index.  The
    window's list index is derived from the ids (consecutive, one per
    execution) when it closes, and a window the store no longer holds
    whole fails here."""
    from perfbench.bench_trace import execution_count, harvest

    before = _newest_execution_id(spark)
    result = build()
    last = _newest_execution_id(spark)
    first = execution_count(spark) - (last - before)
    execs = harvest(spark, first, out, TABLES)["executions"]
    ids = [e["id"] for e in execs]
    assert ids == list(range(before + 1, last + 1)), (
        f"status store window after execution {before} holds {ids}"
    )
    store = spark._jsparkSession.sharedState().statusStore()
    for e in execs:
        e["plan"] = store.execution(e["id"]).get().physicalPlanDescription()
        e["nodes"] = _plan_nodes(
            spark, e["id"], ("ArrowEvalPython", "Exchange", "Scan")
        )
    return result, execs


def _landing_zone_files(root: str, names=None) -> int:
    """Files under ``root`` the ingest's binaryFile scan lists, of the
    documents ``names`` (default: all)."""
    stems = names or ["*"]
    return sum(
        len(glob.glob(os.path.join(root, "*", f"{stem}.{ext}")))
        for stem in stems
        for ext in ("json", "html", "htm", "pdf", "txt")
    )


_LOCATION = re.compile(r"Location: \w+(?:\(\d+ paths?\))? ?\[([^\]]+)\]")
_ELIDED = re.compile(r"\.\.\. (\d+) entries")


def _table_paths_read(plan: str, out: str) -> int:
    """How many table directories under ``out`` the scans of a physical
    plan read.  A long path list prints its first paths, then
    ``... N entries``."""
    n = 0
    for loc in _LOCATION.findall(plan):
        shown = [p.strip() for p in loc.split(",")]
        elided = _ELIDED.fullmatch(shown[-1])
        if elided:
            shown.pop()
        rel = [os.path.relpath(p.removeprefix("file:"), out) for p in shown]
        if set(rel) <= set(TABLES):
            n += len(shown) + (int(elided.group(1)) if elided else 0)
    return n


@pytest.fixture(scope="module")
def daily_runs(spark, tmp_path_factory):
    """Three landing-zone builds into one corpus: 24 documents, an
    append of 6 more, and a no-op rerun.  Per run: the documents, the
    files the ingest's scan lists, the returned counts, the SQL
    executions it ran, each table's part files and each table's rows
    read back with ``count()``."""
    from swisscourtrulingcorpus_spark.sources.ingest import (
        write_rich_fixture_tree,
    )

    tmp = tmp_path_factory.mktemp("daily")
    root, out = str(tmp / "lz"), str(tmp / "c")
    runs = []
    for n_docs in (24, 30, 30):
        names = write_rich_fixture_tree(root, n_docs)
        counts, execs = _build_window(
            spark, out, lambda: build_corpus_from_landing_zone(spark, root, out)
        )
        runs.append({
            "root": root,
            "out": out,
            "names": names,
            "scanned": _landing_zone_files(root),
            "counts": counts,
            "executions": execs,
            "parts": {
                t: sorted(glob.glob(os.path.join(out, t, "part-*")))
                for t in TABLES
            },
            "rows": {
                t: spark.read.parquet(os.path.join(out, t)).count()
                for t in TABLES
            },
        })
    return runs


def _landing_zone_scans(run) -> list[dict]:
    return [
        e for e in run["executions"]
        if e["metrics"].get("number of files read", 0) >= run["scanned"]
    ]


def test_landing_zone_read_once_per_build(daily_runs):
    """Only one SQL execution of a build scans the landing zone (the
    empty check fills the cached batch; the table writes read the
    cache).  One execution writes each table, ``decision`` last, and no
    build writes a ``_manifest`` directory."""
    for run, n_docs in zip(daily_runs, (24, 30)):
        assert run["counts"]["decision"] == n_docs
        execs = run["executions"]
        lz_scans = _landing_zone_scans(run)
        assert len(lz_scans) == 1, [(e["step"], e["metrics"]) for e in execs]
        writes = [e["step"] for e in execs if e["step"].startswith("table_write.")]
        assert sorted(writes) == sorted(f"table_write.{t}" for t in TABLES)
        assert writes[-1] == "table_write.decision"
        assert "manifest" not in [e["step"] for e in execs]
    assert not os.path.exists(os.path.join(daily_runs[-1]["out"], "_manifest"))


def test_one_part_file_per_table_per_run(daily_runs):
    """The batch's partition count follows its documents, not
    ``spark.sql.shuffle.partitions`` (32 in the tests' session): a
    24-document build writes one part file per table, a 6-document
    append adds one more, and a no-op rerun adds none."""
    first, append, noop = (run["parts"] for run in daily_runs)
    for t in TABLES:
        assert len(first[t]) == 1, (t, first[t])
        assert set(first[t]) < set(append[t]), t
        assert len(append[t]) == 2, (t, append[t])
        assert noop[t] == append[t], t


def test_only_new_documents_reach_the_ingest_python(daily_runs):
    """The anti-join against the decision table runs on the file rows:
    the append's pivot shuffles only the 6 new documents' files, its
    HTML/PDF extraction sees only those 6 documents, it scans the
    decision table's ``file_name`` once, and no exchange dedupes the
    keys (an anti join does not need distinct keys on its right
    side)."""
    run = daily_runs[1]
    new_names = run["names"][24:]
    [scan] = _landing_zone_scans(run)
    python = [n for n in scan["nodes"] if n["name"] == "ArrowEvalPython"]
    assert [n["metrics"]["number of output rows"] for n in python] == [6]
    pivot = [
        n for n in scan["nodes"]
        if n["name"] == "Exchange"
        and ("REPARTITION_BY_NUM" in n["desc"]
             or "hashpartitioning(spider" in n["desc"])
    ]
    assert len(pivot) == 1, [n["desc"] for n in scan["nodes"]]
    new_files = _landing_zone_files(run["root"], new_names)
    assert new_files == 12
    assert pivot[0]["metrics"]["shuffle records written"] == new_files
    assert pivot[0]["metrics"]["records read"] == new_files
    assert not [
        n["desc"] for n in scan["nodes"]
        if n["name"] == "Exchange"
        and ("hashpartitioning(name" in n["desc"]
             or "hashpartitioning(file_name" in n["desc"])
    ]
    # a cached plan's scan shows in every execution that reads the
    # cache; only the execution that runs it counts files read
    decision = os.path.join(run["out"], "decision") + "]"
    decision_scans = [
        (e, n) for e in run["executions"]
        for n in e["nodes"]
        if n["name"].startswith("Scan") and decision in n["desc"]
        and n["metrics"].get("number of files read", 0) > 0
    ]
    assert [e["id"] for e, _ in decision_scans] == [scan["id"]]
    assert "ReadSchema: struct<file_name:string>" in decision_scans[0][1]["desc"]


def test_one_recount_per_build(daily_runs):
    """Each build returns the rows each table holds, counted in one
    execution that reads all seven tables; the no-op rerun returns
    zeros, reads only the decision table's ``file_name`` (the processed
    set), once, and writes nothing."""
    first, append, noop = daily_runs
    for run in (first, append):
        assert run["counts"] == run["rows"]
        readers = [
            e for e in run["executions"]
            if _table_paths_read(e["plan"], run["out"]) == len(TABLES)
        ]
        assert len(readers) == 1, [(e["step"], e["description"]) for e in readers]
        assert readers[0]["metrics"]["number of files read"] == sum(
            len(run["parts"][t]) for t in TABLES
        )
    assert append["counts"]["decision"] == 30
    assert noop["counts"] == {t: 0 for t in TABLES}
    assert noop["rows"] == append["rows"]
    readers = [
        e for e in noop["executions"]
        if _table_paths_read(e["plan"], noop["out"])
    ]
    assert len(readers) == 1, [(e["step"], e["description"]) for e in readers]
    assert _table_paths_read(readers[0]["plan"], noop["out"]) == 1
    assert os.path.join(noop["out"], "decision") + "]" in readers[0]["plan"]
    assert "ReadSchema: struct<file_name:string>" in readers[0]["plan"]
    assert not [e["step"] for e in noop["executions"] if "write" in e["step"]]


def test_corrupt_manifest_raises_and_keeps_tables(spark, tmp_path):
    """The decision table is the build's manifest, and only a missing
    one means "nothing processed yet".  A corrupt decision part must
    fail the incremental build before it re-extracts the landing zone
    and writes any table."""
    out = tmp_path / "corpus"
    build_corpus(spark, raw_corpus_df(spark, 12), str(out))
    decision = out / "decision"
    for part in decision.glob("*.parquet"):
        part.unlink()
    (decision / "part-0.parquet").write_bytes(b"not a parquet file")
    before = _table_files(out)

    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        build_corpus(spark, raw_corpus_df(spark, 16), str(out))
    assert _table_files(out) == before


def test_manifest_without_data_files_raises_and_keeps_tables(spark, tmp_path):
    """A decision directory holding only a crashed write's
    ``_temporary`` reads as an empty table under its known schema; the
    incremental build must raise rather than re-extract every document
    and append duplicates to the other six tables."""
    out = tmp_path / "corpus"
    build_corpus(spark, raw_corpus_df(spark, 12), str(out))
    decision = out / "decision"
    for p in decision.iterdir():
        p.unlink()
    attempt = decision / "_temporary" / "0" / "_temporary" / "attempt_0"
    attempt.mkdir(parents=True)
    (attempt / "part-00000.snappy.parquet").write_bytes(b"")
    before = _table_files(out)

    with pytest.raises(RuntimeError, match="lists no data file"):
        build_corpus(spark, raw_corpus_df(spark, 16), str(out))
    assert _table_files(out) == before


def _table_files(out) -> dict[str, bytes]:
    return {
        str(p.relative_to(out)): p.read_bytes()
        for t in TABLES
        for p in (out / t).rglob("*")
        if p.is_file()
    }
