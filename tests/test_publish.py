"""Publishing tables: the one whole-table replace
(`sources/sinks.py::replace_table`) and the corpus build's append-only
manifest over a landing zone read once per build."""

from __future__ import annotations

import glob
import os

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
    """An incremental build adds one manifest part holding its new
    file_names and leaves the earlier parts byte-identical."""
    out = str(tmp_path / "corpus")
    manifest = os.path.join(out, "_manifest")
    build_corpus(spark, raw_corpus_df(spark, 12), out)
    first = _part_files(manifest)
    assert first

    counts = build_corpus(spark, raw_corpus_df(spark, 18), out)
    assert counts["decision"] == 18
    after = _part_files(manifest)
    assert {k: after.get(k) for k in first} == first
    assert len(set(after) - set(first)) == 1

    keys = [r.file_name for r in spark.read.parquet(manifest).collect()]
    decided = {
        r.file_name
        for r in spark.read.parquet(os.path.join(out, "decision"))
        .select("file_name")
        .distinct()
        .collect()
    }
    assert len(keys) == len(set(keys))
    assert set(keys) == decided
    assert _leftovers(out) == []


def test_landing_zone_read_once_per_build(spark, tmp_path):
    """Only one SQL execution of a build scans the landing zone (the
    empty check fills the cached batch; the table writes and the
    manifest keys read the cache), and one writes the manifest."""
    from perfbench.bench_trace import execution_count, harvest

    from swisscourtrulingcorpus_spark.sources.ingest import (
        write_rich_fixture_tree,
    )

    root = str(tmp_path / "lz")
    out = str(tmp_path / "corpus")
    for n_docs in (24, 30):
        write_rich_fixture_tree(root, n_docs)
        # the files the ingest's binaryFile scan reads
        scanned = sum(
            len(glob.glob(os.path.join(root, "*", f"*.{ext}")))
            for ext in ("json", "html", "htm", "pdf", "txt")
        )
        first = execution_count(spark)
        counts = build_corpus_from_landing_zone(spark, root, out)
        assert counts["decision"] == n_docs
        execs = harvest(spark, first, out, TABLES)["executions"]
        lz_scans = [
            e for e in execs
            if e["metrics"].get("number of files read", 0) >= scanned
        ]
        assert len(lz_scans) == 1, [(e["step"], e["metrics"]) for e in execs]
        assert [e["step"] for e in execs].count("manifest") == 1


def test_corrupt_manifest_raises_and_keeps_tables(spark, tmp_path):
    """Only a missing manifest means "nothing processed yet".  A corrupt
    one must fail the incremental build before it re-extracts the
    landing zone and overwrites every table."""
    out = tmp_path / "corpus"
    build_corpus(spark, raw_corpus_df(spark, 12), str(out))

    def table_files():
        return {
            str(p.relative_to(out)): p.read_bytes()
            for t in TABLES
            for p in (out / t).rglob("*")
            if p.is_file()
        }

    before = table_files()
    manifest = out / "_manifest"
    for part in manifest.glob("*.parquet"):
        part.unlink()
    (manifest / "part-0.parquet").write_bytes(b"not a parquet file")

    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        build_corpus(spark, raw_corpus_df(spark, 16), str(out))
    assert table_files() == before
