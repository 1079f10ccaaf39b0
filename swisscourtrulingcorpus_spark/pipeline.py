"""End-to-end corpus build: the Spark counterpart of ``python -m scrc.main``.

The reference's top entry point runs scraper → text-to-db → language ID
→ cleaner → section splitter → extractors → dataset creators, using
Postgres as the inter-stage IR and progress files for resumability
(`scrc/main.py:96-136`, SURVEY.md §3.1).  Here the same DAG is one
driver program:

- the inter-stage IR is a parquet (lakehouse) directory — one table per
  domain entity, same names as the reference's schema;
- incremental processing (`process_new_files_only`,
  `abstract_preprocessor.py:48`) anti-joins the batch against the
  decision table's file_names, the reference's "already in DB" check
  (`text_to_database.py:135-145`): a second run over the same landing
  zone extracts only unseen file_names, and no second list is kept;
- dataset creators read the materialized tables and write
  split-partitioned exports (S10/S11).

Scale shape: extraction is two map-side Python passes over the raw
batch — clean_text on the decision table and one cached document pass
(splitter plus section extractors) that every other table selects
from — with no shuffle until the groupBys inside the creators; the
landing-zone scan is whatever `spark.read` source feeds ``raw`` —
parquet here, `binaryFile`/json in a real ingest.

Run standalone:  python -m swisscourtrulingcorpus_spark.pipeline OUT_DIR
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from swisscourtrulingcorpus_spark.plans.datasets_extra import (
    doc2doc_ir_dataset,
    law_area_dataset,
    regeste_dataset,
)
from swisscourtrulingcorpus_spark.plans.domain_pipeline import (
    coverage_report,
    criticality_dataset,
    judgment_dataset,
    pretraining_dataset,
    run_extraction_pipeline,
)
# processed_union is unused here; perfbench's traced run wraps it as
# ``pipeline.processed_union``, so the name stays importable
from swisscourtrulingcorpus_spark.sources.manifest import (  # noqa: F401
    new_rows_only,
    processed_union,
)
from swisscourtrulingcorpus_spark.sources.sinks import write_partitioned

TABLES = (
    "decision",
    "section",
    "citation",
    "judgment",
    "composition",
    "lower_court",
    "participation",
)

_KEYS = ["file_name"]


def _processed_keys(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The file_names the corpus holds, or None before the first build.

    The decision table is the build's manifest: its ``file_name``
    column is the processed set, read with its known schema (no
    schema-inference job; parquet reads that one column chunk).  The
    build writes ``decision`` last of the seven tables, so it names the
    documents of finished runs only.  Only a missing table means
    "nothing processed yet".  Any other read failure (a corrupt part
    file, say) raises, at the latest in the build's first execution,
    before any table is written: treating it as missing would
    re-extract the whole landing zone and overwrite every table.  A
    decision directory that lists no data file (only the
    ``_temporary`` of a crashed first write, say) raises too: a build
    writes ``decision`` only when it wrote rows, and read as empty it
    would re-extract the whole landing zone and append duplicates to
    every table."""
    path = os.path.join(out_dir, "decision")
    try:
        keys = spark.read.schema("file_name string").parquet(path)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise
    if not len(keys._jdf.inputFiles()):
        raise RuntimeError(f"decision table {path} exists but lists no data file")
    return keys


def _recount(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Rows of every table under ``out_dir``, in one execution: one
    scan of the seven table directories that reads no column (an empty
    schema, so no schema-inference job runs), each row counted under
    the directory of its file."""
    table = F.regexp_extract("_metadata.file_path", r"/([^/]+)/[^/]+$", 1)
    rows = (
        spark.read.schema(StructType())
        .parquet(*(os.path.join(out_dir, t) for t in TABLES))
        .groupBy(table)
        .count()
        .collect()
    )
    return {t: 0 for t in TABLES} | dict(rows)


def _write_tables(
    spark: SparkSession, raw: DataFrame, out_dir: str, append: bool
) -> dict[str, int]:
    """Extract ``raw`` (new documents only) and write the seven tables
    of this run; returns cumulative row counts, all zeros when ``raw``
    is empty."""
    tables = run_extraction_pipeline(raw)
    # clean_text is pruned from this select: it reads the cached base.
    # count, not isEmpty: it fills every partition of the cache in one
    # parallel job, where isEmpty fills partition 0 alone first
    if tables["decision"].select(*_KEYS).count() == 0:
        return {t: 0 for t in TABLES}
    mode = "append" if append else "overwrite"
    # decision last: its keys are the processed set, so its write is
    # the run's commit marker; a crash before it leaves the run's
    # documents unprocessed
    for name in (*TABLES[1:], TABLES[0]):
        tables[name].write.mode(mode).parquet(os.path.join(out_dir, name))
    return _recount(spark, out_dir)


def build_corpus(
    spark: SparkSession, raw: DataFrame, out_dir: str
) -> dict[str, int]:
    """Materialize the domain tables from a raw landing-zone batch.

    Incremental, like the reference's process_new_files_only: the
    file_names the decision table holds are anti-joined away and the
    new rows APPEND to the existing tables; a rerun over an unchanged
    landing zone is a no-op.  Returns cumulative per-table row counts
    (all zeros when nothing was new), counted in one execution after
    the writes.

    The batch is read once: the empty check fills the pipeline's
    cached ``base``, and the table writes are served from it, so every
    table write has the batch's partition count.  ``decision`` is
    written last; its appended part is the run's commit marker.
    """
    done = _processed_keys(spark, out_dir)
    return _write_tables(
        spark,
        new_rows_only(raw, done, _KEYS),
        out_dir,
        append=done is not None,
    )


def build_corpus_from_landing_zone(
    spark: SparkSession,
    root: str,
    out_dir: str,
    incremental: bool = True,
) -> dict[str, int]:
    """The FULL `python -m scrc.main` counterpart in one call: raw
    landing-zone FILES (scraper layout: per-doc json metadata +
    html/pdf payload) → binaryFile scan → real HTML/PDF text
    extraction (`sources/ingest.py`) → the extraction DAG → domain
    tables (VERDICT r04 item 8).

    Incremental semantics compose below the text extraction: the
    decision table's file_names are read once and passed to the ingest
    as its ``name`` keys, which anti-joins the already-processed
    documents' FILES away before the pivot.  An append shuffles and
    extracts only its new documents, and a rerun over an unchanged tree
    is a no-op.
    The batch takes one partition per ~1000 listed documents
    (`sources/ingest.py::batch_partitions`), and each table write of
    the run inherits that count: a daily run writes one file per table
    however ``spark.sql.shuffle.partitions`` is set.
    """
    from swisscourtrulingcorpus_spark.sources.ingest import ingest_landing_zone

    done = _processed_keys(spark, out_dir) if incremental else None
    if done is not None:
        done = done.withColumnRenamed("file_name", "name")
    # one selectExpr call: the same projection from Column calls cost
    # 46 more py4j round trips per build
    raw = ingest_landing_zone(spark, root, done).selectExpr(
        "name AS file_name",
        "spider",
        "coalesce(chamber, concat_ws('_', spider, '001')) AS chamber",
        "to_date(datum) AS date",
        "text AS raw_text",
    )
    return _write_tables(spark, raw, out_dir, append=done is not None)


def load_tables(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Re-open the materialized domain tables (the inter-stage IR)."""
    return {
        name: spark.read.parquet(os.path.join(out_dir, name))
        for name in TABLES
    }


def build_datasets(spark: SparkSession, out_dir: str) -> dict[str, int]:
    """Run the dataset creators (§2.9) over the materialized tables and
    write each as a split-partitioned export.  Returns rows per dataset.
    """
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        leading_rulings_df,
    )

    tables = load_tables(spark, out_dir)
    leading = leading_rulings_df(spark)
    creators: dict[str, DataFrame] = {
        "judgment_prediction": judgment_dataset(tables),
        "criticality": criticality_dataset(tables, leading),
        "pretraining": pretraining_dataset(tables),
        "doc2doc_ir": doc2doc_ir_dataset(tables),
        "regeste": regeste_dataset(tables),
        "law_area": law_area_dataset(tables),
    }
    counts: dict[str, int] = {}
    for name, df in creators.items():
        dest = os.path.join(out_dir, "datasets", name)
        part = ["split"] if "split" in df.columns else None
        write_partitioned(df, dest, partition_by=part, fmt="json",
                          compression="gzip")
        counts[name] = spark.read.json(dest).count()
    coverage_report(tables).write.mode("overwrite").parquet(
        os.path.join(out_dir, "reports", "coverage")
    )
    return counts


def main() -> None:  # pragma: no cover - thin CLI
    import sys

    from swisscourtrulingcorpus_spark.session import get_spark
    from swisscourtrulingcorpus_spark.sources.domain_fixtures import (
        raw_corpus_df,
    )

    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scrc_spark_corpus"
    spark = get_spark(app_name="corpus-build")
    raw = raw_corpus_df(spark, int(os.environ.get("SCRC_N_DOCS", "1000")))
    print("tables:", build_corpus(spark, raw, out_dir))
    print("datasets:", build_datasets(spark, out_dir))
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
